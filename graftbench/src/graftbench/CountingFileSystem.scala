package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * The local file system, counting the calls made to it while `on`. Local Hadoop
 * statistics carry bytes but no operation counts, so the traced run installs this
 * class as `fs.file.impl` (run.py puts a core-site.xml naming it on the classpath)
 * to count reads (open, status lookups), writes (create, rename, delete, mkdirs,
 * permission changes) and directory listings during traced passes.
 */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(reads); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count(reads); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count(writes)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count(writes); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(writes); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    count(writes); super.mkdirs(f)
  }
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    count(writes); super.setPermission(p, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count(lists); super.listStatus(f)
  }
}

object CountingFileSystem {
  val reads, writes, lists = new AtomicLong()
  @volatile var on = false

  private def count(c: AtomicLong): Unit = if (on) c.incrementAndGet()
}
