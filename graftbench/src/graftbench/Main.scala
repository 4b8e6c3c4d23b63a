package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run, in-process. run.py prepares the inputs (data,
 * request order, pipeline events) and reads back the result file.
 *
 * Arguments (all `--key value`): workload, seed, seconds, trace (0|1), data,
 * run (scratch directory of this run), out (result JSON), and for the closed-loop
 * workloads order (file of request names, one pass per line) and expected (file of
 * `name<TAB>fingerprint`); for the pipeline, events (the seeded event plan).
 * Mode `record` fingerprints and times the listed queries instead (record.py),
 * optionally at another core count (cpus).
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = new File(opt("run")).getAbsolutePath
    val t0 = System.nanoTime()
    val spark = session(runDir, opt.get("cpus"))
    val result =
      try opt("workload") match {
        case "pipeline" => new Pipeline(spark, opt, runDir, t0).run()
        case _ if opt.get("mode").contains("record") => ClosedLoop.record(spark, opt)
        case _ => new ClosedLoop(spark, opt, runDir, t0).run()
      } finally spark.stop()
    Files.write(Paths.get(opt("out")), Json(result).getBytes(UTF_8))
  }

  /** The session posture graft's own Bench uses: local[nproc], shuffle partitions =
    * cores, AQE on, base tables cached, a 10k-entry codegen cache; every scratch and
    * catalog path under this run's directory. */
  def session(runDir: String, cpusOverride: Option[String]): SparkSession = {
    val cpus = cpusOverride.getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.graft.cacheTables", "true")
      .config("spark.graft.scratchDir", s"$runDir/scratch")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.LogHygiene.muteBenignWindowWarning()
    spark
  }

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty)

  /** Memory held by persisted RDD blocks (cached tables and anything a query
    * persisted and left behind), in MB. A run reports what it holds at the end
    * beyond what its set-up held as `retained_mb`. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize.toDouble).sum / (1 << 20)

  def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9
}
