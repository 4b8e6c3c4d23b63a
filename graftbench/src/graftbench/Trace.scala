package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters read at pass boundaries on the client thread. */
final case class Counters(codegen: Long, gcMs: Long, fs: Map[String, Long]) {
  def -(o: Counters): Counters = Counters(codegen - o.codegen, gcMs - o.gcMs,
    fs.map { case (k, v) => k -> (v - o.fs.getOrElse(k, 0L)) })
  def +(o: Counters): Counters = Counters(codegen + o.codegen, gcMs + o.gcMs,
    (fs.keySet ++ o.fs.keySet).map(k => k -> (fs.getOrElse(k, 0L) + o.fs.getOrElse(k, 0L))).toMap)
}

object Counters {
  val zero: Counters = Counters(0L, 0L, Map.empty)

  def now(): Counters = {
    val fs = mutable.Map.empty[String, Long]
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala.foreach { s =>
      s.getLongStatistics.asScala.foreach(l => fs(l.getName) = fs.getOrElse(l.getName, 0L) + l.getValue)
    }
    fs("readOps") = CountingFileSystem.reads.get
    fs("writeOps") = CountingFileSystem.writes.get
    fs("listOps") = CountingFileSystem.lists.get
    Counters(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
      fs.toMap)
  }
}

/**
 * The traced run's recorder. Every request (one query, or one pipeline round)
 * carries its id as a local property, so the jobs it submits are attributed to it;
 * query executions are attributed by time, since the client is one thread.
 * Spans and counters stay in memory and are written out by [[report]].
 *
 * The request and query-execution listeners are registered, and the counting file
 * system switched on, only for the length of a traced pass, so a run that
 * alternates traced and untraced passes measures the tracing overhead itself.
 * With `stream`, a streaming-progress listener and a counter of the records the
 * stream's jobs write stay registered for the whole run: the stream runs across
 * both kinds of pass.
 */
final class Tracer(spark: SparkSession, stream: Boolean) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val reqs = mutable.ArrayBuffer.empty[Req]
  @volatile private var recording = false
  private var counters = Counters.zero
  private var passStart = Counters.zero
  /** Output records written by the stream's micro-batch jobs. */
  val streamRecordsWritten = new java.util.concurrent.atomic.AtomicLong()

  private val requestListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(ReqKey))).foreach { req =>
        val j = Job(e.jobId, req.toLong, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, j))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        if (m != null) j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(funcName, qe, 0L)
  }

  if (stream) {
    val streamStages = ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(StreamQueryKey) != null))
          e.stageIds.foreach(s => streamStages.add(s))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && streamStages.contains(e.stageId))
          streamRecordsWritten.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Map(
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "input_rows" -> p.numInputRows,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
      }
    })
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    if (qe.sparkSession ne spark) return
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val graft = qe.tracker.rules.filter(_._1.startsWith("graft."))
    // Callbacks arrive late on the listener bus, so the execution is anchored at
    // the end of its last planning phase, which the tracker stamps itself.
    val anchor = phases.values.map(_._2).maxOption.getOrElse(System.currentTimeMillis())
    actions.add(Action(funcName, anchor, durationNs / 1000000L, phases,
      graft.values.map(_.totalTimeNs).sum, graft.values.map(_.numInvocations).sum,
      graft.values.map(_.numEffectiveInvocations).sum))
  }

  /** Start of a pass: requests in it are traced or not; counters are snapshotted. */
  def beginPass(trace: Boolean): Unit = {
    BusDrain(spark.sparkContext)
    recording = trace
    if (trace) {
      spark.sparkContext.addSparkListener(requestListener)
      spark.listenerManager.register(executionListener)
      CountingFileSystem.on = true
    }
    passStart = Counters.now()
  }

  def endPass(): Unit = {
    BusDrain(spark.sparkContext)
    if (recording) {
      counters = counters + (Counters.now() - passStart)
      CountingFileSystem.on = false
      spark.listenerManager.unregister(executionListener)
      spark.sparkContext.removeSparkListener(requestListener)
    }
    recording = false
  }

  /** Runs one request: `build` constructs the DataFrame, `act` runs it. Returns the
    * action's value and the request's wall time in nanoseconds. */
  def request[T](id: Long, query: String)(build: => AnyRef)(act: AnyRef => T): (T, Long) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ReqKey, id.toString)
    val t0 = System.nanoTime()
    val s = epochUs()
    try {
      val df = build
      val b = epochUs()
      val out = act(df)
      val t1 = System.nanoTime()
      if (recording) reqs += Req(id, query, s, b, epochUs())
      (out, t1 - t0)
    } finally sc.setLocalProperty(ReqKey, null)
  }

  /** Per-request layer split and counters over the traced requests, and the
    * span file. Call after the last pass has ended. */
  def report(spanFile: String, labels: Map[String, Any]): Map[String, Any] = {
    BusDrain(spark.sparkContext)
    val jobsByReq = jobs.values.asScala.filter(_.endMs > 0).groupBy(_.req)
    val acts = actions.asScala.toSeq
    val out = new java.io.PrintWriter(spanFile, "UTF-8")
    var spanId = 0L
    def span(parent: Long, req: Req, name: String, s: Long, e: Long, attrs: Map[String, Any]): Long = {
      spanId += 1
      out.println(Json(labels ++ Map("span" -> spanId, "parent" -> parent, "req" -> req.id,
        "query" -> req.query, "name" -> name, "start_us" -> s, "end_us" -> e) ++ attrs))
      spanId
    }
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var graftNs, graftInv, graftEff = 0L
    try reqs.foreach { r =>
      val wall = (r.endUs - r.startUs).toDouble
      val rootId = span(0L, r, "request", r.startUs, r.endUs, Map.empty)
      val buildId = span(rootId, r, "build", r.startUs, r.buildEndUs, Map.empty)
      val actId = span(rootId, r, "action", r.buildEndUs, r.endUs, Map.empty)
      val mine = acts.filter(a => a.anchorMs * 1000 >= r.startUs - 1000 && a.anchorMs * 1000 <= r.endUs)
      val phaseIv = mutable.ArrayBuffer.empty[(Long, Long)]
      mine.foreach { a =>
        val inBuild = a.anchorMs * 1000 <= r.buildEndUs
        val parent = if (inBuild) buildId else actId
        val aId = span(parent, r, "execution", a.anchorMs * 1000, (a.anchorMs + a.durationMs) * 1000,
          Map("func" -> a.func))
        if (inBuild) sums("eager_actions") += 1
        a.phases.foreach { case (ph, (s, e)) =>
          span(aId, r, s"phase.$ph", s * 1000, e * 1000, Map.empty)
          sums(s"phase.$ph") += (e - s)
          if (ph != "parsing") phaseIv += ((s * 1000, e * 1000))
        }
        graftNs += a.graftNs; graftInv += a.graftInv; graftEff += a.graftEff
      }
      val js = jobsByReq.getOrElse(r.id, Nil)
      val jobIv = js.map(j => (j.startMs * 1000, j.endMs * 1000)).toSeq
      js.foreach { j =>
        span(actId, r, "job", j.startMs * 1000, j.endMs * 1000, Map("job" -> j.id,
          "stages" -> j.stages, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
          "task_cpu_ms" -> j.cpuNs / 1e6, "task_gc_ms" -> j.gcMs,
          "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
          "input_bytes" -> j.input, "output_bytes" -> j.output))
        sums("jobs") += 1; sums("stages") += j.stages; sums("tasks") += j.tasks
        sums("task_run_ms") += j.runMs; sums("task_cpu_ms") += j.cpuNs / 1e6
        sums("task_gc_ms") += j.gcMs; sums("shuffle_write_bytes") += j.shuffleWrite
        sums("spill_bytes") += j.spill; sums("input_bytes") += j.input
        sums("output_bytes") += j.output
      }
      val jobU = union(clip(jobIv, r.startUs, r.endUs))
      val planU = minus(union(clip(phaseIv.toSeq, r.startUs, r.endUs)), jobU)
      val covered = union(jobU ++ planU)
      val buildSelf = len(minus(Seq((r.startUs, r.buildEndUs)), covered))
      val actSelf = len(minus(Seq((r.buildEndUs, r.endUs)), covered))
      sums("wall_ms") += wall / 1000
      sums("build_ms") += (r.buildEndUs - r.startUs) / 1000.0
      sums("job_wall_ms") += len(jobU) / 1000.0
      sums("self.queries_ms") += buildSelf / 1000.0
      sums("self.plans_ms") += len(planU) / 1000.0
      sums("self.exec_ms") += len(jobU) / 1000.0
      sums("self.driver_ms") += actSelf / 1000.0
      sums("actions") += mine.size
    } finally out.close()
    val n = reqs.size.max(1).toDouble
    def per(k: String): Double = sums(k) / n
    // Coverage: the share of request wall time a named layer accounts for; the
    // driver's residual inside the action (no planning phase, no job) is not one.
    val selfSum = Seq("queries", "plans", "exec").map(l => sums(s"self.${l}_ms")).sum
    val prog = progress.asScala.toSeq
    def dur(k: String): Seq[Double] =
      prog.map(_("durations").asInstanceOf[Map[String, Long]].getOrElse(k, 0L).toDouble)
    Map(
      "traced_requests" -> reqs.size,
      "queries.build_ms" -> per("build_ms"),
      "queries.eager_actions" -> per("eager_actions"),
      "plans.analysis_ms" -> per("phase.analysis"),
      "plans.optimizer_ms" -> per("phase.optimization"),
      "plans.physical_ms" -> per("phase.planning"),
      "plans.actions" -> per("actions"),
      "plans.graft_rule_ms" -> graftNs / 1e6 / n,
      "plans.graft_rule_effective_ratio" ->
        (if (graftInv == 0) 0.0 else graftEff.toDouble / graftInv),
      "codegen.compiles" -> counters.codegen / n,
      "exec.jobs" -> per("jobs"),
      "exec.stages" -> per("stages"),
      "exec.tasks" -> per("tasks"),
      "exec.job_wall_ms" -> per("job_wall_ms"),
      "exec.driver_gap_ms" -> (sums("wall_ms") - sums("job_wall_ms")) / n,
      "exec.task_run_ms" -> per("task_run_ms"),
      "exec.task_cpu_ms" -> per("task_cpu_ms"),
      "exec.task_gc_ms" -> per("task_gc_ms"),
      "exec.parallelism" ->
        (if (sums("job_wall_ms") == 0) 0.0 else sums("task_run_ms") / sums("job_wall_ms")),
      "exec.shuffle_write_bytes" -> per("shuffle_write_bytes"),
      "exec.spill_bytes" -> per("spill_bytes"),
      "exec.input_bytes" -> per("input_bytes"),
      "exec.output_bytes" -> per("output_bytes"),
      "fs.read_ops" -> counters.fs.getOrElse("readOps", 0L) / n,
      "fs.write_ops" -> counters.fs.getOrElse("writeOps", 0L) / n,
      "fs.list_ops" -> counters.fs.getOrElse("listOps", 0L) / n,
      "fs.bytes_read" -> counters.fs.getOrElse("bytesRead", 0L) / n,
      "fs.bytes_written" -> counters.fs.getOrElse("bytesWritten", 0L) / n,
      "jvm.gc_ms" -> counters.gcMs / n,
      "self.queries_ms" -> per("self.queries_ms"),
      "self.plans_ms" -> per("self.plans_ms"),
      "self.exec_ms" -> per("self.exec_ms"),
      "self.driver_ms" -> per("self.driver_ms"),
      "trace.coverage_pct" -> (if (sums("wall_ms") == 0) 0.0 else 100.0 * selfSum / sums("wall_ms")),
      "stream.triggers" -> prog.size,
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.input_rows" -> prog.map(_("input_rows").asInstanceOf[Long]).sum,
      "stream.state_rows" -> prog.lastOption.map(_("state_rows")).getOrElse(0L))
  }
}

object Tracer {
  val ReqKey = "graftbench.req"
  /** The local property Spark sets on a streaming query's micro-batch jobs. */
  val StreamQueryKey = "sql.streaming.queryId"

  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def epochUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000

  final case class Req(id: Long, query: String, startUs: Long, buildEndUs: Long, endUs: Long)
  final case class Job(id: Int, req: Long, startMs: Long) {
    @volatile var endMs: Long = 0L
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, shuffleWrite, spill, input, output = 0L
  }
  final case class Action(func: String, anchorMs: Long, durationMs: Long,
      phases: Map[String, (Long, Long)], graftNs: Long, graftInv: Long, graftEff: Long)

  type Iv = (Long, Long)
  def clip(xs: Seq[Iv], s: Long, e: Long): Seq[Iv] =
    xs.map { case (a, b) => (a.max(s), b.min(e)) }.filter { case (a, b) => b > a }
  def union(xs: Seq[Iv]): Seq[Iv] =
    xs.sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, pe.max(e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  /** `xs` minus the (sorted, disjoint) intervals `cut`. */
  def minus(xs: Seq[Iv], cut: Seq[Iv]): Seq[Iv] = xs.flatMap { case (s, e) =>
    val pieces = mutable.ArrayBuffer.empty[Iv]
    var from = s
    cut.foreach { case (cs, ce) =>
      if (ce > from && cs < e) {
        if (cs > from) pieces += ((from, cs))
        from = from.max(ce)
      }
    }
    if (from < e) pieces += ((from, e))
    pieces
  }
  def len(xs: Seq[Iv]): Long = xs.map { case (s, e) => e - s }.sum
}
