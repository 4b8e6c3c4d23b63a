package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One client, closed loop: each request is one `SparkEntry.queries` entry built and
 * collected; the next starts when it returns. Passes follow the seeded order file.
 * Warm passes run untimed until two consecutive pass times agree; then whole
 * passes are timed until `seconds` have passed and at least [[ClosedLoop.MinSamples]]
 * latencies are in (a slow machine may stretch the window to three times `seconds`), so
 * every query of the panel weighs the same in the latency percentiles and the
 * 90th percentile has ten samples beyond it. Results are fingerprinted outside
 * the timer.
 */
final class ClosedLoop(spark: SparkSession, opt: Map[String, String], runDir: String,
    t0: Long) {
  private val data = opt("data")
  private val queries = graft.SparkEntry.queries
  private val passes: Seq[Seq[String]] = Main.lines(opt("order")).map(_.split(",").toSeq)
  private val expected: Map[String, String] = Main.lines(opt("expected"))
    .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var reqId = 0L

  private def runOne(name: String, tracer: Option[Tracer]): (Double, Boolean) = {
    reqId += 1
    val build = () => queries(name)(spark, data)
    val act = (df: AnyRef) => df.asInstanceOf[DataFrame].collect()
    try {
      val (rows, ns) = tracer match {
        case Some(t) => t.request(reqId, name)(build())(act)
        case None =>
          val s = System.nanoTime()
          val r = act(build())
          (r, System.nanoTime() - s)
      }
      val got = Fingerprint(rows)
      val ok = expected.get(name).contains(got)
      if (!ok) failures += Map("query" -> name, "got" -> got, "want" -> expected.get(name))
      (ns / 1e6, ok)
    } catch {
      case e: Throwable =>
        failures += Map("query" -> name, "error" -> String.valueOf(e.getMessage).take(300))
        (Double.NaN, false)
    }
  }

  def run(): Map[String, Any] = {
    val tw = System.nanoTime()
    ClosedLoop.warmTables(spark, data)
    val tablesWarm = Main.secs(tw)
    val cachedMb = Main.storageMb(spark)

    // Warm passes: stop once a pass is within 15% of the one before (at most 3).
    val order = passes.iterator
    val warmTimes = mutable.ArrayBuffer.empty[Double]
    def settled = warmTimes.size >= 2 &&
      math.abs(warmTimes.last - warmTimes(warmTimes.size - 2)) <= 0.15 * warmTimes(warmTimes.size - 2)
    while (!settled && warmTimes.size < 3) {
      val s = System.nanoTime()
      order.next().foreach(runOne(_, None))
      warmTimes += Main.secs(s)
    }
    val setupS = Main.secs(t0)
    val setupMb = Main.storageMb(spark)

    val tracer = if (opt("trace") == "1") Some(new Tracer(spark, stream = false)) else None
    val seconds = opt("seconds").toDouble
    val lat = mutable.ArrayBuffer.empty[Double]
    val tracedFlags = mutable.ArrayBuffer.empty[Boolean]
    var attempted, failed = 0
    var pass = 0
    val w0 = System.nanoTime()
    def more = Main.secs(w0) < seconds ||
      (lat.size < ClosedLoop.MinSamples && Main.secs(w0) < 3 * seconds)
    while (more) {
      val tracedPass = tracer.isDefined && pass % 2 == 0
      tracer.foreach(_.beginPass(tracedPass))
      order.next().foreach { name =>
        val (ms, ok) = runOne(name, tracer.filter(_ => tracedPass))
        attempted += 1
        if (!ok) failed += 1
        if (!ms.isNaN) { lat += ms; tracedFlags += tracedPass }
      }
      tracer.foreach(_.endPass())
      pass += 1
    }
    val windowS = Main.secs(w0)
    val layers = tracer.map(_.report(s"$runDir/spans.jsonl",
      Map("workload" -> opt("workload"), "seed" -> opt("seed").toLong)))
    Map(
      "setup_s" -> setupS,
      "tables_warm_s" -> tablesWarm,
      "tables_cached_mb" -> cachedMb,
      "retained_mb" -> (Main.storageMb(spark) - setupMb),
      "window_s" -> windowS,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "latencies_ms" -> lat.toSeq,
      "traced" -> tracedFlags.toSeq,
      "layers" -> layers)
  }
}

object ClosedLoop {
  val MinSamples = 100

  /** Materialize the cached base tables concurrently, as graft's Bench does. */
  def warmTables(spark: SparkSession, data: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.DurationInt
    Await.result(Future.traverse(graft.Tables.all.toList) { t =>
      Future(graft.Tables(spark, data, t).count())
    }, 10.minutes)
  }

  /** Fingerprint and time each listed query (default: all) over `passes` (default 3)
    * passes in one session; a query whose fingerprint differs between passes is
    * marked unstable. */
  def record(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val data = opt("data")
    warmTables(spark, data)
    val names = opt.get("queries").map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val runs = (1 to opt.getOrElse("passes", "3").toInt).map { _ =>
      names.map { n =>
        val s = System.nanoTime()
        val fp = try Fingerprint(graft.SparkEntry.queries(n)(spark, data).collect())
          catch { case e: Throwable => "error: " + String.valueOf(e.getMessage).take(200) }
        n -> (fp, (System.nanoTime() - s) / 1e6)
      }.toMap
    }
    names.map { n =>
      val fps = runs.map(_(n)._1).distinct
      n -> Map("fingerprint" -> fps.head, "stable" -> (fps.size == 1),
        "cold_ms" -> runs(0)(n)._2, "warm_ms" -> runs.map(_(n)._2).last)
    }.toMap
  }
}
