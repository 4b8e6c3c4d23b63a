package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.NutritionPipeline
import graft.streaming.{Producer, StreamingPipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/**
 * The hybrid path on generated data. An open-loop generator thread writes the
 * seeded events as wire files at a fixed rate; `StreamingPipeline.ingest` upserts
 * them into the keyed store; beside it a closed-loop batch stage repeats
 * store diff -> `enrichmentPipeline` -> MERGE into a graft catalog table ->
 * dashboard read. Freshness runs from an event's due time at the generator to
 * the end of the MERGE that makes it visible. The run ends with AvailableNow
 * drains of a pre-staged backlog, then checks the store and the table against a
 * replay of the events.
 *
 * Event ids come from run.py: `live` in emission order (a fixed share repeat an
 * earlier id, which dedup drops) and `backlog`. The store is pre-loaded with ids
 * below `preload`, so the run grows it only a little while every micro-batch
 * rewrites all of it. Each event's wire line is rendered by graft's producer
 * projection (`Producer.toWire`) during set-up; the generator only writes the
 * lines out, so its ticks run no Spark job and keep to their due times.
 */
final class Pipeline(spark: SparkSession, opt: Map[String, String], runDir: String,
    t0: Long) {
  import Pipeline._

  private val Array(liveLine, backlogLine) = Main.lines(opt("events")).toArray
  private val live: Array[Long] = liveLine.split(",").map(_.toLong)
  private val backlog: Array[Long] = backlogLine.split(",").map(_.toLong)
  private val preload = opt("preload").toLong
  private val rate = opt("rate").toInt
  private val tickMs = 100L
  private val perTick = rate * tickMs.toInt / 1000

  private val store = s"$runDir/store"
  private val channel = s"$runDir/channel"
  private val staging = s"$runDir/channel-staging"
  private val ckpt = s"$runDir/ingest-checkpoint"

  private var wire = Map.empty[Long, String]
  private val stampNs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  @volatile private var emitted = 0
  private val visible = mutable.Set.empty[Long]
  private var lastGen = 0L
  private var reqId = 0L
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def ingestQuery(lookup: DataFrame) =
    StreamingPipeline.upsertSink(
      StreamingPipeline.ingest(
        StreamingPipeline.fromWire(StreamingPipeline.fileChannel(spark, channel)), lookup)
        .select(col("item_name"), current_timestamp().as("ingestion_ts"), col("data")),
      store, Seq("item_name"), Seq(col("ingestion_ts").desc))
      .option("checkpointLocation", ckpt)

  /** Writes one wire file; staged then renamed so the source never lists a partial file. */
  private def writeWire(name: String, ids: Seq[Long]): Unit = {
    val tmp = Paths.get(staging, name)
    Files.write(tmp, ids.map(wire).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, Paths.get(channel, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One batch-stage round; returns (round ms, merge ms, ids made visible, commit time). */
  private def round(tracer: Option[Tracer]): (Double, Double, Seq[Long], Long) = {
    val gen = StreamingPipeline.storeGenerations(spark, store).last
    reqId += 1
    var mergeMs = 0.0
    var ids = Seq.empty[Long]
    var commitNs = 0L
    val build = () => {
      val rows = StreamingPipeline.storeDiff(spark, store, lastGen, gen, Seq("item_name"))
        .where(col("change_type") =!= "delete")
        .select(col("item_name"), col("new_state.ingestion_ts").as("ingestion_ts"),
          col("new_state.data").as("data"))
        .collect()
      ids = rows.map(r => idOf(r.getString(0))).toSeq
      NutritionPipeline.enrichmentPipeline(spark.createDataFrame(rows.toSeq.asJava, StoreSchema))
        .createOrReplaceTempView("round_src")
      rows
    }
    val act = (_: AnyRef) => {
      val m0 = System.nanoTime()
      spark.sql("MERGE INTO graft.analytics t USING round_src s ON t.item_name = s.item_name " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      commitNs = System.nanoTime()
      mergeMs = (commitNs - m0) / 1e6
      spark.sql("SELECT count(*) AS items, round(sum(calories), 2) AS kcal, " +
        "round(avg(protein_g), 4) AS protein FROM graft.analytics").collect()
    }
    val ns = tracer match {
      case Some(t) => t.request(reqId, "round")(build())(act)._2
      case None =>
        val s = System.nanoTime()
        act(build())
        System.nanoTime() - s
    }
    lastGen = gen
    visible ++= ids
    (ns / 1e6, mergeMs, ids, commitNs)
  }

  private def newGeneration: Boolean =
    StreamingPipeline.storeGenerations(spark, store).last > lastGen

  def run(): Map[String, Any] = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$runDir/catalog")
    Files.createDirectories(Paths.get(channel))
    Files.createDirectories(Paths.get(staging))

    val tw = System.nanoTime()
    val sent = (live ++ backlog).distinct.toSeq
    val lines = Producer.toWire(spark.createDataFrame(sent.map(i => Tuple1(itemName(i))))
      .toDF("item_name")).toJSON.collect()
    require(lines.length == sent.length, "one wire line per event")
    wire = sent.zip(lines).toMap
    val allIds = ((0L until preload) ++ sent).distinct
    val lookup = spark.createDataFrame(
      allIds.filter(hasLookup).map(i => (itemName(i), payload(i))))
      .toDF("item_name", "data").cache()
    lookup.count()
    val preloadRows = (0L until preload).filter(valid)
      .map(i => Row(itemName(i), PreloadTs, payload(i)))
    StreamingPipeline.upsertBatch(spark.createDataFrame(preloadRows.asJava, StoreSchema),
      store, Seq("item_name"), Seq(col("ingestion_ts").desc))
    NutritionPipeline.enrichmentPipeline(StreamingPipeline.readStore(spark, store))
      .writeTo("graft.analytics").create()
    lastGen = StreamingPipeline.storeGenerations(spark, store).last
    val tablesWarm = Main.secs(tw)
    val cachedMb = Main.storageMb(spark)

    // Open-loop generator: tick k is due at start + k * tickMs whatever the system does.
    val lagMs = mutable.ArrayBuffer.empty[Double]
    @volatile var stop = false
    val genStart = System.nanoTime()
    val generator = new Thread(() => {
      var k = 0
      while (!stop && (k + 1) * perTick <= live.length) {
        val due = genStart + k * tickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val ids = live.slice(k * perTick, (k + 1) * perTick).toSeq
        ids.foreach(i => stampNs.putIfAbsent(i, due))
        writeWire(f"live-$k%06d.json", ids)
        emitted = (k + 1) * perTick
        lagMs.synchronized(lagMs += (System.nanoTime() - due) / 1e6)
        k += 1
      }
    }, "graftbench-generator")
    generator.setDaemon(true)
    generator.start()
    // The trigger interval is well above one micro-batch plus one round (~4.5 s
    // together here): at 4 s they overlapped, and the contention turned any slow
    // spell of the machine into a much larger freshness swing.
    val query = ingestQuery(lookup).trigger(Trigger.ProcessingTime("6 seconds")).start()

    def awaitGeneration(limitS: Double): Boolean = {
      val s = System.nanoTime()
      while (!newGeneration && Main.secs(s) < limitS) Thread.sleep(20)
      newGeneration
    }
    // Warm rounds, so the window does not open on a batch stage still warming up.
    for (_ <- 1 to 2) if (awaitGeneration(30)) round(None)
    val setupS = Main.secs(t0)
    val setupMb = Main.storageMb(spark)

    val tracer = if (opt("trace") == "1") Some(new Tracer(spark, stream = true)) else None
    val seconds = opt("seconds").toDouble
    val w0 = System.nanoTime()
    val roundMs, mergeMs, freshMs = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    // A traced run traces every round: a window holds about five, too few to split
    // into traced and untraced ones, and a round's cost depends on its place in
    // the run. run.py compares them with an untraced run's rounds instead.
    def timedRound(): Unit = {
      tracer.foreach(_.beginPass(true))
      attempted += 1
      try {
        val (r, m, ids, commit) = round(tracer)
        roundMs += r; mergeMs += m
        ids.foreach { i =>
          val due = stampNs.get(i)
          if (due != null && due >= w0) freshMs += (commit - due) / 1e6
        }
      } catch { case e: Throwable =>
        failed += 1
        failures += Map("op" -> "round", "error" -> String.valueOf(e.getMessage).take(300))
      } finally tracer.foreach(_.endPass())
    }
    while (Main.secs(w0) < seconds) if (awaitGeneration(seconds)) timedRound()
    val windowS = Main.secs(w0)
    stop = true
    generator.join()
    // Catch-up: every valid event stamped inside the window becomes visible.
    val pending = () => live.take(emitted).exists { i =>
      valid(i) && !visible(i) && stampNs.get(i) >= w0 }
    val c0 = System.nanoTime()
    while (pending() && Main.secs(c0) < 60) if (awaitGeneration(10)) timedRound()
    if (pending()) {
      failed += 1
      failures += Map("op" -> "catch-up", "error" -> "window events not visible after 60 s")
    }
    query.processAllAvailable()
    query.stop()

    // Backlog drains: each part is staged and then ingested by one AvailableNow run.
    // The first, small part warms the drain path untimed (a session's first
    // AvailableNow run was ~0.6 s slower); the ingest rate is the two other parts'
    // rows over their drain seconds.
    val (warmPart, timedParts) = backlog.splitAt(WarmDrainRows)
    val drainS = (warmPart +: timedParts.grouped((timedParts.length + 1) / 2).toSeq)
      .zipWithIndex.map { case (part, d) =>
        part.grouped(500).zipWithIndex.foreach { case (ids, k) =>
          writeWire(f"backlog-$d-$k%04d.json", ids.toSeq) }
        val d0 = System.nanoTime()
        val drain = ingestQuery(lookup).trigger(Trigger.AvailableNow()).start()
        drain.awaitTermination()
        attempted += 1
        Main.secs(d0)
      }.tail
    if (newGeneration) round(None)

    // Replay check: store and analytics table against the generated events.
    val expectedIds = ((0L until preload) ++ live.take(emitted) ++ backlog).distinct.filter(valid)
    val storeFp = Fingerprint(StreamingPipeline.readStore(spark, store)
      .select("item_name", "data").collect())
    val storeWant = Fingerprint(expectedIds.map(i => Row(itemName(i), payload(i))).toArray)
    val tableFp = Fingerprint(spark.table("graft.analytics")
      .select((col("item_name") +: NutritionPipeline.nutrientFields.map(col)): _*).collect())
    val tableWant = Fingerprint(expectedIds.map(i => Row(
      (itemName(i) +: NutritionPipeline.nutrientFields.indices.map(k => nutrient(i, k))): _*))
      .toArray)
    val correct = storeFp == storeWant && tableFp == tableWant
    attempted += 1
    if (!correct) {
      failed += 1
      failures += Map("op" -> "replay", "store" -> storeFp, "store_want" -> storeWant,
        "table" -> tableFp, "table_want" -> tableWant)
    }
    val layers = tracer.map { t =>
      t.report(s"$runDir/spans.jsonl", Map("workload" -> "pipeline", "seed" -> opt("seed").toLong)) ++
        Map(
          "catalog.merge_ms" -> mergeMs.toSeq,
          "enrich.round_ms" -> roundMs.toSeq,
          "catalog.commits" -> spark.table("graft.`analytics$history`").count(),
          "catalog.files_live" -> spark.table("graft.`analytics$files`").count(),
          "stream.records_written" -> t.streamRecordsWritten.get)
    }
    Map(
      "setup_s" -> setupS,
      "tables_warm_s" -> tablesWarm,
      "tables_cached_mb" -> cachedMb,
      "retained_mb" -> (Main.storageMb(spark) - setupMb),
      "window_s" -> windowS,
      "store_growth_pct" -> 100.0 * live.take(emitted).distinct.count(valid) /
        (0L until preload).count(valid),
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "round_ms" -> roundMs.toSeq,
      "freshness_ms" -> freshMs.toSeq,
      "gen_lag_ms" -> lagMs.synchronized(lagMs.toSeq),
      "ingest_rows_per_s" -> timedParts.length / drainS.sum,
      "drain_s" -> drainS,
      "layers" -> layers)
  }
}

object Pipeline {
  val WarmDrainRows = 1000

  val StoreSchema: StructType = StructType(Seq(
    StructField("item_name", StringType), StructField("ingestion_ts", TimestampType),
    StructField("data", StringType)))
  val PreloadTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  def itemName(id: Long): String = f"dish-$id%08d"
  def idOf(name: String): Long = name.stripPrefix("dish-").toLong

  /** Lookup coverage: ids divisible by 13 have no payload, ids divisible by 11 an
    * empty one; ingest drops both. */
  def hasLookup(id: Long): Boolean = id % 13 != 0
  def valid(id: Long): Boolean = hasLookup(id) && id % 11 != 0

  /** Exact binary fractions, so the parsed doubles compare exactly. Every third id
    * omits the last two nutrients, which the pipeline defaults to 0. */
  def nutrient(id: Long, k: Int): Double =
    if (id % 3 == 0 && k >= 9) 0.0 else ((id * (k + 7) * 31) % 1000) / 4.0

  def payload(id: Long): String =
    if (id % 11 == 0) "[]"
    else {
      val fields = NutritionPipeline.nutrientFields.zipWithIndex
        .filter { case (_, k) => !(id % 3 == 0 && k >= 9) }
        .map { case (f, k) => s""""$f":${nutrient(id, k)}""" }
      s"""[{"name":"${itemName(id)}",${fields.mkString(",")}}]"""
    }
}
