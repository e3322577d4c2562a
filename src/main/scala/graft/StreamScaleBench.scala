package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming state-store scale measurement (round-10 verdict item 6;
  * widened to every stateful op family in round 12): the stateful
  * operators are semantics-pinned by their specs, but the 100-TB claim
  * that matters for a firehose — state bounded by the WATERMARK
  * HORIZON, not by input size — was analytic until this main. It
  * drains sfg-scale input (50 k docs / 1 M events at sf1.0,
  * `graft.ScaleDataGen`) through the stateful operators under the
  * RocksDB provider and records, per micro-batch, the numbers
  * Structured Streaming already publishes for free
  * (StreamingQueryProgress): input rows, processing rate, state rows
  * total/updated/removed, and state memory.
  *
  * `runMain graft.StreamScaleBench [sfDir] [outPath]` →
  * STREAM_SCALE.json. The claim under test is falsifiable from the
  * artifact alone: `peak_state_rows` must plateau (bounded by
  * in-horizon data) while `rows_in_total` grows with the drained
  * input — an unbounded-state defect reads as peak ≈ cumulative at
  * the last batch. `StreamScaleSpec` pins exactly that plateau (state
  * in the last drain-fifths no higher than mid-drain) per op, under
  * BOTH state-store providers, so a lost watermark or a
  * forgotten-eviction regression is a red test, not an artifact-diff
  * surprise next round.
  *
  * Ops and their horizon geometry:
  *   - near-dup & chunk-dedup: documents spread uniformly over a
  *     240-minute event-time span, 15-minute horizon → only ~1/16 of
  *     the corpus is ever in state; buckets/hashes evict as the
  *     watermark passes.
  *   - heavy hitters: events over their native 30-day span, 1-day
  *     tumbling windows, 1-day watermark → ~2 windows of per-user
  *     counts live at once, 30 windows' worth drains through.
  *   - interval join: view→purchase attribution over the event span,
  *     30-minute join window, 60-minute watermark → buffered rows are
  *     the in-window slice of both sides.
  *   - sessionize: the fMGWS open-session state machine keyed by
  *     user, 30-minute gap, 1-hour watermark → state is OPEN sessions
  *     per key (sealed ones emit and leave).
  *
  * Input files are range-partitioned by event time with ascending
  * modification times so the file source replays them in time order —
  * the realistic firehose shape (a random file order would advance
  * the watermark to the global max in one batch and drop everything
  * else as late).
  */
object StreamScaleBench {

  /** Per-drain scale stats — the structured form of one `ops` entry,
    * shared by [[main]] (artifact) and `StreamScaleSpec` (bounds). */
  final case class OpStats(
      rowsInTotal: Long,
      batches: Int,
      wallSec: Double,
      rowsPerSec: Double,
      peakStateRows: Long,
      endStateRows: Long,
      peakStateMem: Long,
      stateRemovedTotal: Long,
      stateRowsByBatch: Seq[Long])

  val OpNames: Seq[String] =
    Seq("neardup", "chunk_dedup", "heavy_hitters", "interval_join",
      "sessionize",
      // round 13 (OPTIMIZATION_r13.md §12.5): the remaining stateful
      // families, same drain harness. `upsert` is the one op whose
      // bound is KEY CARDINALITY, not the watermark horizon (NoTimeout
      // latest-wins — its scaladoc's documented deviation), so
      // StreamScaleSpec pins it with a key-census check instead of
      // the plateau check.
      "exact_dedup", "attribution", "anomaly", "triples", "upsert")

  private def writeTimeOrdered(df: DataFrame, ts: String, dir: String,
      nFiles: Int): Unit = {
    df.repartitionByRange(nFiles, col(ts))
      .write.mode("overwrite").parquet(dir)
    // range partition i holds the i-th time slice and lands as the
    // i-th part file by name; stamp ascending mtimes so the file
    // source's (modTime, path) order replays event time
    val parts = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(Paths.get(p),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
    }
  }

  /** Drain `out` to the noop sink with AvailableNow and return the
    * per-batch progress JSON rows + the structured stats. */
  private def drain(spark: SparkSession, name: String, out: DataFrame,
      tmpRoot: String): (Seq[String], OpStats) = {
    val ckpt = s"$tmpRoot/ckpt_$name"
    val q = out.writeStream.format("noop")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    val progs = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val rows = progs.map { p =>
      val so = p.stateOperators.headOption
      val mem = so.map(_.memoryUsedBytes).getOrElse(0L)
      val trig = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      s"""{"batch":${p.batchId},"input_rows":${p.numInputRows},""" +
        s""""rows_per_sec":${Bench.num(p.processedRowsPerSecond, 1)},""" +
        s""""trigger_ms":$trig,""" +
        s""""state_rows":${so.map(_.numRowsTotal).getOrElse(0L)},""" +
        s""""state_updated":${so.map(_.numRowsUpdated).getOrElse(0L)},""" +
        s""""state_removed":${so.map(_.numRowsRemoved).getOrElse(0L)},""" +
        s""""state_mem_bytes":$mem}"""
    }
    val totalRows = progs.map(_.numInputRows).sum
    val wallSec = progs.map(p => Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)).sum / 1000.0
    val byBatch = progs.map(p =>
      p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L))
    val removed = progs.map(p =>
      p.stateOperators.headOption.map(_.numRowsRemoved).getOrElse(0L)).sum
    val stats = OpStats(
      rowsInTotal = totalRows,
      batches = progs.size,
      wallSec = wallSec,
      rowsPerSec = if (wallSec > 0) totalRows / wallSec else 0,
      peakStateRows = byBatch.foldLeft(0L)(math.max),
      endStateRows = byBatch.lastOption.getOrElse(0L),
      peakStateMem = progs.flatMap(_.stateOperators.headOption)
        .map(_.memoryUsedBytes).foldLeft(0L)(math.max),
      stateRemovedTotal = removed,
      stateRowsByBatch = byBatch)
    (rows, stats)
  }

  private def summaryJson(s: OpStats): String =
    s"""{"rows_in_total":${s.rowsInTotal},"batches":${s.batches},""" +
      s""""wall_sec":${Bench.num(s.wallSec, 1)},""" +
      s""""rows_per_sec":${Bench.num(s.rowsPerSec, 1)},""" +
      s""""peak_state_rows":${s.peakStateRows},""" +
      s""""end_state_rows":${s.endStateRows},""" +
      s""""state_removed_total":${s.stateRemovedTotal},""" +
      s""""peak_state_mem_bytes":${s.peakStateMem}}"""

  /** Documents spread uniformly over a 240-minute span. */
  val DocSpanMin = 240
  /** Near-dup / chunk-dedup watermark horizon (minutes). */
  val DocHorizonMin = 15

  /** Prepared-input memo: neardup and chunk_dedup (and repeat runs of
    * any op) share the same (sfDir, tmpRoot, nFiles) docs/events dirs,
    * so the count+write+mtime-stamp pass runs once per run instead of
    * once per op (r12 advisor note — the rewrite was correct under
    * overwrite mode, just wasted work). */
  private val preparedDirs =
    scala.collection.mutable.HashMap.empty[(String, String, Int, String), String]

  private def timeSpreadDocs(spark: SparkSession, sfDir: String,
      tmpRoot: String, nFiles: Int): String =
    preparedDirs.getOrElseUpdate((sfDir, tmpRoot, nFiles, "docs"), {
      val dir = s"$tmpRoot/docs"
      val docsB = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val nDocs = docsB.count()
      val spacingMs = DocSpanMin * 60000L / math.max(nDocs, 1)
      writeTimeOrdered(
        docsB.withColumn("ts",
          timestamp_millis(lit(1700000000000L) + col("doc_id") * lit(spacingMs))),
        "ts", dir, nFiles)
      dir
    })

  private def docStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 2)
      .parquet(dir)

  private def eventsDir(spark: SparkSession, sfDir: String,
      tmpRoot: String, nFiles: Int): String =
    preparedDirs.getOrElseUpdate((sfDir, tmpRoot, nFiles, "events"), {
      val dir = s"$tmpRoot/events"
      writeTimeOrdered(
        Tables.events(spark, sfDir).select(col("ts"), col("user_id")),
        "ts", dir, nFiles)
      dir
    })

  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("ts TIMESTAMP, user_id LONG")
      .option("maxFilesPerTrigger", 2)
      .parquet(dir)

  /** Full-column events replay for the typed operators (attribution /
    * upsert / triples need event_id + event_type + value; anomaly
    * needs event_type). Same time-ordered layout as [[eventsDir]]. */
  private def eventsFullDir(spark: SparkSession, sfDir: String,
      tmpRoot: String, nFiles: Int): String =
    preparedDirs.getOrElseUpdate((sfDir, tmpRoot, nFiles, "events_full"), {
      val dir = s"$tmpRoot/events_full"
      writeTimeOrdered(
        Tables.events(spark, sfDir).select(col("ts"),
          col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          col("event_type"), col("value").cast("double").as("value")),
        "ts", dir, nFiles)
      dir
    })

  private def eventsFullStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("ts TIMESTAMP, user_id LONG, event_id LONG, " +
        "event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 2)
      .parquet(dir)

  /** Prepare the named op's time-ordered input under `tmpRoot` and
    * drain it; the seam [[main]] and `StreamScaleSpec` share, so the
    * spec's bounds hold on exactly the pipeline the committed
    * artifact measures. `nFiles` controls drain granularity (file
    * source batches = nFiles / maxFilesPerTrigger(2)). */
  private[graft] def runOp(spark: SparkSession, sfDir: String, name: String,
      tmpRoot: String, nFiles: Int = 40): (Seq[String], OpStats) = {
    val ckpt = Paths.get(s"$tmpRoot/ckpt_$name")
    if (Files.exists(ckpt)) {
      import scala.sys.process._
      Seq("rm", "-rf", ckpt.toString).!
    }
    name match {
      case "neardup" =>
        val dir = timeSpreadDocs(spark, sfDir, tmpRoot, nFiles)
        drain(spark, name, streaming.StreamingNearDup
          .minhashPairsStream(docStream(spark, dir), "ts", DocHorizonMin)
          .toDF(), tmpRoot)
      case "chunk_dedup" =>
        val dir = timeSpreadDocs(spark, sfDir, tmpRoot, nFiles)
        drain(spark, name, streaming.StreamingChunkDedup
          .chunkDedupStream(docStream(spark, dir), "ts",
            s"$DocHorizonMin minutes"), tmpRoot)
      case "heavy_hitters" =>
        val dir = eventsDir(spark, sfDir, tmpRoot, nFiles)
        drain(spark, name, streaming.StreamingHeavyHitters.hotKeys(
          eventStream(spark, dir), "ts", col("user_id"),
          "1 day", "1 day", 50L), tmpRoot)
      case "interval_join" =>
        // view→purchase attribution derived from the event stream:
        // every event is a view; the deterministic 1-in-5 hash subset
        // re-arrives as purchases (purchase_ts == ts ⇒ the join's
        // strict `>` excludes self-pairs; matches are views in the
        // preceding 30 minutes)
        val ev = Tables.events(spark, sfDir).select(col("ts"), col("user_id"))
          .withColumn("eid", xxhash64(col("user_id"), col("ts")))
        val vDir = s"$tmpRoot/views"
        val pDir = s"$tmpRoot/purchases"
        writeTimeOrdered(ev.select(col("user_id"),
          col("eid").as("view_id"), col("ts").as("view_ts")),
          "view_ts", vDir, nFiles)
        writeTimeOrdered(ev.filter(pmod(col("eid"), lit(5)) === 0)
          .select(col("user_id"), col("eid").as("purchase_id"),
            col("ts").as("purchase_ts")),
          "purchase_ts", pDir, nFiles)
        val views = spark.readStream
          .schema("user_id LONG, view_id LONG, view_ts TIMESTAMP")
          .option("maxFilesPerTrigger", 2).parquet(vDir)
        val purchases = spark.readStream
          .schema("user_id LONG, purchase_id LONG, purchase_ts TIMESTAMP")
          .option("maxFilesPerTrigger", 2).parquet(pDir)
        drain(spark, name, streaming.StreamingJoin
          .attributionJoin(views, purchases, "60 minutes", 30), tmpRoot)
      case "sessionize" =>
        // the fMGWS session state machine over the event firehose,
        // keyed by user (the flight op's key column is just a string)
        val dir = eventsDir(spark, sfDir, tmpRoot, nFiles)
        val clean = eventStream(spark, dir)
          .select(col("user_id").cast("string").as("icao24"),
            col("ts").as("time_position"))
        drain(spark, name, streaming.FlightSessions
          .sessionsStream(clean, gapMinutes = 30, watermark = "1 hour")
          .toDF(), tmpRoot)
      case "exact_dedup" =>
        // dropDuplicatesWithinWatermark on md5(text): state is the
        // in-horizon hash set (the q44 twin)
        val dir = timeSpreadDocs(spark, sfDir, tmpRoot, nFiles)
        drain(spark, name, streaming.StreamingDedup
          .exactDedupStream(docStream(spark, dir), "ts",
            s"$DocHorizonMin minutes"), tmpRoot)
      case "attribution" =>
        // fMGWS touch→purchase attribution keyed by user, event-time
        // timeout at touch + horizon (the q148 twin)
        val dir = eventsFullDir(spark, sfDir, tmpRoot, nFiles)
        drain(spark, name, streaming.StreamingAttribution
          .attribute(eventsFullStream(spark, dir), "60 minutes").toDF(),
          tmpRoot)
      case "anomaly" =>
        // windowed per-type counts vs a K-row broadcast baseline (the
        // q146 twin). The baseline is the batch table's per-type mean
        // daily count — deterministic, key-complete, and what an EWMA
        // monitor would broadcast in production.
        val dir = eventsFullDir(spark, sfDir, tmpRoot, nFiles)
        val baseline = Tables.events(spark, sfDir)
          .select(col("event_type").as("key"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .groupBy("key", "day").agg(count(lit(1)).as("n"))
          .groupBy("key")
          .agg(expr("sum(n) div count(1)").cast("long").as("pred"))
        drain(spark, name, streaming.StreamingAnomaly
          .monitor(eventsFullStream(spark, dir), "ts", col("event_type"),
            "1 day", "1 day", baseline), tmpRoot)
      case "triples" =>
        // per-user trigram miner, buffer evicted by event-time timeout
        // past the third event (the q120-family twin)
        val dir = eventsFullDir(spark, sfDir, tmpRoot, nFiles)
        drain(spark, name, streaming.StreamingTriples
          .triplesStream(eventsFullStream(spark, dir), "1 hour").toDF(),
          tmpRoot)
      case "upsert" =>
        // latest-wins fold, NoTimeout: state is ONE row per distinct
        // key FOREVER — the contract (a keyed materialized view), so
        // its scale bound is key cardinality, not the watermark;
        // asserted as such in StreamScaleSpec, recorded as such here
        val dir = eventsFullDir(spark, sfDir, tmpRoot, nFiles)
        drain(spark, name, streaming.StreamingUpsert
          .latest(eventsFullStream(spark, dir)).toDF(), tmpRoot)
      case other => sys.error(s"unknown stream-scale op: $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/scratch/sfg1.0")
    val outPath = args.drop(1).headOption.getOrElse("STREAM_SCALE.json")
    val cpus = Mains.cpus()
    val spark = Mains.session(Mains.settings(cpus) ++ Map(
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")))
    spark.sparkContext.setLogLevel("WARN")

    val tmpRoot = "/tmp/ssb"
    val meta = Map(
      "neardup" -> s""""horizon_min":$DocHorizonMin,"span_min":$DocSpanMin""",
      "chunk_dedup" -> s""""horizon_min":$DocHorizonMin,"span_min":$DocSpanMin""",
      "heavy_hitters" -> """"window":"1 day","watermark":"1 day"""",
      "interval_join" -> """"join_window_min":30,"watermark":"60 minutes"""",
      "sessionize" -> """"gap_min":30,"watermark":"1 hour"""",
      "exact_dedup" -> s""""horizon_min":$DocHorizonMin,"span_min":$DocSpanMin""",
      "attribution" -> """"horizon_min":30,"watermark":"60 minutes"""",
      "anomaly" -> """"window":"1 day","watermark":"1 day"""",
      "triples" -> """"watermark":"1 hour","state_rows_semantics":"one bounded buffer row per active key; emitted prefix dropped in-row, so rows_removed stays 0"""",
      "upsert" -> """"state_bound":"distinct keys (latest-wins: no eviction by design)"""")
    val entries = OpNames.map { n =>
      val (rows, stats) = runOp(spark, sfDir, n, tmpRoot)
      println(s"STREAM $n ${summaryJson(stats)}")
      s""""$n":{"summary":${summaryJson(stats)},${meta(n)},""" +
        s""""batches":[${rows.mkString(",")}]}"""
    }
    val json =
      s"""{"sf":"${Bench.esc(sfDir)}","cpus":"${Bench.esc(cpus)}",""" +
        s""""provider":"rocksdb","ops":{${entries.mkString(",")}}}"""
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json.take(400))
    spark.stop()
  }
}
