package graft.streaming

import graft.SparkTestBase
import graft.etl.FlightStates
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._

/** Checkpointed staging drain + event-time aggregation semantics. */
class FlightStreamSpec extends SparkTestBase {

  private def stageDirs(): (String, String, String, String) =
    (tmpDir("s-raw"), tmpDir("s-rawsink"), tmpDir("s-clean"), tmpDir("s-ckpt"))

  private def copyFixtures(rawDir: String, n: Int): Seq[String] = {
    val fs = Files.list(Paths.get(fixturesDir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".csv"))
      .sortBy(_.getFileName.toString).take(n)
    fs.foreach(f => Files.copy(f, Paths.get(rawDir, f.getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING))
    fs.map(_.getFileName.toString)
  }

  test("AvailableNow drain stages all files raw-first; checkpoint makes re-runs no-ops") {
    val (raw, rawSink, clean, ckpt) = stageDirs()
    copyFixtures(raw, 3)
    FlightStream.stageAvailableNow(spark, raw, rawSink, clean, ckpt)
    val rawCount = spark.read.parquet(rawSink).count()
    val cleanCount = spark.read.parquet(clean).count()
    assert(rawCount === cleanCount && rawCount > 0)
    // raw sink preserves the untyped strings; clean is the typed kernel
    assert(spark.read.parquet(rawSink).schema("on_ground").dataType.typeName === "string")
    assert(spark.read.parquet(clean).schema("on_ground").dataType.typeName === "boolean")

    // exactly-once: a second drain over the SAME dir + checkpoint adds nothing
    FlightStream.stageAvailableNow(spark, raw, rawSink, clean, ckpt)
    assert(spark.read.parquet(rawSink).count() === rawCount)
    assert(spark.read.parquet(clean).count() === cleanCount)
  }

  test("a many-file drain runs its two writes and no listing job") {
    // past the 32 paths at which Spark would list them as a job
    val (raw, rawSink, clean, ckpt) = stageDirs()
    val Seq(first) = copyFixtures(raw, 1)
    (1 until 40).foreach { i =>
      Files.createLink(Paths.get(raw, f"states_link_$i%02d.csv"), Paths.get(raw, first))
    }
    val (q, jobs) = countingJobs(
      FlightStream.stageAvailableNow(spark, raw, rawSink, clean, ckpt))
    assert(q.recentProgress.count(_.numInputRows > 0) === 1)
    assert(jobs.started === 2, "the raw write and the clean write")
    // and the clean sink loads into the warehouse as the backfill does
    val wh = tmpDir("s-wh")
    graft.etl.WarehouseBuild.load(spark.read.parquet(clean).drop("batch_id"), wh)
    val rows = spark.read.parquet(clean).count()
    assert(rows === 40 * FlightStates.readRaw(spark, s"$raw/$first").count())
    assert(graft.etl.WarehouseBuild.table(spark, wh).count() === rows)
  }

  test("incremental drain picks up only newly landed files") {
    val (raw, rawSink, clean, ckpt) = stageDirs()
    copyFixtures(raw, 2)
    FlightStream.stageAvailableNow(spark, raw, rawSink, clean, ckpt)
    val first = spark.read.parquet(clean).count()
    // land two more files; the checkpointed source must process ONLY them
    val all = Files.list(Paths.get(fixturesDir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".csv"))
      .sortBy(_.getFileName.toString).slice(2, 4)
    all.foreach(f => Files.copy(f, Paths.get(raw, f.getFileName.toString)))
    FlightStream.stageAvailableNow(spark, raw, rawSink, clean, ckpt)
    val second = spark.read.parquet(clean).count()
    val expected = FlightStates.transform(FlightStates.withAudit(
      FlightStates.readRaw(spark, raw))).count()
    assert(second === expected)
    assert(second > first)
  }

  test("the drain reads the doubled-quote escape exactly like readRaw") {
    // RFC-4180 cell `"AB""C"` is AB"C; under Spark's default backslash
    // escape the stream would keep both quote chars
    val (raw, rawSink, clean, ckpt) = stageDirs()
    val header = FlightStates.RawColumns.mkString(",")
    val row = Seq("abc123", "\"AB\"\"C\"") ++
      Seq.fill(FlightStates.RawColumns.size - 2)("")
    Files.write(Paths.get(raw, "states_dialect_test.csv"),
      (header + "\r\n" + row.mkString(",") + "\r\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    FlightStream.stageAvailableNow(spark, raw, rawSink, clean, ckpt)
    val streamed = spark.read.parquet(clean).select("callsign")
      .collect().map(_.getString(0)).toSeq
    val batch = FlightStates.transform(FlightStates.withAudit(
      FlightStates.readRaw(spark, raw))).select("callsign")
      .collect().map(_.getString(0)).toSeq
    assert(batch === Seq("AB\"C"))
    assert(streamed === batch)
  }

  test("watermarked hourly aggregation: closed windows equal the batch mirror") {
    val (raw, rawSink, clean, ckpt) = stageDirs()
    copyFixtures(raw, 14)
    FlightStream.stageAvailableNow(spark, raw, rawSink, clean, ckpt)

    // stream the cleaned parquet through the watermarked agg into memory
    val cleanStream = spark.readStream
      .schema(spark.read.parquet(clean).schema).parquet(clean)
    val q = FlightStream.airborneCountsStream(cleanStream).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("agg-ckpt"))
      .format("memory").queryName("airborne_stream")
      .outputMode("append")
      .start()
    q.awaitTermination()

    val streamed = spark.table("airborne_stream")
    val batch = FlightStream.airborneCountsBatch(spark.read.parquet(clean))
    // append mode emits only windows closed by the final watermark:
    // every streamed row must match batch exactly, and cover all
    // windows strictly below (max event time - 1h) rounded to the hour
    val maxTs = spark.read.parquet(clean).agg(max("time_position")).head().getTimestamp(0)
    val horizon = new java.sql.Timestamp(
      (maxTs.getTime / 3600000L - 1) * 3600000L) // watermark, floored to the hour
    val closedBatch = batch.filter(col("window_start") < horizon)
    val key = Seq("window_start", "origin_country", "n_states")
    assert(streamed.count() > 0)
    assert(closedBatch.join(streamed, key, "left_anti").count() === 0,
      "every closed batch window must be emitted by the stream")
    assert(streamed.join(batch, key, "left_anti").count() === 0,
      "the stream must never emit a window the batch mirror lacks")
  }

  test("stream-static enrichment join ≡ batch join, outer rows kept") {
    import spark.implicits._
    val (raw, rawSink, clean, ckpt) = stageDirs()
    copyFixtures(raw, 4)
    FlightStream.stageAvailableNow(spark, raw, rawSink, clean, ckpt)

    val cleanBatch = spark.read.parquet(clean)
    // a dim covering SOME of the observed countries, so the outer path
    // is genuinely exercised
    val someCountries = cleanBatch.select("origin_country")
      .filter(col("origin_country").isNotNull)
      .distinct().limit(3).as[String].collect().toSeq
    val dim = someCountries.zipWithIndex
      .map { case (c, i) => (c, s"region_$i") }
      .toDF("origin_country", "region")

    val cleanStream = spark.readStream
      .schema(cleanBatch.schema).parquet(clean)
    val q = FlightStream.enrichStream(cleanStream, dim).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("enrich-ckpt"))
      .format("memory").queryName("enriched_stream")
      .outputMode("append")
      .start()
    q.awaitTermination()

    val streamed = spark.table("enriched_stream")
      .select("icao24", "time_position", "origin_country", "region")
    val batch = FlightStream.enrichStream(cleanBatch, dim)
      .select("icao24", "time_position", "origin_country", "region")
    assert(streamed.count() === cleanBatch.count(),
      "left join keeps every streamed row")
    assert(streamed.filter(col("region").isNull).count() > 0,
      "unmatched countries pass through with null enrichment")
    // exceptAll, not anti-join: null cells (outer regions, null
    // timestamps) must compare EQUAL here, and SQL join keys never do
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "streamed enrichment must equal the batch join row-for-row")
  }
}
