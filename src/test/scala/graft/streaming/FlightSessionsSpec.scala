package graft.streaming

import graft.SparkTestBase
import graft.etl.FlightStates
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stateful sessionization: streaming flatMapGroupsWithState vs the
  * batch window-function mirror over the same fixture data. */
class FlightSessionsSpec extends SparkTestBase {

  private lazy val cleanDir: String = {
    val d = tmpDir("sess-clean")
    FlightStates.cleanFromDir(spark, fixturesDir).write.mode("overwrite").parquet(d)
    d
  }

  /** Batch mirror (lag → gap flag → cumulative session id → group):
    * the sessions the stream emits must be exactly a subset of these,
    * and every data-closed session must appear. */
  private def sessionsBatch(clean: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byKey = Window.partitionBy("icao24").orderBy("ts")
    clean
      .filter(col("icao24").isNotNull && col("time_position").isNotNull)
      .select(col("icao24"), col("time_position").as("ts"))
      .withColumn("prev", lag("ts", 1).over(byKey))
      .withColumn("new_s",
        // gap compared in MICROseconds: FlightStates emits fractional-
        // second timestamps, and the stream side compares micros — a
        // whole-second cast here would truncate and close sessions the
        // batch mirror keeps open, breaking the stream ⊆ batch invariant
        (col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >
            gapMinutes * 60L * 1000000L)
          .cast("int"))
      .withColumn("sid", sum("new_s").over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("icao24", "sid")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_states"))
      .select("icao24", "session_start", "session_end", "n_states")
  }

  /** The same sessionization through Spark's built-in `session_window`
    * aggregation. Its boundary semantics match [[sessionsBatch]]:
    * `session_window` merges an event whose distance from the previous
    * is ≤ `gap` (windows touch-merge), exactly the lag formulation's
    * strict-`>` split rule. */
  private def sessionsWindowed(clean: DataFrame, gapMinutes: Int = 30): DataFrame =
    clean
      .filter(col("icao24").isNotNull && col("time_position").isNotNull)
      .select(col("icao24"), col("time_position").as("ts"))
      .groupBy(col("icao24"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_states"))
      .select("icao24", "session_start", "session_end", "n_states")

  test("streamed sessions ⊆ batch mirror; every data-closed session emits") {
    val clean = spark.read.parquet(cleanDir)
    val stream = spark.readStream.schema(clean.schema).parquet(cleanDir)
    val q = FlightSessions.sessionsStream(stream).toDF().writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("sess-ckpt"))
      .format("memory").queryName("sessions_stream")
      .outputMode("append")
      .start()
    q.awaitTermination()

    val streamed = spark.table("sessions_stream")
    val batch = sessionsBatch(clean)
    val key = Seq("icao24", "session_start", "session_end", "n_states")

    assert(streamed.count() > 0)
    // soundness: nothing streamed that the batch mirror doesn't have
    assert(streamed.join(batch, key, "left_anti").count() === 0,
      "streaming emitted a session the batch mirror does not contain")
    // completeness for data-closed sessions: any batch session that is
    // FOLLOWED by another session of the same aircraft was closed by
    // data and must have been emitted in-batch
    val w = Window.partitionBy("icao24").orderBy("session_start")
    val dataClosed = batch
      .withColumn("nxt", lead("session_start", 1).over(w))
      .filter(col("nxt").isNotNull).drop("nxt")
    assert(dataClosed.join(streamed, key, "left_anti").count() === 0,
      "a data-closed session was not emitted by the stream")
  }

  test("out-of-order arrivals extend, separate and BRIDGE sessions like the batch mirror") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // per-batch files (pinned mtimes): 10:00 opens; then 09:55 extends
    // the session BACKWARD and 09:10 starts a separate earlier one;
    // 10:50 splits off a new session (50 min > gap); 10:25 then
    // BRIDGES the two into [09:55, 10:50]; the 13:00 row on another
    // key advances the watermark to 12:00 and seals everything of a's
    val batches = Seq(
      Seq(("a", ts("2026-01-01 10:00:00"))),
      Seq(("a", ts("2026-01-01 09:55:00")), ("a", ts("2026-01-01 09:10:00"))),
      Seq(("a", ts("2026-01-01 10:50:00"))),
      Seq(("a", ts("2026-01-01 10:25:00"))),
      Seq(("z", ts("2026-01-01 13:00:00"))))
    val d = tmpDir("sess-ooo-in")
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("icao24", "time_position")
        .coalesce(1).write.parquet(s"$d/b$i.parquet")
      java.nio.file.Files.walk(java.nio.file.Paths.get(d, s"b$i.parquet"))
        .filter(p => p.toString.endsWith(".parquet") &&
          !java.nio.file.Files.isDirectory(p))
        .forEach(p => java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L)))
    }
    val schema = spark.read.parquet(s"$d/b0.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$d/*.parquet")
    val q = FlightSessions.sessionsStream(stream).toDF().writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("sess-ooo-ckpt"))
      .format("memory").queryName("sessions_ooo").outputMode("append")
      .start()
    q.awaitTermination()
    val got = spark.table("sessions_ooo")
      .filter(col("icao24") === "a")
      .collect().map(r => (r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3))).toSet
    // exactly the batch mirror's sessions for key a — the straggler
    // bridged, the backward extension landed, the early row separated
    val want = sessionsBatch(
      batches.flatten.filter(_._1 == "a").toDF("icao24", "time_position"))
      .collect().map(r => (r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3))).toSet
    assert(got === want, s"stream $got != batch $want")
    assert(got === Set(
      ("2026-01-01 09:10:00.0", "2026-01-01 09:10:00.0", 1L),
      ("2026-01-01 09:55:00.0", "2026-01-01 10:50:00.0", 4L)))
  }

  test("built-in session_window form ≡ lag-formulation on fixture data") {
    val clean = spark.read.parquet(cleanDir)
    val key = Seq("icao24", "session_start", "session_end", "n_states")
    val windowed = sessionsWindowed(clean)
    val batch = sessionsBatch(clean)
    assert(windowed.count() === batch.count())
    assert(windowed.join(batch, key, "left_anti").count() === 0)
    assert(batch.join(windowed, key, "left_anti").count() === 0)
  }

  test("both forms merge at the exact gap boundary and split just past it") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val atGap = new java.sql.Timestamp(t0.getTime + 30 * 60000L) // exactly 30 min
    val pastGap = new java.sql.Timestamp(atGap.getTime + 1L)     // 30 min + 1 ms
    val boundary = Seq(("k", t0), ("k", atGap)).toDF("icao24", "time_position")
    assert(sessionsWindowed(boundary).count() === 1,
      "session_window touch-merges at distance == gap")
    assert(sessionsBatch(boundary).count() === 1,
      "the lag formulation merges at the exact boundary (strict >)")
    val past = Seq(("k", t0), ("k", pastGap)).toDF("icao24", "time_position")
    assert(sessionsWindowed(past).count() === 2)
    assert(sessionsBatch(past).count() === 2)
  }

  test("multi-session aircraft split exactly at the gap threshold") {
    val clean = spark.read.parquet(cleanDir)
    val batch = sessionsBatch(clean).collect()
    // fixtures span 2025-11-06..24 with per-day captures: every aircraft
    // seen on two different days must produce >= 2 sessions
    val multiDay = clean.filter(col("icao24").isNotNull && col("time_position").isNotNull)
      .select(col("icao24"), to_date(col("time_position")).as("d"))
      .distinct().groupBy("icao24").count().filter(col("count") > 1)
      .select("icao24").collect().map(_.getString(0)).toSet
    val sessionsPerKey = batch.groupBy(_.getString(0)).view.mapValues(_.length)
    multiDay.foreach(k => assert(sessionsPerKey(k) >= 2,
      s"aircraft $k seen on multiple days must have >= 2 sessions"))
    // and no session may internally contain a gap: n_states >= 1 and
    // duration bounded by (n_states - 1) * gap
    batch.foreach { r =>
      val dur = r.getTimestamp(2).getTime - r.getTimestamp(1).getTime
      assert(dur <= (r.getLong(3) - 1) * 30 * 60000L)
    }
  }
}
