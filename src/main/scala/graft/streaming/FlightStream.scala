package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.etl.FlightStates

/** Structured Streaming variant of the staging stage (SURVEY.md §3/E2,
  * §7 M1): the idiomatic Spark replacement for the reference's
  * cron + ledger loop.
  *
  * `readStream` over the landing directory with the same
  * `states_*.csv` predicate → the T1–T4/P1–P4 kernel → raw-first dual
  * sink inside `foreachBatch`. `Trigger.AvailableNow` drains all
  * currently-visible files then stops — one cron tick — while the
  * CHECKPOINT subsumes the file ledger: the source tracks processed
  * files exactly-once, so a re-run over the same directory is a no-op
  * (closing the batch pipeline's FAILED-retry gap: a batch that dies
  * mid-run simply replays from the checkpoint).
  *
  * The batch [[graft.etl.StagingPipeline]] remains the
  * reference-faithful path (per-file status rows an operator can
  * inspect); this is the scale path — on a 1000-executor cluster the
  * file source lists incrementally and each micro-batch is a normal
  * distributed job.
  */
object FlightStream {

  /** Untyped streaming scan (schema pinned, never inferred — same
    * dialect and contract as the batch `FlightStates.readRaw`). */
  def readRawStream(spark: SparkSession, rawDir: String): DataFrame =
    spark.readStream.options(FlightStates.RawCsvOptions)
      .schema(FlightStates.rawSchema).csv(rawDir)

  /** Drain-available staging run: raw-first dual sink, one checkpoint.
    * Blocks until the drain completes; returns the finished query.
    *
    * A batch runs two jobs, the raw write and the clean write, over one
    * persisted scan. The source hands the batch its already-listed
    * files as explicit paths; `Mains.settings` keeps their re-listing
    * on the driver, so a many-file drain adds no listing job. */
  def stageAvailableNow(spark: SparkSession, rawDir: String,
      rawSinkDir: String, cleanSinkDir: String,
      checkpointDir: String): StreamingQuery = {
    val raw = FlightStates.withAudit(readRawStream(spark, rawDir))
    val q = raw.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // K2 ordering: raw (string-typed + audit) lands FIRST, so raw
        // preservation survives transform bugs; then the clean kernel
        // output. foreachBatch may retry a batch — parquet append is
        // the at-least-once sink here, exactly-once bookkeeping lives
        // in the source checkpoint; the raw sink partitions by batch
        // so a replayed batch overwrites its own directory.
        batch.persist()
        try {
          batch.write.mode("overwrite")
            .parquet(s"$rawSinkDir/batch_id=$batchId")
          FlightStates.transform(batch).write.mode("overwrite")
            .parquet(s"$cleanSinkDir/batch_id=$batchId")
        } finally { batch.unpersist(); () }
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Event-time analytics over the cleaned stream: airborne states per
    * origin country per hour, 1-hour watermark — the §2.8 streaming
    * aggregation surface (windowed agg + late-data bound). Append mode:
    * a window emits once its end passes the watermark. */
  def airborneCountsStream(clean: DataFrame): DataFrame =
    clean
      .filter(col("on_ground") === false && col("time_position").isNotNull)
      .withWatermark("time_position", "1 hour")
      .groupBy(window(col("time_position"), "1 hour"),
        col("origin_country"))
      .agg(count(lit(1)).as("n_states"))
      .select(col("window.start").as("window_start"),
        col("origin_country"), col("n_states"))

  /** Batch mirror of [[airborneCountsStream]] for differential tests:
    * the closed-window subset of the streaming result must equal this
    * on any static input. */
  def airborneCountsBatch(clean: DataFrame): DataFrame =
    clean
      .filter(col("on_ground") === false && col("time_position").isNotNull)
      .groupBy(window(col("time_position"), "1 hour"),
        col("origin_country"))
      .agg(count(lit(1)).as("n_states"))
      .select(col("window.start").as("window_start"),
        col("origin_country"), col("n_states"))

  /** Stream-static enrichment join — the remaining §2.8 streaming
    * query shape: each micro-batch of the cleaned stream left-joins a
    * static dimension (e.g. a country→region lookup) keyed on
    * `origin_country`. Stateless: no watermark, no state store — Spark
    * re-plans the static side per micro-batch, and a dimension this
    * small broadcasts, so enrichment adds zero shuffles to the stream.
    * Left-outer keeps states whose country is missing from the dim
    * (they pass through with null enrichment columns, the same outer
    * contract as the batch join). */
  def enrichStream(clean: DataFrame, countryDim: DataFrame): DataFrame =
    clean.join(broadcast(countryDim), Seq("origin_country"), "left")
}
