package graft

import graft.etl.{FileStatus, FlightStates, JsonlControlStore, StagingPipeline, WarehouseBuild}
import org.apache.spark.sql.functions._

/** End-to-end smoke of the operational surface: diagram stages 4→5→6
  * (warehouse → aggregate artifact → mart) and the StagingTick CLI's
  * --retry-failed recovery path, plus the session settings every entry
  * point builds from. */
class MainsSpec extends SparkTestBase {

  test("session settings: the base and the query engine, pinned key by key") {
    // the base: the ticks (Mains.session), PlanGolden, this test base
    val base = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2147483647",
      "spark.ui.enabled" -> "false")
    assert(Mains.settings("4") === base)
    // the query engine: Bench, MicroBench, PlanProbe, Verify
    assert(Mains.querySettings("4") === base ++ Map(
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.graft.pipelineCache" -> "true"))
  }

  test("stages 5-6: warehouse -> aggregate file -> mart, idempotent per date") {
    val wh = tmpDir("wh")
    val agg = tmpDir("agg")
    val mart = tmpDir("mart")
    WarehouseBuild.load(FlightStates.cleanFromDir(spark, fixturesDir), wh)

    val n1 = WarehouseBuild.aggregate(spark, wh, agg, "2025-11-12", "2025-11-13")
    assert(n1 > 0)
    val m1 = WarehouseBuild.loadMart(spark, agg, mart)
    assert(m1 === n1)
    val martRows1 = spark.read.parquet(mart).count()
    assert(martRows1 === n1)

    // re-running the same range converges (dynamic partition overwrite),
    // never duplicates — the property a scheduled tick needs
    val n2 = WarehouseBuild.aggregate(spark, wh, agg, "2025-11-12", "2025-11-13")
    WarehouseBuild.loadMart(spark, agg, mart)
    assert(n2 === n1)
    assert(spark.read.parquet(mart).count() === martRows1)

    // mart content matches the warehouse query it materializes
    val expect = WarehouseBuild.dailyAirborne(spark, wh, "2025-11-12", "2025-11-13")
    val got = spark.read.parquet(mart)
      .select("event_date", "origin_country", "n_aircraft", "n_states")
    assert(got.join(expect,
      Seq("event_date", "origin_country", "n_aircraft", "n_states"),
      "left_anti").count() === 0)
    assert(got.count() === expect.count())
  }

  test("the warehouse tail runs only its work's jobs: no footer read, no sort") {
    val wh = tmpDir("wh3")
    val agg = tmpDir("agg3")
    val mart = tmpDir("mart3")
    WarehouseBuild.load(FlightStates.cleanFromDir(spark, fixturesDir), wh)
    val (n, aggJobs) = countingJobs(
      WarehouseBuild.aggregate(spark, wh, agg, "2025-11-12", "2025-11-13"))
    val (m, martJobs) = countingJobs(WarehouseBuild.loadMart(spark, agg, mart))
    assert(n > 0 && m === n)
    // aggregate: the count-distinct's two shuffle stages, then the
    // write; loadMart: the write alone
    assert((aggJobs.started, martJobs.started) === ((3, 1)))
  }

  test("aggregating a later date range preserves earlier mart partitions") {
    val wh = tmpDir("wh2")
    val agg = tmpDir("agg2")
    val mart = tmpDir("mart2")
    WarehouseBuild.load(FlightStates.cleanFromDir(spark, fixturesDir), wh)
    WarehouseBuild.aggregate(spark, wh, agg, "2025-11-12", "2025-11-12")
    WarehouseBuild.loadMart(spark, agg, mart)
    val day1 = spark.read.parquet(mart)
      .filter(col("event_date") === "2025-11-12").count()
    assert(day1 > 0)

    WarehouseBuild.aggregate(spark, wh, agg, "2025-11-13", "2025-11-13")
    WarehouseBuild.loadMart(spark, agg, mart)
    val after = spark.read.parquet(mart)
    // day 1 untouched, day 2 added
    assert(after.filter(col("event_date") === "2025-11-12").count() === day1)
    assert(after.filter(col("event_date") === "2025-11-13").count() > 0)
  }

  test("StagingTick --retry-failed drives fail -> retry -> CLEAN_EXPORTED via the CLI") {
    val rawDir = tmpDir("raw")
    val fixture = java.nio.file.Files.list(java.nio.file.Paths.get(fixturesDir))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".csv"))
      .minBy(_.getFileName.toString)
    val name = fixture.getFileName.toString
    java.nio.file.Files.copy(fixture, java.nio.file.Paths.get(rawDir, name))
    val ledgerPath = s"${tmpDir("ledger")}/file_log.jsonl"
    val rawSink = tmpDir("rawsink")

    // first tick fails the clean export (clean "dir" is a plain file)
    val broken = java.nio.file.Paths.get(tmpDir("cleanparent"), "cleanfile")
    java.nio.file.Files.writeString(broken, "not a directory")
    val s1 = StagingTick.run(spark,
      Array(rawDir, rawSink, broken.toString, ledgerPath))
    assert(s1.failed === Seq(name))

    // a plain second tick does NOT retry (work list selects NEW only)
    val cleanDir = tmpDir("clean")
    val s2 = StagingTick.run(spark,
      Array(rawDir, rawSink, cleanDir, ledgerPath))
    assert(s2.processed.isEmpty && s2.failed.isEmpty)

    // --retry-failed re-queues and reprocesses to CLEAN_EXPORTED
    val s3 = StagingTick.run(spark,
      Array("--retry-failed", rawDir, rawSink, cleanDir, ledgerPath))
    assert(s3.processed === Seq(name) && s3.failed.isEmpty)
    val rec = new JsonlControlStore(ledgerPath).all()(name)
    assert(rec.status === FileStatus.CleanExported)
    assert(rec.rowCount > 0)
  }

  test("StagingTick rejects unknown flags") {
    intercept[RuntimeException] {
      StagingTick.run(spark, Array("--bogus", "a", "b", "c", "d"))
    }
  }
}
