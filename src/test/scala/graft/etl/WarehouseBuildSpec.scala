package graft.etl

import graft.{SparkTestBase, Views}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Warehouse layout: date partitioning, partition pruning, SQL views. */
class WarehouseBuildSpec extends SparkTestBase {

  private lazy val whDir: String = {
    val d = tmpDir("wh")
    WarehouseBuild.load(FlightStates.cleanFromDir(spark, fixturesDir), d)
    d
  }

  test("warehouse partitions by event date and preserves all rows") {
    val t = WarehouseBuild.table(spark, whDir)
    assert(t.count() === 1834L)
    // partition column materialized; fixture data spans multiple days
    assert(t.select("event_date").distinct().count() >= 5L)
    val dirs = new java.io.File(whDir).list().filter(_.startsWith("event_date="))
    assert(dirs.nonEmpty)
  }

  test("date-bounded query prunes partitions at the scan") {
    val q = WarehouseBuild.dailyAirborne(spark, whDir, "2025-11-12", "2025-11-13")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"))
    // the filter must appear among partition filters, not post-scan
    val pf = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(scan).getOrElse("")
    assert(pf.contains("event_date"), s"expected event_date in $pf")
    val rows = q.collect()
    assert(rows.nonEmpty)
    // the scan opened exactly the two matching partitions' files; the
    // plan has exchanges, so its scans sit inside AQE's final plan
    val scanned = new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
    def parquetFiles(date: String): Long = new java.io.File(s"$whDir/event_date=$date")
      .listFiles().count(_.getName.endsWith(".parquet")).toLong
    assert(scanned === parquetFiles("2025-11-12") + parquetFiles("2025-11-13"))
    assert(rows.forall { r =>
      val d = r.getDate(0).toString
      d >= "2025-11-12" && d <= "2025-11-13"
    })
    // and equals the unpartitioned computation
    val expect = FlightStates.cleanFromDir(spark, fixturesDir)
      .withColumn("event_date", to_date(col("time_position")))
      .filter(col("event_date").between("2025-11-12", "2025-11-13")
        && col("on_ground") === false)
      .groupBy("event_date", "origin_country")
      .agg(countDistinct("icao24").as("n_aircraft"), count(lit(1)).as("n_states"))
    assert(q.join(expect, Seq("event_date", "origin_country", "n_aircraft", "n_states"),
      "left_anti").count() === 0)
    assert(expect.count() === rows.length.toLong)
  }

  test("load rejects a renamed or a retyped column, naming the mismatch") {
    // a renamed column would read back as nulls under the known schema
    val clean = FlightStates.cleanFromDir(spark, fixturesDir)
    Seq(
      clean.withColumnRenamed("icao24", "icao") ->
        "unexpected columns [icao STRING], missing [icao24 STRING]",
      clean.withColumn("position_source", col("position_source").cast("long")) ->
        "unexpected columns [position_source BIGINT], missing [position_source INT]"
    ).foreach { case (bad, mismatch) =>
      val d = tmpDir("wh-bad")
      val e = intercept[IllegalArgumentException](WarehouseBuild.load(bad, d))
      assert(e.getMessage.contains(mismatch))
      assert(new java.io.File(d).list().isEmpty, "nothing was written")
    }
  }

  test("load accepts the staged clean exports as the hourly tick re-reads them") {
    val raw = tmpDir("wh-staged-raw")
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(fixturesDir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".csv")).minBy(_.getFileName.toString)
    java.nio.file.Files.copy(f, java.nio.file.Paths.get(raw, f.getFileName.toString))
    val p = new StagingPipeline(spark, raw, tmpDir("wh-staged-sink"),
      tmpDir("wh-staged-clean"),
      new JsonlControlStore(s"${tmpDir("wh-staged-ledger")}/file_log.jsonl"))
    assert(p.runOnce().processed.size === 1)
    val d = tmpDir("wh-staged")
    WarehouseBuild.load(p.cleanStaged(), d)
    assert(WarehouseBuild.table(spark, d).count() === p.cleanStaged().count())
  }

  test("SQL views expose every harness table to spark.sql") {
    Views.register(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      """SELECT r_name, count(*) AS n FROM region r
        |JOIN nation n ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin).collect()
    assert(n.length === 5)
    assert(spark.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM events WHERE ts IS NOT NULL")
      .head().getLong(0) > 0)
  }
}
