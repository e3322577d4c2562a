package graft.etl

import graft.{SparkTestBase, Views}
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

  test("compaction shrinks per-partition file counts without changing content") {
    val d = tmpDir("wh-compact")
    // three appends of a deliberately over-partitioned frame → many
    // small files in every date partition
    val clean = FlightStates.cleanFromDir(spark, fixturesDir)
    (1 to 3).foreach(_ => WarehouseBuild.load(clean.repartition(8), d))
    def filesPerPartition(): Map[String, Int] =
      new java.io.File(d).listFiles().filter(_.getName.startsWith("event_date="))
        .map(p => p.getName ->
          p.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = filesPerPartition()
    assert(before.values.exists(_ >= 3), s"precondition: small files, got $before")
    val content = WarehouseBuild.table(spark, d).collect()

    val written = WarehouseBuild.compact(spark, d) // default target ≫ data
    val after = filesPerPartition()
    assert(after.keySet === before.keySet, "partition layout preserved")
    assert(after.values.forall(_ === 1),
      s"tiny partitions compact to one file each, got $after")
    assert(written === after.size.toLong)
    val recontent = WarehouseBuild.table(spark, d).collect()
    assert(recontent.length === content.length)
    // cell-exact content preservation, null-safe
    val k = content.map(_.toString).sorted.toSeq
    assert(recontent.map(_.toString).sorted.toSeq === k)

    // a small target splits the biggest partition into multiple files
    val tiny = WarehouseBuild.compact(spark, d, targetBytes = 4096)
    assert(tiny > after.size.toLong, "smaller target → more files planned")
    assert(filesPerPartition().values.exists(_ > 1))
    assert(WarehouseBuild.table(spark, d).count() === content.length.toLong)
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
