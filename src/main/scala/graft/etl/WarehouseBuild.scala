package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Diagram stage 4 — "Load to warehouse" — which the reference declares
  * but never implemented (SURVEY.md scoping note). Spark-first form:
  * the cleaned state table lands as parquet PARTITIONED BY event date,
  * so every date-bounded warehouse query prunes to the touched
  * partitions at file-listing time (`PartitionFilters` in the scan,
  * verified by test) instead of scanning 100 TB of history.
  *
  * Partition key choice: `event_date` (from `time_position`) rather
  * than load date — analytics filter on when flights HAPPENED;
  * `load_timestamp` stays as an audit column. Rows with NULL event
  * time land in the `__HIVE_DEFAULT_PARTITION__` bucket and stay
  * queryable. Partition count grows by 1/day — safe for any horizon.
  */
object WarehouseBuild {

  /** The warehouse table: the cleaned state columns plus the
    * `event_date` partition. Every read passes it, so no read runs a
    * footer job to infer what [[load]] already guarantees. */
  private val warehouseSchema: StructType = FlightStates.cleanSchema.add("event_date", "date")

  /** The aggregate artifact and the mart: [[dailyAirborne]]'s columns,
    * with the `event_date` partition last, as a partitioned read
    * returns it. */
  private val aggregateSchema: StructType = StructType.fromDDL(
    "origin_country STRING, n_aircraft BIGINT, n_states BIGINT, event_date DATE")

  /** Append a cleaned batch into the partitioned warehouse layout.
    * `clean` must carry exactly `FlightStates.cleanSchema`'s column
    * names and types (nullability aside): [[table]] reads with that
    * schema, so a renamed column would read back as nulls and a
    * retyped one would fail only at some later scan. */
  def load(clean: DataFrame, warehouseDir: String): Unit = {
    def columns(s: StructType) = s.fields.toSeq.map(f => s"${f.name} ${f.dataType.sql}")
    val got = columns(clean.schema)
    val want = columns(FlightStates.cleanSchema)
    val (extra, missing) = (got.diff(want), want.diff(got))
    require(extra.isEmpty && missing.isEmpty,
      s"warehouse load expects FlightStates.cleanSchema: unexpected columns " +
        s"[${extra.mkString(", ")}], missing [${missing.mkString(", ")}]")
    clean
      .withColumn("event_date", to_date(col("time_position")))
      .write.mode("append")
      .partitionBy("event_date")
      .parquet(warehouseDir)
  }

  def table(spark: SparkSession, warehouseDir: String): DataFrame =
    spark.read.schema(warehouseSchema).parquet(warehouseDir)

  /** The daily aggregate over a date range, unsorted: what
    * [[aggregate]] writes and [[dailyAirborne]] sorts. */
  private def daily(spark: SparkSession, warehouseDir: String,
      from: String, to: String): DataFrame =
    table(spark, warehouseDir)
      .filter(col("event_date") >= lit(from) && col("event_date") <= lit(to)
        && col("on_ground") === false)
      .groupBy("event_date", "origin_country")
      .agg(countDistinct("icao24").as("n_aircraft"),
        count(lit(1)).as("n_states"))

  /** Example date-bounded mart query: daily airborne aircraft counts
    * per origin country over a date range, sorted by date and country
    * for its readers — the scan must show the range as
    * PartitionFilters, not data filters. */
  def dailyAirborne(spark: SparkSession, warehouseDir: String,
      from: String, to: String): DataFrame =
    daily(spark, warehouseDir, from, to).orderBy("event_date", "origin_country")

  /** Diagram stage 5 — "Create aggregate script" (declared in the
    * reference's architecture diagram, never implemented there): read
    * the warehouse over a date range (partition-pruned) and dump the
    * daily aggregate as a date-partitioned parquet artifact.
    *
    * Dynamic partition overwrite makes re-running a range IDEMPOTENT —
    * only the touched event_date partitions are replaced, history is
    * untouched. That is the property a scheduled (cron-hourly, like the
    * reference's stages) aggregate job needs: a re-run after a late
    * batch or a failure converges instead of duplicating.
    *
    * The write is unsorted: a global sort would cost a sampling job and
    * a range exchange, and the partitioned write throws the order away.
    * [[dailyAirborne]] stays sorted for its readers. */
  def aggregate(spark: SparkSession, warehouseDir: String,
      aggregateDir: String, from: String, to: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    daily(spark, warehouseDir, from, to)
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date")
      .parquet(aggregateDir)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Diagram stage 6 — "Load to data mart script": load the aggregate
    * artifact into the mart table. Same dynamic-overwrite discipline:
    * partitions present in the aggregate replace their mart
    * counterparts; everything else is preserved — loads are idempotent
    * and late re-aggregations converge. The mart is a parquet table
    * here (the reference's mart was a declared-but-unbuilt Postgres
    * schema); a JDBC mart is one `JdbcSinks`-style writer away. The
    * read passes `aggregateSchema`, so the load is the write's one
    * job. */
  def loadMart(spark: SparkSession, aggregateDir: String,
      martDir: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    spark.read.schema(aggregateSchema).parquet(aggregateDir)
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date")
      .parquet(martDir)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Stage 6 against a real RDBMS mart (the reference declared a
    * Postgres mart schema and never built it): dynamic-partition-
    * overwrite semantics translated to JDBC as delete-then-append —
    * one driver-side DELETE naming the aggregate's event_dates
    * (control-plane scale: a date list, not data), then the
    * distributed `JdbcSinks.appendTable` append. Re-running a range
    * converges exactly like the parquet mart; dates outside the
    * aggregate are untouched. The delete and append are not one
    * transaction — a crash between them leaves the named dates empty
    * until the (idempotent) re-run, the standard warehouse-load
    * contract. */
  def loadMartJdbc(spark: SparkSession, aggregateDir: String,
      url: String, table: String, props: java.util.Properties,
      numPartitions: Int = 8): Long = {
    // persisted: the date collect, the append and the returned count
    // must all see ONE snapshot (three separate scans could straddle a
    // concurrent aggregate rewrite and disagree)
    val agg = spark.read.schema(aggregateSchema).parquet(aggregateDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val dates = agg.select("event_date").distinct()
      .collect().map(_.getDate(0)).sorted
    if (dates.isEmpty) return 0L
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // Match Spark's JDBC writer exactly: it passes the TABLE name
      // through verbatim (dialects case-normalize it) but QUOTES every
      // column (so the column is "event_date", not EVENT_DATE). The
      // existence probe is a zero-row SELECT through the same name
      // resolution as the writer's CREATE — metadata lookups would
      // need per-dialect case games; on the first load the table
      // simply isn't there yet and there is nothing to delete.
      val exists =
        try {
          val st = conn.createStatement()
          try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); true }
          finally st.close()
        } catch {
          // ONLY undefined-object states mean "not there yet": 42P01
          // (Postgres undefined_table), 42X05 (Derby), 42S02
          // (MySQL/ODBC base table not found). Class 42 at large also
          // covers privilege errors (42501 insufficient_privilege on
          // an EXISTING table) — mapped to false, those would skip the
          // DELETE and the append double-counts, exactly the failure
          // this rethrow policy exists to prevent. Anything else
          // (transient drop, lock timeout) rethrows too.
          case e: java.sql.SQLException
              if Set("42P01", "42X05", "42S02")
                .contains(String.valueOf(e.getSQLState)) => false
        }
      if (exists) {
        // Quote via the same JdbcDialect Spark's writer resolved for
        // this URL: hardcoded ANSI double quotes are a syntax error on
        // dialects that quote differently (MySQL backticks without
        // ANSI_QUOTES), and the writer created the column with the
        // dialect's quoting.
        val qcol = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
          .quoteIdentifier("event_date")
        val st = conn.prepareStatement(
          s"DELETE FROM $table WHERE $qcol = ?")
        try dates.foreach { d => st.setDate(1, d); st.executeUpdate() }
        finally st.close()
      }
    } finally conn.close()
    JdbcSinks.appendTable(agg, url, table, props, numPartitions)
    agg.count()
    } finally agg.unpersist(blocking = false)
  }
}
