package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's core entity and transform kernel.
  *
  * Schema: the fixed 17-column OpenSky state-vector CSV header
  * (reference `extract_script.py:222-227`); cleaned 19-column layout
  * with two prepended audit columns (`load_warehouse.py:77-85,148-149`).
  *
  * The transform reproduces the reference's pandas coercion semantics
  * EXACTLY (`load_warehouse.py:62-91`):
  *   - T1: string→double ×7, unparseable → NULL (`to_numeric(errors=
  *     'coerce')`, :63-66) — `try_cast` so behavior is ANSI-mode-free.
  *   - T2: `position_source` → nullable int via a double hop
  *     (`to_numeric(...).astype('Int64')`, :68): `"0.9"` truncates to 0,
  *     where a direct string→int cast would null it.
  *   - T3: epoch-seconds→timestamp ×2 (`to_datetime(unit='s',
  *     errors='coerce')`, :70-71) — `timestamp_seconds(try_cast(long))`,
  *     mode-independent (ANSI forbids numeric→timestamp casts).
  *   - T4: strict 2-value lowercase boolean map ×2 (:73-75). NOT a
  *     plain boolean cast: Spark's accepts 1/0/t/f/y/n/yes/no, which is
  *     WIDER than the reference's {'true','false'} map.
  *   - P1/P2: fixed 19-column projection with all-NULL back-fill of
  *     missing columns (:77-91).
  *
  * All coercions are built-in codegen'd `Column` expressions — the whole
  * kernel stays inside WholeStageCodegen, no UDFs, so it runs at full
  * scan speed on a 100 TB input.
  */
object FlightStates {

  /** Raw CSV header order, `extract_script.py:222-227`. */
  val RawColumns: Seq[String] = Seq(
    "icao24", "callsign", "origin_country", "time_position",
    "last_contact", "longitude", "latitude", "baro_altitude", "on_ground",
    "velocity", "true_track", "vertical_rate", "sensors", "geo_altitude",
    "squawk", "spi", "position_source")

  /** Raw extracts are read untyped — the TRANSFORM owns coercion-to-null
    * semantics, exactly like the reference where pandas reads the CSV and
    * `transform_chunk` coerces (SURVEY.md §1.4). Never `inferSchema`. */
  val rawSchema: StructType =
    StructType(RawColumns.map(StructField(_, StringType, nullable = true)))

  /** Cleaned/staging order (19 cols), `load_warehouse.py:77-85`. */
  val FinalColumns: Seq[String] =
    Seq("load_timestamp", "file_source") ++ RawColumns

  /** Post-transform types (SURVEY.md §1.2 table), for re-reading clean
    * exports without re-running the coercion kernel. */
  val cleanSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("load_timestamp", TimestampType),
      StructField("file_source", StringType),
      StructField("icao24", StringType),
      StructField("callsign", StringType),
      StructField("origin_country", StringType),
      StructField("time_position", TimestampType),
      StructField("last_contact", TimestampType),
      StructField("longitude", DoubleType),
      StructField("latitude", DoubleType),
      StructField("baro_altitude", DoubleType),
      StructField("on_ground", BooleanType),
      StructField("velocity", DoubleType),
      StructField("true_track", DoubleType),
      StructField("vertical_rate", DoubleType),
      StructField("sensors", StringType),
      StructField("geo_altitude", DoubleType),
      StructField("squawk", StringType),
      StructField("spi", BooleanType),
      StructField("position_source", IntegerType)))
  }

  private val DoubleCols = Set("longitude", "latitude", "baro_altitude",
    "velocity", "true_track", "vertical_rate", "geo_altitude")
  private val EpochCols = Set("time_position", "last_contact")
  private val BoolCols = Set("on_ground", "spi")

  /** Strict {'true','false'} lowercase map (`load_warehouse.py:73-75`);
    * anything else — including pandas' NaN→"nan" — is NULL. */
  def strictBool(c: Column): Column =
    when(lower(c) === "true", lit(true))
      .when(lower(c) === "false", lit(false))
      .otherwise(lit(null).cast("boolean"))

  /** T2's double hop (`to_numeric(...).astype('Int64')`): accept
    * "0.0"-style numerics via double, NULL on garbage; the second hop is
    * try_cast too, so NaN/±Inf → NULL (pandas yields <NA>) and int32
    * overflow → NULL rather than an ANSI runtime error (Spark 4 default
    * ANSI cast THROWS on overflow — a plain `.cast("int")` here fails
    * the whole job on one "9999999999"). Divergences, documented:
    * pandas `astype('Int64')` RAISES on non-integral floats (failing
    * the whole file) where we truncate toward zero, and keeps 64-bit
    * values where our int32 target nulls them. */
  def nullableInt(c: Column): Column =
    c.try_cast("double").try_cast("int")

  private def coerce(name: String): Column = {
    val c = col(name)
    val out =
      if (DoubleCols(name)) c.try_cast("double")
      // T3 via double, not long: pandas to_datetime(unit='s') accepts
      // fractional epochs like "1.5" (→ 1.5s); try_cast("long") would
      // null them.
      else if (EpochCols(name)) timestamp_seconds(c.try_cast("double"))
      else if (BoolCols(name)) strictBool(c)
      else if (name == "position_source") nullableInt(c)
      else c // icao24, callsign, origin_country, sensors, squawk: untouched
    out.as(name)
  }

  /** Null back-fill of expected-but-absent columns (P2,
    * `load_warehouse.py:87-89`) then the typed 19-column projection. */
  def transform(df: DataFrame): DataFrame = {
    val filled = FinalColumns.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(StringType))
    }
    filled.select(
      col("load_timestamp") +:
        col("file_source") +:
        RawColumns.map(coerce): _*)
  }

  /** Audit columns (P3/P4, `load_warehouse.py:148-149`): per-batch load
    * timestamp and the source file's base name. */
  def withAudit(df: DataFrame): DataFrame =
    df.withColumn("load_timestamp", current_timestamp())
      .withColumn("file_source",
        regexp_extract(input_file_name(), "[^/]+$", 0))

  /** Audit columns with a DRIVER-pinned load timestamp, the per-file
    * pipeline variant: the reference assigns ONE `datetime.now()` per
    * chunk that flows to both the raw and the clean sink
    * (`load_warehouse.py:148`); `current_timestamp()` would re-evaluate
    * per Spark action and give the two sinks different stamps. */
  def withAudit(df: DataFrame, fileName: String,
      loadTs: java.sql.Timestamp): DataFrame =
    df.withColumn("load_timestamp", lit(loadTs))
      .withColumn("file_source", lit(fileName))

  /** The raw extract CSV dialect — one option set for the batch
    * [[readRaw]] and the streaming `FlightStream.readRawStream`, so
    * both read a landed file cell-identically. Matches the
    * reference's discovery predicate `startswith('states_') and
    * endswith('.csv')` (S7/F5, `load_warehouse.py:174-175`) via
    * pathGlobFilter — evaluated at file-listing time, so non-matching
    * files are never opened.
    *
    * Dialect: the files are written by Python's csv.writer (and its
    * faithful twin `ExtractJob.csvField`) — RFC 4180, quotes escaped
    * by DOUBLING (`""`). Spark's default quote-escape is backslash,
    * under which `"he said ""hi"""` reads back with both quote chars
    * kept; `escape` is pinned to `"` so a quoted cell round-trips
    * byte-identically with the DSv2 source path (and with the DuckDB
    * oracle's read_csv). `multiLine` stays false DELIBERATELY: it
    * would make every file a single unsplittable task — the wrong
    * trade at scale — and no states field carries a raw newline (the
    * API's strings are single-line; csvField would quote one, but
    * pandas-side parity for that corner is not worth losing
    * intra-file parallelism). */
  val RawCsvOptions: Map[String, String] = Map(
    "header" -> "true",
    "escape" -> "\"",
    "pathGlobFilter" -> "states_*.csv")

  /** Untyped scan of raw extract CSVs (file or directory). */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.options(RawCsvOptions).schema(rawSchema).csv(path)

  /** Full staging kernel: raw scan → audit → clean. */
  def cleanFromDir(spark: SparkSession, dir: String): DataFrame =
    transform(withAudit(readRaw(spark, dir)))
}
