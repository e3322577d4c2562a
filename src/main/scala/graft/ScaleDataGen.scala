package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-series generator for the star schema:
  * `runMain graft.ScaleDataGen <sf> <outDir>` writes every TESTDATA.md
  * table at scale factor `sf` with the SAME per-table recipe at every
  * scale, so runtimes measured across its outputs form a clean scaling
  * curve (BENCH_SCALING.json — the round-9 verdict's top ask: convert
  * the repo's analytic 100-TB claims into measured exponents at one
  * more order of magnitude).
  *
  * The driver's own testdata tops out at sf0.1 (read-only), so the
  * curve's upper points must be generated here. Faithfulness is to the
  * MEASURED distributions of `/root/testdata/sf0.1` (profiled with
  * DuckDB, committed in SCALE.md's scaling section), because the
  * scaling exponent of every heavy query is governed by structural
  * parameters, all of which this recipe holds constant across sf:
  *   - lineitem/orders ratio 4:1 with l_orderkey uniform over orders —
  *     lines-per-order is Binomial(4·O, 1/O) ≈ Poisson(4), matching
  *     the observed zero-truncated-Poisson(4) census cell-for-cell
  *     (1:0.073, 2:0.145, 3:0.197, 4:0.194, 5:0.158, …) — this is what
  *     keeps the q67/q68/q87/q88/q177 co-purchase graph's mean basket
  *     (and so mean degree) scale-invariant;
  *   - documents: 10–100 words uniform over the 30-word vocabulary,
  *     5 % planted near-duplicates (a base doc with one inserted 'dup'
  *     token — observed 250/5000 with 255 'dup' occurrences) and
  *     0.16 % exact duplicates — near-dup candidate volume per doc
  *     stays constant, so q104/q109/q93 scale with N, not N²;
  *   - embeddings: unit-normalized 64-dim Gaussians with labels
  *     INDEPENDENT of geometry — no bias is planted, because the
  *     driver's observed label-centroid norm (0.0700) equals 1/√200,
  *     i.e. pure sampling noise of a 200-vector mean; at m
  *     vectors/label the centroid norm lands at 1/√m at every sf by
  *     construction, keeping IVF cell occupancy and k-means round
  *     cost representative (see [[embeddings]]);
  *   - events: user population scales with sf at a constant
  *     ~66 events/user, value ~ Exponential(mean 50), 30-day span —
  *     the per-user exchange volume per key stays constant.
  *
  * Determinism: every cell is a pure function of (table, row id, salt)
  * through xxhash64 — no RNG object, no time, no partition-order
  * dependence; re-running any sf byte-identically reproduces it. All
  * columns land with the exact arrow types of the driver's files
  * (int32 where it writes int32, float32 embeddings, micros
  * timestamps), so `Tables.*` reads both sources identically.
  *
  * NOT an oracle surface: generated dirs feed Bench/MicroBench scaling
  * runs only; correctness stays pinned to the driver's sf0.01 + DuckDB.
  */
object ScaleDataGen {

  // ---- deterministic primitives ------------------------------------

  /** Salted 64-bit hash of the given columns. */
  private def h(salt: String, cols: Column*): Column =
    xxhash64((cols :+ lit(salt)): _*)

  /** Uniform double in (0,1): strictly positive so ln() is total. */
  private def u01(salt: String, cols: Column*): Column =
    (h(salt, cols: _*).bitwiseAND(lit(Long.MaxValue)).cast("double") + 0.5) /
      9.223372036854776e18

  /** Uniform integer in [0, n). */
  private def uniInt(salt: String, n: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(n))

  /** Standard Gaussian via Box–Muller on two independent hashes. */
  private def gauss(salt: String, cols: Column*): Column =
    sqrt(lit(-2.0) * log(u01(salt + "#1", cols: _*))) *
      cos(lit(2.0 * math.Pi) * u01(salt + "#2", cols: _*))

  private def pick(salt: String, options: Seq[String], cols: Column*): Column =
    element_at(
      array(options.map(lit): _*),
      (uniInt(salt, options.size.toLong, cols: _*) + 1).cast("int"))

  private def money(salt: String, lo: Double, hi: Double, cols: Column*): Column =
    round(lit(lo) + u01(salt, cols: _*) * lit(hi - lo), 2)

  /** Midnight timestamp, uniform over [start, start + spanDays].
    * TIMESTAMP_NTZ to match the driver files' parquet flavor
    * (isAdjustedToUTC=false) — sessions run UTC, so wallclock math is
    * identical either way, but the generated files must make Spark
    * infer the SAME column type the driver's files do. */
  private def uniDate(salt: String, start: String, spanDays: Long,
      cols: Column*): Column =
    date_add(to_date(lit(start)), uniInt(salt, spanDays + 1, cols: _*)
      .cast("int")).cast("timestamp_ntz")

  // ---- row counts (relative to TESTDATA.md: sf0.1 = driver's sf0.1) --

  def counts(sf: Double): Map[String, Long] = Map(
    "customer" -> (150000 * sf).round,
    "supplier" -> (10000 * sf).round,
    "part" -> (200000 * sf).round,
    "orders" -> (1500000 * sf).round,
    "lineitem" -> (6000000 * sf).round,
    "events" -> (1000000 * sf).round,
    "users" -> (15000 * sf).round,
    "documents" -> (50000 * sf).round,
    "embeddings" -> (20000 * sf).round
  ).map { case (k, v) => k -> math.max(1L, v) }

  // ---- tables --------------------------------------------------------

  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartAdjs =
    Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val PartNouns =
    Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def region(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
  }

  def nation(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def customer(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniInt("c_nat", 25, col("id")).cast("int").as("c_nationkey"),
      money("c_bal", -1000, 10000, col("id")).as("c_acctbal"),
      pick("c_seg", Segments, col("id")).as("c_mktsegment"))

  def supplier(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uniInt("s_nat", 25, col("id")).cast("int").as("s_nationkey"),
      money("s_bal", -1000, 10000, col("id")).as("s_acctbal"))

  def part(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("p_partkey"),
      concat(pick("p_adj", PartAdjs, col("id")), lit(" "),
        pick("p_noun", PartNouns, col("id"))).as("p_name"),
      concat(lit("Brand#"),
        (uniInt("p_brand", 25, col("id")) + 1).cast("string")).as("p_brand"),
      pick("p_type", PartTypes, col("id")).as("p_type"),
      (uniInt("p_size", 50, col("id")) + 1).cast("int").as("p_size"),
      // the driver's file carries p_retailprice = 900 + (key % 1000)/10
      round(lit(900.0) + pmod(col("id"), lit(1000)).cast("double") / 10.0, 1)
        .as("p_retailprice"))

  def orders(s: SparkSession, n: Long, customers: Long): DataFrame =
    s.range(n).select(
      col("id").as("o_orderkey"),
      uniInt("o_cust", customers, col("id")).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
      money("o_total", 1000, 500000, col("id")).as("o_totalprice"),
      // 1995-01-01 .. 2001-08-01 (observed span, 2404 days)
      uniDate("o_date", "1995-01-01", 2404, col("id")).as("o_orderdate"),
      pick("o_prio", Priorities, col("id")).as("o_orderpriority"))

  /** 4 lines per order in expectation: l_orderkey uniform over orders
    * reproduces the observed zero-truncated-Poisson(4) basket census —
    * and therefore the co-purchase graph's degree structure — at every
    * sf. shipdate is INDEPENDENT of o_orderdate (measured: deltas range
    * −2399..+2496 days, corr ≈ 0). */
  def lineitem(s: SparkSession, n: Long, ordersN: Long, parts: Long,
      suppliers: Long): DataFrame =
    s.range(n).select(
      uniInt("l_ok", ordersN, col("id")).as("l_orderkey"),
      uniInt("l_pk", parts, col("id")).as("l_partkey"),
      uniInt("l_sk", suppliers, col("id")).as("l_suppkey"),
      (uniInt("l_ln", 7, col("id")) + 1).cast("int").as("l_linenumber"),
      (uniInt("l_qty", 50, col("id")) + 1).cast("double").as("l_quantity"),
      money("l_price", 900, 105000, col("id")).as("l_extendedprice"),
      (uniInt("l_disc", 11, col("id")).cast("double") / 100.0).as("l_discount"),
      (uniInt("l_tax", 9, col("id")).cast("double") / 100.0).as("l_tax"),
      pick("l_rf", Seq("A", "N", "R"), col("id")).as("l_returnflag"),
      pick("l_ls", Seq("F", "O"), col("id")).as("l_linestatus"),
      uniDate("l_ship", "1995-01-02", 2498, col("id")).as("l_shipdate"))

  def events(s: SparkSession, n: Long, users: Long): DataFrame =
    s.range(n).select(
      col("id").as("event_id"),
      // uniform micros over the 30-day window 2024-01-01..2024-01-31;
      // NTZ for the driver files' parquet flavor (see uniDate)
      timestamp_micros(lit(1704067200000000L) +
        pmod(h("e_ts", col("id")), lit(2592000000000L)))
        .cast("timestamp_ntz").as("ts"),
      uniInt("e_user", users, col("id")).as("user_id"),
      pick("e_type", EventTypes, col("id")).as("event_type"),
      // Exponential(mean 50): median 34.7, p90 115, max few hundred —
      // the observed shape
      round(lit(-50.0) * log(u01("e_val", col("id"))), 2).as("value"),
      concat(lit("{\"k\": "), uniInt("e_k", 100, col("id")).cast("string"),
        lit("}")).as("props"))

  // ---- documents -----------------------------------------------------

  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Base word array for a doc id: 10–100 words uniform over [[Vocab]].
    * A pure function of the id, so a duplicate doc can RECOMPUTE its
    * source's text inline — no join, no driver-side state. */
  private def baseWords(id: Column): Column =
    transform(
      sequence(lit(1), (lit(10) + uniInt("d_nw", 91, id)).cast("int")),
      j => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(id, j, lit("d_w")), lit(Vocab.size.toLong)) + 1)
          .cast("int")))

  /** Duplicate-source id: a base (never-duplicate) doc below this one.
    * Dup-ness is id-arithmetic (near: id%20==19; exact: id%625==613, the
    * residues never coincide since 613 ≡ 3 (mod 5)), so the source can
    * be forced onto the base grid: src%20 ≤ 18 by construction, and the
    * rare src%625==613 collision steps down one slot (never back onto
    * %20==19). The smallest near-dup id is 19 (block count clamps to 1
    * there, giving src ∈ [0,19)), so src < id always. */
  private def dupSrc(id: Column): Column = {
    val blocks = greatest(floor(id / 20).cast("long"), lit(1L))
    val block = pmod(uniInt("d_src", 1L << 40, id), blocks)
    val src = block * 20 + uniInt("d_srcr", 19, id)
    when(pmod(src, lit(625)) === 613, src - 1).otherwise(src)
  }

  def documents(s: SparkSession, n: Long): DataFrame = {
    val isNear = pmod(col("doc_id"), lit(20)) === 19
    val isExact = pmod(col("doc_id"), lit(625)) === 613
    val src = dupSrc(col("doc_id"))
    // near-dup: the source doc's words with one 'dup' token inserted at
    // a hash position (observed: 250/5000 docs, ~1 'dup' token each)
    val nearWords = {
      val w = baseWords(src)
      array_insert(w,
        (pmod(uniInt("d_pos", 1L << 40, col("doc_id")),
          (size(w) + 1).cast("long")) + 1).cast("int"),
        lit("dup"))
    }
    val words = when(isExact, baseWords(src))
      .when(isNear, nearWords)
      .otherwise(baseWords(col("doc_id")))
    // lang: en 40 %, zh/es/fr/de 15 % each (observed split)
    val langBucket = uniInt("d_lang", 20, col("doc_id"))
    s.range(n).select(col("id").as("doc_id"))
      .select(
        col("doc_id"),
        array_join(words, " ").as("text"),
        when(langBucket < 8, "en").when(langBucket < 11, "zh")
          .when(langBucket < 14, "es").when(langBucket < 17, "fr")
          .otherwise("de").as("lang"),
        concat(lit("src"), uniInt("d_srcname", 20, col("doc_id"))
          .cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // ---- embeddings ----------------------------------------------------

  /** Unit 64-dim vectors, iid Gaussian coords, labels independent of
    * geometry. The driver's sf0.1 label-centroid norm (0.0700) equals
    * 1/√200 — the expected norm of a mean of 200 random unit vectors —
    * i.e. its "clusters" are pure sampling noise, so no bias term is
    * planted here either: at m vectors/label the centroid norm lands
    * at 1/√m at every sf by construction. */
  def embeddings(s: SparkSession, n: Long): DataFrame = {
    val dims = sequence(lit(0), lit(63))
    val raw = transform(dims, i => gauss("v", col("vec_id"), i))
    s.range(n).select(
      col("id").as("vec_id"),
      uniInt("lab", 10, col("id")).cast("int").as("label"))
      .withColumn("raw", raw)
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        col("label"))
      .select("vec_id", "embedding", "label")
  }

  // ---- main ----------------------------------------------------------

  def writeAll(s: SparkSession, sf: Double, outDir: String): Unit = {
    val c = counts(sf)
    def save(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scale-gen] wrote $name sf=$sf rows=${c.getOrElse(name, -1L)}")
    }
    save("region", region(s))
    save("nation", nation(s))
    save("customer", customer(s, c("customer")))
    save("supplier", supplier(s, c("supplier")))
    save("part", part(s, c("part")))
    save("orders", orders(s, c("orders"), c("customer")))
    save("lineitem",
      lineitem(s, c("lineitem"), c("orders"), c("part"), c("supplier")))
    save("events", events(s, c("events"), c("users")))
    save("documents", documents(s, c("documents")))
    save("embeddings", embeddings(s, c("embeddings")))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScaleDataGen <sf> <outDir>")
    val sf = args(0).toDouble
    val outDir = args(1)
    val spark = Mains.session(Mains.settings(Mains.cpus()) +
      // match the driver files' arrow flavor (timestamp[us])
      ("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    spark.sparkContext.setLogLevel("WARN")
    writeAll(spark, sf, outDir)
    spark.stop()
  }
}
