package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale techniques for skewed keys and shard placement: salting
  * (splitting hot keys AQE's skew handling can't reach, e.g. inside
  * aggregations, q92) and the shard-balance audit (q180).
  */
object ScaleJoins {

  /** Deterministic content-derived salt. NOT spark_partition_id or
    * monotonically_increasing_id: those change across task retries, and
    * a partially recomputed shuffle map stage would then route the same
    * row to a different reducer on re-attempt — the SPARK-23207-class
    * lost/duplicated-row hazard, routine on large clusters. Hashing the
    * full row content is stable under any recomputation; hot keys made
    * of distinct rows (the normal skew case) still spread uniformly.
    * (Only a key whose rows are byte-identical duplicates stays on one
    * reducer — and such rows collapse under pre-aggregation anyway.) */
  private def contentSalt(df: DataFrame, saltFactor: Int): Column =
    pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
      lit(saltFactor.toLong)).cast("int")

  /** Salted aggregation for skewed group keys: two-phase — first
    * aggregate on (key, salt) so a hot key's rows spread over
    * `saltFactor` reducers, then merge the partials per key. Correct
    * for any algebraic aggregate expressed as (partial, merge) pair;
    * here: count + sum, the building blocks of mean-style stats. */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
      saltFactor: Int): DataFrame = {
    val salted = df.withColumn("__salt", contentSalt(df, saltFactor))
    salted
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__c"), sum(col(valueCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum("__c").as("n_rows"), sum("__s").as("sum_value"))
  }

  // -------------------------------------------------------------- q92
  /** q92: the salted aggregation as an oracle-checked query — event
    * totals per event_type (5 keys over the whole table: maximal
    * skew, every row on one of five reducers in the naive plan).
    * The two-phase salted form spreads each hot key over
    * `AggSaltFactor` reducers; the merge phase moves
    * O(keys·saltFactor) rows. The oracle states the PLAIN group-by —
    * salting must be invisible in the result. */
  val AggSaltFactor = 8

  def saltedEventAgg(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(s, dir)
      .select(col("event_type"), Det.cents(col("value")).as("cents"))
    saltedCountSum(e, "event_type", "cents", AggSaltFactor)
      .select(col("event_type"), col("n_rows"),
        col("sum_value").cast("long").as("sum_cents"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q180
  /** Shard count audited by the placement comparison. */
  val NShards = 16

  /** q180: shard-placement balance audit — the same document keys
    * placed two ways: `mod` (md5 mod [[NShards]] — what naive
    * partitioning does) vs `rendezvous` (highest-random-weight: the
    * shard maximizing h(key ∥ shard), the placement that moves only
    * 1/N of keys when a shard joins/leaves). Emits per scheme and
    * shard the exact load plus the scheme-level max/mean skew in
    * milli — the number that decides whether a 100 TB table's
    * partitioning needs salting before it ships. Both placements are
    * content-derived md5 (the q92 retry-stability argument); HRW's
    * argmax is a per-row `array_position(max)` over [[NShards]]
    * hashes — map-side, no shuffle.
    *
    * Scale shape: one (scheme, shard) census hash agg over the doc
    * scan; the skew ratios ride a 2×[[NShards]]-row window. */
  def shardBalance(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id").cast("string").as("k"))
    val modShard = d.select(lit("mod").as("scheme"),
      (Det.h8(col("k")) % NShards).as("shard"))
    val hrwHashes = array((0 until NShards).map(i =>
      Det.h8(concat(col("k"), lit("_"), lit(i.toString)))): _*)
    val hrw = d.withColumn("hs", hrwHashes)
      .select(lit("rendezvous").as("scheme"),
        (array_position(col("hs"), array_max(col("hs"))) - 1)
          .cast("long").as("shard"))
    val w = Window.partitionBy("scheme")
    modShard.unionAll(hrw.select(col("scheme"), col("shard")))
      .groupBy("scheme", "shard").agg(count(lit(1)).as("n"))
      .withColumn("max_n", max("n").over(w))
      .withColumn("sum_n", sum("n").over(w))
      .select(col("scheme"), col("shard").cast("long").as("shard"),
        col("n").cast("long").as("n"),
        expr(s"max_n * 1000 * $NShards div sum_n").as("skew_milli"))
      .orderBy("scheme", "shard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_shard_balance" -> (shardBalance _),
    "q92_salted_agg" -> (saltedEventAgg _)
  )

  val oracles: Map[String, String] = Map(
    "q180_shard_balance" -> {
      val hs = (0 until NShards)
        .map(i => Det.h8Sql(s"k || '_$i'")).mkString("[", ", ", "]")
      s"""WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents),
         |m AS (SELECT 'mod' AS scheme,
         |  ${Det.h8Sql("k")} % $NShards AS shard FROM d),
         |hx AS (SELECT $hs AS hs FROM d),
         |hr AS (SELECT 'rendezvous' AS scheme,
         |  list_position(hs, list_max(hs)) - 1 AS shard FROM hx),
         |u AS (SELECT * FROM m UNION ALL SELECT * FROM hr),
         |g AS (SELECT scheme, shard, count(*) AS n FROM u GROUP BY 1, 2)
         |SELECT scheme, CAST(shard AS BIGINT) AS shard,
         | CAST(n AS BIGINT) AS n,
         | CAST(max(n) OVER (PARTITION BY scheme) * 1000 * $NShards
         |   // sum(n) OVER (PARTITION BY scheme) AS BIGINT) AS skew_milli
         |FROM g ORDER BY scheme, shard""".stripMargin
    },
    "q92_salted_agg" ->
      """SELECT event_type, count(*) AS n_rows,
        | CAST(sum(round(value * 100)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
