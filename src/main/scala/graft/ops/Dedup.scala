package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ArrayFunctions

/** Fuzzy / near-duplicate detection over the `documents` table — the
  * dedup family a training-data pipeline needs at 100 TB scale:
  *
  *  - q28 MinHash-LSH: word-3-gram shingles → 16 universal-hash minhash
  *    signature → 4 bands × 4 rows → candidates share a (band, key)
  *    bucket → hash-set-Jaccard verify *within buckets only*.
  *  - q29 near-dedup keep-list: keep-min-doc_id survivor set derived
  *    from the verified q28 pairs (left-anti join, no iteration).
  *  - q30 60-bit SimHash per document (frequency-weighted bit votes,
  *    one aggregate pass with an array accumulator).
  *  - q31 SimHash near-dup pairs: 4 bands × 15 bits; by pigeonhole a
  *    pair within Hamming distance 3 always shares ≥1 exact band, so
  *    banding loses NOTHING at the ≤3 threshold — candidate generation
  *    is recall-exact, never all-pairs.
  *  - q32 word-bigram Jaccard with double-minhash anchor blocking
  *    (collision probability ≈ j² — cheap LSH-lite for one-pass dedup).
  *
  * Scale design:
  *  - Candidate generators are hash-shuffle joins on a bucket key (band
  *    id + band hash / anchor pair). No crossJoin, no all-pairs step.
  *  - Shingle sets are verified as *32-bit hash sets* (array<int>), not
  *    string arrays — the verify join moves ~1 KB per doc instead of
  *    ~10 KB, and the intersect compares ints, not strings. (md5
  *    collisions can perturb Jaccard by ~|set|²/2³¹ ≈ 1e-5 — the oracle
  *    mirrors the hash-set semantics exactly.)
  *  - A LOSSLESS size-ratio prefilter (Jaccard ≥ t ⇒ min(|A|,|B|) ≥
  *    t·max(|A|,|B|)) discards most bucket pairs before any array
  *    intersect runs; it cannot change the output, so the oracle omits
  *    it.
  *  - Identical self-join sides collapse into one shuffle via Spark's
  *    ReusedExchange.
  *
  * Cross-engine hash: first 8 (or 15) hex digits of md5 as a BIGINT —
  * the one hash both engines compute identically (see
  * TextAnalysis.wordHash). In production the same structure runs with
  * xxhash64/murmur3; the harness pins md5 for the differential oracle.
  */
object Dedup {

  /** Mersenne prime 2^31 − 1: universal-hash modulus. a·x stays under
    * 2^63 for a < 2^31, x < P — no overflow anywhere. */
  private val P = 2147483647L

  /** 16 fixed (a, b) permutations for (a·x + b) mod P. */
  val Perms: Seq[(Long, Long)] =
    (0 until 16).map(i => (977L + 104729L * i, 7L + 31L * i))

  val Bands = 4
  val RowsPerBand = 4
  /** Band key = Σ sig(r)·31^(3−r): exact in 64-bit (≤ 2^31·29791 ≈ 2^46). */
  private val BandW = Seq(29791L, 961L, 31L, 1L)
  /** Verified-Jaccard threshold (milli). */
  val JMilliMin = 500L
  /** Word-bigram Jaccard threshold (milli). */
  val J4MilliMin = 700L
  /** SimHash width/banding: 60 bits (15 hex digits of md5 fit a signed
    * 64-bit long), 4 bands × 15 bits, Hamming ≤ 3 (recall-exact). */
  val SimBits = 60
  val SimBandBits = 15
  val SimHMax = 3L

  // ---------- shared text kernels ----------

  private def wordsCol(t: Column): Column = Det.words(t)

  /** Distinct word 3-gram shingles from an already-projected words
    * ATTRIBUTE; guarded so <3-word docs yield [] (Spark's `sequence`
    * would otherwise count DOWN for start > stop).
    *
    * `ws` must be a plain column reference, never the `split(...)`
    * expression itself: `element_at(ws, i)` inside the lambda
    * re-evaluates its receiver per element, so an inlined split would
    * re-run the regex 3× per shingle (measured 17 s of a 35 s query at
    * sf0.1 — the projection boundary makes it one split per row, and
    * SPARK-36718 keeps CollapseProject from re-inlining a multi-
    * referenced non-cheap expression). */
  private def shingles3(ws: Column): Column =
    when(size(ws) >= 3,
      array_distinct(transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
          element_at(ws, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word 2-grams (same attribute-only contract as shingles3).
    * Word bigrams, not char 4-grams: char n-grams from a small shared
    * vocabulary have ~0.3+ background Jaccard, which makes anchor
    * buckets pass ~20× more false candidates (measured 270k vs 15k at
    * sf0.1) for the same recall. */
  private def grams2(ws: Column): Column =
    when(size(ws) >= 2,
      array_distinct(transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1)))))
      .otherwise(array().cast("array<string>"))

  /** 60-bit md5-prefix hash (15 hex digits < 2^60). */
  def hash60(c: Column): Column =
    ArrayFunctions.md5Prefix(c, 15)

  /** Distinct ASCENDING-sorted 31-bit hash set of a string array —
    * compact verify unit, sorted so intersection is a linear merge. */
  private def hashSet(arr: Column): Column =
    sort_array(array_distinct(transform(arr,
      x => (TextAnalysis.wordHash(x) % P).cast("int"))))

  /** Codegen'd |A∩B| merge over sorted sets (see SortedIntersectCount). */
  private def interCount(a: Column, b: Column): Column =
    ArrayFunctions.sortedIntersectCount(a, b)

  /** Derived join keys MUST be non-nullable: for a nullable key Catalyst
    * infers `isnotnull(key)` and pushes it BELOW the projection,
    * re-substituting the full alias expression (split → n-grams → md5 →
    * min-hash) into a Filter over raw text — where the split also loses
    * its projection boundary and re-runs per array element. Measured
    * 27 s vs 1.3 s on the q32 candidate join at sf0.1. The sentinel
    * never occurs (inputs are filtered non-empty). */
  private def nn(key: Column): Column = coalesce(key, lit(-1L))

  /** min(|A|,|B|) · 1000 ≥ t · max(|A|,|B|) — necessary for J ≥ t/1000. */
  private def sizeRatioOk(na: Column, nb: Column, tMilli: Long): Column =
    least(na, nb) * 1000 >= lit(tMilli) * greatest(na, nb)

  private def jaccardMilli(inter: Column, uni: Column): Column =
    round(inter * lit(1000.0) / uni).cast("long")

  /** 16-perm minhash signature of a shingle hash-set ATTRIBUTE — ONE
    * definition for the batch pipeline and the streaming band
    * projection: the streaming state store keys on the exact
    * (band, key) values batch q28 produces, so a change applied to one
    * copy would silently desynchronize streamed buckets from the batch
    * backstop. */
  private def minhashSig(hs: Column): Column =
    array(Perms.map { case (a, b) =>
      array_min(transform(hs, x => (lit(a) * x + lit(b)) % P))
    }: _*)

  /** (band, key) structs over an already-projected `sig` attribute —
    * shared with [[minhashSig]] for the same reason. */
  private def minhashBandStructs(sig: Column): Seq[Column] =
    (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r =>
        element_at(sig, b * RowsPerBand + r + 1) * BandW(r))
        .reduce(_ + _)
      struct(lit(b).as("band"), nn(key).as("key"))
    }

  // ---------- q28: MinHash-LSH near-dup pairs ----------

  /** doc_id, hs (distinct 31-bit shingle hash set), n = |hs|.
    * The non-empty guard filters on the CHEAP word count before the
    * shingle projection (equivalent: ≥3 words ⇔ ≥1 shingle) — a filter
    * on `size(s) > 0` would be pushed below the projection with the
    * whole shingle expression substituted in, recomputing it per row. */
  private def hashedShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), wordsCol(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), shingles3(col("ws")).as("s"))
      .select(col("doc_id"), hashSet(col("s")).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n"))

  /** Stateless per-row band projection over an arbitrary (doc_id,
    * text, extra…) frame — the q28 signature pipeline up to banding,
    * with the shingle HASH SET carried on every band row. Every step
    * is a projection, so it runs on a STREAMING frame unchanged (the
    * streaming near-dup operator keys state on (band, key) and needs
    * hs/n in the row to verify inside the state function). The batch
    * q28 deliberately does the opposite — narrow band rows, arrays
    * joined back after candidate generation — because its shuffle is
    * a self-join over all N, not per-bucket state. */
  private[graft] def bandRows(docs: DataFrame, extra: Seq[String]): DataFrame = {
    // fail fast on collisions with internal/output names — silently
    // shadowing a streaming event-time column would strip the
    // watermark the stateful consumer depends on (the chunkExplode
    // rationale, applied to this projection's column space)
    val reserved = Seq("ws", "s", "hs", "n", "sig", "bk", "band", "key")
    val clash = extra.filter(reserved.contains)
    require(clash.isEmpty,
      s"bandRows reserves column name(s) ${clash.mkString(", ")} — " +
        "rename the passthrough column(s)")
    val ex = extra.map(col)
    val withSets = docs
      .select(col("doc_id") +: wordsCol(col("text")).as("ws") +: ex: _*)
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id") +: shingles3(col("ws")).as("s") +: ex: _*)
      .select(col("doc_id") +: hashSet(col("s")).as("hs") +: ex: _*)
      .select(col("doc_id") +: col("hs") +:
        size(col("hs")).cast("long").as("n") +: ex: _*)
    val bandStructs = minhashBandStructs(col("sig"))
    withSets.withColumn("sig", minhashSig(col("hs")))
      .select(col("doc_id") +: col("hs") +: col("n") +:
        explode(array(bandStructs: _*)).as("bk") +: ex: _*)
      .select(col("doc_id") +: col("bk.band").as("band") +:
        col("bk.key").as("key") +: col("hs") +: col("n") +: ex: _*)
  }

  /** Verified pairs are memoized per session/dir when the opt-in
    * [[PipelineCache]] is on, so q29 (defined over these pairs) reads
    * them instead of re-running the whole signature pipeline. */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    PipelineCache.getOrPersist(s, dir, "q28_minhash_lsh_pairs") {
      minhashPairsUncached(s, dir)
    }

  private def minhashPairsUncached(s: SparkSession, dir: String): DataFrame = {
    // hx appears three times in this plan (signature pipeline + both
    // verify sides); ReusedExchange collapses only the identical band
    // exchanges, so without a persist the shingle-hash scan runs 3×.
    // Under the opt-in cache it materializes once per run — the subtree
    // persist the same pipeline would carry in production. Registered
    // as a q28/ sub-pipeline so Bench's invalidate covers it.
    val hx = PipelineCache.getOrPersist(s, dir, "q28_minhash_lsh_pairs/hx") {
      hashedShingles(s, dir)
    }
    val sig = hx.select(col("doc_id"), minhashSig(col("hs")).as("sig"))
    val bandStructs = minhashBandStructs(col("sig"))
    // Narrow band rows: (doc_id, band, key) — no arrays in this
    // shuffle. shuffle_hash pinned on the self-join: both sides of an
    // LSH self-join scale with N (broadcast is wrong at 100 TB), and
    // the identical shuffle exchanges collapse into ONE via
    // ReusedExchange — AQE's broadcast conversion would compute the
    // signature pipeline twice.
    val bands = LshSkew.capBuckets(
      sig
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key")),
      Seq("band", "key"), "minhash")
    val cand = bands.hint("shuffle_hash").as("x")
      .join(bands.hint("shuffle_hash").as("y"), Seq("band", "key"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = hx.select(col("doc_id").as("doc_a"), col("n").as("na"), col("hs").as("hsa"))
    val b = hx.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("hs").as("hsb"))
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .where(sizeRatioOk(col("na"), col("nb"), JMilliMin))
      .select(col("doc_a"), col("doc_b"),
        interCount(col("hsa"), col("hsb")).as("inter_sh"),
        col("na"), col("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter_sh"),
        (col("na") + col("nb") - col("inter_sh")).as("union_sh"))
      .withColumn("j_milli", jaccardMilli(col("inter_sh"), col("union_sh")))
      .where(col("j_milli") >= JMilliMin)
      .select("doc_a", "doc_b", "inter_sh", "union_sh", "j_milli")
      .orderBy("doc_a", "doc_b")
  }

  // ---------- q29: near-dedup survivor set ----------

  /** Keep-min rule: drop every doc that appears as the LARGER id of a
    * verified near-dup pair. One anti-join — no iterative
    * connected-components pass, which a 100 TB dedup can't afford. */
  def nearDedup(s: SparkSession, dir: String): DataFrame = {
    val drop = minhashPairs(s, dir).select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
      .join(drop, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  // ---------- q52: transitive near-dup clusters (connected components) ----------

  /** Iteration cap: min-label propagation needs (component diameter)
    * rounds; near-dup clusters are dense blobs of chained variants with
    * tiny diameters, so 20 is generous. A component still unconverged
    * at the cap fails loudly rather than emitting wrong labels. */
  val MaxCcIterations = 20

  /** Connected components over the verified q28 pair graph (q52):
    * every document gets `cluster` = min doc_id transitively reachable
    * through near-dup pairs (singletons label themselves).
    *
    * q29's keep-min anti-join treats each pair independently — for
    * A~B, B~C (but A≁C) it keeps only A, which is the cheap
    * one-pass answer. The cluster view is the complete one: it makes
    * "keep one representative per transitive cluster" exact, at the
    * price of an iterative algorithm.
    *
    * Implementation is distributed min-label propagation: each round,
    * every node takes the min of its own label and its neighbors'
    * labels — a join + partial-agg min + outer join, all hash-shuffled
    * on node id, nothing driver-side except the O(diameter) loop and
    * its scalar convergence count (the same driver loop every Pregel
    * implementation runs; each round's data path is fully parallel).
    * Labels are persisted per round in a [[Rounds]] scope, so lineage
    * stays bounded. For adversarial million-hop chain graphs
    * the round count, not the data path, is the limit — the standard
    * fix (large-star/small-star pointer doubling, O(log n) rounds)
    * drops into the same loop; near-dup graphs never need it. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    // memoized under the opt-in cache: q91 composes these clusters, and
    // without the seam a session running q52 AND q91 executes the most
    // expensive iterative loop in this file twice end-to-end — the same
    // write-once/read-many contract as q28's pairs
    PipelineCache.getOrPersist(s, dir, "q52_dedup_clusters") {
      dedupClustersUncached(s, dir)
    }

  private def dedupClustersUncached(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(s, dir).select("doc_a", "doc_b")
    // undirected: propagate both ways
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    // Every round references the previous labels TWICE (own label +
    // neighbor side), so each round is persisted while the loop runs
    // and the fixpoint is lineage-truncated before the scope drops
    // those persists. (Single-process checkpoint; a multi-node
    // deployment points this at a reliable checkpoint dir instead.)
    val fixed = Rounds.scoped { r =>
      val labels0 = r.persist(Tables.documents(s, dir)
        .select(col("doc_id").as("u"), col("doc_id").as("lbl")))
      Rounds.iterate(labels0, MaxCcIterations, Some(
        s"connected components did not converge in $MaxCcIterations rounds — " +
          "component diameter exceeds the cap; switch to pointer doubling")) {
        (labels, _) =>
          val nbrMin = edges
            .join(labels.select(col("u").as("v"), col("lbl").as("vlbl")), "v")
            .groupBy("u").agg(min("vlbl").as("nlbl"))
          val joined = r.persist(labels.join(nbrMin, Seq("u"), "left")
            .select(col("u"), col("lbl"),
              least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("nl")))
          (joined.select(col("u"), col("nl").as("lbl")),
            joined.filter(col("nl") < col("lbl")).isEmpty)
      }.localCheckpoint(true)
    }
    fixed
      .select(col("u").as("doc_id"), col("lbl").as("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster")))
      .orderBy("doc_id")
  }

  // ---------- q56: connected components, scale-adaptive ----------

  /** Below this many pair edges the component structure is solved in a
    * SINGLE task (coalesce(1) + union-find) instead of iterated
    * distributed rounds. LSH pair graphs are sparse — pairs ≪ docs —
    * so even petabyte corpora often land under a few million edges;
    * burning 6 shuffle stages per round on a working set one task
    * chews through in milliseconds is the wrong trade (measured: the
    * sf0.1 graph is 256 edges and the distributed rounds cost 12 s of
    * pure stage scheduling). One million 16-byte edges ≈ 50 MB of
    * hash map — comfortable task memory. */
  val SmallGraphEdgeCap = 1000000L

  /** Connected components over the q28 pair graph, strategy picked by
    * graph size (q56). Same output contract and the same recursive-CTE
    * oracle as q52's label propagation; a differential spec pins all
    * paths equal.
    *
    *  - **Small graphs** (≤ `smallGraphCap` edges, counted by the one
    *    aggregate the loop needs anyway): min-root union-find inside
    *    one `mapPartitions` task — the GraphFrames-style fallback.
    *  - **Large graphs**: alternating large-star/small-star rounds
    *    (Kiveris et al., "Connected Components in MapReduce and
    *    Beyond") — large-star connects larger neighbors to the
    *    neighborhood minimum, small-star re-points the rest; both are
    *    hash aggregations + hash joins on node id, and the edge set
    *    provably converges in O(log n) rounds to a star per component.
    *    This is the path q52's Scaladoc promises for adversarial
    *    long-chain graphs, where label propagation's O(diameter)
    *    rounds lose to O(log n). */
  def dedupClustersLargeStar(s: SparkSession, dir: String,
      smallGraphCap: Long = SmallGraphEdgeCap): DataFrame = {
    val pairs = minhashPairs(s, dir).select("doc_a", "doc_b")

    def undirect(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    /** (v, m) for every neighbor v > u, where m = min(Γ(u) ∪ {u}). */
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = undirect(e)
      val m = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // the distinct pays for itself: near-dup blobs emit the same
      // (v, m) once per shared neighbor, and small-star's input size
      // dominates the round (measured 12 s vs 16 s without it)
      nbrs.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }

    /** Orient high→low, then point the center and every smaller
      * neighbor at the minimum neighbor. */
    def smallStar(e: DataFrame): DataFrame = {
      val hl = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = hl.groupBy("u").agg(min("v").as("m"))
      hl.join(m, "u")
        .select(explode(array(
          struct(col("u").as("a"), col("m").as("b")),
          struct(col("v").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }

    // Convergence = the (large, small) round is the identity on the
    // edge set. Comparing sets with exceptAll costs two full traversal
    // jobs per round; an order-independent aggregate signature costs
    // one tiny agg on the freshly-cached round (and doubles as the
    // materializing action). The signature only *suggests* equality —
    // the exact exceptAll check runs once, when the signature first
    // repeats, so correctness never rests on a hash.
    def sig(e: DataFrame) = e
      .select(xxhash64(col("u"), col("v")).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()

    /** Min-root union-find over the whole edge set in one task. Unions
      * always point the larger root at the smaller, so every final
      * root IS its component's minimum member; the output is exactly
      * the star the distributed rounds converge to. */
    def unionFindStar(e: DataFrame): DataFrame = {
      import s.implicits._
      e.select(col("u").as("_1"), col("v").as("_2")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          // LongMap, not HashMap[Long, Long]: the boxed map's entry
          // objects + boxed keys/values cost ~4-6× the documented
          // 50 MB/1M-edges estimate and could OOM the single task at
          // the cap; the primitive-specialized map actually meets it
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x0: Long): Long = {
            var r = x0
            while (parent(r) != r) r = parent(r)
            var c = x0 // path compression
            while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a)
            parent.getOrElseUpdate(b, b)
            val ra = find(a)
            val rb = find(b)
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          parent.keys.toArray.iterator
            .map(n => (n, find(n))).filter(t => t._1 != t._2)
        }
        .toDF("u", "v")
    }

    val fixed = Rounds.scoped { r =>
      val edges0 = r.persist(pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      val starEdges =
        if (edges0.count() <= smallGraphCap) unionFindStar(edges0)
        else Rounds.iterate((edges0, sig(edges0)), MaxCcIterations, Some(
          s"pointer doubling did not converge in $MaxCcIterations rounds")) {
          case ((edges, edgesSig), _) =>
            val next = r.persist(smallStar(largeStar(edges)))
            val nextSig = sig(next)
            ((next, nextSig), nextSig == edgesSig &&
              next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty)
        }._1
      starEdges.localCheckpoint(true)
    }
    // star edges point every non-root at its component min; roots and
    // singletons label themselves
    val lbls = fixed.groupBy("u").agg(min("v").as("lbl"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(lbls.select(col("u").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster")))
      .orderBy("doc_id")
  }

  // ---------- q44: exact dedup (hash-groupBy) ----------

  /** Exact-duplicate collapse — the first (and cheapest) pass of any
    * dedup cascade: group documents by full content hash, keep the
    * min-doc_id survivor per group with its copy count. One
    * hash-shuffle groupBy with map-side partial aggregation (min +
    * count combine before the exchange), so the shuffle carries one
    * row per distinct content per map partition — at 100 TB the
    * post-shuffle side is the distinct-content cardinality, not N.
    * Full 128-bit md5 as the group key: for EXACT dedup a collision
    * merges distinct texts, so no truncated/cheap hash here (the
    * near-dup families are where lossy hashing belongs). */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "content_hash", "n_copies")
      .orderBy("doc_id")

  // ---------- q30: 60-bit SimHash ----------

  /** One projection to the hashed-word array, then the native
    * [[graft.functions.ArrayFunctions.simhash60]] kernel (the
    * higher-order-function fold allocated a 60-slot array per WORD —
    * measured ~3 s at sf0.1 vs sub-second for the one-pass kernel).
    * Null-text docs are dropped on BOTH engines: the oracle's unnest
    * emits zero rows for a NULL text, while an unguarded Spark side
    * would emit a (doc_id, null) row — a latent differential break. */
  private def simhashCore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        transform(wordsCol(col("text")), w => hash60(w)).as("hs"))
      .select(col("doc_id"),
        ArrayFunctions.simhash60(col("hs")).as("simhash"))

  def simhashDocs(s: SparkSession, dir: String): DataFrame =
    simhashCore(s, dir).orderBy("doc_id")

  // ---------- q31: SimHash near-dup pairs (banded, recall-exact ≤3) ----------

  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sim = simhashCore(s, dir)
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        nn(shiftright(col("simhash"), b * SimBandBits)
          .bitwiseAND(lit((1L << SimBandBits) - 1))).as("key"))
    }
    val bands = LshSkew.capBuckets(
      sim
        .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("simhash"),
          col("bk.band").as("band"), col("bk.key").as("key")),
      Seq("band", "key"), "simhash")
    bands.hint("shuffle_hash").as("x")
      .join(bands.hint("shuffle_hash").as("y"), Seq("band", "key"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= SimHMax)
      .orderBy("doc_a", "doc_b")
  }

  // ---------- q32: word-bigram Jaccard with anchor blocking ----------

  def anchorJaccard(s: SparkSession, dir: String): DataFrame = {
    val (a1, b1) = Perms(0)
    val (a2, b2) = Perms(1)
    val an = LshSkew.capBuckets(
      Tables.documents(s, dir)
        .select(col("doc_id"), wordsCol(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2) // cheap pre-filter, see hashedShingles
        .select(col("doc_id"), grams2(col("ws")).as("g2"))
        .select(col("doc_id"), hashSet(col("g2")).as("hg"))
        .select(col("doc_id"), col("hg"), size(col("hg")).cast("long").as("n"),
          nn(array_min(transform(col("hg"), x => (lit(a1) * x + lit(b1)) % P))).as("anchor1"),
          nn(array_min(transform(col("hg"), x => (lit(a2) * x + lit(b2)) % P))).as("anchor2")),
      Seq("anchor1", "anchor2"), "anchor")
    // Self-join (shuffle_hash → one ReusedExchange, see minhashPairs);
    // the size-ratio prefilter sits in the join condition so
    // non-candidates are dropped at probe time, before any wide row
    // reaches the intersect.
    an.hint("shuffle_hash").as("x").join(an.hint("shuffle_hash").as("y"),
        col("x.anchor1") === col("y.anchor1") &&
        col("x.anchor2") === col("y.anchor2") &&
        col("x.doc_id") < col("y.doc_id") &&
        sizeRatioOk(col("x.n"), col("y.n"), J4MilliMin))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        interCount(col("x.hg"), col("y.hg")).as("inter_g"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter_g"),
        (col("na") + col("nb") - col("inter_g")).as("union_g"))
      .withColumn("j4_milli", jaccardMilli(col("inter_g"), col("union_g")))
      .where(col("j4_milli") >= J4MilliMin)
      .select("doc_a", "doc_b", "inter_g", "union_g", "j4_milli")
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- q74
  /** Token n-gram window for the duplicated-substring pass. */
  val DupGramN = 5

  /** q74: cross-document duplicated-n-gram coverage — the substring-
    * level dedup signal (the suffix-array pass of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed as the shape that distributes): a token 5-gram is
    * *duplicated* when it occurs in ≥2 distinct documents, and each
    * document reports how many of its 5-gram positions are covered by
    * duplicated grams (plus the integer-milli coverage ratio the
    * filter threshold would apply to).
    *
    * Scale design: grams explode to (len−4) rows per doc — linear in
    * corpus size, never quadratic; the per-(doc, gram) pre-aggregate
    * makes the gram-keyed shuffle carry DISTINCT grams per doc, so a
    * pathological doc repeating one gram a million times contributes
    * ONE row to the hot-gram key, and the duplicated-gram set is
    * joined back by the same gram key (hash join; hot grams aggregate
    * on the build side, they never fan out). Whitespace class is the
    * pinned `[ \t\n\f\r]` (round-5 ADVICE: Java \s ⊃ RE2 \s). */
  def dupGramCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val ts = wordsCol(col("text"))
    val toks = d.select(col("doc_id"), ts.as("ts"))
    // sequence(0, size-5) would run DESCENDING for short docs (Spark
    // picks step −1 when start > stop) — guard to an empty gram list.
    val grams = toks.select(col("doc_id"),
      explode(when(size(col("ts")) >= DupGramN,
        transform(sequence(lit(0), size(col("ts")) - lit(DupGramN)),
          i => array_join(slice(col("ts"), i + lit(1), lit(DupGramN)), " ")))
        .otherwise(array())).as("g"))
    val perDoc = grams.groupBy("doc_id", "g")
      .agg(count(lit(1)).as("pos_cnt"))
    // perDoc is unique on (doc_id, g), so count(*) per g = doc freq.
    val dupSet = perDoc.groupBy("g").agg(count(lit(1)).as("docs"))
      .where(col("docs") >= 2).select("g")
    val dupPerDoc = perDoc.join(dupSet, "g").groupBy("doc_id")
      .agg(sum("pos_cnt").as("dp"), count(lit(1)).as("dg"))
    toks.select(col("doc_id"),
        greatest(size(col("ts")) - lit(DupGramN - 1), lit(0))
          .cast("long").as("n_grams"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("dp"), lit(0L)).as("dup_positions"),
        coalesce(col("dg"), lit(0L)).as("dup_distinct_grams"))
      .withColumn("dup_milli", when(col("n_grams") > 0,
        expr("dup_positions * 1000 div n_grams")).otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q176
  /** TF-IDF cosine join: blocking df window, weight cap (keeps every
    * w² and Σ wa·wb inside int64 — see [[tfidfCosineJoin]]), and the
    * report threshold in micro-cosine. */
  val TfIdfDfCap = 32L
  val TfIdfWCap = 1000000L
  val TfIdfCosMicroMin = 250000L

  /** q176: weighted (TF-IDF) cosine similarity join — the VSM sibling
    * of q104's set Jaccard: document pairs whose integer tf-idf
    * vectors have cosine ≥ [[TfIdfCosMicroMin]] micro. Weights are
    * w = tf·1000 div df (idf ∝ 1/df — log-free so the whole pipeline
    * stays exact-integer; N cancels nowhere but changes only the
    * global scale DIRECTION of weights, and rank-by-rarity is
    * preserved), capped at [[TfIdfWCap]] so w² and every partial dot
    * stay far inside int64.
    *
    * Blocking (q99's discipline): candidates must share a token with
    * df ∈ [2, [[TfIdfDfCap]]] — pairs similar ONLY through ubiquitous
    * tokens are out of scope by design (they are boilerplate, not
    * near-dups), and the cap bounds per-token fan-out quadratically.
    *
    * Verify: each doc's sparse vector is ONE ascending-sorted packed
    * array (`(h8(token) << 32) | w` — collision-merged per key so
    * keys are duplicate-free), and the exact dot product runs in the
    * codegen'd [[graft.functions.ArrayFunctions.sortedPackedDotLong]]
    * merge — the q68/q104 array-kernel trade (shuffle 2·pairs array
    * rows, never pairs×tokens join rows). The single float op is the
    * final cos_micro rounding (cosMicro discipline).
    *
    * Scale shape: token census + df census (hash aggs), the blocked
    * self-join shuffles once on the rare-token key (ReusedExchange),
    * and the verify joins move pair-count rows. */
  def tfidfCosineJoin(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(wordsCol(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val weighted = tf.join(dfreq, "tok")
      .select(col("doc_id"), col("tok"), col("df"),
        least(expr("tf * 1000 div df"), lit(TfIdfWCap)).as("w"))
    val keyed = weighted
      .select(col("doc_id"), Det.h8(col("tok")).as("key"), col("w"))
      .groupBy("doc_id", "key")
      .agg(least(Det.lsum(col("w")), lit(TfIdfWCap)).as("w"))
    val vecs = keyed
      .select(col("doc_id"), expr("shiftleft(key, 32) + w").as("packed"),
        col("w"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("packed"))).as("pk"),
        sum(expr("w * w")).as("n2"))
      .filter(col("n2") > 0)
    val rare = weighted
      .filter(col("df") >= 2 && col("df") <= TfIdfDfCap)
      .select(col("tok"), col("doc_id"))
    val cand = rare.hint("shuffle_hash").as("x")
      .join(rare.hint("shuffle_hash").as("y"), Seq("tok"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val dot = graft.functions.ArrayFunctions
      .sortedPackedDotLong(col("pka"), col("pkb"))
    cand
      .join(vecs.select(col("doc_id").as("doc_a"), col("pk").as("pka"),
        col("n2").as("n2a")), Seq("doc_a"))
      .join(vecs.select(col("doc_id").as("doc_b"), col("pk").as("pkb"),
        col("n2").as("n2b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), dot.as("dot"),
        col("n2a"), col("n2b"))
      .withColumn("cos_micro",
        expr("""CAST(round(1000000.0 * dot /
               |sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE))) AS BIGINT)"""
          .stripMargin))
      .where(col("cos_micro") >= TfIdfCosMicroMin)
      .select("doc_a", "doc_b", "dot", "cos_micro")
      .orderBy("doc_a", "doc_b")
  }

  /** q178: leakage-free cluster-aware split — THE FIX for what q102
    * measures: q48's per-doc hash split scatters near-duplicate
    * clusters across train/val/test (memorized training text shows up
    * in eval), so the production rule assigns the split by hashing
    * the CLUSTER id — every member of a transitive near-dup cluster
    * (q52's components; singletons are their own cluster) lands in
    * the same split by construction, with q48's exact 80/10/10
    * percent-bucket thresholds. Zero leaky clusters is an invariant
    * here, not an audit finding.
    *
    * Scale shape: q52's label propagation (memoized via
    * [[PipelineCache]] in a session that also runs q52/q91/q102) plus
    * ONE hash projection — the split decision adds no shuffle beyond
    * the presentation sort; determinism is the q48/q92 argument
    * (content-derived md5, retry-stable, no RNG). */
  def clusterSplit(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir).select("doc_id", "cluster")
      .withColumn("bucket",
        graft.ops.Det.h8(col("cluster").cast("string")) % 100)
      .withColumn("split",
        when(col("bucket") < DataPrep.TrainPct, "train")
          .when(col("bucket") < DataPrep.ValPct, "val")
          .otherwise("test"))
      .select("doc_id", "cluster", "split")
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q185
  /** Jaccard thresholds probed by the dedup sensitivity curve. */
  val DupThresholds: Seq[Long] = Seq(500L, 600L, 700L, 800L, 900L, 950L)

  /** q185: dedup threshold sensitivity — for each candidate Jaccard
    * cutoff: how many verified q28 pairs survive and how many
    * documents they touch (as corpus ppm). THE curve a pipeline owner
    * reads before pinning the near-dup threshold: too low merges
    * topic-mates, too high leaves templated spam — this shows exactly
    * where the knee sits on THIS corpus. Thresholds below q28's
    * generator floor ([[JMilliMin]]) are not probed (the pairs don't
    * exist to count).
    *
    * Scale shape: runs entirely on the verified PAIR table (already
    * ~1e-3-selectivity output of the banded generator, shared via
    * [[PipelineCache]]) — the threshold explode multiplies pairs by a
    * constant |T|, the doc set dedups on (t, doc), and every
    * threshold row survives via the |T|-row frame (zero-pair
    * thresholds report zeros, not absence). */
  def dedupThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = minhashPairs(s, dir).select("doc_a", "doc_b", "j_milli")
    val tagged = p
      .withColumn("t", explode(array(DupThresholds.map(lit(_)): _*)))
      .filter(col("j_milli") >= col("t"))
    val pairsAgg = tagged.groupBy("t").agg(count(lit(1)).as("n_pairs"))
    val docsAgg = tagged
      .select(col("t"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
      .groupBy("t").agg(count(lit(1)).as("n_docs"))
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_total"))
    DupThresholds.toDF("t")
      .join(pairsAgg, Seq("t"), "left")
      .join(docsAgg, Seq("t"), "left")
      .crossJoin(broadcast(total))
      .select(col("t").as("j_milli_min"),
        coalesce(col("n_pairs"), lit(0L)).cast("long").as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).cast("long").as("n_docs_affected"),
        // greatest(…,1): the |T|-row literal frame evaluates even on an
        // EMPTY corpus (n_total = 0), unlike data-sized ppm columns
        expr("coalesce(n_docs, 0L) * 1000000 div greatest(n_total, 1L)")
          .as("affected_ppm"))
      .orderBy("j_milli_min")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q185_dedup_threshold_curve" -> (dedupThresholdCurve _),
    "q178_cluster_split" -> (clusterSplit _),
    "q176_tfidf_cosine_join" -> (tfidfCosineJoin _),
    "q28_minhash_lsh_pairs" -> (minhashPairs _),
    "q29_near_dedup" -> (nearDedup _),
    "q30_simhash" -> (simhashDocs _),
    "q31_simhash_pairs" -> (simhashPairs _),
    "q32_ngram_anchor_jaccard" -> (anchorJaccard _),
    "q44_exact_dedup" -> (exactDedup _),
    "q52_dedup_clusters" -> (dedupClusters _),
    "q56_dedup_clusters_ls" -> ((s, d) => dedupClustersLargeStar(s, d)),
    "q74_dup_gram_coverage" -> (dupGramCoverage _),
    "q91_er_canonical" -> (erCanonical _),
    "q99_containment_pairs" -> (containmentPairs _),
    "q102_split_leakage" -> (splitLeakage _),
    "q104_jaccard_join_exact" -> (jaccardJoinExact _),
    "q109_minhash_calibration" -> (minhashCalibration _),
    "q121_editdist_pairs" -> (editDistancePairs _),
    "q130_dedup_savings" -> (dedupSavings _)
  )

  /** q91: entity-resolution canonicalization — the step AFTER
    * clustering that every dedup pipeline ships: pick one canonical
    * record per near-dup cluster (longest document, doc_id
    * tie-break) and emit the doc→canonical mapping a downstream
    * training run uses to drop the rest.
    *
    * Built by composition: q52's label-propagation clusters + one
    * broadcast-able join to the documents' n_chars + a rank window on
    * the cluster key. Scale: the window and the canon join both key
    * on cluster — one exchange serves them; cluster count ≤ doc
    * count, and the canonical frame is one row per cluster. */
  def erCanonical(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
      .select("doc_id", "cluster", "cluster_size")
    val withChars = clusters.join(
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val ranked = withChars.withColumn("rk", row_number().over(w))
    val canon = ranked.filter(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("canonical_id"))
    ranked.join(canon, "cluster")
      .select(col("doc_id"), col("cluster"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("long")
          .as("is_canonical"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  // ---------- q99: shingle-containment pairs (quote / boilerplate) ----------

  /** Containment threshold (milli): |A∩B| / min(|A|, |B|). */
  val ContMilliMin = 800L

  /** Rare-shingle blocking cap: only shingles with document frequency
    * in [2, ContDfCap] generate candidate pairs. */
  val ContDfCap = 32L

  /** Shingle-containment pairs (q99): the ASYMMETRIC near-dup relation
    * Jaccard misses — a short document quoted inside a long one has
    * containment |A∩B|/|A| ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so neither
    * q28's banding (tuned for J ≥ [[JMilliMin]]) nor its size-ratio
    * prefilter can surface it. This is the quote/boilerplate detector
    * of a corpus pipeline.
    *
    * Candidates come from RARE-shingle blocking: two docs pair if they
    * share at least one shingle whose document frequency lies in
    * [2, [[ContDfCap]]]. A contained quote shares MANY of the quoted
    * doc's distinctive shingles, so recall for containment is high,
    * while the df cap bounds the per-shingle fan-out at ContDfCap²/2
    * pairs BY CONSTRUCTION — the hot-bucket hazard LshSkew caps
    * elsewhere cannot occur here (ubiquitous boilerplate shingles are
    * excluded from blocking, deliberately: they identify nothing).
    * Verification is the same sorted-set merge kernel as q28, against
    * min(|A|,|B|) instead of the union. Shuffles: posting-list agg +
    * self-join on the shingle key (ReusedExchange collapses the two
    * sides) + the two verify joins — the q28 topology with the bands
    * replaced by postings. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    // hx referenced three times (postings + both verify sides): same
    // materialize-once contract as q28, under this query's OWN cache
    // key so Bench's per-owner invalidate keeps its timing honest.
    val hx = PipelineCache.getOrPersist(s, dir, "q99_containment_pairs/hx") {
      hashedShingles(s, dir)
    }
    val posts = hx.select(col("doc_id"), explode(col("hs")).as("sh"))
    val rare = posts.join(
      posts.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= ContDfCap),
      Seq("sh"))
      .select(col("sh"), col("doc_id"))
    val cand = rare.hint("shuffle_hash").as("x")
      .join(rare.hint("shuffle_hash").as("y"), Seq("sh"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = hx.select(col("doc_id").as("doc_a"), col("n").as("na"),
      col("hs").as("hsa"))
    val b = hx.select(col("doc_id").as("doc_b"), col("n").as("nb"),
      col("hs").as("hsb"))
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        interCount(col("hsa"), col("hsb")).as("inter_sh"),
        col("na"), col("nb"))
      .withColumn("cont_milli",
        round(col("inter_sh") * lit(1000.0) /
          least(col("na"), col("nb"))).cast("long"))
      .where(col("cont_milli") >= ContMilliMin)
      .withColumn("contained_doc",
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")))
      .select("doc_a", "doc_b", "inter_sh", "na", "nb", "cont_milli",
        "contained_doc")
      .orderBy("doc_a", "doc_b")
  }

  // ---------- q104: exact Jaccard join via prefix filtering ----------

  /** Exact-join Jaccard threshold (ppm), compared by cross-multiply
    * (no division) and floored to `jacc_ppm` only for display.
    *
    * SINGLE SOURCE OF TRUTH for τ: the size-ratio milli
    * ([[PfxJaccSizeMilli]]) and the prefix length
    * ([[pfxPrefixLenSql]]) are DERIVED from this value — the round-11
    * advisor flagged that encoding τ three independent ways meant a
    * threshold change could silently over-prune (size filter and
    * prefix length no longer matching the verify threshold), voiding
    * the exactness guarantee. */
  val PfxJaccPpmMin = 500000L

  /** τ as milli for [[sizeRatioOk]] — derived, never hand-encoded.
    * Exact because τ is specified in ppm at 1e3 granularity. */
  val PfxJaccSizeMilli: Long = PfxJaccPpmMin / 1000L

  /** Prefix length n − ⌈τ·n⌉ + 1 as SQL over column `n`, with
    * ⌈τ·n⌉ computed in exact integer ppm arithmetic. For
    * τ = 0.5 this reduces to the textbook n − (n+1) div 2 + 1. */
  val PfxPrefixLenSql: String =
    s"n - ((n * $PfxJaccPpmMin + 999999) div 1000000) + 1"

  /** q104 long-document threshold (shingles per doc). The inline-
    * verify prefix join attaches each doc's FULL sorted hash set to
    * every prefix posting row, so a single doc contributes
    * ≈ prefix(n)·n·8 ≈ 4n² exchange BYTES — linear in corpus size but
    * quadratic in individual document length (the round-11 advisor's
    * row-WIDTH hazard: the measured corpora top out near ~300
    * shingles ≈ 2.4 KB rows, but a 10 k-shingle doc alone would push
    * ~400 MB through the exchange and resurface the r11 ENOSPC spill
    * via width rather than count). At this threshold the worst
    * attached doc costs 4·4096² ≈ 67 MB — heavy but survivable.
    * Docs ABOVE it take [[jaccardJoinExact]]'s length-capped hybrid
    * path: their prefix rows ship SLIM (no set attached), and the
    * pairs that involve them are verified by one extra fetch join —
    * a candidate-sized exchange paid only for the long-doc minority
    * (was a loud raise_error in round 13's first half; the hybrid
    * replaces failing diagnosably with just working). */
  val PfxMaxShinglesPerDoc = 4096L

  /** Exact Jaccard set-similarity join (q104): every document pair
    * with shingle-set Jaccard ≥ 0.5 — EXACTLY. q28's banded min-hash
    * is probabilistic (a qualifying pair can miss every band); this is
    * the prefix-filtering join of SSJoin/AllPairs (Chaudhuri et al.
    * ICDE'06; Bayardo et al. WWW'07): under any global total order on
    * shingles, J(A,B) ≥ τ forces A and B to share an element within
    * their first |X| − ⌈τ·|X|⌉ + 1 order-sorted elements, so an
    * equi-join on PREFIX shingles alone is provably complete. The
    * oracle is brute force over ALL pairs (124,750 at sf0.01), so the
    * green row verifies the completeness theorem itself, not just the
    * verify arithmetic.
    *
    * The global order is (document frequency ASC, hash ASC): prefixes
    * are each doc's RAREST shingles, so prefix posting lists are short
    * WHEN the corpus has rare shingles — the same reason q99 blocks on
    * rare shingles, but WITHOUT q99's df cap, which would break
    * exactness (measured: 784 candidates vs 124,750 brute-force pairs
    * at sf0.01, 310 k vs 12.5 M at sf0.1). The τ·|A| ≤ |B| ≤ |A|/τ
    * size filter ([[sizeRatioOk]], necessary for J ≥ τ) and the
    * PPJoin positional filter (Xiao et al. WWW'08: a pair matching at
    * prefix ranks (ra, rb) has overlap ≤ min(ra,rb)−1 + 1 +
    * min(na−ra, nb−rb), because the shared global order splits every
    * other common element strictly before or strictly after the
    * matched shingle in BOTH lists) prune at the join edge.
    *
    * INLINE VERIFICATION — the sf10 lesson (round 11). The first
    * formulation materialized candidate doc-id pairs through a
    * `.distinct()` and re-joined `hx` twice to fetch both shingle
    * sets. On a corpus whose shingle space saturates (the synthetic
    * tables draw from a 30-word vocab → ≤ 27 k distinct 3-grams, so
    * past ~sf1 every posting list grows linearly with N and the
    * candidate count grows ~quadratically), that shuffled the
    * quadratic candidate set THREE times: the sf10 sweep (500 k docs)
    * spilled > 78 GB of shuffle temp and died on ENOSPC before
    * finishing one run. This formulation verifies INSIDE the streamed
    * self-join instead: each prefix posting row carries its doc's full
    * sorted hash set, the cheap filters (doc order, size ratio,
    * positional bound) and the codegen'd sorted-merge intersection run
    * per probed pair inside ShuffledHashJoin, and only VERIFIED pairs
    * (output-sized: true near-dups, not candidates) ever reach an
    * exchange — the final distinct collapses the one-row-per-shared-
    * prefix-shingle multiplicity of qualifying pairs. Shuffles: df agg
    * + per-doc rank window + set-attach join + prefix self-join on
    * shingle (reused exchange) + output distinct — ALL linear in the
    * posting volume IN ROWS; nothing candidate-sized is ever
    * materialized. DOC-LENGTH CAVEAT (round-11 advisor): because each
    * prefix posting row carries the doc's full sorted hash set, the
    * exchange BYTES are Σ prefix(n)·|hs| ≈ n²/2 per document — linear
    * in corpus size but quadratic in INDIVIDUAL document length. The
    * measured corpora are short-doc (n ≤ ~300 shingles, row width
    * ≤ ~2.4 KB); on a long-document corpus (10 k-shingle docs →
    * ~200 MB of exchange data per doc) the r11 spill problem could
    * resurface via row WIDTH rather than row count.
    *
    * LENGTH-CAPPED HYBRID (round 13): a 1-row driver probe
    * (`max(n)` off the cached shingle frame — bounded metadata, the
    * frame materializes for the query anyway) picks the plan. A
    * corpus whose widest doc fits [[PfxMaxShinglesPerDoc]] — every
    * measured one — keeps the inline-verify plan above EXACTLY.
    * Otherwise docs over the threshold ship their prefix rows SLIM
    * (hs = null; rank, size and positional filters still apply —
    * they read only n and rk), pairs with both sets present verify
    * inline as before, and the minority of pairs touching a long doc
    * route through a candidate `distinct` + one fetch join against
    * the cached shingle frame to verify — the candidate-sized
    * exchange is paid ONLY for long-doc pairs, which is the price of
    * exactness (those sets cannot ride the posting rows without the
    * 4n² width blow-up). Completeness is untouched: the prefix
    * equi-join covers every qualifying pair regardless of which
    * verify path scores it.
    * Worst-case probe COMPUTE is still Σ_sh c_sh² pair evaluations (an
    * exact join must look at pairs sharing prefix features — on a
    * Heaps-law corpus c_sh stays small; the bounded-vocab synthetic is
    * the adversarial case), but it streams through whole-stage codegen
    * with early-out filters, never to disk: measured at sf10 the fix
    * turns ENOSPC-after-32-min into a completed run. */
  def jaccardJoinExact(s: SparkSession, dir: String): DataFrame = {
    // hx appears three times (postings + both set-attach sides) — same
    // materialize-once contract as q28/q99, own cache key so Bench's
    // per-owner invalidate keeps the timing honest.
    val hx = PipelineCache.getOrPersist(s, dir, "q104_jaccard_join_exact/hx") {
      hashedShingles(s, dir)
    }
    // corpus-width probe: ONE driver-side scalar off the cached frame
    // (see the LENGTH-CAPPED HYBRID scaladoc — this decides the plan,
    // it never sees data rows). Empty corpus → max(n) is null → the
    // short-doc plan (which is empty-safe like every query).
    val widest = hx.agg(max(col("n"))).head()
    val hasLong = !widest.isNullAt(0) &&
      widest.getLong(0) > PfxMaxShinglesPerDoc
    val posts = hx.select(col("doc_id"), col("n"), explode(col("hs")).as("sh"))
    val dfreq = posts.groupBy("sh").agg(count(lit(1)).as("df"))
    // rank within doc by the global (df, sh) order; keep the prefix
    // n − ⌈τ·n⌉ + 1 ([[PfxPrefixLenSql]], derived from the one τ
    // constant). The window runs SLIM (no array column in flight);
    // the doc's sorted hash set is attached after pruning, so the
    // heavy rows number Σ prefix(n), not Σ n.
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "sh")
    val prefSlim = posts.join(dfreq, Seq("sh"))
      .withColumn("rk", row_number().over(byRarity))
      .where(col("rk") <= expr(PfxPrefixLenSql))
      .select(col("sh"), col("doc_id"), col("rk"))
    // shuffle_hash on both joins: every side is data-scale (hx is
    // O(corpus) — too big to broadcast at scale) and SMJ would sort
    // array-carrying rows; the identical self-join exchanges collapse
    // via ReusedExchange. On a long-doc corpus over-threshold docs
    // attach NO set — their rows stay slim through both exchanges.
    val attach = if (hasLong)
      hx.select(col("doc_id"),
        when(col("n") <= lit(PfxMaxShinglesPerDoc), col("hs")).as("hs"),
        col("n"))
    else hx
    val pref = prefSlim.hint("shuffle_hash")
      .join(attach.hint("shuffle_hash"), Seq("doc_id"))
      .select(col("sh"), col("doc_id"), col("rk"), col("n"), col("hs"))
    val ppm = lit(PfxJaccPpmMin)
    // positional overlap upper bound for the pair matched at prefix
    // ranks (x.rk, y.rk); J ≥ τ ⇔ inter·(1e6+ppm) ≥ ppm·(na+nb), so
    // prune when even the bound cannot reach the required overlap
    val ub = least(col("x.rk"), col("y.rk")) +
      least(col("x.n") - col("x.rk"), col("y.n") - col("y.rk"))
    val matched = pref.hint("shuffle_hash").as("x")
      .join(pref.hint("shuffle_hash").as("y"),
        col("x.sh") === col("y.sh") &&
          col("x.doc_id") < col("y.doc_id") &&
          sizeRatioOk(col("x.n"), col("y.n"), PfxJaccSizeMilli) &&
          ub * (lit(1000000L) + ppm) >= ppm * (col("x.n") + col("y.n")))
    // exact Jaccard verify + τ filter over (doc_a, doc_b, hsa, hsb,
    // na, nb) — shared by the inline path and the hybrid's fetch path
    def verified(pairs: DataFrame): DataFrame = pairs
      .select(col("doc_a"), col("doc_b"),
        interCount(col("hsa"), col("hsb")).as("inter_sh"),
        col("na"), col("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter_sh"),
        (col("na") + col("nb") - col("inter_sh")).as("union_sh"))
      .where(col("inter_sh") * lit(1000000L) >= ppm * col("union_sh"))
      .withColumn("jacc_ppm", expr("inter_sh * 1000000 div union_sh"))
      .select("doc_a", "doc_b", "inter_sh", "union_sh", "jacc_ppm")
    def pairCols(m: DataFrame): DataFrame = m
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.hs").as("hsa"), col("y.hs").as("hsb"),
        col("x.n").as("na"), col("y.n").as("nb"))
    val result = if (!hasLong) verified(pairCols(matched)) else {
      val inline = verified(pairCols(
        matched.where(col("x.hs").isNotNull && col("y.hs").isNotNull)))
      // pairs touching a long doc: collapse prefix multiplicity FIRST
      // (slim id pairs — cheap), then fetch both sets once per pair
      val fetched = matched
        .where(col("x.hs").isNull || col("y.hs").isNull)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
        .join(hx.hint("shuffle_hash").select(col("doc_id").as("doc_a"),
          col("hs").as("hsa"), col("n").as("na")), Seq("doc_a"))
        .join(hx.hint("shuffle_hash").select(col("doc_id").as("doc_b"),
          col("hs").as("hsb"), col("n").as("nb")), Seq("doc_b"))
      inline.unionByName(verified(fetched))
    }
    result
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ---------- q109: minhash estimator calibration ----------

  /** MinHash estimator calibration (q109): for every verified q28
    * pair, the SIGNATURE-side Jaccard estimate (matching components
    * of the two 16-perm minhash signatures, ·1000/16) next to the
    * exact set Jaccard the verify step computed — the empirical error
    * of the sketch on the pairs it actually surfaced. This is the
    * q39/q40 verifiability pattern applied to q28: the expected
    * |est − exact| is ~√(J(1−J)/16) ≈ 125 milli at J = 0.5, and a
    * drifted permutation family or a broken band key shows up here as
    * a biased err_milli long before recall visibly degrades. err is
    * kept SIGNED and undivided — signed integer division is where the
    * engines' floor/truncate semantics part ways.
    *
    * Scale shape: two hash joins of the (already materialized) pair
    * list against the per-doc signature projection, then a 16-element
    * zip per pair row — cost proportional to the PAIR count, with the
    * signature pipeline shared with q28 through the same persisted
    * shingle frame. */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val hx = PipelineCache.getOrPersist(s, dir, "q28_minhash_lsh_pairs/hx") {
      hashedShingles(s, dir)
    }
    val sig = hx.select(col("doc_id"), minhashSig(col("hs")).as("sig"))
    minhashPairs(s, dir).select("doc_a", "doc_b", "j_milli")
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("siga")),
        Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sigb")),
        Seq("doc_b"))
      .withColumn("n_match",
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => (x === y).cast("long")), lit(0L), (acc, m) => acc + m))
      .withColumn("est_milli", expr(s"n_match * 1000 div ${Perms.size}"))
      .select(col("doc_a"), col("doc_b"), col("j_milli"), col("n_match"),
        col("est_milli"), (col("est_milli") - col("j_milli")).as("err_milli"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------- q102: split-leakage audit (q52 clusters × q48 split) ----------

  /** Split-leakage audit (q102): near-dup clusters (q52) crossed with
    * the deterministic train/val/test hash split (q48) — the check a
    * training pipeline runs BEFORE training. A near-duplicate of a
    * training document sitting in val/test inflates eval scores even
    * after doc-level exact dedup (the variants are not byte-identical,
    * so q44 keeps both and the doc_id-hash split routes them
    * independently). One row per multi-doc cluster with its per-split
    * census and a `leaky` flag (train ∩ (val ∪ test) ≠ ∅). Singleton
    * clusters are omitted: they cannot leak, and at corpus scale they
    * are ~all clusters. Cost on top of the cached q52 frame: one
    * broadcast-joinable split projection and one groupBy(cluster). */
  def splitLeakage(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir).select("doc_id", "cluster")
      .join(DataPrep.hashSplit(s, dir).select("doc_id", "split"), Seq("doc_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .where(col("cluster_size") >= 2)
      .withColumn("leaky",
        (col("n_train") > 0 && (col("n_val") > 0 || col("n_test") > 0))
          .cast("long"))
      .orderBy("cluster")

  // ---------- q121: prefix-blocked edit-distance pairs ----------

  private[ops] val EditPrefixLen = 8
  private[ops] val EditHeadLen = 40
  private[ops] val EditMaxDist = 4

  /** q121: field-level fuzzy matching — the record-linkage primitive
    * the token/shingle family can't express (MinHash and Jaccard see
    * transposed or misspelled CHARACTERS as different tokens; edit
    * distance counts them as unit repairs). Candidate pairs are
    * blocked on (lang, first-[[EditPrefixLen]] chars of the
    * whitespace-collapsed text) — the standard blocking key, with the
    * documented limitation that a repair inside the prefix escapes the
    * block — then verified with exact Levenshtein over the
    * [[EditHeadLen]]-char head, kept at distance ≤ [[EditMaxDist]].
    *
    * Scale shape: one equi-self-join on the block key (the exchange
    * is reused for both sides) — never an all-pairs compare; block
    * sizes are bounded by prefix diversity the same way q104's
    * prefix filtering argues, and the Levenshtein verify runs only
    * inside blocks. Levenshtein itself is a builtin codegen'd
    * expression in both engines with the identical unit-cost
    * insert/delete/substitute definition. */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(col("text"), Det.WsClass + "+", " "))
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        substring(norm, 1, EditPrefixLen).as("blk"),
        substring(norm, 1, EditHeadLen).as("head"))
      .filter(length(col("blk")) === EditPrefixLen)
    val a = d.select(col("lang"), col("blk"), col("doc_id").as("doc_a"),
      col("head").as("head_a"))
    val b = d.select(col("lang"), col("blk"), col("doc_id").as("doc_b"),
      col("head").as("head_b"))
    a.join(b, Seq("lang", "blk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("lang"),
        levenshtein(col("head_a"), col("head_b")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= EditMaxDist)
      .orderBy("doc_a", "doc_b")
  }

  // ---------- q130: dedup savings report ----------

  /** q130: the dedup ROI report — per source, how many documents and
    * characters canonicalization (q91) actually removes, in exact
    * counts and ppm. The number a pipeline owner looks at before
    * paying for the near-dup pass at full scale, and the composition
    * certificate that clusters → canonical → corpus accounting agree
    * end-to-end (documents outside any cluster are their own
    * canonical). Pure integer arithmetic over the q91 frame joined
    * back to `documents`; one source-keyed census. */
  def dedupSavings(s: SparkSession, dir: String): DataFrame = {
    val keepFlag = erCanonical(s, dir).select(col("doc_id"), col("is_canonical"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(keepFlag, Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("is_canonical"), lit(1L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("keep").as("n_kept"),
        sum("n_chars").as("chars_total"),
        sum(col("n_chars") * col("keep")).as("chars_kept"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_kept").cast("long").as("n_kept"),
        (col("n_docs") - col("n_kept")).cast("long").as("n_dropped"),
        col("chars_total").cast("long").as("chars_total"),
        col("chars_kept").cast("long").as("chars_kept"),
        // dropped-chars × 1e6 leaves int64 at ~9 TB of chars per
        // source — inside the deployment envelope — so the ppm runs
        // in DECIMAL(38,0) (exact; `div` returns BIGINT). DuckDB's
        // sums are HUGEINT already.
        expr("CAST(chars_total - chars_kept AS DECIMAL(38,0)) * 1000000 div chars_total")
          .as("savings_ppm"))
      .orderBy("source")
  }

  // ---------- DuckDB oracle SQL (generated from the same constants) ----------

  private def h32sql(x: String): String = Det.h8Sql(x)
  private def h60sql(x: String): String =
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  /** Shingle-hash-set + signature CTEs shared by q28/q29. The oracle
    * omits the size-ratio prefilter (lossless) but mirrors the hash-set
    * Jaccard exactly. */
  private val minhashCtes: String = {
    val sigList = Perms.map { case (a, b) =>
      s"list_min(list_transform(h, x -> ($a*x + $b) % $P))"
    }.mkString(",\n   ")
    // RECURSIVE is inert for q28/q29 (no self-referencing CTE there);
    // q52 appends its recursive reachability CTE to this same chain.
    s"""WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(trim(text), '${Det.WsClass}+') AS ws FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |   generate_series(1, greatest(len(ws)-2, 0)),
       |   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w),
       |sh2 AS (SELECT doc_id,
       |   list_distinct(list_transform(s, x -> ${h32sql("x")} % $P)) AS h
       |   FROM sh WHERE len(s) > 0),
       |sig AS (SELECT doc_id,
       |  [$sigList] AS g FROM sh2),
       |bands AS (SELECT doc_id, t.band AS band,
       |   g[t.band*4+1]*${BandW(0)} + g[t.band*4+2]*${BandW(1)} +
       |   g[t.band*4+3]*${BandW(2)} + g[t.band*4+4]*${BandW(3)} AS key
       |   FROM sig, (SELECT unnest([0,1,2,3]) AS band) t),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |   FROM bands x JOIN bands y
       |   ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |v AS (SELECT doc_a, doc_b,
       |   len(list_intersect(sa.h, sb.h)) AS inter_sh,
       |   len(sa.h) + len(sb.h) - len(list_intersect(sa.h, sb.h)) AS union_sh
       |   FROM cand JOIN sh2 sa ON sa.doc_id = cand.doc_a
       |             JOIN sh2 sb ON sb.doc_id = cand.doc_b),
       |pairs AS (SELECT doc_a, doc_b, inter_sh, union_sh,
       |   CAST(round(1000.0 * inter_sh / union_sh) AS BIGINT) AS j_milli
       |   FROM v WHERE CAST(round(1000.0 * inter_sh / union_sh) AS BIGINT) >= $JMilliMin)""".stripMargin
  }

  /** 60-bit simhash CTE (unnest + per-bit votes; the oracle need not be
    * scale-efficient, only exact). */
  private val simhashCtes: String = {
    val votes = (0 until SimBits).map(p =>
      s"sum(CASE WHEN (hv & ${1L << p}) > 0 THEN 1 ELSE -1 END) AS v$p").mkString(", ")
    val bits = (0 until SimBits).map(p =>
      s"CASE WHEN v$p > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '${Det.WsClass}+')) AS w FROM documents),
       |h AS (SELECT doc_id, ${h60sql("w")} AS hv FROM t),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |s AS (SELECT doc_id, ($bits) AS simhash FROM v)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q176_tfidf_cosine_join" ->
      s"""WITH toks AS (
         | SELECT doc_id, tok FROM (
         |  SELECT doc_id, unnest(${Det.wordsSql("text")}) AS tok
         |  FROM documents) t
         | WHERE tok <> ''),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |wt AS (
         | SELECT doc_id, tok, df, least(tf * 1000 // df, $TfIdfWCap) AS w
         | FROM tf JOIN dfq USING (tok)),
         |kd AS (
         | SELECT doc_id, ${Det.h8Sql("tok")} AS key,
         |  least(sum(w), $TfIdfWCap) AS w
         | FROM wt GROUP BY 1, 2),
         |n2 AS (
         | SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
         | FROM kd GROUP BY doc_id HAVING sum(w * w) > 0),
         |rare AS (SELECT tok, doc_id FROM wt
         |  WHERE df BETWEEN 2 AND $TfIdfDfCap),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rare x JOIN rare y ON x.tok = y.tok
         |    AND x.doc_id < y.doc_id),
         |dotj AS (
         | SELECT doc_a, doc_b, CAST(sum(a.w * b.w) AS BIGINT) AS dot
         | FROM cand JOIN kd a ON a.doc_id = cand.doc_a
         |           JOIN kd b ON b.doc_id = cand.doc_b AND b.key = a.key
         | GROUP BY 1, 2),
         |v AS (
         | SELECT d.doc_a, d.doc_b, d.dot,
         |  CAST(round(1000000.0 * d.dot /
         |    sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))) AS BIGINT)
         |    AS cos_micro
         | FROM dotj d JOIN n2 na ON na.doc_id = d.doc_a
         |             JOIN n2 nb ON nb.doc_id = d.doc_b)
         |SELECT doc_a, doc_b, dot, cos_micro FROM v
         |WHERE cos_micro >= $TfIdfCosMicroMin
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q99_containment_pairs" ->
      s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '${Det.WsClass}+') AS ws FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   generate_series(1, greatest(len(ws)-2, 0)),
         |   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w),
         |sh2 AS (SELECT doc_id,
         |   list_distinct(list_transform(s, x -> ${h32sql("x")} % $P)) AS h
         |   FROM sh WHERE len(s) > 0),
         |posts AS (SELECT doc_id, unnest(h) AS sh FROM sh2),
         |df AS (SELECT sh, count(*) AS df FROM posts GROUP BY 1),
         |rare AS (SELECT p.sh, p.doc_id FROM posts p JOIN df USING (sh)
         |   WHERE df BETWEEN 2 AND $ContDfCap),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |   FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id),
         |v AS (SELECT doc_a, doc_b,
         |   len(list_intersect(sa.h, sb.h)) AS inter_sh,
         |   len(sa.h) AS na, len(sb.h) AS nb
         |   FROM cand JOIN sh2 sa ON sa.doc_id = cand.doc_a
         |             JOIN sh2 sb ON sb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, inter_sh,
         | CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         | CAST(round(1000.0 * inter_sh / least(na, nb)) AS BIGINT) AS cont_milli,
         | CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_doc
         |FROM v
         |WHERE CAST(round(1000.0 * inter_sh / least(na, nb)) AS BIGINT)
         |   >= $ContMilliMin
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q28_minhash_lsh_pairs" ->
      s"""$minhashCtes
         |SELECT doc_a, doc_b, inter_sh, union_sh, j_milli
         |FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "q185_dedup_threshold_curve" -> {
      val tvals = DupThresholds.map(t => s"($t)").mkString(", ")
      s"""$minhashCtes,
         |th AS (SELECT * FROM (VALUES $tvals) AS x(t)),
         |tg AS (SELECT th.t, p.doc_a, p.doc_b FROM pairs p
         |       JOIN th ON p.j_milli >= th.t),
         |pa AS (SELECT t, count(*) AS n_pairs FROM tg GROUP BY t),
         |da AS (SELECT t, count(*) AS n_docs FROM (
         |   SELECT DISTINCT t, doc FROM (
         |    SELECT t, doc_a AS doc FROM tg
         |    UNION ALL SELECT t, doc_b FROM tg) u) v GROUP BY t),
         |tot AS (SELECT count(*) AS n_total FROM documents)
         |SELECT CAST(th.t AS BIGINT) AS j_milli_min,
         | CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         | CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs_affected,
         | ${OracleSql.ppmSql("coalesce(n_docs, 0)", "greatest(n_total, 1)")}
         |   AS affected_ppm
         |FROM th LEFT JOIN pa ON pa.t = th.t
         |        LEFT JOIN da ON da.t = th.t
         |        CROSS JOIN tot
         |ORDER BY j_milli_min""".stripMargin
    },
    // the sig CTE's g lists ARE the Spark-side signatures — component
    // agreement against the verify-side exact Jaccard, per pair
    "q109_minhash_calibration" ->
      s"""$minhashCtes,
         |m AS (SELECT p.doc_a, p.doc_b, p.j_milli,
         |   CAST(len(list_filter(generate_series(1, ${Perms.size}),
         |     i -> ga.g[i] = gb.g[i])) AS BIGINT) AS n_match
         |   FROM pairs p
         |   JOIN sig ga ON ga.doc_id = p.doc_a
         |   JOIN sig gb ON gb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, j_milli, n_match,
         | n_match * 1000 // ${Perms.size} AS est_milli,
         | (n_match * 1000 // ${Perms.size}) - j_milli AS err_milli
         |FROM m ORDER BY doc_a, doc_b""".stripMargin,
    "q29_near_dedup" ->
      s"""$minhashCtes
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |ORDER BY doc_id""".stripMargin,
    "q30_simhash" ->
      s"""$simhashCtes
         |SELECT doc_id, simhash FROM s ORDER BY doc_id""".stripMargin,
    "q31_simhash_pairs" ->
      s"""$simhashCtes,
         |b AS (SELECT doc_id, simhash, t.band AS band,
         |   (simhash >> (t.band*$SimBandBits)) & ${(1L << SimBandBits) - 1} AS key
         |   FROM s, (SELECT unnest([0,1,2,3]) AS band) t),
         |p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |   CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |   FROM b x JOIN b y ON x.band = y.band AND x.key = y.key
         |   AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= $SimHMax
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q44_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "q74_dup_gram_coverage" ->
      s"""WITH toks AS (
         | SELECT doc_id,
         |  ${Det.wordsSql("text")} AS ts
         | FROM documents),
         |grams AS (
         | SELECT doc_id, array_to_string(ts[i:i+${DupGramN - 1}], ' ') AS g
         | FROM toks, UNNEST(range(1, len(ts) - ${DupGramN - 2})) AS t(i)),
         |perdoc AS (
         | SELECT doc_id, g, count(*) AS pos_cnt FROM grams GROUP BY 1, 2),
         |dup AS (SELECT g FROM perdoc GROUP BY g HAVING count(*) >= 2),
         |dpd AS (
         | SELECT doc_id, CAST(sum(pos_cnt) AS BIGINT) AS dp, count(*) AS dg
         | FROM perdoc JOIN dup USING (g) GROUP BY 1),
         |tot AS (
         | SELECT doc_id,
         |  CAST(greatest(len(ts) - ${DupGramN - 1}, 0) AS BIGINT) AS n_grams
         | FROM toks)
         |SELECT doc_id, n_grams,
         | COALESCE(dp, 0) AS dup_positions,
         | COALESCE(dg, 0) AS dup_distinct_grams,
         | CASE WHEN n_grams > 0 THEN COALESCE(dp, 0) * 1000 // n_grams
         |      ELSE 0 END AS dup_milli
         |FROM tot LEFT JOIN dpd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q32_ngram_anchor_jaccard" -> {
      val (a1, b1) = Perms(0)
      val (a2, b2) = Perms(1)
      s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '${Det.WsClass}+') AS ws FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |   generate_series(1, greatest(len(ws)-1, 0)),
         |   i -> ws[i] || ' ' || ws[i+1])) AS g2 FROM w),
         |hg AS (SELECT doc_id,
         |   list_distinct(list_transform(g2, x -> ${h32sql("x")} % $P)) AS h
         |   FROM g WHERE len(g2) > 0),
         |an AS (SELECT doc_id, h,
         |   list_min(list_transform(h, x -> ($a1*x + $b1) % $P)) AS anchor1,
         |   list_min(list_transform(h, x -> ($a2*x + $b2) % $P)) AS anchor2 FROM hg),
         |p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |   len(list_intersect(x.h, y.h)) AS inter_g,
         |   len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)) AS union_g
         |   FROM an x JOIN an y
         |   ON x.anchor1 = y.anchor1 AND x.anchor2 = y.anchor2
         |   AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, inter_g, union_g,
         |   CAST(round(1000.0 * inter_g / union_g) AS BIGINT) AS j4_milli
         |FROM p WHERE CAST(round(1000.0 * inter_g / union_g) AS BIGINT) >= $J4MilliMin
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // Transitive reachability as a recursive CTE: UNION (not UNION ALL)
    // dedupes (node, label) states, so the fixpoint is finite; the min
    // per node is the component label — the oracle states WHAT a
    // connected component is, the Spark side is the HOW at scale.
    "q52_dedup_clusters" -> clustersOracle,
    "q91_er_canonical" ->
      s"""$canonicalRankCtes
         |SELECT r.doc_id, r.cluster, c.canonical_id,
         |  CAST(CASE WHEN r.doc_id = c.canonical_id THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_canonical,
         |  r.cluster_size
         |FROM ranked r JOIN canon c USING (cluster)
         |ORDER BY r.doc_id""".stripMargin,
    // q56 computes the SAME clusters by pointer doubling — one
    // definition of correct, two physical strategies under it.
    "q56_dedup_clusters_ls" -> clustersOracle,
    "q178_cluster_split" ->
      s"""$clusterChainCtes
         |SELECT doc_id, cluster,
         | CASE WHEN ${Det.h8Sql("CAST(cluster AS VARCHAR)")} % 100 < ${DataPrep.TrainPct} THEN 'train'
         |      WHEN ${Det.h8Sql("CAST(cluster AS VARCHAR)")} % 100 < ${DataPrep.ValPct} THEN 'val'
         |      ELSE 'test' END AS split
         |FROM comp ORDER BY doc_id""".stripMargin,
    "q102_split_leakage" ->
      s"""$clusterChainCtes,
         |spl AS (SELECT doc_id,
         |   CASE WHEN ${Det.h8Sql("CAST(doc_id AS VARCHAR)")} % 100 < ${DataPrep.TrainPct} THEN 'train'
         |        WHEN ${Det.h8Sql("CAST(doc_id AS VARCHAR)")} % 100 < ${DataPrep.ValPct} THEN 'val'
         |        ELSE 'test' END AS split FROM documents),
         |g AS (SELECT cluster, count(*) AS cluster_size,
         |   CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |   CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |   CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |   FROM comp JOIN spl USING (doc_id) GROUP BY 1)
         |SELECT cluster, cluster_size, n_train, n_val, n_test,
         |  CAST(n_train > 0 AND (n_val > 0 OR n_test > 0) AS BIGINT) AS leaky
         |FROM g WHERE cluster_size >= 2 ORDER BY cluster""".stripMargin,
    // Brute force over ALL doc pairs on the SAME hashed shingle sets:
    // hash-equality of this row against the prefix-filtered Spark plan
    // is the completeness theorem's verification.
    "q104_jaccard_join_exact" ->
      s"""WITH w AS (SELECT doc_id, ${Det.wordsSql("text")} AS ws FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   generate_series(1, greatest(len(ws)-2, 0)),
         |   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w),
         |sh2 AS (SELECT doc_id,
         |   list_distinct(list_transform(s, x -> ${h32sql("x")} % $P)) AS h
         |   FROM sh WHERE len(s) > 0),
         |pv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |   len(list_intersect(a.h, b.h)) AS inter_sh,
         |   len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_sh
         |   FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, inter_sh, union_sh,
         |  ${OracleSql.ppmSql("inter_sh", "union_sh")} AS jacc_ppm
         |FROM pv WHERE inter_sh * 1000000 >= $PfxJaccPpmMin * union_sh
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q121_editdist_pairs" ->
      s"""WITH d AS (
         | SELECT doc_id, lang,
         |  substr(trim(regexp_replace(text, '${Det.WsClass}+', ' ', 'g')), 1, $EditPrefixLen) AS blk,
         |  substr(trim(regexp_replace(text, '${Det.WsClass}+', ' ', 'g')), 1, $EditHeadLen) AS head
         | FROM documents),
         |f AS (SELECT * FROM d WHERE len(blk) = $EditPrefixLen)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
         | CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
         |FROM f a JOIN f b ON a.lang = b.lang AND a.blk = b.blk
         | AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.head, b.head) <= $EditMaxDist
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q130_dedup_savings" ->
      s"""$canonicalRankCtes,
         |k AS (
         | SELECT d.doc_id, d.source, d.n_chars,
         |  coalesce(CAST(r.rk = 1 AS BIGINT), 1) AS keep
         | FROM documents d LEFT JOIN ranked r USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(keep) AS BIGINT) AS n_kept,
         | CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped,
         | CAST(sum(n_chars) AS BIGINT) AS chars_total,
         | CAST(sum(n_chars * keep) AS BIGINT) AS chars_kept,
         | CAST((sum(n_chars) - sum(n_chars * keep)) * 1000000
         |   // sum(n_chars) AS BIGINT) AS savings_ppm
         |FROM k GROUP BY source ORDER BY source""".stripMargin
  )

  /** minhash pairs → undirected edges → recursive reachability →
    * per-doc min-label components; shared suffix of every oracle that
    * consumes q52's clusters (q52/q56/q91/q102). */
  private lazy val clusterChainCtes: String =
    s"""$minhashCtes,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |   UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT doc_id AS u, doc_id AS l FROM documents
       |   UNION
       |   SELECT e.u, r.l FROM edges e JOIN reach r ON e.v = r.u),
       |comp AS (SELECT u AS doc_id, min(l) AS cluster FROM reach GROUP BY u)""".stripMargin

  private lazy val clustersOracle: String =
    s"""$clusterChainCtes
       |SELECT doc_id, cluster,
       |   count(*) OVER (PARTITION BY cluster) AS cluster_size
       |FROM comp ORDER BY doc_id""".stripMargin

  /** [[clusterChainCtes]] + the q91 canonical ranking (`sized` →
    * `ranked` → `canon`): longest-doc-then-min-id representative per
    * cluster. Shared by the q91 and q108 oracles — ONE definition of
    * "which near-dup survives". */
  private[ops] lazy val canonicalRankCtes: String =
    s"""$clusterChainCtes,
       |sized AS (SELECT doc_id, cluster,
       |   count(*) OVER (PARTITION BY cluster) AS cluster_size FROM comp),
       |ranked AS (SELECT s.doc_id, s.cluster, s.cluster_size, d.n_chars,
       |   row_number() OVER (PARTITION BY s.cluster
       |     ORDER BY d.n_chars DESC, s.doc_id) AS rk
       |   FROM sized s JOIN documents d USING (doc_id)),
       |canon AS (SELECT cluster, doc_id AS canonical_id
       |   FROM ranked WHERE rk = 1)""".stripMargin
}
