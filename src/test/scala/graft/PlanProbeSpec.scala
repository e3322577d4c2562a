package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** The runtime-plan census behind `runMain graft.PlanProbe` — the
  * AQE-final complement to the static PLAN_SHAPES.txt golden. These
  * pin the two properties the probe's conclusions rest on: it
  * unwraps AQE query stages to the operators that actually ran, and
  * it separates live operators from a cached relation's internal plan
  * (which executes at most once, when the cache materializes). */
class PlanProbeSpec extends SparkTestBase {

  test("census sees through AQE stage wrappers to the executed join") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val left = spark.range(1000).toDF("k")
      val right = spark.range(10).toDF("k")
      val joined = left.join(right, "k")
      joined.write.format("noop").mode("overwrite").save()
      val c = PlanProbe.census(joined.queryExecution.executedPlan)
      assert(c.contains("Join"),
        s"executed-plan census must surface the join strategy, got: $c")
      assert(!c.contains("QueryStage"),
        s"stage wrappers must be unwrapped, got: $c")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("cached-relation internals are prefixed, not counted as live") {
    val base = spark.range(100).toDF("k")
      .join(spark.range(100).toDF("k"), "k")
      .persist()
    try {
      base.count() // materialize the cache
      val derived = base.groupBy((col("k") % 10).as("b"))
        .agg(count(lit(1)).as("n"))
      derived.write.format("noop").mode("overwrite").save()
      val names = PlanProbe.finalNodes(derived.queryExecution.executedPlan)
      assert(names.exists(n => n.startsWith("cached:") && n.contains("Join")),
        s"the persisted subtree's join must be visible as cached:, got: $names")
      val live = PlanProbe.census(derived.queryExecution.executedPlan)
      assert(!live.contains("Join"),
        s"a cache-read query must report no LIVE join, got: $live")
      assert(live.contains("Exchange"),
        s"the group-by exchange is live, got: $live")
    } finally base.unpersist(blocking = true)
  }

  // ---- AQE-final strategy membership for the heavy graph queries ----
  // RUNTIME_PLANS.txt is deliberately unasserted (ReusedExchange /
  // AQEShuffleRead counters drift with stage materialization order in
  // a long-lived JVM), but the JOIN STRATEGY SET is the property the
  // scale story rests on, and a silent runtime flip should be a red
  // test, not a bench-regression surprise rounds later. These are
  // loose set-membership checks on live (non-cached) join operators —
  // never operator counts.

  private val probeSf = "/root/testdata/sf0.1"

  /** Each query's full (cached-inclusive) census per execution, probed
    * once per suite: a query's join, scan and action pins all read the
    * same run. */
  private val probes = mutable.Map.empty[String, Seq[(String, String)]]
  private def probed(name: String): Seq[(String, String)] =
    probes.getOrElseUpdate(name,
      PlanProbe.probe(spark, name, probeSf, full = true))

  /** The live (non-cached) operator tokens of a full census. */
  private def live(census: String): Seq[String] =
    census.split(" ").toSeq.filterNot(_.startsWith("cached:"))

  /** Live join-operator class names per execution. */
  private def joinSets(name: String): Seq[(String, Set[String])] =
    probed(name).map { case (fn, census) =>
      fn -> live(census).filter(_.contains("Join"))
        .map(_.takeWhile(_ != '×')).toSet
    }

  test("q88 BFS: every per-round relax join runs as BroadcastHashJoin at sf0.1") {
    val execs = joinSets("q88_bfs_hops")
    // the frontier is tiny relative to the edge list in every round,
    // so AQE must broadcast it — a shuffle join here means the
    // stats-less checkpoint leaf pinned the frontier to a data-sized
    // exchange, the exact flip this guards against
    val offending = execs.filter { case (_, joins) =>
      joins.nonEmpty && joins != Set("BroadcastHashJoinExec")
    }
    assert(execs.exists(_._2.nonEmpty),
      s"probe saw no join-bearing executions — harness broke: $execs")
    assert(offending.isEmpty,
      s"BFS relax joins must all be runtime-broadcast at sf0.1; got $offending")
  }

  /** Per-execution live join-operator counts (name → multiplicity),
    * parsed from the census's `Name×k` tokens. */
  private def joinCounts(name: String): Seq[(String, Map[String, Int])] =
    probed(name).map { case (fn, census) =>
      fn -> live(census).filter(_.contains("Join"))
        .map { t =>
          val (n, k) = t.span(_ != '×')
          n -> (if (k.isEmpty) 1 else k.drop(1).toInt)
        }.toMap
    }

  test("q104 exact-Jaccard: the hinted candidate join runs as SHJ, never SMJ") {
    // the prefix-filter self-join carries a shuffle_hash hint
    // (Dedup.scala — both sides data-scale, build side fits per
    // partition); a silently dropped hint degrades it to SortMergeJoin
    // (two full sorts of the candidate set) with no other red test
    val joins = joinSets("q104_jaccard_join_exact").flatMap(_._2).toSet
    assert(joins.contains("ShuffledHashJoinExec"),
      s"q104's shuffle_hash-hinted candidate join was dropped; live joins: $joins")
    assert(!joins.contains("SortMergeJoinExec"),
      s"q104 planned a SortMergeJoin — the shuffle_hash hint degraded; got $joins")
    assert(!joins.contains("BroadcastNestedLoopJoinExec") &&
      !joins.contains("CartesianProductExec"),
      s"q104 must never nested-loop; got $joins")
  }

  test("q28 minhash-LSH: the hinted candidate join survives inside the pipeline cache") {
    // q28 OWNS the pairs pipeline-cache entry: its banded self-join
    // executes when the cache materializes, so the live census reports
    // the noop write as join-free — audit the FULL (cached-inclusive)
    // node census instead, stripping the cached: prefix
    val joins = probed("q28_minhash_lsh_pairs")
      .flatMap(_._2.split(" "))
      .map(_.stripPrefix("cached:").takeWhile(_ != '×'))
      .filter(_.contains("Join")).toSet
    assert(joins.contains("ShuffledHashJoinExec"),
      s"q28's shuffle_hash-hinted band join was dropped; joins: $joins")
    assert(!joins.contains("SortMergeJoinExec"),
      s"q28 planned a SortMergeJoin — the shuffle_hash hint degraded; got $joins")
  }

  test("q67 PageRank: round joins are hash-based, never nested-loop/cartesian") {
    val execs = joinCounts("q67_pagerank")
    assert(execs.exists(_._2.nonEmpty),
      s"probe saw no join-bearing executions — harness broke: $execs")
    val allowed = Set("BroadcastHashJoinExec", "SortMergeJoinExec",
      "ShuffledHashJoinExec")
    val offending = execs.filter(_._2.keys.exists(!allowed(_)))
    assert(offending.isEmpty,
      s"q67 round joins must stay hash/merge-based; got $offending")
  }

  test("q87 k-core: one full-graph agg, fixpoint exit, no shuffle joins") {
    // the r12 delta-degree peel aggregates the FULL edge list exactly
    // once (the initial degree count). At sf0.1 the co-purchase graph
    // has min degree 38 ≥ CoreK: round 1's drop set is empty, the
    // fixpoint exit fires, and the whole query is agg + drop filter +
    // isEmpty probe + output — so the census must show exactly ONE
    // ShuffleExchange-bearing degree aggregation and NO live join of
    // any strategy (on peeling inputs the drop-set joins exist but
    // must broadcast; GraphsSpec's synthetic peel covers that
    // semantics, this pins the no-peel plan the benchmark measures).
    val censuses = probed("q87_kcore")
      .map { case (fn, c) => fn -> live(c).mkString(" ") }
    assert(censuses.size >= 2,
      s"k-core must at least aggregate degrees and probe the drop set: " +
        s"$censuses")
    val offending = censuses.filter { case (_, c) =>
      c.contains("Join") || c.contains("Cartesian") }
    assert(offending.isEmpty,
      s"no-peel k-core must carry no live joins (empty-relation " +
        s"propagation + fixpoint exit); got $offending")
    val shuffling = censuses.filter(_._2.contains("ShuffleExchange"))
    assert(shuffling.size <= 2, // degree agg + terminal presentation sort
      s"the up-front degree count and the presentation sort are the " +
        s"only exchanges; got $censuses")
    assert(shuffling.nonEmpty,
      s"the up-front degree count must shuffle once; got $censuses")
  }

  test("q182 power iteration: only the declared 1-row BNLJ, one per round at most") {
    // the max-norm frame is a DECLARED 1-row broadcast
    // (PlanInvariantsSpec's allow-list); a SECOND nested-loop join in
    // any round means a data-sized frame regressed to NLJ
    val execs = joinCounts("q182_power_iteration")
    assert(execs.exists(_._2.nonEmpty),
      s"probe saw no join-bearing executions — harness broke: $execs")
    val allowed = Set("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec")
    val offending = execs.filter { case (_, js) =>
      js.keys.exists(!allowed(_)) ||
        js.getOrElse("BroadcastNestedLoopJoinExec", 0) > 1
    }
    assert(offending.isEmpty,
      s"q182 rounds allow broadcast-hash plus at most the one declared " +
        s"1-row BNLJ; got $offending")
  }

  test("q177 PPR: the data-sized node joins stay shuffle-based at sf0.1") {
    val joins = joinSets("q177_personalized_pagerank").flatMap(_._2).toSet
    // the per-round rank frame is node-sized: it must move by shuffle
    // (SMJ or SHJ), never by broadcast-collect of the whole graph —
    // small constant frames (teleport seeds, degree caps) MAY
    // broadcast, so BHJ presence alone is fine
    assert(joins.exists(Set("SortMergeJoinExec", "ShuffledHashJoinExec")),
      s"q177 lost its shuffle-based node joins at sf0.1 — a runtime " +
        s"broadcast of a data-sized frame is scale-wrong; live joins: $joins")
    assert(!joins.contains("BroadcastNestedLoopJoinExec") &&
      !joins.contains("CartesianProductExec"),
      s"q177 must never plan a nested-loop/cartesian join; got $joins")
  }

  // ---- scan-locality pins for the remaining checkpointed iterative
  // queries (r13 §12 item 5; q168 below was the r13 prototype). Each
  // pins WHICH executions may touch the parquet inputs — the property
  // whose silent loss turns a round-structured query into a
  // scan-per-round one (the q168 hunt's finding). Live scans vs a
  // persisted relation's internal (cached:) scan are distinguished
  // per PlanProbe's census contract: a cached: scan executes at most
  // once, when the cache materializes.

  /** (execution label, live scan count, cached scan present) rows. */
  private def scanRows(name: String): Seq[(String, Int, Boolean)] =
    probed(name).map {
      case (fn, census) =>
        val toks = census.split(" ")
        def count(p: String) = toks.filter(_.startsWith(p)).map { t =>
          val i = t.indexOf('×'); if (i < 0) 1 else t.drop(i + 1).toInt
        }.sum
        (fn, count("FileSourceScanExec"),
          count("cached:FileSourceScanExec") > 0)
    }

  test("q167 HITS: only the incidence checkpoint scans the corpus") {
    // the bipartite incidence localCheckpoints once and is re-read by
    // all 3 rounds' (h, a) updates and the final report — exactly ONE
    // execution (the first checkpoint) may scan files
    val rows = scanRows("q167_hits")
    val scanning = rows.filter(_._2 > 0)
    assert(scanning.map(_._1) == Seq("localCheckpoint") &&
      scanning == rows.take(1).filter(_._2 > 0),
      s"only q167's first (incidence) checkpoint may scan files; got $rows")
  }

  test("q87 k-core: no execution scans files live — all graph access via the persisted edge list") {
    // the peel persists the half edge list and checkpoints node-sized
    // deg/drop frames; a LIVE file scan in any execution means a
    // round's lineage reached past the persist back to parquet
    val rows = scanRows("q87_kcore")
    assert(rows.forall(_._2 == 0),
      s"q87 executions must read the persisted edge list / checkpointed " +
        s"node frames, never parquet; got $rows")
  }

  test("q88 BFS: no execution scans files live — every round probes the persisted adjacency") {
    val rows = scanRows("q88_bfs_hops")
    assert(rows.forall(_._2 == 0),
      s"q88 rounds must probe the persisted adjacency, never parquet; " +
        s"got $rows")
    assert(rows.exists(_._3),
      s"at least one round must reference the cached adjacency " +
        s"(harness sanity); got $rows")
  }

  test("q177 PPR: live scans only in the node-frame checkpoint and the single reused edge build") {
    // r14 fused shape: execution 1 = the ONE (node, deg, sm)
    // checkpoint (scans lineitem for the edge build + lineitem/orders
    // for the urgent seeds); execution 2 = the terminal rank job,
    // whose plan-only rounds share ONE edge build — exactly one live
    // scan (ReusedExchange dedupes the rest). A second live scan in
    // the terminal job means the rounds lost their exchange/scan
    // dedup (the pre-r13 OOM shape growing back); a third execution
    // means the checkpoint fusion regressed to the two-job r13 shape.
    val rows = scanRows("q177_personalized_pagerank")
    assert(rows.size == 2 &&
      rows.head._1 == "localCheckpoint" && rows.head._2 > 0 &&
      rows(1)._2 == 1,
      s"q177 must be [node-frame checkpoint (scans), terminal job " +
        s"(exactly 1 live scan)]; got $rows")
  }

  test("q168 textrank: only the edge-census checkpoint scans the corpus") {
    // round 13: the ≤V²/2-row edge census localCheckpoints
    // (TextAnalysis.textrank), so exactly ONE execution touches the
    // documents table and the rank rounds / final head read RDD
    // leaves. Before the checkpoint the unrolled plan re-derived the
    // census per reference (96 static parquet scans) and only AQE
    // exchange reuse kept it cheap — this pins the fixed shape so a
    // dropped checkpoint is a red test, not a bench surprise.
    val execs = probed("q168_textrank")
    val scanning = execs.filter(_._2.contains("FileSourceScanExec"))
    assert(scanning.map(_._1) == Seq("localCheckpoint"),
      s"exactly one execution — the census checkpoint — may scan " +
        s"files; got ${execs.map { case (fn, c) =>
          fn -> c.split(" ").filter(_.startsWith("FileSourceScan"))
            .mkString(",")
        }}")
  }

  // ---- the Rounds-ported queries: each runs the same executions, in
  // the same order, as before the port (RUNTIME_PLANS.txt's action
  // column agrees), and the scan-locality pins below say which of
  // them may read parquet live.

  private def lc(n: Int) = Seq.fill(n)("localCheckpoint")

  private val roundActions = Seq(
    "q52_dedup_clusters" -> Seq("isEmpty", "isEmpty", "localCheckpoint", "overwrite"),
    "q56_dedup_clusters_ls" -> Seq("count", "localCheckpoint", "overwrite"),
    "q59_kmeans" -> (lc(4) :+ "overwrite"),
    "q93_sem_dedup" -> (lc(4) :+ "overwrite"),
    "q87_kcore" -> Seq("localCheckpoint", "localCheckpoint", "isEmpty",
      "localCheckpoint", "overwrite"),
    "q88_bfs_hops" -> (lc(5) :+ "overwrite"),
    "q95_bpe_merges" -> (Seq.fill(6)(Seq("localCheckpoint", "isEmpty")).flatten ++
      Seq("localCheckpoint", "overwrite")),
    "q167_hits" -> (lc(5) :+ "overwrite"),
    "q182_power_iteration" -> (lc(6) :+ "overwrite"))

  test("iterative queries run their pinned execution action sequences at sf0.1") {
    val got = roundActions.map { case (q, _) => q -> probed(q).map(_._1) }
    assert(got == roundActions)
  }

  test("q52 CC: no execution scans files live — every round reads the persisted labels") {
    val rows = scanRows("q52_dedup_clusters")
    assert(rows.forall(_._2 == 0) && rows.exists(_._3),
      s"q52 rounds must read the persisted label/edge frames, never " +
        s"parquet; got $rows")
  }

  test("q56 CC: only the terminal write scans files live — the rounds read the persisted edges") {
    // the terminal write joins the documents table for the singletons
    val rows = scanRows("q56_dedup_clusters_ls")
    assert(rows.filter(_._2 > 0).map(_._1) == Seq("overwrite") &&
      rows.init.forall(_._3),
      s"only q56's terminal write may scan files; got $rows")
  }

  test("q59 k-means: every execution scans the embeddings exactly once") {
    // each round's assign reads the vectors live; a second scan in a
    // round means it re-derived an earlier centroid frame
    val rows = scanRows("q59_kmeans")
    assert(rows.map(_._2) == Seq.fill(5)(1),
      s"each q59 execution must scan the embeddings once; got $rows")
  }

  test("q95 BPE: no execution scans files live — every round reads the persisted vocabulary") {
    val rows = scanRows("q95_bpe_merges")
    assert(rows.forall(_._2 == 0) && rows.exists(_._3),
      s"q95 rounds must read the persisted vocabulary, never parquet; " +
        s"got $rows")
  }

  test("q182 power iteration: only the covariance checkpoint scans the corpus") {
    val rows = scanRows("q182_power_iteration")
    val scanning = rows.filter(_._2 > 0)
    assert(scanning.map(_._1) == Seq("localCheckpoint") &&
      scanning == rows.take(1).filter(_._2 > 0),
      s"only q182's first (covariance) checkpoint may scan files; got $rows")
  }
}
