package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query-name filter, for
    // fast local iteration on a subset (the driver passes two args →
    // full surface, unchanged).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // The engine Bench times, so q43's theta-join is oracle-verified
    // through BinnedRangeJoinRule and q29/q42 reuse the pairs their
    // defining pipelines (q28/q35) already computed.
    val spark = Mains.session(Mains.querySettings(Mains.cpus("4")))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A failure must leave NO dump behind: outDir may hold a
        // previous run's parquet for this query (mode("overwrite")
        // never executed), and a stale dump would let the driver's
        // DuckDB compare report a broken query as a false PASS — the
        // one outcome a correctness harness must never produce.
        // Deleting turns it into a loud missing-result failure.
        try {
          val dir = Paths.get(s"$outDir/$name")
          if (Files.exists(dir)) {
            import scala.jdk.CollectionConverters._
            // Files.walk holds a directory handle until closed; collect
            // the paths under try/finally so a cleanup after every
            // failed query doesn't leak one handle per failure for the
            // JVM's lifetime.
            val walk = Files.walk(dir)
            val paths =
              try walk.iterator().asScala.toSeq
              finally walk.close()
            paths.reverse.foreach(Files.deleteIfExists(_))
          }
        } catch { case e2: Throwable =>
          System.err.println(
            s"[verify] $name: could not remove stale dump: ${e2.getMessage}")
        }
      }
    }
    // The skew diagnostic below is best-effort and must NOT sit on the
    // critical path to oracle_sql.json: waitUntilEmpty throws on
    // timeout, and an uncaught throw here — after every query dumped —
    // would leave oracle_sql.json unwritten and zero the round.
    try {
      // The skew counters arrive via an async QueryExecutionListener;
      // drain the listener bus first or this read races the delivery
      // and can report "none" over a truncation that DID happen.
      org.apache.spark.sql.graftbridge.GraftBridge
        .waitListenerBusEmpty(spark, 30000L)
      // Surface the LSH bucket-cap counters: a truncating cap means
      // the dumped q28/q31/q32/q35 (and derived q29/q42) results are
      // weaker than the documented semantics — that must be a loud,
      // machine-visible line in the verify output, never just an
      // executor log.
      val skew = ops.LshSkew.truncatedFamilies(spark)
      skew.foreach { case (fam, s) =>
        System.err.println(s"[verify] WARNING lsh_over_cap family=$fam " +
          s"dropped_rows=${s.overCapRows} max_bucket=${s.maxBucket}")
      }
      if (skew.isEmpty)
        System.err.println("[verify] lsh_over_cap: none (no candidate truncation)")
    } catch { case e: Throwable =>
      System.err.println(
        s"[verify] skew diagnostic skipped (listener bus): ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    // One shared escaper (Bench.esc) for every harness artifact.
    def q(s: String): String = "\"" + Bench.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
