package graft.ops

import scala.collection.mutable

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheEntries

/** The [[Rounds]] contract: tracked frames are released on every exit,
  * kept frames outlive a normal one, and the loop honors its fixpoint
  * and its cap. */
class RoundsSpec extends SparkTestBase {

  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDDs and CacheManager entries: what a scope may leave. */
  private def held: (Set[Int], Int) = (persistedIds, CacheEntries.count(spark))

  private def plusOne(df: DataFrame): DataFrame = df.select(($"x" + 1).as("x"))

  private val kinds = Seq[(String, (Rounds, DataFrame) => DataFrame)](
    "persisted" -> { (r, df) => val p = r.persist(df); p.count(); p },
    "checkpointed" -> { (r, df) => r.checkpoint(df) })

  kinds.foreach { case (kind, materialize) =>
    test(s"a round that throws releases every $kind frame, kept ones too") {
      val before = held
      var during = 0
      val boom = intercept[RuntimeException] {
        Rounds.scoped { r =>
          Rounds.iterate((1 to 10).toDF("x"), 5) { (df, round) =>
            val next = materialize(r, plusOne(df))
            if (round == 1) r.keep(next)
            if (round == 2) {
              during = (persistedIds -- before._1).size
              throw new RuntimeException("round 2 failed")
            }
            (next, false)
          }
        }
      }
      assert(boom.getMessage == "round 2 failed")
      assert(during == 2, "both rounds must have materialized before the throw")
      assert(held == before)
    }
  }

  test("the failing-cap form throws its message and still releases") {
    val before = held
    val e = intercept[IllegalArgumentException] {
      Rounds.scoped { r =>
        Rounds.iterate((1 to 10).toDF("x"), 3, Some("no fixpoint in 3 rounds")) {
          (df, _) => (r.checkpoint(plusOne(r.persist(df))), false)
        }
      }
    }
    assert(e.getMessage.contains("no fixpoint in 3 rounds"))
    assert(held == before)
  }

  test("a kept frame survives the scope and the lazy result still executes") {
    val before = held
    val result = Rounds.scoped { r =>
      val last = (1 to 3).foldLeft(r.checkpoint((1 to 10).toDF("x"))) {
        (df, _) => r.checkpoint(df.select(($"x" * 2).as("x")))
      }
      intercept[IllegalArgumentException](r.keep(last.select("x")))
      r.keep(last).agg(sum("x"))
    }
    val left = persistedIds -- before._1
    try {
      assert(left.size == 1, "only the kept checkpoint survives")
      assert(CacheEntries.count(spark) == before._2)
      assert(result.head().getLong(0) == 55L * 8)
    } finally left.foreach(spark.sparkContext.getPersistentRDDs(_).unpersist())
  }

  test("iterate stops at the fixpoint, and at the cap returns the last state") {
    val ran = mutable.ArrayBuffer.empty[Int]
    val fixed = Rounds.iterate(0, 10) { (n, round) =>
      ran += round
      (n + 1, n + 1 == 3)
    }
    assert(fixed == 3 && ran == Seq(1, 2, 3))
    assert(Rounds.iterate(0, 4)((n, _) => (n + 1, false)) == 4)
  }

  // Persisted RDDs each query's result still reads after one run, as
  // counted before the queries moved onto Rounds: q167 reads its
  // incidence and last authority frame, q95 its six round winners,
  // the rest one terminal or last-round checkpoint. Spark registers
  // persisted RDDs weakly, so the forced GC drops checkpoints nothing
  // references, which would otherwise count or not by GC timing; an
  // unreleased persist stays, held by the CacheManager. The cases
  // above pin that the scope releases unreferenced checkpoints too.
  private val survivors = Seq(
    "q56_dedup_clusters_ls" -> 1, "q59_kmeans" -> 1, "q87_kcore" -> 1,
    "q88_bfs_hops" -> 1, "q95_bpe_merges" -> 6, "q167_hits" -> 2,
    "q182_power_iteration" -> 1)

  test("each iterative query leaves exactly the frames its result reads") {
    val sf = "/root/testdata/sf0.001"
    val got = survivors.map { case (q, _) =>
      val (ids, entries) = held
      val result = SparkEntry.queries(q)(spark, sf)
      result.write.format("noop").mode("overwrite").save()
      System.gc()
      Thread.sleep(200)
      val left = persistedIds -- ids
      val newEntries = CacheEntries.count(spark) - entries
      left.foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist()))
      assert(result.columns.nonEmpty) // holds the result across the count
      q -> (left.size, newEntries)
    }
    assert(got == survivors.map { case (q, n) => q -> (n, 0) })
  }
}
