package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Runtime-plan probe: `runMain graft.PlanProbe q87_kcore [more…]`
  * runs each named query once (Bench-equivalent session: AQE on,
  * pipeline cache on) and prints, for EVERY execution the query
  * triggers — the terminal noop write AND each per-round eager
  * `localCheckpoint` job — the AQE-FINAL join/exchange operator
  * census.
  *
  * This is the runtime complement to [[PlanGolden]]: the golden
  * artifact pins the static (AQE-off) shape of the terminal plan,
  * which by design cannot see (a) what AQE actually turned a join
  * into once it saw real shuffle sizes, or (b) the plans of
  * intermediate executions inside round-structured queries (kcore /
  * BFS / PageRank materialize a frame per round; the terminal plan is
  * just a LogicalRDD leaf). Use this to adjudicate questions like
  * "did the per-round semi-join get the runtime SMJ→broadcast
  * conversion, or is it pinned to a shuffle join by a stats-less
  * checkpoint leaf?" — the answer decides whether a conf nudge is
  * needed, instead of guessing from `.explain` on the cold plan.
  */
object PlanProbe {

  /** AQE-final operator names: unwrap [[AdaptiveSparkPlanExec]] to the
    * plan it actually ran (`executedPlan` after materialization).
    * Operators reached only through a cached relation's internal plan
    * are prefixed `cached:` — at execution time those subtrees are
    * read from storage blocks, not re-run (they executed when the
    * cache materialized, usually in an earlier round/execution), so
    * counting them as live joins would misread a round-structured
    * query as quadratically deepening. */
  def finalNodes(p: SparkPlan, cached: Boolean = false): Seq[String] = {
    val rest = p match {
      case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan, cached)
      // AQE materializes stages as leaf wrappers (ResultQueryStageExec /
      // ShuffleQueryStageExec / BroadcastQueryStageExec); the real
      // operators live behind `plan`
      case q: QueryStageExec => finalNodes(q.plan, cached)
      case im: InMemoryTableScanExec =>
        finalNodes(im.relation.cachedPlan, cached = true)
      case other =>
        (other.children ++ other.subqueries).flatMap(finalNodes(_, cached))
    }
    val name =
      (if (cached) "cached:" else "") + p.getClass.getSimpleName
    name +: rest
  }

  /** One-line census of the operators that decide scale behavior:
    * join strategies, exchanges, AQE shuffle reads. */
  def census(plan: SparkPlan): String =
    census(plan, sys.env.contains("SPARK_GRAFT_PROBE_FULL"))

  /** `full = true` reports EVERY node including `cached:`-prefixed
    * ones — needed when the joins under audit live inside a
    * PipelineCache-owned relation (q28's LSH candidate join runs at
    * cache materialization, so the default live census reports the
    * noop write as join-free). */
  def census(plan: SparkPlan, full: Boolean): String = {
    val names = finalNodes(plan)
    if (full)
      return names.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (n, g) => s"$n×${g.size}" }.mkString(" ")
    val interesting = names.filter { n =>
      !n.startsWith("cached:") && (
        n.contains("Join") || n.contains("Exchange") ||
          n.contains("AQEShuffleRead") || n.contains("Cartesian"))
    }
    if (interesting.isEmpty) "(no live joins/exchanges)"
    else interesting.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (n, g) => s"$n×${g.size}" }.mkString(" ")
  }

  /** `runMain graft.PlanProbe ALL` sweeps every query and writes the
    * per-execution censuses to this artifact — committed as runtime
    * evidence beside the static PLAN_SHAPES.txt. Unlike the golden, it
    * is NOT spec-asserted: AQE's broadcast/coalesce decisions depend on
    * runtime sizes, so the artifact documents what the engine did at
    * the recorded SF rather than pinning a host-independent property.
    *
    * Reading refresh diffs: the ReusedExchange / AQEShuffleRead /
    * runtime-converted-BHJ counters can differ between an ALL sweep
    * and an isolated probe of the same query at the same SF (measured
    * on q168: 19/18/17 in-sweep vs a bit-identical 17/16/17 across
    * repeated isolated probes) — exchange reuse is sensitive to stage
    * materialization order in a long-lived JVM, not to the data. A
    * counter moving across refreshes is noise unless the
    * ShuffleExchange count (the scale invariant, spec-pinned via
    * PlanInvariantsSpec budgets) moves with it. */
  val ArtifactPath = "RUNTIME_PLANS.txt"

  /** Run one query end-to-end on `sfDir` and return the AQE-final
    * census of every execution it triggered (funcName → census), in
    * execution order. The seam [[main]] and `PlanProbeSpec` share, so
    * the spec's runtime-strategy assertions measure exactly what the
    * committed RUNTIME_PLANS.txt artifact records. */
  def probe(spark: SparkSession, name: String, sfDir: String,
      full: Boolean = false): Seq[(String, String)] = {
    val events = mutable.ArrayBuffer.empty[(String, String)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        events.synchronized {
          events += ((funcName,
            if (full) census(qe.executedPlan, full = true)
            else census(qe.executedPlan)))
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ops.PipelineCache.invalidate(spark, name)
      Bench.withCheckpointSweep(spark) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        // listener events are delivered asynchronously on the
        // listener bus — drain before reading
        org.apache.spark.sql.graftbridge.GraftBridge
          .waitListenerBusEmpty(spark, 30000)
      }
      events.synchronized(events.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanProbe <query_name>|ALL [more…]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Mains.session(Mains.querySettings(Mains.cpus()))
    spark.sparkContext.setLogLevel("ERROR")

    val all = args.contains("ALL")
    val names =
      if (all) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    val lines = names.map { name =>
      // Per-query isolation (same rationale as Bench.runOnce): in an
      // ALL sweep one failing query must cost one "error" line, not
      // the whole artifact — unisolated, every prior query's census is
      // lost and RUNTIME_PLANS.txt can't be refreshed at all.
      val evs = try probe(spark, name, sfDir)
      catch {
        case e: Throwable =>
          val msg = String.valueOf(e.getMessage)
            .replaceAll("\\s+", " ").take(160)
          Seq(("error", s"(probe failed: $msg)"))
      }
      println(s"PROBE $name: ${evs.size} executions")
      evs.zipWithIndex.foreach {
        case ((fn, c), i) => println(f"  [$i%02d] $fn%-16s $c")
      }
      name -> evs
    }
    if (all) {
      val out = lines.map { case (n, evs) =>
        evs.zipWithIndex.map { case ((fn, c), i) =>
          s"$n\t$i\t$fn\t$c"
        }.mkString("\n")
      }.mkString("", "\n", "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(ArtifactPath), out)
      println(s"[plan-probe] wrote ${names.size} queries to $ArtifactPath")
    }
    spark.stop()
  }
}
