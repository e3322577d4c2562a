package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 hides `Column(expr)` behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils` — public Spark
  * source, spark/sql/core columnNodeSupport.scala); a one-object shim
  * inside the sql package tree is the standard library-author pattern
  * for wiring custom `Expression`s into the public DataFrame API
  * without forcing every session through SparkSessionExtensions.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** LogicalPlan → DataFrame (`Dataset.ofRows` is `private[sql]` in the
    * classic module) — the seam graft's custom plan nodes (AsOfJoin)
    * use to re-enter the public Dataset API. */
  def ofRows(s: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = s match {
    case classic: org.apache.spark.sql.classic.SparkSession =>
      org.apache.spark.sql.classic.Dataset.ofRows(classic, plan)
    case other => throw new IllegalArgumentException(
      "GraftBridge.ofRows needs a classic (JVM-local) SparkSession to " +
        s"build a DataFrame from a LogicalPlan; got ${other.getClass.getName}" +
        " — Spark Connect sessions cannot host custom plan nodes")
  }

  /** Block until the Spark listener bus has drained (`listenerBus` is
    * `private[spark]`). QueryExecutionListeners — LshSkew's skew
    * counters among them — are fed asynchronously through this bus, so
    * a caller that reads their state right after an action races the
    * delivery; draining first makes the read exact. */
  def waitListenerBusEmpty(s: org.apache.spark.sql.SparkSession,
      timeoutMs: Long): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Stable, never-reused per-session identity (`sessionUUID` is
    * `private[sql]` on the classic session). None for non-classic
    * implementations. */
  def sessionUUID(s: org.apache.spark.sql.SparkSession): Option[String] =
    s match {
      case c: org.apache.spark.sql.classic.SparkSession => Some(c.sessionUUID)
      case _ => None
    }

  /** Stable per-session registry key: the session UUID (unique for the
    * session's lifetime AND never reused), falling back to an identity
    * hash for non-classic implementations — which CAN collide with a
    * later session once this one is collected, so registries keyed by
    * the fallback must also evict on application end. ONE definition
    * (shared by PipelineCache and LshSkew) so a fix to the fallback
    * cannot silently miss a twin. */
  def sessionKeyOrIdentity(s: org.apache.spark.sql.SparkSession): String =
    sessionUUID(s)
      .getOrElse("id:" + System.identityHashCode(s).toHexString)

  /** `RDD.isLocallyCheckpointed` has a Scala-private signature but
    * public bytecode (it's what pyspark calls over py4j); Bench's
    * orphan-checkpoint sweep needs it to target exactly the leak
    * class (terminal localCheckpoint blocks) and nothing else, so go
    * through the public bytecode. */
  private lazy val isLocallyCheckpointedM =
    classOf[org.apache.spark.rdd.RDD[_]].getMethod("isLocallyCheckpointed")
  def isLocallyCheckpointed(r: org.apache.spark.rdd.RDD[_]): Boolean =
    isLocallyCheckpointedM.invoke(r).asInstanceOf[Boolean]

  /** Eagerly drop the storage blocks behind a `localCheckpoint(true)`
    * frame. `Dataset.unpersist` is a NO-OP for checkpointed frames —
    * it only removes CacheManager entries, and a local checkpoint
    * registers none; the materialized blocks live on the internal RDD
    * wrapped by the plan's `LogicalRDD` leaf (measured: after
    * checkpoint + unpersist, `sparkContext.getPersistentRDDs` still
    * holds the RDD). [[graft.ops.Rounds]], its only caller, releases
    * its round checkpoints through the leaf's RDD here. Returns true
    * when a checkpointed leaf was found and dropped.
    *
    * CONTRACT: pass only a frame that IS a checkpoint result — i.e.
    * whose ROOT plan node is the `LogicalRDD` the checkpoint produced.
    * The guard below enforces it: a derived plan (filter/join/project
    * over a checkpoint) is refused (returns false, drops nothing),
    * because unpersisting every embedded `LogicalRDD` leaf would
    * destroy the blocks of a still-live SHARED checkpoint — and since
    * localCheckpoint truncates lineage, the shared frame would then
    * throw on its next execution instead of recomputing. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); true
      case _ => false
    }
}
