package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.storage.StorageLevel

/** The round scope of the iterative queries (q52, q56, q59/q93, q87,
  * q88, q95, q167, q182): which round frames are materialized, how
  * they are released, and what the returned result keeps alive.
  *
  * A round that reads the previous round's frame twice (own label +
  * neighbor side, value + max, assign + keep-previous) embeds
  * 2^rounds copies of the earlier rounds unless each round is
  * materialized. [[persist]] keeps a data-sized frame cached;
  * [[checkpoint]] also cuts the lineage, which suits node- or K-sized
  * frames. Either frame is dead once a later materialization
  * supersedes it, so the scope tracks it and [[Rounds.scoped]]
  * releases it when the block exits, normally or by exception:
  * `Dataset.unpersist` for a persist, [[GraftBridge.unpersistCheckpoint]]
  * for a checkpoint (on which `unpersist` is a silent no-op).
  *
  * What the returned lazy result still reads must outlive the block:
  *  - a tracked frame it reads is marked with [[keep]] (the last round
  *    of q59/q167/q182, q95's per-round winners);
  *  - a terminal frame is checkpointed untracked, with a plain
  *    `localCheckpoint(true)` inside the block.
  *
  * Those survivors are why Bench's orphan-checkpoint sweep stays: the
  * non-iterative queries also return results that read a terminal
  * checkpoint (q134's edge list, q168's and q177's node frames), and
  * no round scope runs there to own those lifetimes. */
final class Rounds private () {
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private val checkpointed = mutable.ArrayBuffer.empty[DataFrame]
  private val kept = mutable.ArrayBuffer.empty[DataFrame]

  /** `df` persisted MEMORY_AND_DISK (lazily, like `Dataset.persist`),
    * released when the scope exits. */
  def persist(df: DataFrame): DataFrame = {
    persisted += df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** `df` eagerly `localCheckpoint`ed, released when the scope exits. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    checkpointed += cp
    cp
  }

  /** Marks a tracked frame the returned result reads, so a normal exit
    * leaves it alive. A failed block still releases it. */
  def keep(df: DataFrame): DataFrame = {
    require((persisted ++ checkpointed).exists(_ eq df),
      "Rounds.keep: the frame is not tracked by this scope")
    kept += df
    df
  }

  private def release(): Unit = {
    def live(df: DataFrame) = !kept.exists(_ eq df)
    persisted.filter(live).foreach(_.unpersist(blocking = false))
    checkpointed.filter(live).foreach(GraftBridge.unpersistCheckpoint)
  }
}

object Rounds {

  /** Runs `body` with a fresh scope and releases the scope's frames on
    * exit: all but the kept ones on success, every one on failure. */
  def scoped[A](body: Rounds => A): A = {
    val r = new Rounds
    try body(r)
    catch { case t: Throwable => r.kept.clear(); throw t }
    finally r.release()
  }

  /** Steps `init` through rounds 1 to `max`; `step(state, round)`
    * returns the next state and whether it is a fixpoint, which ends
    * the loop early. Reaching the cap without a fixpoint returns the
    * last state (the fixed-count contract) or, given `capError`, fails
    * with it: a result that needed more rounds would be wrong. */
  def iterate[S](init: S, max: Int, capError: Option[String] = None)(
      step: (S, Int) => (S, Boolean)): S = {
    var state = init
    var round = 0
    var fixpoint = false
    while (!fixpoint && round < max) {
      round += 1
      val (next, done) = step(state, round)
      state = next
      fixpoint = done
    }
    capError.foreach(msg => require(fixpoint, msg))
    state
  }
}
