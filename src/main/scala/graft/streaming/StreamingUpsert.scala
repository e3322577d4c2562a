package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The key's current materialized row: what a CDC reader would see. */
case class UpsertState(event_id: Long, event_type: String, us: Long,
    cents: Long)

/** One emitted snapshot change — the upsert stream's output row. */
case class UpsertRow(user_id: Long, event_id: Long, event_type: String,
    us: Long, value_cents: Long)

/** Streaming latest-wins upsert — the ingest-time half of q131
  * (`graft.ops.Scd.latestCompaction`): a CDC change stream folded into
  * a per-key materialized "current row" view, emitting a row whenever
  * a key's latest record CHANGES. Downstream appends of this stream
  * replayed key-wise (keep last per key) reproduce the q131 batch
  * compaction — the Delta/Iceberg MERGE-upsert pattern as a stateful
  * operator.
  *
  * Latest-wins is by EVENT TIME (us, event_id) — the q131 total order
  * — not arrival order: a stale record arriving after a newer one
  * neither regresses the snapshot nor emits (monotone state). Within a
  * micro-batch rows apply in (us, event_id) order, so one batch
  * carrying several versions emits only the final one.
  *
  * State is ONE tiny record per key with NO timeout — deliberately:
  * this operator IS a materialized table, so its state is O(live keys)
  * by definition (at warehouse scale that state lives in the RocksDB
  * state store; a retention variant would add event-time eviction the
  * way `StreamingAttribution` does). Everything else in the streaming
  * surface keeps watermark-bounded state; the deviation is the
  * semantics, not an accident.
  *
  * Deliberately NO watermark: `flatMapGroupsWithState` with NoTimeout
  * does not require one, and a watermark would have Spark drop any
  * record older than (max event time − delay) BEFORE the operator —
  * so a record that is late globally but still newer than ITS KEY's
  * state (a key idle longer than the delay) would be silently
  * discarded instead of folded, breaking the "replay reproduces the
  * q131 batch compaction" equivalence. Without it, every arrival
  * reaches the monotone-state check and latest-wins is exact at any
  * lateness.
  */
object StreamingUpsert {

  /** The latest-wins fold: the tie rule and emission condition.
    * Returns the key's new state iff its latest row changed (emit),
    * None otherwise (stale batch — no emission, no state write).
    *
    * Only the batch slice's (us, event_id) MAXIMUM matters:
    * intermediate versions within a batch can never emit (only the
    * final one does) and any row newer than `prev` makes the maximum
    * newer too — so this is one maxBy, not a sort-and-fold. */
  private[streaming] def fold(prev: Option[UpsertState],
      rows: Iterator[AttrEvent]): Option[UpsertState] = {
    if (!rows.hasNext) None
    else {
      val top = rows.maxBy(r => (r.us, r.event_id))
      val newer = prev.forall(c =>
        top.us > c.us || (top.us == c.us && top.event_id > c.event_id))
      if (newer)
        Some(UpsertState(top.event_id, top.event_type, top.us, top.cents))
      else None
    }
  }

  /** Fold a change stream into latest-wins emissions. `events` needs
    * columns (user_id, event_id, event_type, ts, value); emits one
    * append-mode row per key per micro-batch in which the key's
    * latest row changed. */
  def latest(events: DataFrame): Dataset[UpsertRow] = {
    import events.sparkSession.implicits._
    // poison-guarded typed projection shared with the attribution
    // operator (StreamingAttribution.typedEvents)
    val typed = StreamingAttribution.typedEvents(events)
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[UpsertState, UpsertRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[AttrEvent],
         state: GroupState[UpsertState]) =>
          fold(state.getOption, rows) match {
            case Some(c) =>
              state.update(c)
              Iterator.single(
                UpsertRow(uid, c.event_id, c.event_type, c.us, c.cents))
            case None => Iterator.empty
          }
      }
  }
}
