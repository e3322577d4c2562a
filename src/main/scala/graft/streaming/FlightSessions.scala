package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming operator: per-aircraft flight
  * sessionization over the cleaned state stream —
  * `KeyValueGroupedDataset.flatMapGroupsWithState`, the §2.8 "stateful
  * ops" surface.
  *
  * A session is a maximal run of state vectors for one `icao24` with
  * no gap exceeding `gapMinutes` between consecutive event times.
  * State per key is the set of OPEN sessions (start/end/count — never
  * buffered rows): an arriving record merges into any open session
  * within the gap on EITHER side, bridging two sessions when it lands
  * between them — so out-of-order arrivals ACROSS micro-batches (the
  * rows a watermark exists to admit) land exactly where the batch
  * mirror puts them. A session is emitted only when the watermark
  * passes `end + gap` — the point after which no admissible row can
  * extend or bridge it (earlier "emit the moment a later row closes
  * the gap" semantics were UNSOUND under reordering: an in-horizon
  * straggler could still arrive and merge the two sessions the
  * emission had already split).
  *
  * Scale shape: state is O(open sessions) per key, bounded by
  * watermark-horizon / gap (a few entries; one for in-order keys);
  * keys shard across executors by groupByKey hash; the within-batch
  * sort is over one key's batch slice, not the partition. This is the
  * pattern for any "session with custom merge/close rule" Spark's
  * built-in `session_window` can't express.
  */
object FlightSessions {

  final case class StateRow(icao24: String, ts: Timestamp)
  final case class OpenSession(start: Timestamp, end: Timestamp, n: Long)
  final case class OpenSessions(sessions: List[OpenSession])
  final case class FlightSession(icao24: String, session_start: Timestamp,
      session_end: Timestamp, n_states: Long)

  /** Microsecond event time. FlightStates emits fractional-second
    * (microsecond) timestamps, so gaps are compared in micros —
    * exactly like the spec's batch mirror `sessionsBatch`; a millis
    * comparison would close boundary gaps (e.g. 1800000.4 ms)
    * differently on the two paths.
    * (The `% 1000` keeps only the sub-millisecond nanos `getTime`
    * hasn't already counted.) */
  private[streaming] def us(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Merge one event-time into the open-session set: absorb every
    * session reachable within the gap on EITHER side (≤ 2 of them —
    * open sessions are pairwise > gap apart by construction), bridging
    * two when the event lands between them. This fold IS the
    * sessionization semantics. */
  private def merge(sess: List[OpenSession], ts: Timestamp,
      gapUs: Long): List[OpenSession] = {
    val (near, far) = sess.partition(o =>
      us(ts) >= us(o.start) - gapUs && us(ts) <= us(o.end) + gapUs)
    val all = ts :: near.map(_.start) ::: near.map(_.end)
    OpenSession(all.minBy(us), all.maxBy(us), near.map(_.n).sum + 1L) :: far
  }

  def sessionsStream(clean: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[FlightSession] = {
    val s = clean.sparkSession
    import s.implicits._
    val gapMs = gapMinutes * 60000L
    val gapUs = gapMinutes * 60000000L

    def fn(key: String, rows: Iterator[StateRow],
        state: GroupState[OpenSessions]): Iterator[FlightSession] = {
      var sess: List[OpenSession] =
        state.getOption.map(_.sessions).getOrElse(Nil)
      if (!state.hasTimedOut) {
        // micro-batch slice for this key, event-time order
        rows.toArray.sortBy(r => us(r.ts)).foreach { r =>
          sess = merge(sess, r.ts, gapUs)
        }
      }
      // emit exactly the sessions the watermark has SEALED: once
      // wm ≥ end + gap (+1 ms guards sub-millisecond event times —
      // the timeout API is millis), no admissible row can merge in
      val wm = state.getCurrentWatermarkMs()
      val (sealed_, open) =
        sess.partition(o => o.end.getTime + gapMs + 1L <= wm)
      if (open.isEmpty) state.remove()
      else {
        state.update(OpenSessions(open))
        state.setTimeoutTimestamp(open.map(_.end.getTime + gapMs + 1L).min)
      }
      sealed_.sortBy(o => us(o.start))
        .map(o => FlightSession(key, o.start, o.end, o.n)).iterator
    }

    clean
      .filter(col("icao24").isNotNull && col("time_position").isNotNull)
      .select(col("icao24"), col("time_position").as("ts"))
      .as[StateRow]
      .withWatermark("ts", watermark)
      .groupByKey(_.icao24)
      .flatMapGroupsWithState[OpenSessions, FlightSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
