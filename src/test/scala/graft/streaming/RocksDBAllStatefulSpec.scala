package graft.streaming

import graft.RocksDBProvider

/** RocksDB twins of EVERY stateful streaming spec (round-9 verdict:
  * only the upsert/dedup subset ran under RocksDB; the fMGWS,
  * dropDuplicates, windowed-agg, stream-stream-join and restart suites
  * ran only on the default provider). Each twin inherits the full test
  * body of its base spec and swaps nothing but the state store
  * provider via [[graft.RocksDBProvider]] — a semantic difference
  * between providers is a bug, and these classes make it a red test.
  */
class FlightSessionsRocksDBSpec extends FlightSessionsSpec with RocksDBProvider
class FlightStreamRocksDBSpec extends FlightStreamSpec with RocksDBProvider
class StreamingAnomalyRocksDBSpec extends StreamingAnomalySpec with RocksDBProvider
class StreamingAttributionRocksDBSpec extends StreamingAttributionSpec with RocksDBProvider
class StreamingChunkDedupRocksDBSpec extends StreamingChunkDedupSpec with RocksDBProvider
class StreamingDedupRocksDBSpec extends StreamingDedupSpec with RocksDBProvider
class StreamingHeavyHittersRocksDBSpec extends StreamingHeavyHittersSpec with RocksDBProvider
class StreamingJoinRocksDBSpec extends StreamingJoinSpec with RocksDBProvider
class StreamingNearDupRocksDBSpec extends StreamingNearDupSpec with RocksDBProvider
class StreamScaleRocksDBSpec extends StreamScaleSpec with RocksDBProvider
class StreamingPoisonRocksDBSpec extends StreamingPoisonSpec with RocksDBProvider
class StreamingRestartRocksDBSpec extends StreamingRestartSpec with RocksDBProvider
class StreamingTriplesRocksDBSpec extends StreamingTriplesSpec with RocksDBProvider
class StreamingUpsertRocksDBSpec extends StreamingUpsertSpec with RocksDBProvider
