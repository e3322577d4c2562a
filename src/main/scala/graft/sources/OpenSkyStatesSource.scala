package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import graft.extract.{ExtractJob, HttpBackend, JdkHttpBackend}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => streamingapi}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.jdk.CollectionConverters._

/** DataSourceV2 reader for the OpenSky `/states/all` REST endpoint:
  * the distributed upgrade of the reference's driver-side extract
  * (`extract_script.py:106-123`, SURVEY S1/S2).
  *
  * {{{
  * spark.read.format("opensky-states")
  *   .option("base_url", ...).option("endpoint", "/states/all")
  *   .option("token_url", ...).option("client_id", ...).option("client_secret", ...)
  *   .option("lamin", "45.8").option("lomin", "5.9")
  *   .option("lamax", "47.8").option("lomax", "10.5")
  *   .option("splits", "8")
  *   .load()
  * }}}
  *
  * Design, from the reference's WHAT to Spark's HOW:
  *
  *  - **Parallel ingest**: the bbox is split into `splits` equal
  *    latitude bands, one `InputPartition` each — every executor
  *    fetches its own band concurrently, where the reference fetched
  *    one payload on the driver. One REST call per partition, so
  *    `splits` is also the request fan-out cap.
  *  - **Exactly-once row ownership**: the API's bbox bounds are
  *    inclusive, so a state sitting exactly on an interior split line
  *    is returned by BOTH adjacent bands. Each band keeps only rows
  *    with `lat < bandHigh` (the top band keeps its upper edge) —
  *    no duplicates, no losses, no cross-partition coordination.
  *    The guarantee is PER SNAPSHOT: the per-band fetches hit a live
  *    endpoint seconds apart, so an aircraft crossing a band boundary
  *    between them can appear in two bands' replies (or neither) —
  *    the same drift two consecutive reference cron payloads exhibit;
  *    downstream exact dedup (content hash) is the backstop, exactly
  *    as it is for the reference's overlapping 10-minute ticks.
  *    Rows without a parseable latitude are owned by the band
  *    `hash(stable id) % splits`: a bbox query cannot position-filter
  *    a position-less state, so the API either omits such rows
  *    entirely or returns them identically to every band's reply
  *    (the assumption this scheme — and any coordination-free one —
  *    rests on); under it each null-lat row is emitted exactly once,
  *    spread across bands by id rather than hot-spotting band 0. A
  *    hypothetical reply violating the assumption (a null-lat row in
  *    ONE band's reply only) surfaces it with probability
  *    1/`splits` — same bound as any fixed-owner rule without
  *    cross-partition dedup.
  *  - **One token per scan**: the OAuth2 client-credentials POST runs
  *    once on the driver at batch-planning time (S2 semantics); the
  *    bearer token ships to partitions as part of the read task, not
  *    re-acquired N times.
  *  - **Raw-string schema**: rows surface as the same 17 text columns
  *    the CSV landing produces ([[graft.etl.FlightStates.rawSchema]]),
  *    rendered with the python-csv cell rules
  *    ([[graft.extract.ExtractJob.renderCell]]) — so
  *    `FlightStates.transform` consumes this source and the file path
  *    byte-identically, and coercion stays owned by the staging kernel.
  *  - **Column pruning**: `SupportsPushDownRequiredColumns` — a
  *    `select(icao24)` reads one field per state row.
  *
  * HTTP is injectable for tests via [[OpenSkyStatesSource.registerBackend]]
  * (`option("backend", name)`); production omits the option and each
  * read task builds a [[graft.extract.JdkHttpBackend]]. The registry is
  * process-local, which is exactly the test scope (`local[*]`).
  */
class OpenSkyStatesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "opensky-states"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.etl.FlightStates.rawSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    // Locale.ROOT (the IniConfig rule): option keys must normalize the
    // same on every JVM locale
    new StatesTable(properties.asScala
      .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap)
}

object OpenSkyStatesSource {
  /** Test seam: named HTTP backends, looked up by `option("backend", name)`. */
  private val backends = scala.collection.concurrent.TrieMap.empty[String, HttpBackend]

  def registerBackend(name: String, b: HttpBackend): Unit = backends.update(name, b)

  private[sources] def backendFor(opts: Map[String, String]): HttpBackend =
    opts.get("backend") match {
      case Some(name) => backends.getOrElse(name,
        sys.error(s"no registered test backend '$name'"))
      case None => new JdkHttpBackend()
    }
}

private[sources] class StatesTable(opts: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"opensky_states(${opts.getOrElse("base_url", "")}${opts.getOrElse("endpoint", "")})"
  override def schema(): StructType = graft.etl.FlightStates.rawSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StatesScanBuilder(opts)
}

private[sources] class StatesScanBuilder(opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = graft.etl.FlightStates.rawSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new StatesScan(opts, required)
}

/** Shared driver-side planning for the batch and micro-batch paths:
  * one token fetch, `splits` latitude-band partitions. */
private[sources] object StatesPlanner {
  private val BboxKeys = Set("lamin", "lomin", "lamax", "lomax")

  def fetchToken(opts: Map[String, String]): Option[String] =
    opts.get("token_url").map { tokenUrl =>
      ExtractJob.getAccessToken(OpenSkyStatesSource.backendFor(opts), tokenUrl,
        opts.getOrElse("client_id", sys.error("client_id required with token_url")),
        opts.getOrElse("client_secret", sys.error("client_secret required with token_url")))
    }

  def bands(opts: Map[String, String], token: Option[String]): Array[InputPartition] = {
    val splits = opts.getOrElse("splits", "1").toInt
    require(splits >= 1, "splits must be >= 1")
    val bbox = Seq("lamin", "lomin", "lamax", "lomax").flatMap(k => opts.get(k))
    if (splits == 1 || bbox.size < 4) {
      require(splits == 1 || bbox.size == 4,
        "splits > 1 requires a full lamin/lomin/lamax/lomax bbox")
      Array(StatesPartition(0, opts.filter(p => BboxKeys(p._1)), token,
        keepBelow = None, splits = 1))
    } else {
      val (lamin, lamax) = (opts("lamin").toDouble, opts("lamax").toDouble)
      val h = (lamax - lamin) / splits
      (0 until splits).map { i =>
        val lo = lamin + i * h
        val hi = if (i == splits - 1) lamax else lamin + (i + 1) * h
        StatesPartition(i,
          opts.filter(p => BboxKeys(p._1)) ++
            Map("lamin" -> lo.toString, "lamax" -> hi.toString),
          token,
          // interior bands disown their inclusive upper edge; the top
          // band keeps it (hi == lamax there)
          keepBelow = if (i == splits - 1) None else Some(hi),
          splits = splits)
      }.toArray[InputPartition]
    }
  }

  def readerFactory(opts: Map[String, String],
      required: StructType): PartitionReaderFactory =
    new StatesReaderFactory(
      opts.filterNot(p => p._1 == "client_secret"), // never ship the secret
      required.fieldNames.map(graft.etl.FlightStates.RawColumns.indexOf).toSeq)
}

private[sources] class StatesScan(opts: Map[String, String],
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : streamingapi.MicroBatchStream = new StatesMicroBatchStream(opts, required)
  override def description(): String =
    s"opensky-states splits=${opts.getOrElse("splits", "1")} cols=${required.fieldNames.mkString(",")}"

  /** Driver-side planning: one token, `splits` latitude bands.
    * Memoized — Spark may call `planInputPartitions` more than once
    * per scan (planning + execution), and the token POST must run
    * exactly once. */
  override def planInputPartitions(): Array[InputPartition] = planned

  private lazy val planned: Array[InputPartition] =
    StatesPlanner.bands(opts, StatesPlanner.fetchToken(opts))

  override def createReaderFactory(): PartitionReaderFactory =
    StatesPlanner.readerFactory(opts, required)
}

/** Polling micro-batch stream: every trigger is ONE snapshot fetch of
  * the bbox, fanned across the same latitude-band partitions as the
  * batch path — `readStream.format("opensky-states")` is the always-on
  * upgrade of the reference's 10-minute cron extract.
  *
  * Offsets count polls; the states endpoint serves a LIVE snapshot, so
  * a batch replayed after failure re-fetches the CURRENT snapshot —
  * at-least-once with cron-tick freshness semantics, exactly like the
  * reference's scheduler re-running a tick (and like Spark's own
  * non-replayable socket source). Each micro-batch acquires a fresh
  * token (polling outlives any token's lifetime). */
private[sources] class StatesMicroBatchStream(opts: Map[String, String],
    required: StructType) extends streamingapi.MicroBatchStream
    with streamingapi.SupportsAdmissionControl {

  private case class PollOffset(poll: Long) extends streamingapi.Offset {
    override def json(): String = s"""{"poll":$poll}"""
  }

  override def initialOffset(): streamingapi.Offset = PollOffset(0L)

  /** Admission control hands us the restored start offset, so the next
    * end is simply one poll past it — correct across restarts with no
    * counter state. A poll is one snapshot; `allAvailable` is always
    * exactly one more poll. */
  override def latestOffset(start: streamingapi.Offset,
      limit: streamingapi.ReadLimit): streamingapi.Offset =
    PollOffset(start.asInstanceOf[PollOffset].poll + 1)

  override def getDefaultReadLimit: streamingapi.ReadLimit =
    streamingapi.ReadLimit.allAvailable()

  override def latestOffset(): streamingapi.Offset =
    sys.error("SupportsAdmissionControl sources use latestOffset(start, limit)")

  override def deserializeOffset(json: String): streamingapi.Offset = {
    val m = """\{"poll":(\d+)\}""".r
    json.trim match {
      case m(n) => PollOffset(n.toLong)
      case other => sys.error(s"bad opensky-states offset: $other")
    }
  }

  // Spark calls planInputPartitions several times per micro-batch
  // (planning, validation, execution) — memoize per offset range so
  // each poll acquires exactly one token and one partition plan.
  private var plannedRange: (Long, Long) = _
  private var plannedParts: Array[InputPartition] = _

  override def planInputPartitions(start: streamingapi.Offset,
      end: streamingapi.Offset): Array[InputPartition] = synchronized {
    val from = start.asInstanceOf[PollOffset].poll
    val to = end.asInstanceOf[PollOffset].poll
    if (to == from) Array.empty
    else {
      if (plannedRange != (from, to)) {
        plannedParts = StatesPlanner.bands(opts, StatesPlanner.fetchToken(opts))
        plannedRange = (from, to)
      }
      plannedParts
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    StatesPlanner.readerFactory(opts, required)

  override def commit(end: streamingapi.Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One latitude band. `params` is the complete bbox query for this
  * band; `keepBelow` implements boundary row ownership and
  * `splits` the id-hash ownership of null-lat rows (see class doc). */
private[sources] final case class StatesPartition(idx: Int,
    params: Map[String, String], token: Option[String],
    keepBelow: Option[Double], splits: Int) extends InputPartition

private[sources] class StatesReaderFactory(opts: Map[String, String],
    colIdx: Seq[Int]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StatesPartition]
    new PartitionReader[InternalRow] {
      private val LatIdx = graft.etl.FlightStates.RawColumns.indexOf("latitude")
      private val IdIdx = graft.etl.FlightStates.RawColumns.indexOf("icao24")
      private lazy val rows: Iterator[InternalRow] = {
        val http = OpenSkyStatesSource.backendFor(opts)
        val url = opts.getOrElse("base_url",
          sys.error("base_url required")) + opts.getOrElse("endpoint", "")
        val reply = http.get(url, p.params,
          p.token.map(t => Map("Authorization" -> s"Bearer $t")).getOrElse(Map.empty))
        if (reply.status >= 400) sys.error(s"HTTP ${reply.status} from states API")
        val payload = new ObjectMapper().readTree(reply.body)
        // F6 guards: missing/null/empty states → zero rows
        if (payload == null || !payload.has("states") || payload.get("states").isNull)
          Iterator.empty
        else {
          // Cells render ON DEMAND with per-row memoization, honoring
          // column pruning on the hot path: a select(icao24) renders
          // only {icao24} + {latitude} (the ownership filter's input)
          // per row instead of all 17 — pyDouble's BigDecimal walk is
          // the per-cell cost worth skipping. renderCell never returns
          // null, so null marks "not rendered yet".
          val nCols = graft.etl.FlightStates.RawColumns.size
          payload.get("states").elements().asScala.flatMap { st =>
            val cells = new Array[String](nCols)
            def cell(i: Int): String = {
              if (cells(i) == null) cells(i) = ExtractJob.renderCell(st.get(i))
              cells(i)
            }
            val owned = cell(LatIdx).toDoubleOption match {
              // position-less state: owned by the id-hash band so every
              // band that sees the (identical, per the class-doc
              // assumption) row agrees on a single emitter. icao24 is
              // the API's stable aircraft id; an id-less row falls back
              // to hashing the whole row so ownership stays agreed.
              case None =>
                val id = cell(IdIdx)
                val stable =
                  if (id.nonEmpty) id
                  else (0 until nCols).map(cell).mkString("\u0000")
                math.floorMod(scala.util.hashing.MurmurHash3.stringHash(stable),
                  p.splits) == p.idx
              case Some(v) => p.keepBelow.forall(v < _)
            }
            if (!owned) None
            else Some(InternalRow.fromSeq(colIdx.map { i =>
              val c = cell(i)
              if (c.isEmpty) null else UTF8String.fromString(c)
            }))
          }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
