package graft.perfbench

import graft.etl.{ControlStore, FileStatus, FlightStates, JsonlControlStore,
  StagingPipeline, WarehouseBuild}
import graft.extract.{ExtractJob, JobControl, JsonlJobControl}
import java.nio.file.{Files, Path}
import java.time.{Clock, Instant, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Fs {
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** Bytes of the data files under `dir` (Spark's hidden `_`/`.` files
    * excluded). */
  def dataFiles(dir: Path): Seq[Path] = files(dir).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def bytes(dir: Path): Long = dataFiles(dir).map(Files.size).sum

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Lands `names` from `from` in `to` as hard links. */
  def land(from: Path, to: Path, names: Seq[String]): Unit = {
    Files.createDirectories(to)
    names.foreach(n => Files.createLink(to.resolve(n), from.resolve(n)))
  }
}

/** The pipeline's stores under one directory. */
final class Stores(val dir: Path) {
  val raw = dir.resolve("raw")
  val rawSink = dir.resolve("raw_sink")
  val clean = dir.resolve("clean")
  val warehouse = dir.resolve("warehouse")
  val aggregate = dir.resolve("aggregate")
  val mart = dir.resolve("mart")
  val ledger = dir.resolve("ledger.jsonl")
  val jobLog = dir.resolve("job_logs.jsonl")
  val checkpoint = dir.resolve("checkpoint")

  /** Stored bytes over landed CSV bytes. */
  def storedRatio: Double =
    Seq(rawSink, clean, warehouse, aggregate, mart).map(Fs.bytes).sum.toDouble /
      Fs.bytes(raw)

  def martRows(spark: SparkSession): Map[(String, String), (Long, Long)] =
    spark.read.parquet(mart.toString).collect().map { r =>
      (r.getAs[Any]("event_date").toString, r.getAs[String]("origin_country")) ->
        (r.getAs[Long]("n_aircraft"), r.getAs[Long]("n_states"))
    }.toMap

  def warehouseRowsByFile(spark: SparkSession): Map[String, Long] =
    spark.read.parquet(warehouse.toString).groupBy("file_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
}

/** Shared mechanics of the two pipeline workloads. */
abstract class PipelineWorkload(c: Ctx) extends Workload {
  /** Inputs start at this instant; timestamps are a pure function of the
    * extract index. */
  val T0: Instant = Instant.parse("2025-11-20T00:00:00Z")
  protected val gen = new Gen(c.seed, c.fixtures)
  protected val inputs: Path = c.work.resolve("inputs")
  protected var spark: SparkSession = _
  /** The stores the pipeline calls write to. */
  protected var stores: Stores = _
  var tracer: Option[Tracer] = None

  protected def useStores(name: String): Stores = {
    stores = new Stores(c.work.resolve(name))
    stores
  }

  /** Starts the operational mains' session. */
  protected def start(): Unit = {
    spark = graft.Mains.session()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = if (c.trace) Some(new Tracer(spark, c.seed.toString)) else None
  }

  override def discard(): Unit = {
    tracer.foreach(_.detach())
    spark.stop()
    Fs.delete(stores.dir)
  }

  override def close(): Unit = spark.stop()

  /** The first round after warm-up runs slower than the rest, so a
    * median needs at least three. */
  override def minRounds: Int = 3

  protected def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  protected def spanWith[T](name: String)(body: => T)(attrs: (T, Span) => Unit): T =
    tracer.fold(body)(_.spanWith(name)(body)(attrs))

  protected def dateOf(e: Extract): Seq[String] = e.rows.collect {
    case r if r(3).isInstanceOf[Num] =>
      Instant.ofEpochSecond(r(3).asInstanceOf[Num].token.toLong)
        .atZone(ZoneOffset.UTC).toLocalDate.toString
  }.distinct

  /** Warehouse → aggregate over [from, to] → mart, as the aggregate and
    * mart mains run them. Returns (aggregate rows, mart rows). */
  protected def aggregateAndMart(from: String, to: String): (Long, Long) = {
    val agg = spanWith("etl.warehouse.aggregate")(WarehouseBuild.aggregate(
      spark, stores.warehouse.toString, stores.aggregate.toString, from, to))(
      (n, s) => s.attrs("rows") = n.toDouble)
    val mart = spanWith("etl.warehouse.mart")(WarehouseBuild.loadMart(
      spark, stores.aggregate.toString, stores.mart.toString))(
      (n, s) => s.attrs("rows") = n.toDouble)
    (agg, mart)
  }

  protected def loadWarehouse(clean: DataFrame): Unit =
    span("etl.warehouse.load")(WarehouseBuild.load(clean, stores.warehouse.toString))

  protected def checkMart(tally: Tally, what: String): Unit = {
    val got = stores.martRows(spark)
    val want = tally.result
    val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    c.check(bad.isEmpty, s"$what: mart differs from the tally on ${bad.size} " +
      s"(date, country) keys, e.g. ${bad.take(3).map(k => s"$k ${got.get(k)} vs ${want.get(k)}")}")
  }

  /** Layer metrics shared by both pipeline workloads, per traced round. */
  override def layers(t: Tracer, n: Int): Map[String, Double] = {
    def named(p: String => Boolean) = t.spans.filter(s => p(s.name)).toSeq
    def sumMs(ss: Seq[Span]) = ss.map(_.ms).sum
    def work(ss: Seq[Span]) = { val w = new Work; ss.foreach(s => w += t.workUnder(s)); w }
    def per(v: Double) = v / n
    val extract = named(_ == "extract.run")
    val staging = named(_ == "etl.staging.runOnce")
    val ledger = named(_.startsWith("etl.ledger."))
    val wh = named(_.startsWith("etl.warehouse."))
    val drain = named(_ == "streaming.drain")
    val stagingFiles = staging.map(_.attrs.getOrElse("files", 0.0)).sum
    val sw = work(staging); val ww = work(wh); val dw = work(drain)
    def whMs(k: String) = sumMs(named(_ == s"etl.warehouse.$k"))
    val aggRows = named(_ == "etl.warehouse.aggregate").map(_.attrs("rows")).sum
    val martRows = named(_ == "etl.warehouse.mart").map(_.attrs("rows")).sum
    def attr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    Map[String, Double](
      "extract.calls" -> per(extract.size),
      "extract.ms" -> per(sumMs(extract)),
      "extract.rows" -> per(attr(extract, "rows")),
      "extract.joblog_ms" -> per(sumMs(named(_.startsWith("extract.joblog.")))),
      "etl.staging.ms" -> per(sumMs(staging)),
      "etl.staging.files" -> per(stagingFiles),
      "etl.staging.ms_per_file" -> (if (stagingFiles > 0) sumMs(staging) / stagingFiles else 0.0),
      "etl.staging.jobs" -> per(sw.jobs),
      "etl.staging.tasks" -> per(sw.tasks),
      "etl.staging.task_cpu_ms" -> per(sw.taskCpuMs),
      "etl.staging.idle_ms" -> per(staging.map(t.idleMs).sum),
      "etl.staging.bytes_written" -> per(sw.bytesWritten),
      "etl.ledger.calls" -> per(ledger.size),
      "etl.ledger.ms" -> per(sumMs(ledger)),
      "etl.ledger.bytes" -> (if (Files.exists(stores.ledger)) Files.size(stores.ledger).toDouble else 0.0),
      "etl.warehouse.load_ms" -> per(whMs("load")),
      "etl.warehouse.aggregate_ms" -> per(whMs("aggregate")),
      "etl.warehouse.mart_ms" -> per(whMs("mart")),
      "etl.warehouse.jobs" -> per(ww.jobs),
      "etl.warehouse.task_cpu_ms" -> per(ww.taskCpuMs),
      "etl.warehouse.idle_ms" -> per(wh.map(t.idleMs).sum),
      "etl.warehouse.files" -> Fs.dataFiles(stores.warehouse).size.toDouble,
      "etl.warehouse.files_scanned" -> per(ww.filesScanned),
      "etl.warehouse.mart_rewrite_ratio" -> (if (aggRows > 0) martRows / aggRows else 0.0),
      "etl.stored_bytes_ratio" -> stores.storedRatio,
      "streaming.drain.ms" -> per(sumMs(drain)),
      "streaming.drain.batches" -> per(attr(drain, "batches")),
      "streaming.drain.rows" -> per(attr(drain, "rows")),
      "streaming.drain.add_batch_ms" -> per(attr(drain, "addBatch")),
      "streaming.drain.offset_ms" -> per(attr(drain, "offset")),
      "streaming.drain.commit_ms" -> per(attr(drain, "commit")),
      "streaming.drain.tasks" -> per(dw.tasks),
      "streaming.drain.task_cpu_ms" -> per(dw.taskCpuMs),
      "streaming.drain.bytes_written" -> per(dw.bytesWritten))
  }

}

/** `ticks_hourly`: the diagram's steady hourly cadence over two days of
  * history. Each tick replays six 10-minute extracts, stages them,
  * loads them into the warehouse, aggregates the dates they touch and
  * reloads the mart. */
final class TicksHourly(c: Ctx) extends PipelineWorkload(c) {
  val HistoryFiles = 2 * 144
  val PerTick = 6
  /** Warm-up ticks in set-up. A session's first ticks run well above its
    * steady speed; from the fourth on they hold it. */
  val WarmTicks = 3

  /** A tick is shorter than a drain, so a run's median takes four. */
  override def minRounds: Int = 4
  private val history = inputs.resolve("history")
  private var historyFiles: Seq[(String, Long)] = Nil
  private val historyTally = new Tally
  private var historyDates: Seq[String] = Nil
  private var historyRows: Array[Array[String]] = _
  private var tally: Tally = _
  private var ticks = 0
  private var lastDates: Seq[String] = Nil
  private var control: JobControl = _
  private var pipeline: StagingPipeline = _
  private var ledgerStore: ControlStore = _
  private val extracted = mutable.Map.empty[String, Long]

  override def generate(): Unit = {
    val dates = mutable.SortedSet.empty[String]
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    historyFiles = (0 until HistoryFiles).map { i =>
      val e = gen.extract("history", i, T0.minusSeconds((HistoryFiles - i) * 600L), Gen.Job)
      e.write(history)
      historyTally.add(e)
      dates ++= dateOf(e)
      rows ++= e.rows.map(r => (r.map(Gen.csvCell) :+ e.name).toArray)
      e.name -> e.rows.size.toLong
    }
    historyDates = dates.toSeq
    historyRows = rows.toArray
  }

  /** `StagingPipeline.cleanStaged`'s reader, over the given exports only. */
  private def readClean(paths: Seq[Path]): DataFrame =
    spark.read.option("header", "true")
      .option("timestampFormat", StagingPipeline.CsvTsFormat)
      .schema(FlightStates.cleanSchema)
      .csv(paths.map(_.toString): _*)

  override def setup(): Double = {
    Fs.land(history, useStores("ticks").raw, historyFiles.map(_._1))
    val t0 = System.nanoTime()
    start()
    val plainStore = new JsonlControlStore(stores.ledger.toString)
    ledgerStore = tracer.fold[ControlStore](plainStore)(new TimedControlStore(plainStore, _))
    val plainControl = new JsonlJobControl(stores.jobLog.toString,
      config = Map("opensky_token_url" -> "http://localhost/token"),
      jobs = Map(Gen.Job -> Map(
        "client_id" -> "bench", "client_secret" -> "bench",
        "base_url" -> "http://localhost", "endpoint" -> "/api/states/all",
        "lamin" -> "45.8", "lomin" -> "5.9", "lamax" -> "55.1", "lomax" -> "17.2",
        "output_path" -> stores.raw.toString)))
    control = tracer.fold[JobControl](plainControl)(new TimedJobControl(plainControl, _))
    pipeline = new StagingPipeline(spark, stores.raw.toString,
      stores.rawSink.toString, stores.clean.toString, ledgerStore)

    // Seed: the history is registered in the ledger as exported and its
    // rows, as landed, go through the staging kernel straight into the
    // warehouse, aggregate and mart; only the ticks' files pass through
    // the raw sink and clean output.
    plainStore.register(historyFiles.map(_._1))
    historyFiles.foreach { case (n, rows) =>
      plainStore.update(n, FileStatus.CleanExported, rowCount = rows)
    }
    val landed = spark.createDataFrame(
      spark.sparkContext.parallelize(historyRows.toSeq.map(r => Row.fromSeq(r.toSeq)), 8),
      FlightStates.rawSchema.add("file_source", StringType))
      .withColumn("load_timestamp", current_timestamp())
    WarehouseBuild.load(FlightStates.transform(landed), stores.warehouse.toString)
    aggregateAndMart(historyDates.head, historyDates.last)

    tally = historyTally.copy()
    ticks = 0
    extracted.clear()
    (1 to WarmTicks).foreach(_ => tick())
    (System.nanoTime() - t0) / 1e9
  }

  override def setupReps: Int = 1

  override def beforeMeasure(): Unit = historyRows = null

  /** One hourly tick; returns its latency in seconds. */
  private def tick(): Double = {
    val exts = (0 until PerTick).map { j =>
      val k = ticks * PerTick + j
      gen.extract("tick", k, T0.plusSeconds(k * 600L), Gen.Job)
    }
    ticks += 1
    val dates = exts.flatMap(dateOf).distinct.sorted
    lastDates = dates
    val t0 = System.nanoTime()
    c.attempt(s"tick $ticks") {
      span("tick") {
        exts.foreach { e =>
          val res = spanWith("extract.run")(ExtractJob.run(Gen.Job, control,
            new ReplayHttp(e.payload), Clock.fixed(e.at, ZoneOffset.UTC)))(
            (r, s) => s.attrs("rows") = r.rows.toDouble)
          c.check(res.status == "COMPLETED" && res.rows == e.rows.size,
            s"extract ${e.name}: ${res.status} rows ${res.rows} != ${e.rows.size}")
          extracted(e.name) = res.rows
        }
        val sum = spanWith("etl.staging.runOnce")(pipeline.runOnce())(
          (r, s) => s.attrs("files") = r.processed.size.toDouble)
        c.check(sum.failed.isEmpty && sum.processed.sorted == exts.map(_.name).sorted,
          s"tick $ticks staged ${sum.processed} failed ${sum.failed}")
        loadWarehouse(readClean(exts.map(e => stores.clean.resolve(s"clean_${e.name}"))))
        aggregateAndMart(dates.head, dates.last)
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    exts.foreach(tally.add)
    s
  }

  override def round(): Seq[Double] = Seq(tick())

  override def check(): Unit = {
    // rows conserved: extracted = ledger row_count = warehouse rows
    val ledger = ledgerStore.all()
    val wh = stores.warehouseRowsByFile(spark)
    (historyFiles ++ extracted.toSeq).foreach { case (n, rows) =>
      val rec = ledger.get(n)
      c.check(rec.exists(r => r.status == FileStatus.CleanExported && r.rowCount == rows),
        s"ledger $n: $rec, extracted $rows")
      c.check(wh.get(n).contains(rows), s"warehouse $n: ${wh.get(n)} rows, extracted $rows")
    }
    c.check(wh.size == historyFiles.size + extracted.size,
      s"warehouse holds ${wh.size} files, landed ${historyFiles.size + extracted.size}")
    checkMart(tally, "ticks")

    // a tick with no new files adds nothing and leaves the mart unchanged
    c.attempt("idle tick") {
      val sum = pipeline.runOnce()
      c.check(sum.registered == 0 && sum.processed.isEmpty,
        s"idle tick staged ${sum.processed}")
      aggregateAndMart(lastDates.head, lastDates.last)
    }
    c.check(stores.warehouseRowsByFile(spark) == wh, "idle tick changed the warehouse")
    checkMart(tally, "idle tick")
  }
}

/** `backfill_bulk`: a two-week backlog drained in one
  * `Trigger.AvailableNow` run of the streaming stage, then loaded
  * through the warehouse, aggregated over all dates, and loaded into
  * the mart. Each round drains the same backlog into fresh stores. */
final class BackfillBulk(c: Ctx) extends PipelineWorkload(c) {
  val BacklogFiles = 140
  private val backlog = inputs.resolve("backlog")
  private var files: Seq[(String, Long)] = Nil
  private val tally = new Tally
  private var dates: Seq[String] = Nil
  private var cycles = 0
  private var lastQuery: org.apache.spark.sql.streaming.StreamingQuery = _

  override def generate(): Unit = {
    val step = 14L * 86400 / BacklogFiles
    val ds = mutable.SortedSet.empty[String]
    files = (0 until BacklogFiles).map { i =>
      val e = gen.extract("backlog", i, T0.plusSeconds(i * step), Gen.Job)
      e.write(backlog)
      tally.add(e)
      ds ++= dateOf(e)
      e.name -> e.rows.size.toLong
    }
    dates = ds.toSeq
  }

  /** Drains the landed files through to the mart. */
  private def cycle(): Unit = {
    val s = stores
    val q = spanWith("streaming.drain")(graft.streaming.FlightStream.stageAvailableNow(
      spark, s.raw.toString, s.rawSink.toString, s.clean.toString,
      s.checkpoint.toString)) { (q, sp) =>
      val ps = q.recentProgress
      def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum
      sp.attrs("batches") = ps.count(_.numInputRows > 0).toDouble
      sp.attrs("rows") = ps.map(_.numInputRows).sum.toDouble
      sp.attrs("addBatch") = d("addBatch").toDouble
      sp.attrs("offset") = (d("latestOffset") + d("walCommit")).toDouble
      sp.attrs("commit") = d("commitOffsets").toDouble
    }
    lastQuery = q
    loadWarehouse(spark.read.parquet(s.clean.toString).drop("batch_id"))
    aggregateAndMart(dates.head, dates.last)
  }

  override def setupReps: Int = 1

  /** Lands the backlog in fresh stores, dropping the previous ones. */
  private def freshStores(name: String): Unit = {
    val previous = Option(stores)
    Fs.land(backlog, useStores(name).raw, files.map(_._1))
    previous.foreach(p => Fs.delete(p.dir))
  }

  /** Session start and a warm-up drain of the whole backlog. */
  override def setup(): Double = {
    freshStores("warmup")
    val t0 = System.nanoTime()
    start()
    c.attempt("warm-up drain")(cycle())
    (System.nanoTime() - t0) / 1e9
  }

  override def round(): Seq[Double] = {
    cycles += 1
    freshStores(s"cycle-$cycles")
    val t0 = System.nanoTime()
    c.attempt(s"cycle $cycles")(span("backfill")(cycle()))
    Seq((System.nanoTime() - t0) / 1e9)
  }

  override def check(): Unit = {
    val s = stores
    val rows = files.map(_._2).sum
    val drained = lastQuery.recentProgress.map(_.numInputRows).sum
    val clean = spark.read.parquet(s.clean.toString).count()
    c.check(drained == rows && clean == rows,
      s"drained $drained rows, clean sink holds $clean, landed $rows")
    val wh = s.warehouseRowsByFile(spark)
    c.check(wh == files.toMap, s"warehouse rows by file differ from landed rows")
    checkMart(tally, "backfill")

    // a second drain on the same checkpoint adds nothing
    c.attempt("second drain") {
      val q = graft.streaming.FlightStream.stageAvailableNow(spark, s.raw.toString,
        s.rawSink.toString, s.clean.toString, s.checkpoint.toString)
      c.check(q.recentProgress.map(_.numInputRows).sum == 0, "second drain read rows")
      aggregateAndMart(dates.head, dates.last)
    }
    c.check(spark.read.parquet(s.clean.toString).count() == rows,
      "second drain changed the clean sink")
    checkMart(tally, "second drain")
  }
}
