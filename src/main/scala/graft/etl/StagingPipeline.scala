package graft.etl

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException,
  ExecutorCompletionService, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Try

/** Batch staging stage — the reference's `load_warehouse.py` E2 loop
  * (SURVEY.md §3/E2), Spark-first.
  *
  * Per run: discover `states_*.csv` in the raw dir (S7/F5), diff against
  * the ledger (SET1), register new names idempotently (K7), then process
  * each NEW file through the per-file state machine
  * NEW→PROCESSING→CLEAN_EXPORTED|FAILED (K6) with per-file failure
  * isolation (`load_warehouse.py:196-207`).
  *
  * Ordering guarantee preserved from the reference: RAW rows (plus audit
  * columns) land in the raw staging sink BEFORE cleaning
  * (`load_warehouse.py:151` precedes `:153`) — raw preservation survives
  * transform bugs.
  *
  * Scale: up to `width = min(NEW files, defaultParallelism)` files are
  * staged at once, each by its own Spark jobs (Spark splits big files
  * across executors automatically — the reference's 100k-row pandas
  * chunking, S8, is subsumed by file-split partitioning and has no
  * user-visible semantics). A tick's files are small, so one file at a
  * time leaves the cluster idle between single-task jobs; running
  * `width` of them overlaps that per-job latency. Every ledger call
  * stays on the thread that called [[runOnce]]: worker threads only run
  * Spark work and hand back a row count, so the ledger is used one call
  * at a time, as `JsonlLedgerFile`'s single-writer contract and
  * `JdbcControlStore`'s connection per call expect. The ledger holds one
  * row per FILE, so driver-side control state stays O(files), never
  * O(rows). For exactly-once semantics without an explicit ledger, see
  * [[graft.streaming.FlightStream]] — the checkpointed streaming variant.
  */
final class StagingPipeline(
    spark: SparkSession,
    rawDir: String,
    rawSinkDir: String,
    cleanDir: String,
    ledger: ControlStore) {

  import StagingPipeline.RunSummary

  /** S7+F5: driver-side listing, like the reference's `os.listdir` —
    * file *names*, not data, so this is control-plane work. */
  private def discover(): Seq[String] = {
    // Path.getFileSystem, not FileSystem.get(new URI(...)): a raw dir
    // containing URI-illegal characters (spaces) is a legal PATH that
    // the URI constructor rejects
    val p = new HPath(rawDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("states_") && n.endsWith(".csv"))
      .sorted
  }

  /** One incremental run (the reference's hourly cron tick). */
  def runOnce(): RunSummary = {
    val discovered = discover()
    // SET1: discovered minus already-known, then K7 idempotent register.
    val known = ledger.all().keySet
    val fresh = discovered.filterNot(known)
    ledger.register(fresh)

    val work = ledger.newFiles()
    val (ok, bad) = work.partition(stageAll(work))
    RunSummary(discovered.size, fresh.size, ok, bad)
  }

  /** Stages `work` through a sliding window of `width` files and returns
    * the names that reached CLEAN_EXPORTED. The caller marks a file
    * PROCESSING as it submits it, so PROCESSING keeps meaning "in
    * flight" (a crash strands at most `width` files, which
    * [[reclaimProcessing]] recovers), and books each terminal state as
    * the file completes. A NonFatal error fails only its own file; a
    * fatal error or an interrupt stops the window and is rethrown. The
    * pool lives for one run and its threads are created here, on the
    * caller's thread, so they inherit its Spark local properties (job
    * group, scheduler pool, description); they have all exited when this
    * returns. */
  private def stageAll(work: Seq[String]): Set[String] = {
    val width = math.min(work.size, spark.sparkContext.defaultParallelism)
    if (width == 0) return Set.empty
    val workers = new ConcurrentLinkedQueue[Thread]()
    val pool = new ThreadPoolExecutor(width, width, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, s"${StagingPipeline.WorkerPrefix}${workers.size}")
        t.setDaemon(true)
        workers.add(t)
        t
      })
    pool.prestartAllCoreThreads()
    val done = new ExecutorCompletionService[(String, Try[Long])](pool)
    val pending = work.iterator
    def submitNext(): Unit = {
      val fileName = pending.next()
      ledger.update(fileName, FileStatus.Processing)
      // Try catches NonFatal only: OOM/thread death fails the future
      // and is rethrown below, not booked as a FAILED file.
      done.submit(() => fileName -> Try(processOne(fileName)))
    }
    try {
      (1 to width).foreach(_ => submitNext())
      work.flatMap { _ =>
        val (fileName, rows) =
          try done.take().get()
          catch { case e: ExecutionException => throw e.getCause }
        // NonFatal: a corrupt file must not take the run down (reference
        // semantics, `load_warehouse.py:196-207`).
        val booked = rows.map(n =>
          ledger.update(fileName, FileStatus.CleanExported, rowCount = n))
        booked.failed.foreach(e => ledger.update(fileName, FileStatus.Failed,
          error = Some(String.valueOf(e.getMessage))))
        if (pending.hasNext) submitNext()
        booked.toOption.map(_ => fileName)
      }.toSet
    } finally {
      pool.shutdownNow()
      workers.forEach(_.join())
    }
  }

  /** Re-queue FAILED files as NEW so the next `runOnce` retries them —
    * closes the reference's no-retry gap (a FAILED file is never
    * re-processed because the work list only selects status='NEW';
    * SURVEY §3/E2). Explicit, not automatic: retry policy is the
    * operator's call, exactly like re-running a failed cron tick. */
  def retryFailed(): Seq[String] = requeue(FileStatus.Failed)

  /** Re-queue PROCESSING files as NEW — CRASH recovery: a driver
    * killed between the Processing mark and the terminal update
    * leaves its file in PROCESSING forever (no selector ever re-reads
    * that status — `newFiles` takes NEW, [[retryFailed]] takes
    * FAILED), silently dropping the file's data. Explicit like
    * [[retryFailed]], and only safe once no run is live; re-processing
    * is idempotent (both sinks overwrite per file). A run has at most
    * `width` files (see the class doc) in PROCESSING at any moment, so a
    * crash strands at most that many. */
  def reclaimProcessing(): Seq[String] = requeue(FileStatus.Processing)

  /** Re-queue every `from` file as NEW, in name order; returns them. */
  private def requeue(from: FileStatus): Seq[String] = {
    val names = ledger.all().collect {
      case (n, r) if r.status == from => n
    }.toSeq.sorted
    names.foreach(ledger.update(_, FileStatus.New))
    names
  }

  /** Per-file unit (`process_single_file`, `load_warehouse.py:131-161`):
    * raw-first dual sink and row-count accounting; returns the file's
    * clean row count. Runs on a staging worker thread, up to `width` at
    * once, and never touches the ledger — [[stageAll]] books the
    * outcome on the calling thread.
    *
    * One pass per representation (round-1 verdict fix): the source CSV is
    * parsed ONCE into the raw parquet sink (its own subdirectory, so the
    * clean stage prunes to exactly this file's rows); the clean export
    * re-reads the cheap columnar raw copy with the schema it was written
    * with (no footer-inference job), and the ledger row count comes
    * from an `Observation` on the clean write — no separate `count()`
    * job. Two jobs per file. The load timestamp is driver-pinned per
    * file, so raw and clean carry the SAME stamp (reference: one
    * `datetime.now()` per chunk). */
  private def processOne(fileName: String): Long = {
    val loadTs = java.sql.Timestamp.from(java.time.Instant.now())
    val raw = FlightStates.withAudit(
      FlightStates.readRaw(spark, s"$rawDir/$fileName"), fileName, loadTs)
    // K2: raw (untransformed, string-typed) + audit staged FIRST.
    // Overwrite, not append: the sink subdirectory belongs to exactly
    // this input file, and a retry after a post-raw-write failure
    // (see retryFailed) must replace — not duplicate — its rows.
    raw.write.mode("overwrite").parquet(s"$rawSinkDir/$fileName")
    // T1–T4/P1–P4 → K3: clean export from the staged raw copy, one
    // output per input file; row count observed during the write.
    val obs = org.apache.spark.sql.Observation()
    val clean = FlightStates
      .transform(spark.read.schema(raw.schema).parquet(s"$rawSinkDir/$fileName"))
      .observe(obs, count(lit(1)).as("rows"))
    clean.write.mode("overwrite").option("header", "true")
      // microsecond format: the CSV default keeps only milliseconds,
      // which would desync the driver-pinned load_timestamp between
      // the parquet raw sink (micros) and this export
      .option("timestampFormat", CsvTsFormat)
      .csv(s"$cleanDir/clean_$fileName")
    obs.get("rows").asInstanceOf[Long]
  }

  /** The staged raw table (the reference's `db_staging.raw_flight_states`
    * analog), for downstream warehouse builds. Per-file subdirectories →
    * recursive lookup. */
  def rawStaged(): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(rawSinkDir)

  /** All clean exports, re-read as the typed 19-column layout. */
  def cleanStaged(): DataFrame =
    spark.read.option("header", "true")
      .option("timestampFormat", CsvTsFormat)
      .schema(FlightStates.cleanSchema)
      .csv(s"$cleanDir/clean_*")

  private def CsvTsFormat = StagingPipeline.CsvTsFormat
}

object StagingPipeline {
  /** Clean-CSV timestamp format with microseconds (lossless round-trip
    * of TimestampType, like pandas `to_csv`). */
  val CsvTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Name prefix of the per-run staging worker threads. */
  val WorkerPrefix = "staging-worker-"

  final case class RunSummary(discovered: Int, registered: Int,
      processed: Seq[String], failed: Seq[String])
}
