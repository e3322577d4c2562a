package graft.etl

import graft.SparkTestBase
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** End-to-end staging runs over real fixture extracts: state machine,
  * raw-first ordering, row-count accounting, failure isolation, retry,
  * and the concurrent staging window's thread contract. */
class StagingPipelineSpec extends SparkTestBase {

  private final class Dirs(val rawDir: String, val rawSink: String,
      val cleanDir: String, val ledger: JsonlControlStore) {
    def pipeline(store: ControlStore = ledger): StagingPipeline =
      new StagingPipeline(spark, rawDir, rawSink, cleanDir, store)
  }

  private def dirs(copy: Int): Dirs = {
    val rawDir = tmpDir("raw")
    val fixtures = Files.list(Paths.get(fixturesDir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".csv")).sortBy(_.getFileName.toString)
    fixtures.take(copy).foreach { f =>
      Files.copy(f, Paths.get(rawDir, f.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // a non-matching name the discovery predicate must skip (F5)
    Files.writeString(Paths.get(rawDir, "notes.txt"), "not a states file")
    Files.writeString(Paths.get(rawDir, "other_states.csv"), "wrong,prefix")
    new Dirs(rawDir, tmpDir("rawsink"), tmpDir("clean"),
      new JsonlControlStore(s"${tmpDir("ledger")}/file_log.jsonl"))
  }

  private def setup(copy: Int = 2): (StagingPipeline, JsonlControlStore, String) = {
    val d = dirs(copy)
    (d.pipeline(), d.ledger, d.rawDir)
  }

  /** Records the thread of every ledger call. */
  private final class ThreadRecordingStore(inner: ControlStore) extends ControlStore {
    val threads: java.util.Set[Thread] = ConcurrentHashMap.newKeySet[Thread]()
    private def on[A](a: => A): A = { threads.add(Thread.currentThread()); a }
    def register(fileNames: Seq[String]): Unit = on(inner.register(fileNames))
    def update(fileName: String, status: FileStatus, rowCount: Long,
        error: Option[String]): Unit =
      on(inner.update(fileName, status, rowCount, error))
    def processedNames(): Set[String] = on(inner.processedNames())
    def newFiles(): Seq[String] = on(inner.newFiles())
    def all(): Map[String, FileRecord] = on(inner.all())
  }

  private def listNames(dir: String): Set[String] =
    new java.io.File(dir).list().toSet

  test("runOnce processes exactly the states_*.csv files and books row counts") {
    val (p, ledger, _) = setup(copy = 2)
    val s = p.runOnce()
    assert(s.discovered === 2) // notes.txt / other_states.csv excluded
    assert(s.registered === 2)
    assert(s.failed === Seq.empty)
    assert(s.processed.size === 2)
    val recs = ledger.all()
    assert(recs.values.forall(_.status === FileStatus.CleanExported))
    // ledger row counts equal the actual cleaned rows per file
    val perFile = p.cleanStaged().groupBy("file_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    recs.foreach { case (name, r) => assert(perFile(name) === r.rowCount) }
  }

  test("second runOnce is a no-op (ledger-driven incrementality)") {
    val (p, _, _) = setup(copy = 1)
    assert(p.runOnce().processed.size === 1)
    val again = p.runOnce()
    assert(again.registered === 0)
    assert(again.processed === Seq.empty)
    assert(again.failed === Seq.empty)
  }

  test("raw lands string-typed with audit before cleaning; stamps match clean") {
    val (p, _, _) = setup(copy = 1)
    p.runOnce()
    val raw = p.rawStaged()
    // raw sink preserves the untyped source (strings) + audit columns
    assert(raw.schema("on_ground").dataType.typeName === "string")
    assert(raw.columns.contains("load_timestamp"))
    // driver-pinned stamp: raw and clean share the same load_timestamp set
    val rawTs = raw.select("load_timestamp").distinct().collect().toSet
    val cleanTs = p.cleanStaged().select("load_timestamp").distinct().collect().toSet
    assert(rawTs === cleanTs && rawTs.size === 1)
  }

  test("failure isolation: a vanished file fails alone; retryFailed re-queues it") {
    val (p, ledger, _) = setup(copy = 1)
    // registered by an earlier tick, then vanished before processing
    val ghost = "states_ghost.csv"
    ledger.register(Seq(ghost))
    val s = p.runOnce()
    assert(s.failed === Seq(ghost))
    assert(s.processed.size === 1) // the healthy file still went through
    val rec = ledger.all()(ghost)
    assert(rec.status === FileStatus.Failed)
    assert(rec.errorMessage.nonEmpty)
    // retry path: FAILED → NEW, appears in the next work list
    assert(p.retryFailed() === Seq(ghost))
    assert(ledger.newFiles() === Seq(ghost))
  }

  test("retry after a post-raw-write failure does not duplicate raw or clean rows") {
    val rawDir = tmpDir("raw")
    val fixture = Files.list(Paths.get(fixturesDir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".csv"))
      .minBy(_.getFileName.toString)
    val name = fixture.getFileName.toString
    Files.copy(fixture, Paths.get(rawDir, name))
    val ledger = new JsonlControlStore(s"${tmpDir("ledger")}/file_log.jsonl")
    val rawSink = tmpDir("rawsink")

    // inject a failure AFTER the raw write: the clean "directory" is a
    // plain file, so the raw parquet stages but the CSV export throws
    val brokenCleanDir = Paths.get(tmpDir("cleanparent"), "cleanfile")
    Files.writeString(brokenCleanDir, "not a directory")
    val p1 = new StagingPipeline(spark, rawDir, rawSink,
      brokenCleanDir.toString, ledger)
    val s1 = p1.runOnce()
    assert(s1.failed === Seq(name))
    assert(ledger.all()(name).status === FileStatus.Failed)
    val rawRowsAfterFailure = p1.rawStaged().count()
    assert(rawRowsAfterFailure > 0) // raw-first: rows staged before the crash

    // operator fixes the config; next tick retries: raw must be
    // REPLACED, not appended
    val p2 = new StagingPipeline(spark, rawDir, rawSink, tmpDir("clean"), ledger)
    assert(p2.retryFailed() === Seq(name))
    val s2 = p2.runOnce()
    assert(s2.processed === Seq(name) && s2.failed.isEmpty)
    assert(p2.rawStaged().count() === rawRowsAfterFailure,
      "retry duplicated the raw staging rows")
    val rec = ledger.all()(name)
    assert(rec.status === FileStatus.CleanExported)
    assert(rec.rowCount === p2.cleanStaged().count())
  }

  test("reclaimProcessing re-queues crash-stranded files; a re-run completes them") {
    val (p, ledger, _) = setup(copy = 2)
    p.runOnce()
    val names = ledger.all().keys.toSeq.sorted
    // simulate a driver killed mid-file: force one back to PROCESSING
    ledger.update(names.head, FileStatus.Processing)
    assert(p.runOnce().processed.isEmpty, "PROCESSING is invisible to runOnce")
    assert(p.retryFailed().isEmpty, "and to retryFailed")
    assert(p.reclaimProcessing() === Seq(names.head))
    val again = p.runOnce()
    assert(again.processed === Seq(names.head),
      "the reclaimed file re-processes to completion")
    assert(ledger.all()(names.head).status === FileStatus.CleanExported)
  }

  test("staging runs two jobs per file: the raw write and the clean write") {
    val (p, _, _) = setup(copy = 2)
    val (s, jobs) = countingJobs(p.runOnce())
    assert(s.processed.size === 2)
    assert(jobs.started === 2 * s.processed.size)
  }

  test("more files than defaultParallelism: a vanished file fails alone, the rest complete") {
    val d = dirs(copy = 6)
    val healthy = listNames(d.rawDir).filter(_.startsWith("states_")).toSeq.sorted
    assert(healthy.size > spark.sparkContext.defaultParallelism)
    // registered by an earlier tick, then vanished; sorts mid-list
    val ghost = healthy(2).stripSuffix(".csv") + "_ghost.csv"
    d.ledger.register(Seq(ghost))
    assert((healthy :+ ghost).sorted.indexOf(ghost) === 3)
    val s = d.pipeline().runOnce()
    assert(s.failed === Seq(ghost))
    assert(s.processed === healthy)
    val recs = d.ledger.all()
    assert(recs(ghost).status === FileStatus.Failed)
    assert(!recs.values.exists(_.status == FileStatus.Processing))
    val perFile = d.pipeline().cleanStaged().groupBy("file_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    healthy.foreach { n =>
      assert(recs(n).status === FileStatus.CleanExported)
      assert(recs(n).rowCount === perFile(n))
    }
    assert(listNames(d.rawSink) === healthy.toSet)
    assert(listNames(d.cleanDir) === healthy.map("clean_" + _).toSet)
  }

  test("ledger calls stay on the calling thread; workers inherit its local properties") {
    val d = dirs(copy = 6)
    val calls = new ThreadRecordingStore(d.ledger)
    val (s, jobs) = countingJobs(d.pipeline(calls).runOnce())
    assert(s.processed.size === 6 && s.failed.isEmpty)
    assert(calls.threads.asScala.toSet === Set(Thread.currentThread()))
    // two jobs per file (pinned above), every one carrying the caller's tag
    assert(jobs.started === 2 * s.processed.size)
    assert(jobs.peak <= spark.sparkContext.defaultParallelism)
    val workers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(StagingPipeline.WorkerPrefix))
    assert(workers.isEmpty, s"staging workers outlived runOnce: $workers")
  }
}
