package graft.etl

import java.time.Instant

/** The reference's control plane — job ledger + file ledger — kept
  * deliberately OFF the data plane, mirroring the reference where these
  * are driver-side SQL against Postgres `db_control` (SURVEY.md §1.3):
  * `job_logs` (K4/K5, `extract_script.py:157-189`) and `file_log`
  * (K6/K7, `load_warehouse.py:93-129`). Control state is tiny (one row
  * per file/job-run), so it must NOT be a distributed dataset — a
  * driver-side store is the idiomatic Spark shape, exactly as the
  * reference uses plain psycopg2, not pandas.
  *
  * Two implementations:
  *   - [[JsonlControlStore]]: append-only JSONL on any local/shared fs;
  *     latest record per key wins (the append IS the UPDATE, K5/K6).
  *     Crash-safe by construction; used by tests and local runs.
  *   - [[JdbcControlStore]]: the reference-faithful variant for a real
  *     Postgres `db_control`, using `INSERT ... ON CONFLICT DO NOTHING`
  *     for idempotent registration (K7) — semantics Spark's JDBC writer
  *     cannot express (SURVEY §2.2).
  */
sealed trait FileStatus { def name: String }
object FileStatus {
  case object New extends FileStatus { val name = "NEW" }
  case object Processing extends FileStatus { val name = "PROCESSING" }
  case object CleanExported extends FileStatus { val name = "CLEAN_EXPORTED" }
  case object Failed extends FileStatus { val name = "FAILED" }
  val All: Seq[FileStatus] = Seq(New, Processing, CleanExported, Failed)
  def parse(s: String): FileStatus =
    All.find(_.name == s).getOrElse(sys.error(s"unknown status $s"))
}

final case class FileRecord(
    fileName: String,
    status: FileStatus,
    rowCount: Long,
    errorMessage: Option[String],
    lastUpdated: Instant)

trait ControlStore {
  /** K7: idempotent registration — already-known names are no-ops
    * (`ON CONFLICT (file_name) DO NOTHING`, `load_warehouse.py:104-115`). */
  def register(fileNames: Seq[String]): Unit
  /** K6: state-machine transition (`load_warehouse.py:117-129`). */
  def update(fileName: String, status: FileStatus, rowCount: Long = 0L,
      error: Option[String] = None): Unit
  /** S5: names with status != NEW (`load_warehouse.py:93-102`). */
  def processedNames(): Set[String]
  /** S6: the work list (`load_warehouse.py:190-192`). */
  def newFiles(): Seq[String]
  def all(): Map[String, FileRecord]
}

/** Append-only JSONL file ledger; last record per file_name wins.
  * The line format and its file mechanics (heal-before-append in-place
  * truncation, torn-final-line-forgiving reads, single-process
  * contract) live in the shared [[JsonlLedgerFile]]; its real JSON
  * parser is why a hostile file name (say one holding `","status":`)
  * stays inside its string value and cannot corrupt reads. */
final class JsonlControlStore(path: String) extends ControlStore {
  private val ledger = new JsonlLedgerFile(path, "ledger")

  private def append(rs: Seq[FileRecord]): Unit = synchronized {
    ledger.append(rs.map(r => ledger.record()
      .put("file_name", r.fileName)
      .put("status", r.status.name)
      .put("row_count", r.rowCount)
      .put("error_message", r.errorMessage.orNull)
      .put("last_updated", r.lastUpdated.toString)))
  }

  override def all(): Map[String, FileRecord] = synchronized {
    ledger.read(n => FileRecord(
      n.required("file_name").asText(),
      FileStatus.parse(n.required("status").asText()),
      n.required("row_count").asLong(),
      JsonlLedgerFile.nullableText(n, "error_message"),
      Instant.parse(n.required("last_updated").asText())))
      .foldLeft(Map.empty[String, FileRecord])((m, r) => m + (r.fileName -> r))
  }

  override def register(fileNames: Seq[String]): Unit = synchronized {
    val known = all().keySet
    append(fileNames.filterNot(known)
      .map(FileRecord(_, FileStatus.New, 0L, None, Instant.now())))
  }

  override def update(fileName: String, status: FileStatus, rowCount: Long,
      error: Option[String]): Unit =
    append(Seq(FileRecord(fileName, status, rowCount,
      // job-log message truncation parity (F7, extract_script.py:184)
      error.map(_.take(500)), Instant.now())))

  override def processedNames(): Set[String] =
    all().collect { case (n, r) if r.status != FileStatus.New => n }.toSet

  override def newFiles(): Seq[String] =
    all().collect { case (n, r) if r.status == FileStatus.New => n }
      .toSeq.sorted
}

/** Reference-faithful JDBC control store (Postgres `db_control`).
  * Driver-side `java.sql` — K4–K7 need upsert/UPDATE, which Spark's
  * insert-only JDBC writer cannot express. Compiles against plain JDK;
  * requires a JDBC driver on the classpath at runtime and, like the
  * reference, an existing `file_log` table. */
final class JdbcControlStore(url: String, props: java.util.Properties)
    extends ControlStore {
  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  override def register(fileNames: Seq[String]): Unit = withConn { c =>
    val ps = c.prepareStatement(
      "INSERT INTO file_log (file_name, status, last_updated) " +
        "VALUES (?, 'NEW', now()) ON CONFLICT (file_name) DO NOTHING")
    fileNames.foreach { f => ps.setString(1, f); ps.addBatch() }
    ps.executeBatch()
  }

  override def update(fileName: String, status: FileStatus, rowCount: Long,
      error: Option[String]): Unit = withConn { c =>
    val ps = c.prepareStatement(
      "UPDATE file_log SET status = ?, row_count = ?, error_message = ?, " +
        "last_updated = now() WHERE file_name = ?")
    ps.setString(1, status.name)
    ps.setLong(2, rowCount)
    ps.setString(3, error.map(_.take(500)).orNull)
    ps.setString(4, fileName)
    ps.executeUpdate()
  }

  override def processedNames(): Set[String] = withConn { c =>
    val rs = c.createStatement()
      .executeQuery("SELECT file_name FROM file_log WHERE status != 'NEW'")
    Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSet
  }

  override def newFiles(): Seq[String] = withConn { c =>
    val rs = c.createStatement()
      .executeQuery("SELECT file_name FROM file_log WHERE status = 'NEW'")
    Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1))
      .toSeq.sorted
  }

  override def all(): Map[String, FileRecord] = withConn { c =>
    val rs = c.createStatement().executeQuery(
      "SELECT file_name, status, row_count, error_message, last_updated FROM file_log")
    Iterator.continually(rs).takeWhile(_.next()).map { r =>
      r.getString(1) -> FileRecord(r.getString(1),
        FileStatus.parse(r.getString(2)), r.getLong(3),
        Option(r.getString(4)), r.getTimestamp(5).toInstant)
    }.toMap
  }
}
