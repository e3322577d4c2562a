package graft.extract

import graft.etl.JsonlLedgerFile
import java.time.Instant

/** Job-run ledger + configuration reads — the extract stage's control
  * plane (`db_control` in the reference):
  *
  *  - S3/F1: `SELECT config_value FROM configuration WHERE config_key=?`
  *    (`extract_script.py:60-75`)
  *  - S4/F2: `SELECT * FROM job_definitions WHERE job_name=?` consumed
  *    as a column→value map (`extract_script.py:127-155`)
  *  - K4: `INSERT INTO job_logs (job_name, start_time, status) ...
  *    RETURNING log_id` (`extract_script.py:165-167`)
  *  - K5/F7: `UPDATE job_logs SET end_time=?, status=?, message=?
  *    WHERE log_id=?`, message truncated to 500 (`extract_script.py:
  *    175-189`)
  *
  * Like [[graft.etl.ControlPlane]], this is driver-side state — one row
  * per job RUN, never per data row — so a distributed dataset would be
  * the wrong shape. [[JsonlJobControl]] is the file-backed variant for
  * tests/local runs; [[JdbcJobControl]] is the reference-faithful
  * Postgres form (Spark's JDBC writer can't express RETURNING/UPDATE,
  * SURVEY.md §2.2 K4/K5).
  */
final case class JobLogRecord(
    logId: Long,
    jobName: String,
    startTime: Instant,
    endTime: Option[Instant],
    status: String,
    message: Option[String])

trait JobControl {
  /** S3: system configuration point lookup; error when absent. */
  def systemConfig(key: String): String
  /** S4: whole job-definition row as a map; error when absent. */
  def jobConfig(jobName: String): Map[String, String]
  /** K4: open a run, returning its generated log id. */
  def logJobStart(jobName: String, now: Instant): Long
  /** K5 (+F7): close a run; message truncated to 500 chars. */
  def logJobEnd(logId: Long, status: String, message: Option[String],
      now: Instant): Unit
  def jobLogs(): Seq[JobLogRecord]
}

/** File-backed control DB: config maps supplied at construction (the
  * reference seeds `configuration`/`job_definitions` by SQL insert —
  * data, not behavior); job_logs as append-only JSONL where the
  * append IS the K5 update, latest record per log_id wins.
  *
  * SINGLE-PROCESS contract (see [[graft.etl.JsonlLedgerFile]]): the
  * max+1 log-id allocation and the heal truncate are synchronized
  * in-process only. Concurrent ticks sharing one job_logs.jsonl from
  * SEPARATE JVMs would collide ids and can truncate each other's
  * in-flight appends — that deployment must use [[JdbcJobControl]],
  * whose `RETURNING log_id` allocates transactionally (the
  * reference's production shape). */
final class JsonlJobControl(
    path: String,
    config: Map[String, String],
    jobs: Map[String, Map[String, String]]) extends JobControl {

  private val ledger = new JsonlLedgerFile(path, "job_logs")

  override def systemConfig(key: String): String =
    config.getOrElse(key,
      sys.error(s"config_key '$key' not found in configuration"))

  override def jobConfig(jobName: String): Map[String, String] =
    jobs.getOrElse(jobName,
      sys.error(s"job_name '$jobName' not found in job_definitions"))

  private def append(r: JobLogRecord): Unit = synchronized {
    ledger.append(Seq(ledger.record()
      .put("log_id", r.logId)
      .put("job_name", r.jobName)
      .put("start_time", r.startTime.toString)
      .put("end_time", r.endTime.map(_.toString).orNull)
      .put("status", r.status)
      .put("message", r.message.orNull)))
  }

  private def readAll(): Seq[JobLogRecord] = synchronized {
    ledger.read(n => JobLogRecord(
      n.required("log_id").asLong(),
      n.required("job_name").asText(),
      Instant.parse(n.required("start_time").asText()),
      JsonlLedgerFile.nullableText(n, "end_time").map(Instant.parse),
      n.required("status").asText(),
      JsonlLedgerFile.nullableText(n, "message")))
  }

  override def logJobStart(jobName: String, now: Instant): Long = synchronized {
    val id = readAll().map(_.logId).maxOption.getOrElse(0L) + 1L
    append(JobLogRecord(id, jobName, now, None, "STARTED", None))
    id
  }

  override def logJobEnd(logId: Long, status: String,
      message: Option[String], now: Instant): Unit = synchronized {
    val start = readAll().find(_.logId == logId)
      .getOrElse(sys.error(s"unknown log_id $logId"))
    append(start.copy(endTime = Some(now), status = status,
      message = message.map(_.take(500))))
  }

  /** Latest record per log_id, ordered by id. */
  override def jobLogs(): Seq[JobLogRecord] =
    readAll().groupBy(_.logId).map(_._2.last).toSeq.sortBy(_.logId)
}

/** Reference-faithful Postgres variant (driver-side JDBC; compiles
  * against plain JDK, needs a driver jar at runtime). */
final class JdbcJobControl(url: String, props: java.util.Properties)
    extends JobControl {
  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  override def systemConfig(key: String): String = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT config_value FROM configuration WHERE config_key = ?")
    ps.setString(1, key)
    val rs = ps.executeQuery()
    if (rs.next()) rs.getString(1)
    else sys.error(s"config_key '$key' not found in configuration")
  }

  override def jobConfig(jobName: String): Map[String, String] = withConn { c =>
    val ps = c.prepareStatement("SELECT * FROM job_definitions WHERE job_name = ?")
    ps.setString(1, jobName)
    val rs = ps.executeQuery()
    if (!rs.next()) sys.error(s"job_name '$jobName' not found in job_definitions")
    val md = rs.getMetaData
    // SQL NULL columns are ABSENT from the map — String.valueOf(null)
    // would yield the literal "null", which ExtractJob would then send
    // as a real query parameter (the reference's row dict gives None
    // and omits the param; an unbounded-bbox job must do the same)
    (1 to md.getColumnCount).flatMap { i =>
      Option(rs.getObject(i)).map(v => md.getColumnName(i) -> String.valueOf(v))
    }.toMap
  }

  override def logJobStart(jobName: String, now: Instant): Long = withConn { c =>
    val ps = c.prepareStatement(
      "INSERT INTO job_logs (job_name, start_time, status) VALUES (?, ?, ?) RETURNING log_id")
    ps.setString(1, jobName)
    ps.setTimestamp(2, java.sql.Timestamp.from(now))
    ps.setString(3, "STARTED")
    val rs = ps.executeQuery()
    rs.next()
    rs.getLong(1)
  }

  override def logJobEnd(logId: Long, status: String,
      message: Option[String], now: Instant): Unit = withConn { c =>
    val ps = c.prepareStatement(
      "UPDATE job_logs SET end_time = ?, status = ?, message = ? WHERE log_id = ?")
    ps.setTimestamp(1, java.sql.Timestamp.from(now))
    ps.setString(2, status)
    ps.setString(3, message.map(_.take(500)).orNull)
    ps.setLong(4, logId)
    ps.executeUpdate()
  }

  override def jobLogs(): Seq[JobLogRecord] = withConn { c =>
    val rs = c.createStatement().executeQuery(
      "SELECT log_id, job_name, start_time, end_time, status, message " +
        "FROM job_logs ORDER BY log_id")
    Iterator.continually(rs).takeWhile(_.next()).map { r =>
      JobLogRecord(r.getLong(1), r.getString(2), r.getTimestamp(3).toInstant,
        Option(r.getTimestamp(4)).map(_.toInstant), r.getString(5),
        Option(r.getString(6)))
    }.toSeq
  }
}
