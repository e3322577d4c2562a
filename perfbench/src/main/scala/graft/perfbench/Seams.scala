package graft.perfbench

import graft.etl.{ControlStore, FileRecord, FileStatus}
import graft.extract.{HttpBackend, HttpReply, JobControl, JobLogRecord}
import java.time.Instant

/** Replays one captured states payload: the token POST gets a fixed
  * token, the states GET gets `payload`. Nothing leaves the process. */
final class ReplayHttp(payload: String) extends HttpBackend {
  override def postForm(url: String, form: Map[String, String]): HttpReply =
    HttpReply(200, """{"access_token":"replay"}""")
  override def get(url: String, params: Map[String, String],
      headers: Map[String, String]): HttpReply = HttpReply(200, payload)
}

/** Span-recording decorator over the staging ledger. */
final class TimedControlStore(inner: ControlStore, t: Tracer) extends ControlStore {
  override def register(fileNames: Seq[String]): Unit =
    t.span("etl.ledger.register")(inner.register(fileNames))
  override def update(fileName: String, status: FileStatus, rowCount: Long,
      error: Option[String]): Unit =
    t.span("etl.ledger.update")(inner.update(fileName, status, rowCount, error))
  override def processedNames(): Set[String] =
    t.span("etl.ledger.processedNames")(inner.processedNames())
  override def newFiles(): Seq[String] = t.span("etl.ledger.newFiles")(inner.newFiles())
  override def all(): Map[String, FileRecord] = t.span("etl.ledger.all")(inner.all())
}

/** Span-recording decorator over the extract job log. */
final class TimedJobControl(inner: JobControl, t: Tracer) extends JobControl {
  override def systemConfig(key: String): String =
    t.span("extract.joblog.systemConfig")(inner.systemConfig(key))
  override def jobConfig(jobName: String): Map[String, String] =
    t.span("extract.joblog.jobConfig")(inner.jobConfig(jobName))
  override def logJobStart(jobName: String, now: Instant): Long =
    t.span("extract.joblog.logJobStart")(inner.logJobStart(jobName, now))
  override def logJobEnd(logId: Long, status: String, message: Option[String],
      now: Instant): Unit =
    t.span("extract.joblog.logJobEnd")(inner.logJobEnd(logId, status, message, now))
  override def jobLogs(): Seq[JobLogRecord] =
    t.span("extract.joblog.jobLogs")(inner.jobLogs())
}
