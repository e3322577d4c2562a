package graft.etl

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Crash-safe append-only JSONL ledger FILE, shared by the staging
  * ledger ([[JsonlControlStore]]) and the extract job log
  * ([[graft.extract.JsonlJobControl]]), and the only code that knows the
  * line format: exactly ONE JSON object per line, written and read by
  * one strict Jackson mapper (trailing tokens fail the line). The stores
  * fill [[record]]s and decode `JsonNode`s; neither has a codec of its
  * own, so a fix to the format or the crash paths cannot miss a twin.
  *
  * Crash contract: a crash (or full disk) mid-append can leave a TORN
  * final line with no terminating newline. Left in place it would
  * corrupt the NEXT append by concatenation, turning one torn record
  * into a permanently malformed interior line — so every append first
  * truncates the file back to its last complete line, IN PLACE
  * (`FileChannel.truncate` never touches the surviving prefix; a
  * truncate-to-zero + rewrite would open a crash window losing every
  * complete record); a batch append heals once. The fragment was never
  * a durable record (its own write failed), so dropping it re-exposes
  * the superseded state and the caller's state machine re-runs that step.
  *
  * Concurrency contract: SINGLE PROCESS, single writer — callers
  * synchronize their own public methods, which serializes appends
  * in-process, and the file-backed stores exist for tests/local runs
  * (the reference's production control plane is Postgres, where id
  * allocation and updates are transactional — [[graft.extract
  * .JdbcJobControl]] / [[JdbcControlStore]]). Two JVMs sharing one
  * ledger file would race max-id allocation and the heal truncate;
  * that deployment must use the JDBC stores. */
private[graft] final class JsonlLedgerFile(path: String, tag: String) {
  import JsonlLedgerFile.mapper

  private val p: Path = Paths.get(path)
  Option(p.getParent).foreach(Files.createDirectories(_))

  /** An empty record; fields keep their insertion order on disk. */
  def record(): ObjectNode = mapper.createObjectNode()

  private def healTornTail(): Unit =
    if (Files.exists(p) && Files.size(p) > 0) {
      val bytes = Files.readAllBytes(p)
      if (bytes.last != '\n'.toByte) {
        val cut = bytes.lastIndexOf('\n'.toByte) + 1
        val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.WRITE)
        try ch.truncate(cut.toLong) finally ch.close()
        System.err.println(s"[$tag] truncated torn final line before append")
      }
    }

  /** Heal once, then append one line per record in a single write. */
  def append(records: Seq[ObjectNode]): Unit =
    if (records.nonEmpty) {
      healTornTail()
      val lines = records.map(mapper.writeValueAsString(_) + "\n").mkString
      Files.write(p, lines.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  /** Non-empty lines through `decode`, with torn-final-line
    * forgiveness: ONLY a torn FINAL line is recoverable (a crash or
    * full disk mid-append, not yet healed by the next append) — drop
    * it loudly; the record it would have superseded is still present,
    * so the caller's state machine re-runs that step. A malformed
    * INTERIOR line is real corruption and still fails hard. */
  def read[A](decode: JsonNode => A): Seq[A] =
    if (!Files.exists(p)) Seq.empty
    else {
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty).toSeq
      lines.zipWithIndex.flatMap { case (l, i) =>
        try Some(decode(mapper.readTree(l)))
        catch {
          case e: Exception if i == lines.size - 1 =>
            System.err.println(
              s"[$tag] dropping torn final line (${e.getMessage})")
            None
        }
      }
    }
}

private[graft] object JsonlLedgerFile {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** A field that must be present and may be JSON null (read as None). */
  def nullableText(n: JsonNode, field: String): Option[String] =
    Some(n.required(field)).filterNot(_.isNull).map(_.asText())
}
