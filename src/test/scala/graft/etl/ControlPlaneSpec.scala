package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** Ledger semantics (K4–K7, S5/S6, F7) — pure driver-side, no Spark. */
class ControlPlaneSpec extends AnyFunSuite {

  private def freshStore(): JsonlControlStore = {
    val dir = java.nio.file.Files.createTempDirectory("ledger")
    new JsonlControlStore(dir.resolve("file_log.jsonl").toString)
  }

  test("K7 register is idempotent: re-registering known names is a no-op") {
    val s = freshStore()
    s.register(Seq("states_a.csv", "states_b.csv"))
    s.register(Seq("states_a.csv", "states_b.csv", "states_c.csv"))
    assert(s.all().size === 3)
    assert(s.newFiles() === Seq("states_a.csv", "states_b.csv", "states_c.csv"))
    // still NEW — registration never resets or duplicates state
    s.update("states_a.csv", FileStatus.CleanExported, rowCount = 5)
    s.register(Seq("states_a.csv"))
    assert(s.all()("states_a.csv").status === FileStatus.CleanExported)
  }

  test("K6 last update wins: state machine transitions replay in order") {
    val s = freshStore()
    s.register(Seq("states_x.csv"))
    s.update("states_x.csv", FileStatus.Processing)
    s.update("states_x.csv", FileStatus.Failed, error = Some("boom"))
    s.update("states_x.csv", FileStatus.New) // retry re-queue
    s.update("states_x.csv", FileStatus.Processing)
    s.update("states_x.csv", FileStatus.CleanExported, rowCount = 42)
    val r = s.all()("states_x.csv")
    assert(r.status === FileStatus.CleanExported)
    assert(r.rowCount === 42L)
  }

  test("S5/S6 work-list split: processedNames vs newFiles") {
    val s = freshStore()
    s.register(Seq("states_1.csv", "states_2.csv", "states_3.csv"))
    s.update("states_2.csv", FileStatus.CleanExported, rowCount = 1)
    s.update("states_3.csv", FileStatus.Failed, error = Some("x"))
    assert(s.newFiles() === Seq("states_1.csv"))
    assert(s.processedNames() === Set("states_2.csv", "states_3.csv"))
  }

  test("F7 error messages truncate to 500 chars") {
    val s = freshStore()
    s.register(Seq("states_e.csv"))
    s.update("states_e.csv", FileStatus.Failed, error = Some("e" * 1200))
    assert(s.all()("states_e.csv").errorMessage.get.length === 500)
  }

  test("hostile file names with embedded key-like JSON cannot corrupt reads") {
    val s = freshStore()
    val hostile = """states_","status":"CLEAN_EXPORTED","row_count":9,"x":".csv"""
    s.register(Seq(hostile, "states_ok.csv"))
    assert(s.all()(hostile).status === FileStatus.New)
    s.update(hostile, FileStatus.Failed, error = Some("""quote " backslash \ done"""))
    val r = s.all()(hostile)
    assert(r.fileName === hostile)
    assert(r.status === FileStatus.Failed)
    assert(r.errorMessage.get === """quote " backslash \ done""")
    assert(s.all()("states_ok.csv").status === FileStatus.New)
  }

  test("control characters in messages round-trip via unicode escapes") {
    val s = freshStore()
    s.register(Seq("states_c.csv"))
    s.update("states_c.csv", FileStatus.Failed,
      error = Some("line1\nline2\ttabctl"))
    assert(s.all()("states_c.csv").errorMessage.get
      === "line1\nline2\ttabctl")
  }

  test("a torn final line is dropped loudly; interior corruption still fails hard") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-torn")
    val f = dir.resolve("file_log.jsonl")
    val s = new JsonlControlStore(f.toString)
    s.register(Seq("states_a.csv"))
    s.update("states_a.csv", FileStatus.Processing)
    // simulate a crash mid-append: truncated JSON tail
    java.nio.file.Files.writeString(f,
      """{"file_name":"states_a.csv","sta""",
      java.nio.file.StandardOpenOption.APPEND)
    // the torn line is ignored; the superseded record is still current
    assert(s.all()("states_a.csv").status === FileStatus.Processing)
    // and the store remains writable (recovery re-runs the step)
    s.update("states_a.csv", FileStatus.Failed)
    assert(s.all()("states_a.csv").status === FileStatus.Failed)
    // torn just before its closing brace: still torn, not a live record
    java.nio.file.Files.writeString(f,
      """{"file_name":"states_a.csv","status":"CLEAN_EXPORTED","row_count":5,"error_message":null,"last_updated":"2026-01-01T00:00:00Z"""",
      java.nio.file.StandardOpenOption.APPEND)
    assert(s.all()("states_a.csv").status === FileStatus.Failed)
    s.update("states_a.csv", FileStatus.CleanExported, rowCount = 7)
    assert(s.all()("states_a.csv").rowCount === 7L)
    // an INTERIOR malformed line is real corruption — hard failure
    val ok = """{"file_name":"states_b.csv","status":"NEW","row_count":0,"error_message":null,"last_updated":"2026-01-01T00:00:00Z"}"""
    for ((name, interior) <- Seq(
        "corrupt.jsonl" -> "{\"file_name\":\"x\",\"bad",
        "run-together.jsonl" -> (ok + ok))) {
      val g = dir.resolve(name)
      java.nio.file.Files.writeString(g, interior + "\n" + ok + "\n")
      val s2 = new JsonlControlStore(g.toString)
      intercept[Exception] { s2.all() }
    }
  }

  test("ledgers in the hand-escaped line format still load; ordinary lines keep their bytes") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-compat")
    val f = dir.resolve("file_log.jsonl")
    // the old writer escaped every control character as a 6-char
    // unicode escape (backslash, u, 4 hex digits)
    val u = "\\u"
    java.nio.file.Files.writeString(f,
      """{"file_name":"states_\",\"status\":\"CLEAN_EXPORTED\",\"row_count\":9,\"x\":\".csv",""" +
        """"status":"FAILED","row_count":3,"error_message":"quote \" slash \\ nl""" +
        u + "000a" + "tab" + u + """0009end","last_updated":"2026-01-02T03:04:05.123456Z"}""" + "\n")
    val hostile = """states_","status":"CLEAN_EXPORTED","row_count":9,"x":".csv"""
    val s = new JsonlControlStore(f.toString)
    assert(s.all() === Map(hostile -> FileRecord(hostile, FileStatus.Failed, 3L,
      Some("quote \" slash \\ nl\ntab\tend"),
      java.time.Instant.parse("2026-01-02T03:04:05.123456Z"))))
    s.update(hostile, FileStatus.New)
    assert(s.all()(hostile).status === FileStatus.New)
    // an ordinary record is written byte-for-byte as the old writer did
    val g = dir.resolve("ordinary.jsonl")
    new JsonlControlStore(g.toString)
      .update("states_o.csv", FileStatus.CleanExported, rowCount = 7)
    val line = java.nio.file.Files.readString(g)
    assert(line.matches("""\{"file_name":"states_o.csv","status":"CLEAN_EXPORTED",""" +
      """"row_count":7,"error_message":null,"last_updated":"[0-9T:.Z-]+"\}\n"""))
  }
}
