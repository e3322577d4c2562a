package graft.extract

import graft.SparkTestBase
import graft.etl.{FileStatus, JsonlControlStore, StagingPipeline}
import java.nio.file.{Files, Paths}
import java.time.{Clock, Instant, ZoneId}

/** E1 flow against canned HTTP: token, fetch, landing format, guards,
  * job-log transitions, and the extract→staging round trip. */
class ExtractJobSpec extends SparkTestBase {

  private val fixedClock =
    Clock.fixed(Instant.parse("2026-01-02T03:04:05Z"), ZoneId.of("UTC"))

  private val statesJson =
    """{"time": 1767322800, "states": [
      |["ab1234", "KLM123  ", "Netherlands", 1767322795, 1767322799,
      | 4.76, 52.31, 1219.2, false, 141.9, 271.3, -4.55, null, 1275.8,
      | "1000", false, 0],
      |["cd5678", "co,ma \"Q\"", "France", null, 1767322791,
      | 2.55, 48.86, null, true, 0.0, 180.0, null, null, null,
      | null, true, 2]
      |]}""".stripMargin

  private def fakeHttp(tokenStatus: Int = 200,
      statesBody: String = statesJson): HttpBackend = new HttpBackend {
    var lastGet: (String, Map[String, String], Map[String, String]) = _
    override def postForm(url: String, form: Map[String, String]) = {
      assert(form("grant_type") == "client_credentials")
      HttpReply(tokenStatus, """{"access_token": "tok-abc", "expires_in": 1800}""")
    }
    override def get(url: String, params: Map[String, String],
        headers: Map[String, String]) = {
      lastGet = (url, params, headers)
      assert(headers("Authorization") == "Bearer tok-abc")
      HttpReply(200, statesBody)
    }
  }

  private def control(outDir: String): JsonlJobControl =
    new JsonlJobControl(s"${tmpDir("joblog")}/job_logs.jsonl",
      config = Map("opensky_token_url" -> "https://auth.example/token"),
      jobs = Map("crawl_test" -> Map(
        "job_name" -> "crawl_test", "client_id" -> "id", "client_secret" -> "sec",
        "base_url" -> "https://api.example", "endpoint" -> "/api/states/all",
        "lamin" -> "42.0", "lomin" -> "-10.0", "lamax" -> "60.0", "lomax" -> "30.0",
        "output_path" -> outDir)))

  test("E1 happy path: T5 filename, K1 header, python-csv cell rendering, A1 count") {
    val out = tmpDir("landing")
    val res = ExtractJob.run("crawl_test", control(out), fakeHttp(), fixedClock)
    assert(res.status === "COMPLETED")
    assert(res.rows === 2L)
    val expected = Paths.get(out, "states_crawl_test_20260102_030405.csv")
    assert(res.savedFile === Some(expected.toString))
    val lines = Files.readAllLines(expected)
    assert(lines.get(0) === ExtractJob.CsvHeader.mkString(","))
    // booleans capitalized like python csv.writer; nulls empty; quoting minimal
    assert(lines.get(1).startsWith("ab1234,KLM123  ,Netherlands,1767322795"))
    assert(lines.get(1).contains(",False,"))
    assert(lines.get(2).contains("\"co,ma \"\"Q\"\"\""))
    assert(lines.get(2).contains(",True,"))
    assert(lines.get(2).endsWith(",,True,2")) // trailing nulls render empty
  }

  test("E1 job log: STARTED then COMPLETED with the download message") {
    val out = tmpDir("landing")
    val c = control(out)
    val res = ExtractJob.run("crawl_test", c, fakeHttp(), fixedClock)
    val log = c.jobLogs().find(_.logId == res.logId).get
    assert(log.status === "COMPLETED")
    assert(log.message.get.startsWith("Downloaded 2 rows to "))
    assert(log.endTime.nonEmpty)
  }

  test("F6 guards: missing or empty states array completes WITHOUT a file") {
    val out = tmpDir("landing")
    for (body <- Seq("""{"time": 1}""", """{"time": 1, "states": []}""",
        """{"time": 1, "states": null}""")) {
      val c = control(out)
      val res = ExtractJob.run("crawl_test", c, fakeHttp(statesBody = body), fixedClock)
      assert(res.status === "COMPLETED")
      assert(res.savedFile === None)
      assert(c.jobLogs().last.message === Some("Completed (no new data)."))
    }
    assert(new java.io.File(out).list() === null ||
      new java.io.File(out).list().isEmpty)
  }

  test("K5/F7 failure path: 401 token → FAILED log with truncated message") {
    val out = tmpDir("landing")
    val c = control(out)
    val res = ExtractJob.run("crawl_test", c, fakeHttp(tokenStatus = 401), fixedClock)
    assert(res.status === "FAILED")
    val log = c.jobLogs().find(_.logId == res.logId).get
    assert(log.status === "FAILED")
    assert(log.message.get.contains("401"))
    // F7: oversized messages truncate at 500
    val id2 = c.logJobStart("crawl_test", fixedClock.instant())
    c.logJobEnd(id2, "FAILED", Some("x" * 900), fixedClock.instant())
    assert(c.jobLogs().find(_.logId == id2).get.message.get.length === 500)
  }

  test("K4 log ids are monotonically assigned across runs") {
    val out = tmpDir("landing")
    val c = control(out)
    val r1 = ExtractJob.run("crawl_test", c, fakeHttp(), fixedClock)
    val r2 = ExtractJob.run("crawl_test", c, fakeHttp(), fixedClock)
    assert(r2.logId === r1.logId + 1)
  }

  test("K5 job log: two records run together on an interior line fail hard") {
    val path = s"${tmpDir("joblog")}/job_logs.jsonl"
    def rec(id: Int, status: String) =
      s"""{"log_id":$id,"job_name":"crawl_test","start_time":"2026-01-02T03:04:05Z",""" +
        s""""end_time":null,"status":"$status","message":null}"""
    Files.writeString(Paths.get(path),
      rec(1, "STARTED") + rec(2, "STARTED") + "\n" + rec(1, "COMPLETED") + "\n")
    intercept[Exception](new JsonlJobControl(path, Map.empty, Map.empty).jobLogs())
  }

  test("S4 missing job or config key errors before any log is opened") {
    val c = control(tmpDir("landing"))
    intercept[RuntimeException](ExtractJob.run("nope", c, fakeHttp(), fixedClock))
    assert(c.jobLogs().isEmpty)
  }

  test("round trip: extracted landing file flows through staging to typed rows") {
    val out = tmpDir("landing")
    val res = ExtractJob.run("crawl_test", control(out), fakeHttp(), fixedClock)
    assert(res.savedFile.nonEmpty)
    val ledger = new JsonlControlStore(s"${tmpDir("ledger")}/file_log.jsonl")
    val p = new StagingPipeline(spark, out, tmpDir("rawsink"), tmpDir("clean"), ledger)
    val s = p.runOnce()
    assert(s.processed === Seq("states_crawl_test_20260102_030405.csv"))
    assert(ledger.all().values.head.status === FileStatus.CleanExported)
    val clean = p.cleanStaged().collect()
    assert(clean.length === 2)
    val byIcao = clean.map(r => r.getAs[String]("icao24") -> r).toMap
    // python-rendered False/True round the strict T4 map; nulls survive
    assert(byIcao("ab1234").getAs[Boolean]("on_ground") === false)
    assert(byIcao("cd5678").getAs[Boolean]("on_ground") === true)
    assert(byIcao("cd5678").getAs[Any]("baro_altitude") == null)
    assert(byIcao("ab1234").getAs[Double]("longitude") === 4.76)
    assert(byIcao("cd5678").getAs[Int]("position_source") === 2)
  }

  test("cell rendering matches Python for floats, sensors arrays, and NULL params") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def cell(json: String) = ExtractJob.renderCell(m.readTree(json))
    // Python str(float) plain-notation window — Java's default would
    // print 5.0E-4 / 1.2345678E7 here
    assert(cell("0.0005") === "0.0005")
    assert(cell("12345678.0") === "12345678.0")
    assert(cell("46.05") === "46.05")
    assert(cell("2.0") === "2.0")
    // sensors-style arrays render like Python str(list), not ""
    assert(cell("[1, 2]") === "[1, 2]")
    assert(cell("[\"a\", null, true]") === "['a', None, True]")
    assert(cell("true") === "True")
    assert(cell("null") === "")
    // a SQL-NULL bbox param must be ABSENT, not the string "null":
    // callStatesApi only sends params present in the job map
    val sent = scala.collection.mutable.Map.empty[String, Map[String, String]]
    val http = new HttpBackend {
      def postForm(u: String, f: Map[String, String]) =
        HttpReply(200, """{"access_token":"t"}""")
      def get(u: String, params: Map[String, String], h: Map[String, String]) = {
        sent(u) = params; HttpReply(200, """{"time":1,"states":[]}""")
      }
    }
    ExtractJob.callStatesApi(http,
      Map("base_url" -> "http://x", "endpoint" -> "/states",
        "lamin" -> "45.8"), "t")
    assert(sent("http://x/states") === Map("lamin" -> "45.8"),
      "absent bbox params are omitted from the request")
  }

  test("pyDouble renders non-finite values like Python str(float)") {
    // Java String.valueOf would give "NaN"/"Infinity"/"-Infinity";
    // Python prints nan/inf/-inf. Standard JSON can't carry these, but
    // a lenient upstream payload could.
    assert(ExtractJob.pyDouble(Double.NaN) === "nan")
    assert(ExtractJob.pyDouble(Double.PositiveInfinity) === "inf")
    assert(ExtractJob.pyDouble(Double.NegativeInfinity) === "-inf")
  }

  test("withParams joins with '&' when the endpoint already has a query string") {
    assert(HttpBackend.withParams("http://x/states", Map("lamin" -> "45.8"))
      === "http://x/states?lamin=45.8")
    assert(HttpBackend.withParams("http://x/states?extended=1",
      Map("lamin" -> "45.8")) === "http://x/states?extended=1&lamin=45.8")
    assert(HttpBackend.withParams("http://x/states?extended=1", Map.empty)
      === "http://x/states?extended=1")
  }

  test("pyDouble keeps the sign of negative zero like Python str(-0.0)") {
    // BigDecimal drops the sign of zero; Python prints '-0.0' (a legal
    // JSON value for e.g. vertical_rate).
    assert(ExtractJob.pyDouble(0.0) === "0.0")
    assert(ExtractJob.pyDouble(-0.0) === "-0.0")
  }
}
