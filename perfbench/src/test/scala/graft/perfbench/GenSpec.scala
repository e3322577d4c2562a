package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{Clock, Instant, ZoneOffset}
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val fixtures = Paths.get("..", "src", "test", "resources", "opensky")
  private val at = Instant.parse("2025-11-20T00:00:00Z")

  private def inputs(seed: Long): (Seq[String], Seq[String], Map[(String, String), (Long, Long)]) = {
    val g = new Gen(seed, fixtures)
    val es = (0 until 20).map(i => g.extract("s", i, at.plusSeconds(i * 600L), Gen.Job))
    val t = new Tally
    es.foreach(t.add)
    (es.map(_.csv), es.map(_.payload), t.result)
  }

  test("one seed reproduces byte-identical files, payloads and tallies") {
    assert(inputs(7) == inputs(7))
    assert(inputs(7)._1 != inputs(8)._1)
  }

  test("an extract is a pure function of its index, whatever was generated before") {
    val a = new Gen(3, fixtures).extract("s", 5, at, Gen.Job)
    val g = new Gen(3, fixtures)
    (0 until 5).foreach(i => g.extract("s", i, at, Gen.Job))
    assert(g.extract("s", 5, at, Gen.Job).csv == a.csv)
  }

  test("ExtractJob lands a replayed payload as exactly the generated CSV") {
    val dir = Files.createTempDirectory("gen-spec")
    val g = new Gen(11, fixtures)
    (0 until 10).foreach { i =>
      val e = g.extract("s", i, at.plusSeconds(i * 600L), Gen.Job)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(e.payload)
      val path = graft.extract.ExtractJob.saveStatesCsv(node, dir.toString, Gen.Job,
        Clock.fixed(e.at, ZoneOffset.UTC)).get
      assert(Paths.get(path).getFileName.toString == e.name)
      assert(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8) == e.csv)
    }
  }

  test("file sizes stay within the captured extracts' spread") {
    val g = new Gen(5, fixtures)
    val sizes = (0 until 200).map(i => g.extract("s", i, at, Gen.Job).rows.size)
    assert(sizes.min >= 20 && sizes.max <= 400, sizes)
  }
}
