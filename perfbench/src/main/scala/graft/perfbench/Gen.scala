package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** One cell of a generated state vector, typed the way the OpenSky
  * states API types it, so the same row renders both as a JSON payload
  * (replayed through `ExtractJob`) and as the CSV line `ExtractJob`
  * would land for that payload. `Num` holds a plain-notation token with
  * no trailing zeros, which `ExtractJob`'s cell rendering maps to
  * itself. */
sealed trait Cell
final case class Str(s: String) extends Cell
final case class Num(token: String) extends Cell
final case class Bool(b: Boolean) extends Cell
case object Null extends Cell

/** One generated extract: the file name `ExtractJob` gives it, the
  * instant it was fetched at, and its state rows (17 cells each). */
final case class Extract(name: String, at: Instant, rows: IndexedSeq[IndexedSeq[Cell]]) {
  def csv: String = {
    val sb = new StringBuilder(Gen.Header.mkString("", ",", "\r\n"))
    rows.foreach(r => sb.append(r.map(Gen.csvCell).mkString("", ",", "\r\n")))
    sb.toString
  }

  def payload: String =
    rows.map(_.map(Gen.jsonCell).mkString("[", ",", "]"))
      .mkString(s"""{"time":${at.getEpochSecond},"states":[""", ",", "]}")

  def write(dir: Path): Path = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), csv.getBytes(StandardCharsets.UTF_8))
  }
}

/** Deterministic input generator for the pipeline workloads.
  *
  * Value domains come from the captured extracts in
  * `src/test/resources/opensky/`: each generated row copies a captured
  * row's position, altitude, motion, squawk and flags (so empty shares
  * and their correlations match the captures; the captures hold no
  * unparseable cells, so neither do the generated files), jitters
  * position and motion slightly, and takes identity (icao24, callsign,
  * country) from a fleet drawn from the captured aircraft. File sizes
  * are the captured files' row counts, shuffled and jittered by ±10%.
  *
  * Every extract is a pure function of (seed, stream, index), so any
  * subset of a workload's extracts can be generated in any order and a
  * seed reproduces its inputs byte for byte. */
final class Gen(seed: Long, fixtureDir: Path) {
  import Gen._

  private val fixtures: IndexedSeq[(Int, IndexedSeq[Array[String]])] =
    Files.list(fixtureDir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("states_") &&
        p.getFileName.toString.endsWith(".csv"))
      .toIndexedSeq.sortBy(_.getFileName.toString)
      .map { p =>
        val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
          .drop(1).filter(_.nonEmpty).toIndexedSeq
        (lines.size, lines.map(_.split(",", -1)))
      }
  require(fixtures.nonEmpty, s"no captured extracts under $fixtureDir")
  private val templates = fixtures.flatMap(_._2)
  private val fileSizes = fixtures.map(_._1)

  /** The fleet: identities drawn once per seed from the captures. */
  private val fleet: IndexedSeq[(String, String, String)] = {
    val r = rng(seed, "fleet", 0)
    (0 until FleetSize).map { i =>
      val t = templates(r.nextInt(templates.size))
      val icao = f"${0x300000 + i * 37 + r.nextInt(37)}%06x"
      (icao, t(Col("callsign")), t(Col("origin_country")))
    }
  }

  /** Extract `index` of `stream`, fetched at `at` by job `job`. */
  def extract(stream: String, index: Int, at: Instant, job: String): Extract = {
    val r = rng(seed, stream, index)
    // Each run of consecutive extracts, as long as the captured set, uses
    // every captured file size once, so a workload's total rows barely
    // depend on the seed.
    val order = sampleDistinct(rng(seed, stream + "/sizes", index / fileSizes.size),
      fileSizes.size, fileSizes.size)
    val base = fileSizes(order(index % fileSizes.size))
    val n = math.max(1, base + r.nextInt(base / 5 + 1) - base / 10)
    val aircraft = sampleDistinct(r, FleetSize, math.min(n, FleetSize))
    val rows = aircraft.map { a =>
      val t = templates(r.nextInt(templates.size))
      val (icao, callsign, country) = fleet(a)
      val tp = at.getEpochSecond - r.nextInt(30)
      IndexedSeq[Cell](
        Str(icao), Str(callsign), Str(country),
        Num(tp.toString), Num((tp + r.nextInt(4)).toString),
        jitter(t(Col("longitude")), r, 0.05, 4),
        jitter(t(Col("latitude")), r, 0.05, 4),
        num(t(Col("baro_altitude"))), bool(t(Col("on_ground"))),
        jitter(t(Col("velocity")), r, 2.0, 2),
        jitter(t(Col("true_track")), r, 2.0, 2),
        num(t(Col("vertical_rate"))), Null,
        num(t(Col("geo_altitude"))), str(t(Col("squawk"))),
        bool(t(Col("spi"))), num(t(Col("position_source"))))
    }
    Extract(fileName(job, at), at, rows)
  }
}

object Gen {
  val Header: Seq[String] = graft.etl.FlightStates.RawColumns
  private val Col: Map[String, Int] = Header.zipWithIndex.toMap
  val FleetSize = 2500
  val Job = "crawl_europe_live_data"

  private val fileTs =
    DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)

  /** The name `ExtractJob.saveStatesCsv` lands a fetch at `at` under. */
  def fileName(job: String, at: Instant): String =
    s"states_${job}_${fileTs.format(at)}.csv"

  def rng(seed: Long, stream: String, index: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong << 32 ^ index.toLong)

  private def sampleDistinct(r: java.util.SplittableRandom, n: Int, k: Int): IndexedSeq[Int] = {
    val a = Array.tabulate(n)(identity)
    (0 until k).map { i =>
      val j = i + r.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
      a(i)
    }
  }

  private def num(s: String): Cell = if (s.isEmpty) Null else Num(s)
  private def str(s: String): Cell = if (s.isEmpty) Null else Str(s)
  private def bool(s: String): Cell = if (s.isEmpty) Null else Bool(s == "True")

  private def jitter(s: String, r: java.util.SplittableRandom, width: Double,
      digits: Int): Cell =
    if (s.isEmpty) Null
    else {
      val v = BigDecimal(s.toDouble + (r.nextDouble() - 0.5) * width)
        .setScale(digits, BigDecimal.RoundingMode.HALF_EVEN)
      Num(if (v.signum == 0) "0" else v.bigDecimal.stripTrailingZeros.toPlainString)
    }

  def csvCell(c: Cell): String = c match {
    case Str(s) =>
      if (s.exists(ch => ch == ',' || ch == '"' || ch == '\n' || ch == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    case Num(t) => t
    case Bool(b) => if (b) "True" else "False"
    case Null => ""
  }

  def jsonCell(c: Cell): String = c match {
    case Str(s) => "\"" + graft.Bench.esc(s) + "\""
    case Num(t) => t
    case Bool(b) => b.toString
    case Null => "null"
  }
}

/** The mart's expected contents, tallied in plain Scala from the
  * generated rows: per (event_date, origin_country), the distinct
  * airborne icao24 count and the airborne state count. Airborne means
  * `on_ground` is False; the event date is the UTC date of
  * `time_position`. */
final class Tally {
  private val acc =
    scala.collection.mutable.Map.empty[(String, String), (Set[String], Long)]

  def add(e: Extract): Unit = e.rows.foreach { r =>
    (r(8), r(3), r(0), r(2)) match {
      case (Bool(false), Num(tp), Str(icao), Str(country)) =>
        val date = Instant.ofEpochSecond(tp.toLong).atZone(ZoneOffset.UTC)
          .toLocalDate.toString
        val (ids, n) = acc.getOrElse((date, country), (Set.empty[String], 0L))
        acc((date, country)) = (ids + icao, n + 1)
      case _ =>
    }
  }

  def copy(): Tally = {
    val t = new Tally
    t.acc ++= acc
    t
  }

  /** (event_date, origin_country) -> (n_aircraft, n_states). */
  def result: Map[(String, String), (Long, Long)] =
    acc.map { case (k, (ids, n)) => k -> (ids.size.toLong, n) }.toMap
}
