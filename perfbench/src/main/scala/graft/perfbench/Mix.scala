package graft.perfbench

import graft.{ScaleDataGen, SparkEntry}
import graft.ops.PipelineCache
import java.nio.file.{Files, Paths}
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, xxhash64}

/** `analytics_mix`: 14 declared queries over a generated star schema,
  * run in a fixed order with a noop sink under `graft.Bench`'s session
  * settings. Short queries are overhead-bound, heavy ones scan-bound,
  * iterative ones bound by their eager checkpoint executions. Bench's
  * orphan-checkpoint sweep is not called, so blocks a query leaves
  * behind show in the retained heap. */
final class AnalyticsMix(c: Ctx) extends Workload {
  import AnalyticsMix._

  private val sfDir = c.work.resolve("inputs").resolve("sf")
  private val oracleOut = c.work.resolve("oracle")
  private var spark: SparkSession = _
  /** Storage memory held after each traced pass, summed. */
  private var cachedMb = 0.0
  var tracer: Option[Tracer] = None
  private lazy val queries: Seq[(String, String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    Classes.flatMap { case (cls, prefixes) =>
      prefixes.map { p =>
        val Seq(name) = all.keys.filter(_.startsWith(p + "_")).toSeq
        (cls, name, all(name))
      }
    }
  }

  override def generate(): Unit = {
    // The flight queries read their states files from the program's
    // fixture directory, which this run points at its own inputs.
    val states = Paths.get(graft.ops.FlightQueries.FixturesDir)
    require(states.toAbsolutePath.startsWith(c.work),
      s"GRAFT_FIXTURES_DIR must point under ${c.work}, not $states")
    val gen = new Gen(c.seed, c.fixtures)
    (0 until StateFiles).foreach { i =>
      gen.extract("mix", i, Instant.parse("2025-11-20T00:00:00Z").plusSeconds(i * 3600L),
        Gen.Job).write(states)
    }
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // ScaleDataGen's tables at scale Sf, each written as one file in a
    // seed-dependent row order.
    val n = ScaleDataGen.counts(Sf)
    def save(name: String, df: DataFrame): Unit =
      df.orderBy(xxhash64(df.columns.map(col) :+ lit(c.seed): _*)).coalesce(1)
        .write.parquet(sfDir.resolve(s"$name.parquet").toString)
    save("region", ScaleDataGen.region(s))
    save("nation", ScaleDataGen.nation(s))
    save("customer", ScaleDataGen.customer(s, n("customer")))
    save("supplier", ScaleDataGen.supplier(s, n("supplier")))
    save("part", ScaleDataGen.part(s, n("part")))
    save("orders", ScaleDataGen.orders(s, n("orders"), n("customer")))
    save("lineitem", ScaleDataGen.lineitem(s, n("lineitem"), n("orders"), n("part"),
      n("supplier")))
    save("events", ScaleDataGen.events(s, n("events"), n("users")))
    save("documents", ScaleDataGen.documents(s, n("documents")))
    // No query of the mix reads embeddings; the oracle check opens every
    // table, so a one-row table stands in.
    save("embeddings", ScaleDataGen.embeddings(s, 1))
    s.stop()
  }

  /** `graft.Bench`'s session. */
  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config(PipelineCache.ConfKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  /** One query as a user runs it: build the frame, write it to noop. */
  private def runQuery(cls: String, name: String,
      fn: (SparkSession, String) => DataFrame): Double = {
    PipelineCache.invalidate(spark, name)
    val t0 = System.nanoTime()
    c.attempt(name) {
      span(s"ops.$cls") {
        val df = span("ops.build")(fn(spark, sfDir.toString))
        span("ops.exec")(df.write.format("noop").mode("overwrite").save())
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  override def setup(): Double = {
    val t0 = System.nanoTime()
    spark = session()
    tracer = if (c.trace) Some(new Tracer(spark, c.seed.toString)) else None
    queries.take(1).foreach { case (cls, n, fn) => runQuery(cls, n, fn) }
    (System.nanoTime() - t0) / 1e9
  }

  override def setupReps: Int = 3

  override def discard(): Unit = {
    tracer.foreach(_.detach())
    spark.stop()
  }

  /** The untimed correctness pass: every result dumped as parquet, with
    * the oracle SQL beside it, for the DuckDB comparison. */
  override def beforeMeasure(): Unit = {
    queries.foreach { case (_, name, fn) =>
      PipelineCache.invalidate(spark, name)
      c.attempt(s"$name (oracle pass)") {
        fn(spark, sfDir.toString).coalesce(1).write.mode("overwrite")
          .parquet(oracleOut.resolve(name).toString)
      }
    }
    val oracle = SparkEntry.oracleSql
    val json = queries.map { case (_, n, _) =>
      s""""${graft.Bench.esc(n)}": "${graft.Bench.esc(oracle(n))}"""" }
    Files.writeString(oracleOut.resolve("oracle_sql.json"), json.mkString("{", ",", "}"))
  }

  override def round(): Seq[Double] = {
    val lat = queries.map { case (cls, n, fn) => runQuery(cls, n, fn) }
    if (tracer.exists(_.recording))
      cachedMb += spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    lat
  }

  override def check(): Unit = () // the DuckDB comparison runs after the JVM exits

  override def layers(t: Tracer, n: Int): Map[String, Double] = {
    val classSpans = Classes.map(x => s"ops.${x._1}").toSet
    val byClass = t.spans.filter(s => classSpans(s.name)).toSeq
    val build = t.spans.filter(_.name == "ops.build").toSeq
    val exec = t.spans.filter(_.name == "ops.exec").toSeq
    val w = new Work
    byClass.foreach(s => w += t.workUnder(s))
    def per(v: Double) = v / n
    val base = Map(
      "ops.build_ms" -> per(build.map(_.ms).sum),
      "ops.plan_ms" -> per(w.planMs),
      "ops.exec_ms" -> per(exec.map(_.ms).sum),
      "ops.executions" -> per(w.executions),
      "ops.jobs" -> per(w.jobs),
      "ops.stages" -> per(w.stages),
      "ops.tasks" -> per(w.tasks),
      "ops.task_run_ms" -> per(w.taskRunMs),
      "ops.task_cpu_ms" -> per(w.taskCpuMs),
      "ops.gc_ms" -> per(w.gcMs),
      "ops.shuffle_bytes" -> per(w.shuffleBytes),
      "ops.spill_bytes" -> per(w.spillBytes),
      "ops.idle_ms" -> per(byClass.map(t.idleMs).sum),
      "ops.cached_mb_after" -> per(cachedMb))
    val classes = Classes.map(_._1).flatMap { cls =>
      val ss = byClass.filter(_.name == s"ops.$cls")
      val ids = ss.map(_.id).toSet
      Seq(s"ops.$cls.wall_ms" -> per(ss.map(_.ms).sum),
        s"ops.$cls.build_ms" -> per(build.filter(b => ids(b.parent)).map(_.ms).sum),
        s"ops.$cls.idle_ms" -> per(ss.map(t.idleMs).sum))
    }
    base ++ classes
  }

  override def close(): Unit = spark.stop()
}

object AnalyticsMix {
  /** Scale factor of the generated star schema (sf 0.1 = 600k lineitem). */
  val Sf = 0.01
  val StateFiles = 14
  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Query classes in run order, by query-number prefix. */
  val Classes: Seq[(String, Seq[String])] = Seq(
    "short" -> Seq("q01", "q02", "q03", "q05", "q08", "q16", "q23", "q24", "q61",
      "q64", "q69", "q84"),
    "heavy" -> Seq("q62"),
    "iterative" -> Seq("q52"))
}
