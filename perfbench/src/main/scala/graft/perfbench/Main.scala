package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Settings and bookkeeping shared by a run's workload. */
final class Ctx(val seed: Long, val seconds: Double, val trace: Boolean,
    val work: Path, val fixtures: Path) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  /** Runs one operation, counting it; a throw is a failed operation. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        errors += s"$what: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  /** Records a failed output check. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) errors += what
}

/** A workload: untimed input generation, a timed set-up, measured
  * rounds (a tick, a backlog drain, a pass of the query mix), and
  * untimed output checks. */
trait Workload {
  def generate(): Unit
  /** Session start through seeding and warm-up; returns its seconds. */
  def setup(): Double
  /** Set-ups per run; setup_s is their median. Workloads whose set-up
    * is cheap repeat it, so the median is a warm one. */
  def setupReps: Int
  /** Stops the session and drops the state of a set-up that is not the
    * last one. */
  def discard(): Unit
  /** One measured round; returns the latencies (s) of its operations. */
  def round(): Seq[Double]
  /** Rounds every run measures, however long they take. */
  def minRounds: Int = 1
  /** Untimed work between the last set-up and the first round. */
  def beforeMeasure(): Unit = ()
  def tracer: Option[Tracer]
  def check(): Unit
  /** Per-layer metrics from the traced rounds' spans, per round. */
  def layers(t: Tracer, tracedRounds: Int): Map[String, Double]
  def close(): Unit
}

/** `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <fixtureDir>`:
  * runs one workload and prints its result line. */
object Main {
  /** Every per-layer metric with its unit; a workload that bypasses a
    * layer reports 0 for it. */
  val Layers: Seq[(String, String)] = {
    def ms(ns: String*) = ns.map(_ -> "ms")
    def count(ns: String*) = ns.map(_ -> "count")
    Seq(
      count("extract.calls"), ms("extract.ms"), count("extract.rows"), ms("extract.joblog_ms"),
      ms("etl.staging.ms"), count("etl.staging.files"), ms("etl.staging.ms_per_file"),
      count("etl.staging.jobs", "etl.staging.tasks"),
      ms("etl.staging.task_cpu_ms", "etl.staging.idle_ms"), Seq("etl.staging.bytes_written" -> "B"),
      count("etl.ledger.calls"), ms("etl.ledger.ms"), Seq("etl.ledger.bytes" -> "B"),
      ms("etl.warehouse.load_ms", "etl.warehouse.aggregate_ms", "etl.warehouse.mart_ms"),
      count("etl.warehouse.jobs"), ms("etl.warehouse.task_cpu_ms", "etl.warehouse.idle_ms"),
      count("etl.warehouse.files", "etl.warehouse.files_scanned"),
      Seq("etl.warehouse.mart_rewrite_ratio" -> "ratio", "etl.stored_bytes_ratio" -> "ratio"),
      ms("streaming.drain.ms"), count("streaming.drain.batches", "streaming.drain.rows"),
      ms("streaming.drain.add_batch_ms", "streaming.drain.offset_ms", "streaming.drain.commit_ms"),
      count("streaming.drain.tasks"), ms("streaming.drain.task_cpu_ms"),
      Seq("streaming.drain.bytes_written" -> "B"),
      ms("ops.build_ms", "ops.plan_ms", "ops.exec_ms"),
      count("ops.executions", "ops.jobs", "ops.stages", "ops.tasks"),
      ms("ops.task_run_ms", "ops.task_cpu_ms", "ops.gc_ms"),
      Seq("ops.shuffle_bytes" -> "B", "ops.spill_bytes" -> "B"), ms("ops.idle_ms"),
      Seq("ops.cached_mb_after" -> "MB"),
      Seq("short", "heavy", "iterative").flatMap(k =>
        ms(s"ops.$k.wall_ms", s"ops.$k.build_ms", s"ops.$k.idle_ms")),
      Seq("trace.overhead_pct" -> "%")).flatten
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS, fixturesS) = args
    val c = new Ctx(seedS.toLong, secondsS.toDouble, traceS == "1",
      Paths.get(workS).toAbsolutePath, Paths.get(fixturesS).toAbsolutePath)
    Files.createDirectories(c.work)
    val w: Workload = name match {
      case "ticks_hourly" => new TicksHourly(c)
      case "backfill_bulk" => new BackfillBulk(c)
      case "analytics_mix" => new AnalyticsMix(c)
      case other => sys.error(s"unknown workload $other")
    }
    val phases = mutable.ArrayBuffer.empty[(String, Long)]
    def phase(name: String): Unit = phases += (name -> System.nanoTime())
    phase("start")
    w.generate()
    phase("generate")
    val setups = (1 to w.setupReps).map { i =>
      val s = w.setup()
      if (i < w.setupReps) w.discard()
      s
    }
    phase("setup")
    w.beforeMeasure()
    phase("warm")

    // Rounds until the run's measuring time is spent; a traced run
    // alternates untraced and traced rounds so the tracing overhead is
    // the difference of the two medians.
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var tracedRounds = 0
    var rounds = 0
    val minRounds = math.max(w.minRounds, if (c.trace) 2 else 1)
    val t0 = System.nanoTime()
    var measured = 0.0
    while (measured < c.seconds || rounds < minRounds) {
      val on = w.tracer.exists(_ => rounds % 2 == 1)
      w.tracer.foreach(_.recording = on)
      val ops = w.round()
      w.tracer.foreach(_.recording = false)
      if (on) { traced ++= ops; tracedRounds += 1 } else plain ++= ops
      rounds += 1
      measured = (System.nanoTime() - t0) / 1e9
    }

    phase("measure")
    w.check()
    phase("check")
    val heapMb = {
      val mx = java.lang.management.ManagementFactory.getMemoryMXBean
      (1 to 2).map { _ => System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }.last
    }

    val all = (plain ++ traced).toSeq
    val tail = Report.tailPercentile(all.size)
    val info = Seq(
      "workload" -> Report.str(name), "seed" -> c.seed.toString,
      "rounds" -> rounds.toString, "ops" -> all.size.toString,
      "op_s" -> all.map(Report.num).mkString("[", ",", "]"),
      "setup_s" -> setups.map(Report.num).mkString("[", ",", "]"),
      "op_p50_s" -> Report.num(Report.median(all)),
      "tail_pct" -> tail.fold("null")(_.toString),
      "op_tail_s" -> tail.fold("null")(p => Report.num(Report.percentile(all, p))),
      "error_rate" -> Report.num(c.failed.toDouble / math.max(1L, c.attempted)),
      "phase_s" -> phases.toSeq.sliding(2).map { case Seq((_, a), (n, b)) =>
        s""""$n":${Report.num((b - a) / 1e9)}""" }.mkString("{", ",", "}"),
      "errors" -> c.errors.map(Report.str).mkString("[", ",", "]"))
    val metrics: Seq[(String, String)] = w.tracer match {
      case None => Seq(
        "setup_s" -> Report.metric(Report.median(setups), "s"),
        "op_p50_s" -> Report.metric(Report.median(plain.toSeq), "s"),
        "ops_per_s" -> Report.metric(plain.size / plain.sum, "1/s"),
        "heap_retained_mb" -> Report.metric(heapMb, "MB"))
      case Some(t) =>
        t.settle()
        val overhead = 100.0 * (Report.median(traced.toSeq) /
          Report.median(plain.toSeq) - 1.0)
        t.write(c.work.resolve(s"spans-$name.jsonl"))
        val got = w.layers(t, tracedRounds) + ("trace.overhead_pct" -> overhead)
        Layers.map { case (k, u) => k -> Report.metric(got.getOrElse(k, 0.0), u) }
    }
    System.err.println("[perfbench] " + Report.obj(info))
    w.close()
    println(Report.obj(Seq(
      "correct" -> (c.errors.isEmpty).toString,
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "metrics" -> Report.obj(metrics))))
  }
}
