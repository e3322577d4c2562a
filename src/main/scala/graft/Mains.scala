package graft

import org.apache.spark.sql.SparkSession

/** Operational entry points — the reference ships two cron scripts
  * (`extract_script.py <job>` every 10 min, `load_warehouse.py`
  * hourly); these mains are their runnable equivalents plus the
  * streaming upgrade.
  *
  * Also the one owner of Spark session settings, the way the
  * reference's two scripts share one `config.ini`: every main and the
  * test base build their session from [[settings]] or
  * [[querySettings]] plus only what is their own. The ticks here thus
  * share Verify's and Bench's base settings, and Bench, MicroBench,
  * PlanProbe and Verify share one query engine, by construction.
  */
object Mains {
  /** Local parallelism: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: String =
      Runtime.getRuntime.availableProcessors().toString): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** The shared base: local parallelism, UTC, nanos-as-long for the
    * harness parquet, no UI, and file listing always on the driver.
    *
    * Listing: above `parallelPartitionDiscovery.threshold` paths (32 by
    * default) Spark lists leaf files as a Spark job with one task per
    * path. Under `local[cpus]` those tasks run on this JVM's own cores,
    * so the job lists the same files the driver would, plus a task's
    * fixed cost per path. A streaming drain hits this every time: the
    * file source has already listed its files and hands each one over
    * as an explicit path, so a 140-file drain paid a 140-task job to
    * list them again. The threshold is set past any path count, which
    * keeps listing serial on the driver. A cluster master set through
    * `SPARK_MASTER` inherits this serial listing too; there parallel
    * listing pays off only for thousands of directories. */
  def settings(cpus: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
      Int.MaxValue.toString,
    "spark.ui.enabled" -> "false")

  /** The query engine: graft's optimizer rules, AQE and the pipeline
    * cache — one definition, so an isolated re-measurement can never
    * time a different configuration from the suite it checks. */
  def querySettings(cpus: String): Map[String, String] = settings(cpus) ++ Map(
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    ops.PipelineCache.ConfKey -> "true")

  /** The one place a session is built: `conf` is [[settings]] or
    * [[querySettings]] plus only what is the caller's own. */
  private[graft] def session(conf: Map[String, String]): SparkSession =
    SparkSession.builder().config(conf).getOrCreate()

  /** The ticks' session; `SPARK_MASTER` points them at a cluster. */
  private[graft] def session(): SparkSession =
    session(settings(cpus()) ++
      sys.env.get("SPARK_MASTER").map("spark.master" -> _))
}

/** One extract tick: `runMain graft.ExtractTick <configDir> <jobName>`.
  *
  * Configuration comes from `configDir` in either of two shapes:
  * a single `config.ini` in the reference's configparser format
  * (`[configuration]` system section + `[job_<name>]` per job —
  * reference `config.ini` / `extract_script.py:13-30`), or the pair
  * `configuration.properties` + `job_<name>.properties`. The INI wins
  * when both exist. The job ledger lands in `configDir/job_logs.jsonl`.
  * Driver-side only — no Spark session, exactly like the reference's
  * script.
  */
object ExtractTick {
  private def props(path: java.nio.file.Path): Map[String, String] = {
    val p = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(path)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  /** (system config, job definition) from INI or properties files. */
  private[graft] def loadConfig(dir: java.nio.file.Path,
      jobName: String): (Map[String, String], Map[String, String]) = {
    val ini = dir.resolve("config.ini")
    if (java.nio.file.Files.exists(ini)) {
      val sections = extract.IniConfig.read(ini)
      (extract.IniConfig.section(sections, "configuration"),
        extract.IniConfig.section(sections, s"job_$jobName"))
    } else
      (props(dir.resolve("configuration.properties")),
        props(dir.resolve(s"job_$jobName.properties")))
  }

  def main(args: Array[String]): Unit = {
    val Array(configDir, jobName) = args
    val dir = java.nio.file.Paths.get(configDir)
    val (config, job) = loadConfig(dir, jobName)
    val control = new extract.JsonlJobControl(
      dir.resolve("job_logs.jsonl").toString,
      config = config,
      jobs = Map(jobName -> job))
    val res = extract.ExtractJob.run(jobName, control, new extract.JdkHttpBackend())
    println(s"[extract] job=$jobName status=${res.status} rows=${res.rows} " +
      s"file=${res.savedFile.getOrElse("-")}")
    if (res.status != "COMPLETED") sys.exit(1)
  }
}

/** One staging tick: `runMain graft.StagingTick <rawDir> <rawSink>
  * <cleanDir> <ledgerPath> [--retry-failed]` — discover, register,
  * process, report. With `--retry-failed`, FAILED ledger entries are
  * re-queued as NEW before the run (the operator's recovery path after
  * fixing whatever broke; reprocessing is idempotent — the per-file raw
  * sink is overwritten, not appended). */
object StagingTick {
  /** The full CLI behavior minus session lifecycle — testable. */
  private[graft] def run(spark: SparkSession,
      args: Array[String]): etl.StagingPipeline.RunSummary = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val Array(rawDir, rawSink, cleanDir, ledgerPath) = positional
    flags.filterNot(_ == "--retry-failed").foreach { f =>
      sys.error(s"unknown flag $f")
    }
    val pipeline = new etl.StagingPipeline(spark, rawDir, rawSink, cleanDir,
      new etl.JsonlControlStore(ledgerPath))
    if (flags.contains("--retry-failed")) {
      val requeued = pipeline.retryFailed()
      println(s"[staging] retry-failed requeued=${requeued.mkString(",")}")
    }
    val s = pipeline.runOnce()
    println(s"[staging] discovered=${s.discovered} registered=${s.registered} " +
      s"processed=${s.processed.size} failed=${s.failed.mkString(",")}")
    s
  }

  def main(args: Array[String]): Unit = {
    val spark = Mains.session()
    val s = run(spark, args)
    spark.stop()
    if (s.failed.nonEmpty) sys.exit(1)
  }
}

/** One aggregate tick (diagram stage 5): `runMain graft.AggregateTick
  * <warehouseDir> <aggregateDir> <from> <to>` — read the warehouse over
  * [from, to] (partition-pruned), dump the daily aggregate artifact.
  * Idempotent per date via dynamic partition overwrite. */
object AggregateTick {
  def main(args: Array[String]): Unit = {
    val Array(warehouseDir, aggregateDir, from, to) = args
    val spark = Mains.session()
    val rows = etl.WarehouseBuild.aggregate(spark, warehouseDir, aggregateDir, from, to)
    println(s"[aggregate] $from..$to rows=$rows -> $aggregateDir")
    spark.stop()
  }
}

/** One mart tick (diagram stage 6): `runMain graft.MartTick
  * <aggregateDir> <martDir>` — load the aggregate artifact into the
  * mart table, replacing only the dates present in the artifact. */
object MartTick {
  def main(args: Array[String]): Unit = {
    val Array(aggregateDir, martDir) = args
    val spark = Mains.session()
    val rows = etl.WarehouseBuild.loadMart(spark, aggregateDir, martDir)
    println(s"[mart] rows=$rows -> $martDir")
    spark.stop()
  }
}

/** Streaming drain: `runMain graft.StreamingDrain <rawDir> <rawSink>
  * <cleanSink> <checkpoint>` — the checkpointed exactly-once variant. */
object StreamingDrain {
  def main(args: Array[String]): Unit = {
    val Array(rawDir, rawSink, cleanSink, ckpt) = args
    val spark = Mains.session()
    streaming.FlightStream.stageAvailableNow(spark, rawDir, rawSink, cleanSink, ckpt)
    println(s"[stream] drained $rawDir -> $cleanSink (checkpoint $ckpt)")
    spark.stop()
  }
}
