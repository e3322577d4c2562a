package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import scala.collection.mutable

/** A recorded interval around one public call. Times are epoch
  * milliseconds (fractional), so they line up with Spark's stage times. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Double, var end: Double = Double.NaN,
    attrs: mutable.Map[String, Double] = mutable.Map.empty) {
  def ms: Double = end - start
}

/** Spark work attributed to one span: counted from the job's
  * `perfbench.span` local property, which the tracer sets on the driver
  * thread for the duration of each span (a streaming query thread
  * inherits it from the thread that starts the query). */
final class Work {
  var jobs, stages, tasks, executions = 0L
  var taskRunMs, taskCpuMs, gcMs, planMs = 0.0
  var shuffleBytes, spillBytes, bytesWritten, filesScanned = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Double, Double)]

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executions += o.executions
    taskRunMs += o.taskRunMs; taskCpuMs += o.taskCpuMs; gcMs += o.gcMs
    planMs += o.planMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; bytesWritten += o.bytesWritten
    filesScanned += o.filesScanned; stageSpans ++= o.stageSpans
  }
}

/** Outside-in tracer: spans around the benchmark's calls into the
  * program, plus a SparkListener that attributes jobs, stages, tasks and
  * SQL executions (with their planning phases) to the innermost open
  * span. Everything stays in memory until [[write]]. Spans are
  * only recorded while `recording` is set; the untraced run never
  * constructs a tracer. */
final class Tracer(spark: SparkSession, val run: String) extends SparkListener {
  private val Prop = "perfbench.span"
  @volatile var recording = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private val work = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()

  spark.sparkContext.addSparkListener(this)

  private def now: Double = System.nanoTime() / 1e6 + Tracer.offsetMs

  /** Records `body` as a span named `name` (a no-op wrapper while not
    * recording). `attrs` receives the span's attributes afterwards. */
  def span[T](name: String)(body: => T): T = spanWith(name)(body)((_, _) => ())

  def spanWith[T](name: String)(body: => T)(attrs: (T, Span) => Unit): T =
    if (!recording) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), run, now)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(Prop, s.id.toString)
      try {
        val r = body
        s.end = now
        attrs(r, s)
        r
      } finally {
        if (s.end.isNaN) s.end = now
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def workOf(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { v =>
      val span = v.toInt
      e.stageIds.foreach(stageSpan.put(_, span))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
      workOf(span).synchronized(workOf(span).jobs += 1)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val w = workOf(span)
      val i = e.stageInfo
      w.synchronized {
        w.stages += 1
        for (a <- i.submissionTime; b <- i.completionTime)
          w.stageSpans += ((a.toDouble, b.toDouble))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val w = workOf(span)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskRunMs += m.executorRunTime
          w.taskCpuMs += m.executorCpuTime / 1e6
          w.gcMs += m.jvmGCTime
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }

  /** A finished SQL execution: planning phases and scanned files, from
    * its `QueryExecution`. The event's `qe` accessor is package-private
    * in Scala but public in bytecode. (A QueryExecutionListener would see
    * the same plan, but under `QueryExecution.id`, which is not the SQL
    * execution id that the execution's jobs carry.) */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(execSpan.get(end.executionId)).foreach { span =>
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        val w = workOf(span)
        w.synchronized {
          w.executions += 1
          if (qe != null) {
            w.planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
            w.filesScanned += Tracer.scans(qe.executedPlan)
              .flatMap(_.metrics.get("numFiles")).map(_.value).sum
          }
        }
      }
    case _ =>
  }

  /** Drains the listener bus so every event of the recorded spans has
    * been counted. */
  def settle(): Unit =
    org.apache.spark.sql.graftbridge.GraftBridge.waitListenerBusEmpty(spark, 60000L)

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)

  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Spark work of a span and all its descendants. */
  def workUnder(s: Span): Work = {
    val total = new Work
    def go(x: Span): Unit = {
      Option(work.get(x.id)).foreach(w => w.synchronized(total += w))
      children.getOrElse(x.id, Nil).foreach(go)
    }
    go(s)
    total
  }

  /** Span wall time not covered by any running stage of its own work. */
  def idleMs(s: Span): Double = {
    val iv = workUnder(s).stageSpans
      .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, s.ms - covered)
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** All spans as JSON lines, with self time and attributed work. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = Option(work.get(s.id)).getOrElse(new Work)
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Report.num(v)}""" }
      (Seq(s""""id":${s.id}""", s""""name":"${s.name}"""", s""""parent":${s.parent}""",
        s""""run":"$run"""", s""""start_ms":${Report.num(s.start)}""",
        s""""end_ms":${Report.num(s.end)}""", s""""self_ms":${Report.num(selfMs(s))}""",
        s""""jobs":${w.jobs}""", s""""tasks":${w.tasks}""",
        s""""task_cpu_ms":${Report.num(w.taskCpuMs)}""") ++ attrs)
        .mkString("{", ",", "}")
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  private val offsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** File scans of an executed plan, looking through adaptive
    * execution's stages. */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}
