package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftBridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Shared local SparkSession for the suite (one JVM-wide session — the
  * scalatest runner forks one JVM, so `getOrCreate` dedupes). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Mains.session(Mains.settings("4") ++ Map(
    "spark.app.name" -> "graft-tests",
    // every optimizer step (incl. graft's injected rules) must preserve
    // Catalyst's plan invariants — unique ExprIds, resolved outputs
    "spark.sql.planChangeValidation" -> "true"))

  def fixturesDir: String = "src/test/resources/opensky"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The local property [[countingJobs]] tags jobs with. */
  private val JobTag = "graft.test.jobTag"

  /** Jobs carrying one value of the `JobTag` local property, as the
    * listener bus reports them: how many started, and the most that
    * were running at once. */
  final class TaggedJobs(tag: String) extends SparkListener {
    private val live = mutable.Set.empty[Int]
    var started, peak = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(JobTag) == tag)) {
        started += 1
        live += e.jobId
        peak = peak max live.size
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      live -= e.jobId
    }
  }

  /** Runs `body` under a fresh tag and counts the jobs that carry it.
    * Local properties pass to threads started from this one: pool
    * workers and a streaming query's thread, which replaces the job
    * group with its run id but keeps every other property. */
  def countingJobs[T](body: => T): (T, TaggedJobs) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new TaggedJobs(tag)
    sc.addSparkListener(jobs)
    sc.setLocalProperty(JobTag, tag)
    try {
      val r = body
      GraftBridge.waitListenerBusEmpty(spark, 30000L)
      (r, jobs)
    } finally {
      sc.setLocalProperty(JobTag, null)
      sc.removeSparkListener(jobs)
    }
  }
}
