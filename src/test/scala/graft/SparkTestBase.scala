package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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
}
