package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Golden plan-shape artifact refresher:
  * `runMain graft.PlanGolden` recomputes every query's
  * [[graft.plans.PlanShape]] at sf0.001 and rewrites `PLAN_SHAPES.txt`
  * (one `name<TAB>op;op;…` line per query, sorted). `PlanShapeSpec`
  * asserts the working tree matches the artifact, so plan-shape
  * changes are always explicit: regenerate here and commit with a
  * message naming the queries whose shape legitimately moved.
  *
  * The session mirrors `SparkTestBase` (local[4], 4 shuffle
  * partitions, UTC, nanosAsLong) and disables AQE during computation
  * — shapes are static plan properties; sf0.001 is only schema+stats
  * context.
  */
object PlanGolden {

  val GoldenPath = "PLAN_SHAPES.txt"
  val DataDir = "/root/testdata/sf0.001"

  /** (name, joined-shape) for every query, sorted by name — the exact
    * artifact/spec payload, computed with AQE off. */
  def computeAll(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> plans.PlanShape.shape(fn(spark, dir)).mkString(";")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  def render(shapes: Seq[(String, String)]): String =
    shapes.map { case (n, s) => s"$n\t$s" }.mkString("", "\n", "\n")

  def main(args: Array[String]): Unit = {
    val spark = Mains.session(Mains.settings("4"))
    spark.sparkContext.setLogLevel("WARN")
    val out = render(computeAll(spark, DataDir))
    Files.writeString(Paths.get(GoldenPath), out)
    println(s"[plan-golden] wrote ${out.linesIterator.size} shapes to $GoldenPath")
    spark.stop()
  }
}
