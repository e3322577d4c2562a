package graft

/** Plan audit: `runMain graft.Explain q85_… [q88_… …]` prints each
  * named query's formatted physical plan (AQE initial plan) on
  * `SPARK_GRAFT_SF_DIR` (default sf0.001) — the `.explain` loop the
  * scale review runs after each operator lands. */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <query_name> [more…]")
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Mains.session(Mains.settings("4") +
      ("spark.sql.extensions" -> "graft.plans.GraftExtensions"))
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
