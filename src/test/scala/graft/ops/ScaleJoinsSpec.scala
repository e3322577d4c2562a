package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Salted aggregation parity and q180's shard-placement replay. */
class ScaleJoinsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("salted count/sum equals the direct aggregation") {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
    val direct = li.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_value"))
    val salted = ScaleJoins.saltedCountSum(li, "l_orderkey", "l_quantity", 4)
    assert(salted.join(direct,
      Seq("l_orderkey", "n_rows", "sum_value"), "left_anti").count() === 0)
    assert(salted.count() === direct.count())
  }

  test("q180: placements replay in plain Scala; loads conserve; skew is per-scheme") {
    val sf = "/root/testdata/sf0.001"
    val out = ScaleJoins.shardBalance(spark, sf).collect()
      .map(r => (r.getAs[String]("scheme"), r.getAs[Long]("shard"),
        r.getAs[Long]("n"), r.getAs[Long]("skew_milli")))
    assert(out.nonEmpty)
    def h8(x: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8), 16)
    }
    val keys = graft.Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getAs[Long]("doc_id").toString)
    val nDocs = keys.length.toLong
    val modLoads = keys.groupBy(k => h8(k) % ScaleJoins.NShards)
      .view.mapValues(_.length.toLong).toMap
    val hrwLoads = keys.groupBy { k =>
      val hs = (0 until ScaleJoins.NShards).map(i => h8(s"${k}_$i"))
      hs.indexOf(hs.max).toLong
    }.view.mapValues(_.length.toLong).toMap
    val expect = Map("mod" -> modLoads, "rendezvous" -> hrwLoads)
    out.groupBy(_._1).foreach { case (scheme, rows) =>
      val loads = expect(scheme)
      assert(rows.map(_._3).sum === nDocs, s"$scheme conserves")
      rows.foreach { case (_, shard, n, skew) =>
        assert(n === loads(shard), s"$scheme shard $shard")
        assert(skew ===
          loads.values.max * 1000L * ScaleJoins.NShards / nDocs)
      }
    }
  }
}
