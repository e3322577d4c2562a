package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Multimodal plumbing: metadata determinism and frame-slice coverage. */
class MultiModalSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("q36 metadata is deterministic and byte-accurate") {
    val m = MultiModal.mmMetadata(spark, dir).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      assert(r.getAs[String]("content_md5").length === 32)
      assert(r.getAs[Long]("width") >= 1 && r.getAs[Long]("width") <= 1920)
      assert(r.getAs[Long]("height") >= 1 && r.getAs[Long]("height") <= 1080)
      assert(Set("image", "audio", "video")(r.getAs[String]("media_type")))
    }
    // n_bytes equals the UTF-8 length of the source text
    val n = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), length(encode(col("text"), "UTF-8")).cast("long").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m.foreach(r => assert(r.getAs[Long]("n_bytes") === n(r.getAs[Long]("doc_id"))))
  }

  test("q38 frames tile the payload prefix without overlap") {
    val frames = MultiModal.mmFrames(spark, dir)
    val perDoc = frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct("frame_md5").as("dn"),
        first("flen").as("flen")).collect()
    perDoc.foreach { r =>
      assert(r.getAs[Long]("n") === MultiModal.NFrames.toLong)
    }
    // frame digests recompute correctly from raw bytes for a sample doc
    val sample = frames.filter(col("doc_id") === perDoc.head.getAs[Long]("doc_id"))
      .orderBy("frame_idx").collect()
    val text = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") === sample.head.getAs[Long]("doc_id"))
      .head().getAs[String]("text")
    val bytes = text.getBytes("UTF-8")
    val flen = (bytes.length / MultiModal.NFrames).toInt
    sample.zipWithIndex.foreach { case (r, k) =>
      val slice = bytes.slice(k * flen, k * flen + flen)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(slice).map("%02x".format(_)).mkString
      assert(r.getAs[String]("frame_md5") === md)
    }
  }
}
