package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column operators: treat media as an opaque `binary`
  * payload column plus typed metadata, with decode/feature/frame ops
  * that run at scan speed.
  *
  * The harness has no real media files, so the payload is derived
  * deterministically (UTF-8 bytes of `documents.text` — both engines
  * produce identical BLOBs), and the "decode" is a clearly-marked STUB
  * (md5-derived integers standing in for pixel/sample features). What
  * is REAL and verified is the Spark-side plumbing a 100 TB media
  * pipeline needs:
  *
  *  - q36 metadata extraction: byte length, content digest, and a
  *    digest-routed media_type/width/height — pure codegen'd
  *    expressions over the binary column, mirrored in DuckDB.
  *  - q37 feature extraction: fixed-width integer feature vector per
  *    payload, as one expression that the oracle mirrors. A real
  *    decoder (JNI codec, ONNX session) would replace this kernel.
  *  - q38 frame sampling: N equal byte-range "frames" per payload with
  *    per-frame digests — the substring-on-binary slice pattern used
  *    for video keyframe / audio window sampling.
  *
  * Everything is per-row and shuffle-free except the presentation
  * ORDER BY; binary payloads never fan out through a join.
  */
object MultiModal {

  val FeatureDim = 8
  val NFrames = 4

  /** doc_id + opaque binary payload (deterministic stand-in media). */
  private def media(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  private def digest(payload: Column): Column = md5(payload)

  /** Digest-routed fake metadata — deterministic, engine-identical. */
  private def hex32(c: Column, from: Int, len: Int): Column =
    conv(substring(c, from, len), 16, 10).cast("long")

  def mmMetadata(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(col("doc_id"), col("payload"), digest(col("payload")).as("dg"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("dg").as("content_md5"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (hex32(col("dg"), 1, 4) % 3 + 1).cast("int")).as("media_type"),
        (hex32(col("dg"), 5, 4) % 1920 + 1).as("width"),
        (hex32(col("dg"), 9, 4) % 1080 + 1).as("height"))
      .orderBy("doc_id")

  /** The stub feature kernel as a codegen'd expression:
    * f(i) = hash32(md5hex ∥ "_" ∥ i) mod 1000, i < FeatureDim. */
  def featureExpr(payload: Column): Column = {
    val dg = digest(payload)
    transform(sequence(lit(0), lit(FeatureDim - 1)),
      i => TextAnalysis.wordHash(concat(dg, lit("_"), i.cast("string"))) % 1000)
  }

  def mmFeatures(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(col("doc_id"), featureExpr(col("payload")).as("features"))
      .select(col("doc_id") +: (0 until FeatureDim).map(i =>
        element_at(col("features"), i + 1).as(s"f$i")): _*)
      .orderBy("doc_id")

  /** q38: split the payload into NFrames equal byte ranges (remainder
    * bytes drop, like fixed-stride frame sampling) and digest each. */
  def mmFrames(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(col("doc_id"), col("payload"),
        expr(s"CAST(length(payload) AS BIGINT) DIV $NFrames").as("flen"))
      .filter(col("flen") >= 1)
      .select(col("doc_id"), col("payload"), col("flen"),
        explode(sequence(lit(0), lit(NFrames - 1))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("flen"),
        md5(col("payload").substr(
          (col("frame_idx") * col("flen") + 1).cast("int"),
          col("flen").cast("int"))).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** q139: media dedup accounting — per media type: items, distinct
    * payloads (by content digest), duplicate items, and exact byte
    * totals before/after dedup. THE first step of every media
    * pipeline: dedup on the cheap digest BEFORE paying for decode —
    * at 100 TB of video the decode you skip is the budget. One
    * (type, digest) census (the digest is computed in the scan — the
    * payload itself never shuffles), then a constant-sized type
    * census; bytes of a digest group counted once via min (identical
    * payloads have identical length). */
  def mmDedup(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(digest(col("payload")).as("dg"),
        length(col("payload")).cast("long").as("n_bytes"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (hex32(digest(col("payload")), 1, 4) % 3 + 1).cast("int"))
          .as("media_type"))
      .groupBy("media_type", "dg")
      .agg(count(lit(1)).as("n"), min("n_bytes").as("bytes_one"))
      .groupBy("media_type")
      .agg(sum("n").as("n_items"), count(lit(1)).as("n_payloads"),
        sum(col("n") * col("bytes_one")).as("bytes_total"),
        sum("bytes_one").as("bytes_dedup"))
      .select(col("media_type"), col("n_items").cast("long").as("n_items"),
        col("n_payloads").cast("long").as("n_payloads"),
        (col("n_items") - col("n_payloads")).cast("long").as("n_dup_items"),
        col("bytes_total").cast("long").as("bytes_total"),
        col("bytes_dedup").cast("long").as("bytes_dedup"),
        // dup bytes × 1e6 leaves int64 at ~9 TB per media type, so
        // the ppm runs in DECIMAL(38,0) (exact; `div` returns
        // BIGINT). DuckDB's sums are HUGEINT already.
        expr("CAST(bytes_total - bytes_dedup AS DECIMAL(38,0)) * 1000000 div bytes_total")
          .as("savings_ppm"))
      .orderBy("media_type")

  /** q142 block geometry: fixed [[BlockBytes]]-byte blocks (the
    * ragged tail drops), pairs must share ≥ [[MinSharedBlocks]]
    * distinct block digests, and a digest seen in more than
    * [[BlockDfCap]] docs is boilerplate (intros, color bars) and
    * generates no candidates — the q99 rare-key blocking argument,
    * which also bounds the self-join fan-out. FIXED stride, unlike
    * q38's length-relative frames: a length-relative boundary moves
    * with any edit, so near-identical payloads would share nothing;
    * fixed blocks keep every block before the first edit colliding. */
  val BlockBytes = 64L
  val MinSharedBlocks = 2L
  val BlockDfCap = 32L

  /** q142: block-overlap near-dup — media pairs sharing ≥
    * [[MinSharedBlocks]] fixed-stride block digests, the sub-file
    * dedup that catches the trims, re-muxes and tail edits q139's
    * whole-payload digest misses (one changed byte breaks the file
    * hash; every block before the edit still collides). The pair
    * census counts DISTINCT shared digests so a block repeated inside
    * one file can't inflate the overlap, and the overlap is reported
    * against the SMALLER file's block count (the q99 containment
    * convention).
    *
    * Scale shape: the digest df census and the digest-keyed self-join
    * share one exchange; fan-out per digest is ≤ cap² by the blocking
    * rule — never all-pairs; payload bytes never shuffle (digests are
    * computed in the scan projection). */
  def mmFrameOverlap(s: SparkSession, dir: String): DataFrame = {
    val blocks = media(s, dir)
      .select(col("doc_id"), col("payload"),
        expr(s"CAST(length(payload) AS BIGINT) DIV $BlockBytes").as("nb"))
      .filter(col("nb") >= 1)
      .select(col("doc_id"), col("payload"), col("nb"),
        explode(expr(s"sequence(0L, nb - 1L)")).as("bi"))
      .select(col("doc_id"), col("nb"),
        md5(col("payload").substr((col("bi") * BlockBytes + 1).cast("int"),
          lit(BlockBytes.toInt))).as("block_md5"))
    val f = blocks.select("doc_id", "nb", "block_md5").distinct()
    val df = f.groupBy("block_md5").agg(count(lit(1)).as("dfreq"))
    val rare = f.join(df.filter(col("dfreq") <= BlockDfCap), "block_md5")
    rare.select(col("block_md5"), col("doc_id").as("doc_a"), col("nb").as("nb_a"))
      .join(rare.select(col("block_md5"), col("doc_id").as("doc_b"),
        col("nb").as("nb_b")), Seq("block_md5"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "nb_a", "nb_b")
      .agg(countDistinct("block_md5").as("shared_blocks"))
      .filter(col("shared_blocks") >= MinSharedBlocks)
      .select(col("doc_a"), col("doc_b"),
        col("shared_blocks").cast("long").as("shared_blocks"),
        expr("shared_blocks * 1000 div least(nb_a, nb_b)").as("overlap_milli"))
      .orderBy("doc_a", "doc_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_mm_metadata" -> (mmMetadata _),
    "q37_mm_features" -> (mmFeatures _),
    "q38_mm_frames" -> (mmFrames _),
    "q139_mm_dedup" -> (mmDedup _),
    "q142_frame_overlap" -> (mmFrameOverlap _)
  )

  private def h32sql(x: String): String = Det.h8Sql(x)

  /** The oracle mirrors payload bytes through VARCHAR: this DuckDB
    * build has no md5/substring over BLOB, and the synthetic text is
    * pure ASCII, where md5(varchar) hashes the same UTF-8 bytes and
    * character offsets equal byte offsets. (The Spark side stays truly
    * binary.) */
  val oracles: Map[String, String] = Map(
    "q36_mm_metadata" ->
      s"""WITH d AS (SELECT doc_id, text, md5(text) AS dg FROM documents)
         |SELECT doc_id,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes,
         |  dg AS content_md5,
         |  (['image', 'audio', 'video'])[CAST(CAST(concat('0x', substr(dg, 1, 4)) AS BIGINT) % 3 + 1 AS INT)] AS media_type,
         |  CAST(concat('0x', substr(dg, 5, 4)) AS BIGINT) % 1920 + 1 AS width,
         |  CAST(concat('0x', substr(dg, 9, 4)) AS BIGINT) % 1080 + 1 AS height
         |FROM d ORDER BY doc_id""".stripMargin,
    "q37_mm_features" -> {
      val cols = (0 until FeatureDim).map(i =>
        s"${h32sql(s"concat(dg, '_', $i)")} % 1000 AS f$i").mkString(",\n  ")
      s"""WITH d AS (SELECT doc_id, md5(text) AS dg FROM documents)
         |SELECT doc_id,
         |  $cols
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "q38_mm_frames" ->
      s"""WITH m AS (SELECT doc_id, text,
         |    CAST(strlen(text) // $NFrames AS BIGINT) AS flen FROM documents),
         |f AS (SELECT doc_id, text, flen,
         |    unnest(generate_series(0, ${NFrames - 1})) AS frame_idx
         |    FROM m WHERE flen >= 1)
         |SELECT doc_id, frame_idx, flen,
         |  md5(substring(text, CAST(frame_idx * flen + 1 AS INT), CAST(flen AS INT))) AS frame_md5
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "q139_mm_dedup" ->
      """WITH d AS (
        | SELECT md5(text) AS dg, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  (['image', 'audio', 'video'])[CAST(CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 3 + 1 AS INT)] AS media_type
        | FROM documents),
        |g AS (
        | SELECT media_type, dg, count(*) AS n, min(n_bytes) AS bytes_one
        | FROM d GROUP BY 1, 2)
        |SELECT media_type,
        | CAST(sum(n) AS BIGINT) AS n_items,
        | CAST(count(*) AS BIGINT) AS n_payloads,
        | CAST(sum(n) - count(*) AS BIGINT) AS n_dup_items,
        | CAST(sum(n * bytes_one) AS BIGINT) AS bytes_total,
        | CAST(sum(bytes_one) AS BIGINT) AS bytes_dedup,
        | CAST((sum(n * bytes_one) - sum(bytes_one)) * 1000000
        |   // sum(n * bytes_one) AS BIGINT) AS savings_ppm
        |FROM g GROUP BY media_type ORDER BY media_type""".stripMargin,
    "q142_frame_overlap" ->
      s"""WITH m AS (SELECT doc_id, text,
         |    CAST(strlen(text) // $BlockBytes AS BIGINT) AS nb FROM documents),
         |fr AS (SELECT DISTINCT doc_id, nb,
         |    md5(substring(text, CAST(bi * $BlockBytes + 1 AS INT), ${BlockBytes.toInt})) AS block_md5
         |    FROM m, UNNEST(generate_series(0, CAST(nb - 1 AS INT))) AS s(bi)
         |    WHERE nb >= 1),
         |df AS (SELECT block_md5 FROM fr GROUP BY 1
         |    HAVING count(*) <= $BlockDfCap),
         |r AS (SELECT fr.doc_id, fr.nb, fr.block_md5
         |    FROM fr JOIN df USING (block_md5)),
         |p AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  least(a.nb, b.nb) AS nb_min,
         |  count(DISTINCT a.block_md5) AS shared_blocks
         | FROM r a JOIN r b ON a.block_md5 = b.block_md5
         |  AND a.doc_id < b.doc_id
         | GROUP BY 1, 2, 3)
         |SELECT doc_a, doc_b, CAST(shared_blocks AS BIGINT) AS shared_blocks,
         | CAST(shared_blocks * 1000 // nb_min AS BIGINT) AS overlap_milli
         |FROM p WHERE shared_blocks >= $MinSharedBlocks
         |ORDER BY doc_a, doc_b""".stripMargin
  )
}
