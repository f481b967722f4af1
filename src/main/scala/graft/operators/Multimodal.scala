package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables

/** Multimodal-column plumbing (SURVEY.md task mandate): media assets are
  * opaque `binary` payloads + typed metadata riding alongside relational
  * columns; decode / feature-extraction runs as a partition-batched
  * function over the binary column — the Scala/JVM analog of a
  * `mapInPandas` batch UDF: one iterator per partition, constant per-batch
  * setup (here the MessageDigest instance), streaming through rows without
  * materializing the partition.
  *
  * The decode step is a STUB by design (no image/audio codecs in this
  * environment): features are derived deterministically from the md5 of
  * the payload bytes, so the whole pipeline — binary column, metadata
  * struct, batched extraction, downstream relational ops — is real and
  * oracle-checked, and a production decoder would replace exactly one
  * function (`stubDecode`).
  *
  * Scale notes (100 TB): payloads never shuffle — extraction is map-side
  * (mapPartitions preserves partitioning), and only the small feature rows
  * flow into joins/aggregations. This is the only operator family in the
  * engine that steps outside WholeStageCodegen, which is the honest cost
  * of arbitrary-code decode; everything downstream of the features is
  * codegen'd DataFrame ops again.
  */
object Multimodal {

  /** Deterministic fake decode: media dims from the payload digest.
    * Mirrored digit-by-digit by the DuckDB twin (hex → int via strpos).
    */
  private[operators] def stubDecode(md5hex: String): (Long, Long, Long) = {
    def hexVal(from: Int, len: Int): Long =
      md5hex.substring(from, from + len).foldLeft(0L) { (acc, c) =>
        acc * 16 + Character.digit(c, 16)
      }
    val width = 1L + hexVal(0, 6) % 1920L
    val height = 1L + hexVal(6, 6) % 1080L
    val nFrames = 1L + hexVal(12, 4) % 240L
    (width, height, nFrames)
  }

  /** SQL twin of hexVal over md5(text): positional fold of hex digits. */
  private def sqlHexVal(from: Int, len: Int): String =
    (from until from + len).map(j =>
      s"(strpos('0123456789abcdef', substring(md5(text), ${j + 1}, 1)) - 1) * ${math.pow(16, from + len - 1 - j).toLong}")
      .mkString("(", " + ", ")")

  /** The opaque-asset table: payload bytes + typed metadata. Derived from
    * `documents` (text bytes stand in for media bytes — same plumbing).
    */
  private def assets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      col("lang").as("fmt"),
      col("n_chars").as("n_bytes"))

  /** Partition-batched feature extraction over the binary column.
    *
    * DELIBERATELY a typed `mapPartitions`, not the codegen'd `md5()`
    * expression that would compute the identical hex: the point of this
    * operator is the partition-batched decode pattern a real media
    * pipeline needs — one expensive native resource (here MessageDigest,
    * in production a JNI codec/ffmpeg handle) allocated ONCE per
    * partition and reused across its rows, with the decode loop outside
    * codegen because arbitrary native code is. Swapping in the built-in
    * would erase exactly the plumbing this multimodal family exists to
    * demonstrate; the 0.24 s query cost is the measured price of the
    * typed boundary and is accepted for that reason (VERDICT r7).
    */
  private def features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir)
      .select(col("doc_id"), col("payload"), col("fmt"), col("n_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, payload, fmt, nBytes) =>
          md.reset()
          val hex = md.digest(payload).map("%02x".format(_)).mkString
          val (w, h, f) = stubDecode(hex)
          (id, fmt, nBytes, w, h, f)
        }
      }
      .toDF("doc_id", "fmt", "n_bytes", "width", "height", "n_frames")
  }

  private val sqlFeatures: String =
    s"""feat AS (SELECT doc_id, lang AS fmt, n_chars AS n_bytes,
       |  1 + ${sqlHexVal(0, 6)} % 1920 AS width,
       |  1 + ${sqlHexVal(6, 6)} % 1080 AS height,
       |  1 + ${sqlHexVal(12, 4)} % 240 AS n_frames
       |  FROM documents)""".stripMargin

  /** mm_decode — per-asset stub-decoded features joined back to relational
    * metadata, aggregated per format: the canonical "decode then analyze"
    * multimodal pipeline shape.
    */
  def mmDecode(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir)
      .groupBy(col("fmt"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("n_frames")).as("total_frames"),
        max(col("width")).as("max_width"))
      .orderBy(col("fmt"))

  val mmDecodeSql: String =
    s"""WITH $sqlFeatures
       |SELECT fmt, count(*) AS n_assets,
       |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       |  CAST(SUM(width) AS BIGINT) AS sum_width,
       |  CAST(SUM(height) AS BIGINT) AS sum_height,
       |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
       |  max(width) AS max_width
       |FROM feat GROUP BY fmt ORDER BY fmt""".stripMargin

  /** mm_frame_sample — generator over decoded metadata: sample every 10th
    * frame index per asset, tagging each sampled frame with a stub
    * perceptual hash. Explode stays map-side; output rows ~ n_frames/10.
    */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(10L)))
          .as("frame_idx"))
      .withColumn("phash",
        substring(md5(concat_ws(":", col("doc_id"), col("frame_idx"))), 1, 8))
      .orderBy(col("doc_id"), col("frame_idx"))

  val mmFrameSampleSql: String =
    s"""WITH $sqlFeatures
       |SELECT doc_id, frame_idx,
       |  substring(md5(doc_id || ':' || frame_idx), 1, 8) AS phash
       |FROM (SELECT doc_id, unnest(range(0, n_frames, 10)) AS frame_idx
       |      FROM feat)
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** mm_phash_dedup — perceptual-hash near-dup detection over the OPAQUE
    * payload column: a 48-bit signature per asset (stubbed as md5 bits —
    * a real pHash/aHash replaces exactly the signature expression), 4 ×
    * 12-bit multi-index bands generate candidates by equi-join (the
    * SimHash pigeonhole idiom: any pair within Hamming 3 of a 48-bit
    * code shares at least one of 4 bands; ≤ 6 is the verify bound), then
    * `bit_count(sig XOR sig)` verifies candidates only. With the stub
    * signature only exact-payload duplicates land within the bound —
    * the BLOCKING MACHINERY is what this row ships; a real decoder makes
    * the same plan find visual near-dups.
    *
    * Scale: signatures are map-side (codegen'd md5 + hex fold — the
    * payload never shuffles, only 8-byte codes); candidates are
    * band-bucket-occupancy-bounded; verification is O(candidates).
    */
  def mmPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    def hexBits(h: org.apache.spark.sql.Column, from: Int, len: Int) =
      conv(substring(h, from + 1, len), 16, 10).cast("long")
    // stub signature = hash of a CANONICAL CROP (normalize, take the
    // leading 64 bytes) — the aHash/pHash analogy: decode canonicalizes
    // (resize/grayscale), the signature hashes the canonical form, and
    // assets differing outside the crop still collide
    val sig = assets(spark, dir)
      .withColumn("hx", md5(substring(
        lower(trim(col("payload").cast("string"))), 1, 64).cast("binary")))
      .select(col("doc_id"), hexBits(col("hx"), 0, 12).as("sig"),
        array((0 to 3).map(k =>
          struct(lit(k).as("b"), hexBits(col("hx"), 3 * k, 3).as("v"))): _*)
          .as("bands"))
    val bands = sig.select(col("doc_id"), col("sig"),
      explode(col("bands")).as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.b").as("b"), col("band.v").as("v"))
    val cand = bands.as("a")
      .join(bands.as("c"),
        col("a.b") === col("c.b") && col("a.v") === col("c.v") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
        col("a.sig").as("sa"), col("c.sig").as("sb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(expr("sa ^ sb")).cast("long"))
      .filter(col("hamming") <= 6)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def sqlHexValOn(e: String, from: Int, len: Int): String =
    (from until from + len).map(j =>
      s"(strpos('0123456789abcdef', substring($e, ${j + 1}, 1)) - 1) * ${math.pow(16, from + len - 1 - j).toLong}")
      .mkString("(", " + ", ")")

  val mmPhashDedupSql: String =
    s"""WITH s AS (SELECT doc_id,
       |    md5(substring(lower(trim(text)), 1, 64)) AS hx
       |  FROM documents),
       |sig AS (SELECT doc_id,
       |    ${sqlHexValOn("hx", 0, 12)} AS sig,
       |    ${sqlHexValOn("hx", 0, 3)} AS b0,
       |    ${sqlHexValOn("hx", 3, 3)} AS b1,
       |    ${sqlHexValOn("hx", 6, 3)} AS b2,
       |    ${sqlHexValOn("hx", 9, 3)} AS b3
       |  FROM s),
       |bands AS (SELECT doc_id, sig,
       |    unnest([0, 1, 2, 3]) AS b, unnest([b0, b1, b2, b3]) AS v
       |  FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |    a.sig AS sa, c.sig AS sb
       |  FROM bands a JOIN bands c
       |    ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin

  /** mm_interleave_pack (M4) — INTERLEAVED multimodal sequence packing:
    * the training-unit assembly step for image-text models (LLaVA/
    * Flamingo-style corpora), where each unit's token budget is shared
    * between text tokens and per-asset VISION-TOKEN costs. Every
    * document contributes its text item (whitespace-token count) AND its
    * media asset (vision cost = 64 + (width·height) div 50000 from the
    * stub-decoded dims — the patch-count shape of a real vision
    * tokenizer, deterministic here); both modalities union into ONE
    * per-lang stream ordered by (doc_id, media-after-text) and pack
    * greedily into 2000-token units with doc_shard_pack's
    * running-sum-window assignment — so a unit interleaves text and
    * images exactly as the loader would emit them. Per (lang, unit):
    * item/media counts and the text/vision token split.
    *
    * Scale: the pack is one per-lang window over (docs + assets) rows —
    * metadata-sized, payload bytes never enter the window; at fleet
    * scale the stream is bucketed per (lang, day) like shard_pack.
    */
  def mmInterleavePack(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val textItems = d.select(col("lang"), col("doc_id"),
      lit(0L).as("kind"),
      size(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))),
        " ")).cast("long").as("tokens"))
    val mediaItems = d
      .select(col("lang"), col("doc_id"),
        md5(col("text")).as("h"))
      .select(col("lang"), col("doc_id"), lit(1L).as("kind"),
        (lit(64L) + expr(
          "((1 + cast(conv(substring(h, 1, 6), 16, 10) as bigint) % 1920)" +
            " * (1 + cast(conv(substring(h, 7, 6), 16, 10) as bigint)" +
            " % 1080)) div 50000"))
          .as("tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"), col("kind"))
    textItems.unionByName(mediaItems)
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("unit_id", expr("(cum - tokens) div 2000"))
      .groupBy(col("lang"), col("unit_id"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("kind") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_media"),
        sum(when(col("kind") === 0L, col("tokens")).otherwise(0L))
          .cast("long").as("text_tokens"),
        sum(when(col("kind") === 1L, col("tokens")).otherwise(0L))
          .cast("long").as("vision_tokens"))
      .orderBy(col("lang"), col("unit_id"))
  }

  val mmInterleavePackSql: String = {
    def hv(from: Int, len: Int): String =
      (from until from + len).map(j =>
        s"(strpos('0123456789abcdef', substring(h, ${j + 1}, 1)) - 1)" +
          s" * ${math.pow(16, from + len - 1 - j).toLong}")
        .mkString("(", " + ", ")")
    s"""WITH d AS (SELECT lang, doc_id, text, md5(text) AS h
       |  FROM documents),
       |items AS (
       |  SELECT lang, doc_id, 0 AS kind,
       |    CAST(len(string_split(
       |      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
       |      AS BIGINT) AS tokens
       |  FROM d
       |  UNION ALL
       |  SELECT lang, doc_id, 1 AS kind,
       |    64 + ((1 + ${hv(0, 6)} % 1920) * (1 + ${hv(6, 6)} % 1080))
       |      // 50000 AS tokens
       |  FROM d),
       |c AS (SELECT lang, doc_id, kind, tokens,
       |    SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id, kind
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM items)
       |SELECT lang, CAST((cum - tokens) // 2000 AS BIGINT) AS unit_id,
       |  COUNT(*) AS n_items,
       |  CAST(SUM(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_media,
       |  CAST(SUM(CASE WHEN kind = 0 THEN tokens ELSE 0 END) AS BIGINT)
       |    AS text_tokens,
       |  CAST(SUM(CASE WHEN kind = 1 THEN tokens ELSE 0 END) AS BIGINT)
       |    AS vision_tokens
       |FROM c GROUP BY lang, unit_id ORDER BY lang, unit_id""".stripMargin
  }

  lazy val registry: Seq[Query] = Seq(
    Query("mm_decode", mmDecode, mmDecodeSql),
    Query("mm_frame_sample", mmFrameSample, mmFrameSampleSql),
    Query("mm_phash_dedup", mmPhashDedup, mmPhashDedupSql),
    Query("mm_interleave_pack", mmInterleavePack, mmInterleavePackSql))
}
