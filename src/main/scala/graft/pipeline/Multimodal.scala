package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One sampled frame: byte range + stub feature checksum. */
final case class FrameSample(
    doc_id: Long,
    frame_idx: Int,
    frame_offset: Long,
    frame_len: Long,
    frame_checksum: Long)

/** Typed per-media metadata row produced by the (stubbed) decoder. */
final case class MediaMeta(
    doc_id: Long,
    n_bytes: Long,
    magic: String,
    width: Int,
    height: Int,
    n_frames: Int,
    feature_checksum: Long)

/** Multimodal-column plumbing: treat media as an opaque `binary` column
  * and run a partition-batched decode/feature-extract stage over it.
  *
  * The Spark-side shape is the real thing — a `binary` payload column,
  * a typed output schema via a case-class `Encoder`, and `mapPartitions`
  * batching (one decoder instantiation per partition, streaming over the
  * rows, never collecting) — exactly how an image/audio decode stage runs
  * on a cluster. The DECODE ITSELF IS A STUB (this container has no
  * media libraries): payload bytes are the UTF-8 text and the "decoded"
  * width/height/frame-count are deterministic functions of the byte
  * stream, so the stage is fully oracle-checkable end to end.
  *
  * Scale: narrow map stage, no shuffle; the binary payload never leaves
  * the executor that scanned it. `m_multimodal_meta`.
  */
object Multimodal {

  /** documents with an opaque binary payload column (UTF-8 bytes here;
    * parquet BYTE_ARRAY of real media in production). */
  def withPayload(spark: SparkSession, dir: String): DataFrame =
    Docs.docs(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withPayload(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // STUB DECODER — a real implementation would open a codec here
        // (once per partition) and parse container headers per payload.
        rows.map { case (id, bytes) =>
          val n = bytes.length.toLong
          val magic = new String(bytes.take(4), java.nio.charset.StandardCharsets.UTF_8)
          var checksum = 0L
          var i = 0
          while (i < bytes.length) { // rolling byte checksum, mod 1e9+7
            checksum = (checksum * 131 + (bytes(i) & 0xff)) % 1000000007L
            i += 1
          }
          MediaMeta(id, n, magic,
            width = (n % 640).toInt, height = (n % 480).toInt,
            n_frames = (n % 16 + 1).toInt, feature_checksum = checksum)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Frame sampling: the video-pipeline stage that decodes k evenly
    * spaced frames instead of the whole clip. The payload is split into
    * `n_frames` byte chunks (the stub's "frames"); up to `maxFrames`
    * evenly spaced frame indices are sampled and each sampled frame is
    * "decoded" into a feature checksum over exactly its byte range.
    * One output row per sampled frame — the explode-shaped plumbing a
    * real frame sampler needs (schema, per-frame rows, batched decode),
    * with the decode stubbed deterministically. `m_frame_sample`. */
  def frameSample(spark: SparkSession, dir: String, maxFrames: Int = 4): DataFrame = {
    import spark.implicits._
    withPayload(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val n = bytes.length.toLong
          val nf = (n % 16 + 1).toInt
          val idxs =
            if (nf <= maxFrames) 0 until nf
            else (0 until maxFrames).map(k => (k.toLong * (nf - 1) / (maxFrames - 1)).toInt)
          idxs.distinct.map { i =>
            val off = i.toLong * n / nf
            val end = (i + 1).toLong * n / nf
            var cs = 0L
            var p = off.toInt
            while (p < end) { cs = (cs * 131 + (bytes(p) & 0xff)) % 1000000007L; p += 1 }
            FrameSample(id, i, off, end - off, cs)
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Resize planning: the stage between decode and re-encode that picks
    * target dimensions fitting a `box`×`box` budget while preserving
    * aspect ratio (what an image-preprocessing pipeline feeds the actual
    * scaler). Consumes [[multimodalMeta]]'s decoded dimensions — stage
    * chaining over the same narrow-map plumbing — and stays in pure
    * integer arithmetic (`DIV`, `GREATEST`) so the plan is codegen'd,
    * shuffle-free, and bit-exact cross-engine (no float scale factors).
    * Degenerate 0-sized stub dims clamp to 1. `m_resize`. */
  def resizePlan(spark: SparkSession, dir: String, box: Long = 224L): DataFrame = {
    val sw = greatest(col("width").cast("long"), lit(1L))
    val sh = greatest(col("height").cast("long"), lit(1L))
    val mx = greatest(sw, sh)
    // integer downscale: (side * box) div longest — products stay far
    // below 2^53 so the double floor is exact
    def scaled(side: org.apache.spark.sql.Column) =
      greatest(floor((side * lit(box)).cast("double") / mx).cast("long"), lit(1L))
    multimodalMeta(spark, dir)
      .select(col("doc_id"),
        sw.as("src_w"), sh.as("src_h"),
        when(mx <= box, sw).otherwise(scaled(sw)).as("out_w"),
        when(mx <= box, sh).otherwise(scaled(sh)).as("out_h"),
        (mx > box).as("resized"))
      .withColumn("out_bytes", col("out_w") * col("out_h") * lit(3L))
      .orderBy(col("doc_id"))
  }

  /** Shard capacity for [[shardPack]] — tiny here so the test corpus
    * spans many shards; ~1 GB in a real training-data writer. */
  val ShardBytes = 4096L

  /** Writer parallelism per language: payloads pack into independent
    * (lang, bucket) streams. */
  val ShardBuckets = 8L

  /** Shard packing — the OUTPUT stage of a training-data pipeline:
    * assign each payload to a fixed-capacity shard file (webdataset/
    * tfrecord style). Distributed the way real shard writers are: a
    * payload hashes to one of [[ShardBuckets]] writer buckets per
    * language, and each (lang, bucket) stream packs independently by
    * running byte total in doc-id order — so the window state is
    * per-writer, never a global sequence (a single global cumsum would
    * serialize the corpus through one partition at 100 TB; per-writer
    * packing is exactly how distributed webdataset writers bound shard
    * sizes). Integer-only arithmetic ⇒ unconditional oracle parity.
    * `m_shard_pack`. */
  def shardPack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Docs.docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars").as("n_bytes"),
        pmod(col("doc_id"), lit(ShardBuckets)).as("bucket"))
      .withColumn("cum_bytes", sum(col("n_bytes")).over(w))
      // shard index = full shards before this payload's first byte;
      // the double floor is exact while totals stay far under 2^53
      .withColumn("shard_idx",
        floor((col("cum_bytes") - col("n_bytes")).cast("double") / ShardBytes)
          .cast("long"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("n_bytes"),
        col("shard_idx"))
      .orderBy(col("doc_id"))
  }

  /** Modality-coverage audit: FULL OUTER join of the text corpus against
    * the embedding table on the shared id — the completeness report a
    * multimodal pipeline runs before training (every pairing pipeline
    * has rows with a missing modality; they must be counted, not
    * silently inner-joined away). Per-(lang, modality) counts; the
    * language is NULL-bucketed as '--' for embedding-only rows. Both
    * sides shuffle once on the id key (full outer cannot broadcast);
    * the rollup is map-side combined. `m_modality_join`. */
  def modalityJoin(spark: SparkSession, dir: String): DataFrame = {
    val d = Docs.docs(spark, dir).select(col("doc_id").as("id"), col("lang"))
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("label"))
    d.join(e, Seq("id"), "full_outer")
      .select(coalesce(col("lang"), lit("--")).as("lang"),
        when(col("lang").isNotNull && col("label").isNotNull, "both")
          .when(col("lang").isNotNull, "text_only")
          .otherwise("embedding_only").as("modality"))
      .groupBy(col("lang"), col("modality"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("modality"))
  }

  /** Bits in the perceptual-hash stub (matches [[Dedup.SimhashBits]]'
    * 60-bit convention — 15 md5-hex digits stay under 2^60). */
  val PhashBits = 60

  /** Hamming budget + band count for [[phashDedup]]'s pigeonhole
    * banding (3+1 bands of 15 bits tile the 60-bit hash). */
  val PhashHammingMax = 3

  /** Perceptual-hash stub of one decoded payload: 60-bit simhash over
    * the decoder output's overlapping 4-char windows (a real pHash
    * DCTs a downscaled image; the stub keeps the ESSENTIAL property —
    * similar payloads land within a small Hamming distance — while
    * staying oracle-replayable). Runs inside the partition-batched
    * decode stage. */
  private def phashOf(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Int](PhashBits)
    // ASCII fast path: a 4-CHAR window's UTF-8 bytes are exactly the 4
    // code units, so one reusable buffer replaces the per-window
    // substring + getBytes allocations. Non-ASCII payloads (multi-byte
    // windows) keep the definitional path — same bytes either way.
    var ascii = true
    var a = 0
    while (ascii && a < text.length) {
      if (text.charAt(a) >= 0x80) ascii = false
      a += 1
    }
    val win = new Array[Byte](4)
    var i = 0
    while (i + 4 <= text.length) {
      if (ascii) {
        win(0) = text.charAt(i).toByte
        win(1) = text.charAt(i + 1).toByte
        win(2) = text.charAt(i + 2).toByte
        win(3) = text.charAt(i + 3).toByte
        md.update(win)
      } else {
        md.update(text.substring(i, i + 4)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val d = md.digest()
      // first 15 hex digits of the digest = top 60 bits of the first 8
      // bytes read big-endian — the former per-window hex format +
      // re-parse (measured: the decode stage's dominant cost) computed
      // exactly this value through two string allocations per window
      val h = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      var j = 0
      while (j < PhashBits) {
        sums(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    (0 until PhashBits).foldLeft(0L)((acc, j) =>
      if (sums(j) > 0) acc | (1L << j) else acc)
  }

  /** Per-payload perceptual hash — the decode+fingerprint stage:
    * binary in, (doc_id, phash) out, one decoder per partition. */
  def phashTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The decode+fingerprint stage is the key's dominant compute
    // (~60 MD5 digests per payload) and inherits the scan's layout
    // (JobProfile r21: one task, 7.9 s task time ≈ 8.2 s wall), so it
    // is widened first
    graft.sources.Layout.widen(withPayload(spark, dir), "doc_id")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // STUB DECODER (see multimodalMeta) — decode then fingerprint
        rows.map { case (id, bytes) =>
          (id, phashOf(new String(bytes,
            java.nio.charset.StandardCharsets.UTF_8)))
        }
      }
      .toDF("doc_id", "phash")
  }

  /** Perceptual-hash near-duplicate pairs over the media payloads —
    * the image-dedup step of a multimodal ingest (pHash + Hamming
    * threshold is the standard screen for re-encoded/resized copies):
    * banded by the [[Dedup.simhashPairs]] pigeonhole rule
    * (hamming ≤ [[PhashHammingMax]] ⇒ the pair agrees on ≥1 of the
    * HammingMax+1 bands), bucket equi-join with the x-side capped at
    * [[Dedup.BandBucketCap]] lowest-id members per bucket
    * ([[Dedup.cappedBandPairs]] — a spacer-image mega-group collapses
    * every band into ONE bucket, so the uncapped join is ~4·C(n, 2)
    * pairs from a single key; capped it is ≤ n·cap with the bucket
    * minimum always a witness, preserving keep-first semantics), exact
    * Hamming verify — never an all-pairs product. The decode/hash
    * stage is the mapPartitions batch path; everything after is plain
    * banded DataFrame land. `m_phash_dedup`. */
  def phashDedup(spark: SparkSession, dir: String,
                 cap: Int = Dedup.BandBucketCap): DataFrame = {
    val nBands = PhashHammingMax + 1
    require(PhashBits % nBands == 0, "bands must tile the hash")
    val bandBits = PhashBits / nBands
    val fp = phashTable(spark, dir).localCheckpoint(true)
    Dedup.cappedBandPairs(
        Dedup.bandedFingerprints(fp, "phash", nBands, bandBits), cap)
      .filter(col("hamming") <= PhashHammingMax)
      .distinct()
      .orderBy(col("a"), col("b"))
  }

  /** The payload is ASCII text, so the oracle can recompute byte length,
    * magic and the rolling checksum from character codes. */
  val oracle: Map[String, String] = Map(
    "m_phash_dedup" -> {
      val nBands = PhashHammingMax + 1
      val bandBits = PhashBits / nBands
      val mask = (1L << bandBits) - 1
      val sums = (0 until PhashBits)
        .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(", ")
      val assembled = (0 until PhashBits)
        .map(j =>
          s"(CASE WHEN s$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END)")
        .mkString(" + ")
      s"""WITH pg AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(text) - 2),
                                        i -> substr(text, i, 4))) AS gram
           FROM documents WHERE len(text) >= 4),
         gh AS (SELECT doc_id, ${graft.Hashing.hexFoldSql("gram")} AS h
                FROM pg),
         ps AS (SELECT doc_id, $sums FROM gh GROUP BY doc_id),
         fp AS (
           SELECT doc_id, $assembled AS phash FROM ps
           UNION ALL
           SELECT doc_id, CAST(0 AS BIGINT) FROM documents
           WHERE len(text) < 4),
         banded AS (
           SELECT doc_id, phash, bb.b AS band,
                  (phash >> (bb.b * $bandBits)) & $mask AS bits
           FROM fp, (SELECT unnest(range($nBands)) AS b) bb),
         wit AS (
           SELECT doc_id, phash, band, bits FROM (
             SELECT doc_id, phash, band, bits,
                    ROW_NUMBER() OVER (PARTITION BY band, bits
                      ORDER BY doc_id) AS rn
             FROM banded) WHERE rn <= ${Dedup.BandBucketCap})
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
         FROM wit x JOIN banded y
           ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.phash, y.phash)) <= $PhashHammingMax
         ORDER BY a, b"""
    },
    "m_modality_join" ->
      """WITH j AS (
           SELECT d.lang, e.label
           FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
         SELECT COALESCE(lang, '--') AS lang,
                CASE WHEN lang IS NOT NULL AND label IS NOT NULL THEN 'both'
                     WHEN lang IS NOT NULL THEN 'text_only'
                     ELSE 'embedding_only' END AS modality,
                COUNT(*) AS n
         FROM j GROUP BY 1, 2 ORDER BY lang, modality""",
    "m_shard_pack" ->
      s"""WITH w AS (
           SELECT doc_id, lang, n_chars AS n_bytes,
                  doc_id % $ShardBuckets AS bucket,
                  SUM(n_chars) OVER (
                    PARTITION BY lang, doc_id % $ShardBuckets ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM documents)
         SELECT doc_id, lang, bucket, n_bytes,
                CAST((cum - n_bytes) // $ShardBytes AS BIGINT) AS shard_idx
         FROM w ORDER BY doc_id""",
    "m_multimodal_meta" ->
      """WITH b AS (
           SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           FROM documents)
         SELECT doc_id, n_bytes,
           substr(text, 1, 4) AS magic,
           CAST(n_bytes % 640 AS INTEGER) AS width,
           CAST(n_bytes % 480 AS INTEGER) AS height,
           CAST(n_bytes % 16 + 1 AS INTEGER) AS n_frames,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, CAST(n_bytes + 1 AS INTEGER)),
                              i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
             (acc, c) -> (acc * 131 + c) % 1000000007) AS feature_checksum
         FROM b ORDER BY doc_id""",
    "m_frame_sample" ->
      """WITH b AS (
           SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           FROM documents),
         f AS (SELECT doc_id, text, n_bytes,
                      CAST(n_bytes % 16 + 1 AS BIGINT) AS nf FROM b),
         ks AS (
           SELECT doc_id, text, n_bytes, nf, t.range AS k
           FROM f, range(0, 4) t
           WHERE nf > 4 OR t.range < nf),
         idxs AS (
           SELECT DISTINCT doc_id, text, n_bytes, nf,
                  CASE WHEN nf <= 4 THEN k ELSE (k * (nf - 1)) // 3 END AS fi
           FROM ks)
         SELECT doc_id,
                CAST(fi AS INTEGER) AS frame_idx,
                (fi * n_bytes) // nf AS frame_offset,
                ((fi + 1) * n_bytes) // nf - (fi * n_bytes) // nf AS frame_len,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      range(CAST((fi * n_bytes) // nf + 1 AS INTEGER),
                            CAST(((fi + 1) * n_bytes) // nf + 1 AS INTEGER)),
                      i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
                  (acc, c) -> (acc * 131 + c) % 1000000007) AS frame_checksum
         FROM idxs ORDER BY doc_id, frame_idx""",
    "m_resize" ->
      """WITH b AS (
           SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
           FROM documents),
         d AS (
           SELECT doc_id,
                  GREATEST(n % 640, 1) AS sw,
                  GREATEST(n % 480, 1) AS sh
           FROM b),
         m AS (SELECT doc_id, sw, sh, GREATEST(sw, sh) AS mx FROM d),
         r AS (
           SELECT doc_id, sw AS src_w, sh AS src_h,
                  CASE WHEN mx <= 224 THEN sw
                       ELSE GREATEST((sw * 224) // mx, 1) END AS out_w,
                  CASE WHEN mx <= 224 THEN sh
                       ELSE GREATEST((sh * 224) // mx, 1) END AS out_h,
                  mx > 224 AS resized
           FROM m)
         SELECT doc_id, src_w, src_h, out_w, out_h, resized,
                out_w * out_h * 3 AS out_bytes
         FROM r ORDER BY doc_id""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_multimodal_meta" -> (multimodalMeta _),
    "m_frame_sample"    -> ((s: SparkSession, d: String) => frameSample(s, d)),
    "m_resize"          -> ((s: SparkSession, d: String) => resizePlan(s, d)),
    "m_shard_pack"      -> (shardPack _),
    "m_modality_join"   -> (modalityJoin _),
    "m_phash_dedup"     -> ((s, d) => phashDedup(s, d)),
  )
}
