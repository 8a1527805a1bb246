package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables

/** Multimodal column plumbing (SURVEY.md §2.F).
  *
  * Media decode libraries are not available in this container, so the
  * DECODE step is a deterministic stub — but everything Spark-side is
  * real and tested: binary columns as opaque payloads with typed
  * metadata, deterministic frame-sampling plans, and batched
  * mapPartitions feature extraction shaped exactly like a model-server
  * call (fixed-size batches amortizing per-call overhead).
  *
  * At 100 TB: binary payloads ride in parquet as BYTE_ARRAY; metadata
  * extraction is a narrow projection; feature extraction is a
  * mapPartitions stage whose parallelism is the scan's partitioning —
  * no shuffle anywhere in this module.
  */
object MultimodalOps {

  /** Deterministic fake media payload: the document text's UTF-8 bytes
    * standing in for image/audio bytes. */
  private def payload = col("text").cast("binary")

  // ---------------------------------------------------------------- F1
  /** Binary column + typed metadata: byte length, content digest,
    * leading-bytes "magic", derived frame count. */
  def mmMeta(spark: SparkSession, sfDir: String): DataFrame = {
    // metadata only in the comparable output — the opaque payload
    // itself stays a plan-side binary column (exercised in specs);
    // emitting raw BLOBs into the oracle compare invites
    // representation skew for zero value
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      octet_length(payload).as("n_bytes"),
      md5(payload).as("digest"),
      upper(hex(substring(payload, 1, 4))).as("magic"),
      (col("n_chars") / 10).cast("int").as("n_frames"))
  }

  // Oracle stays at VARCHAR level (DuckDB 1.0 lacks blob md5/substring);
  // the corpus is ASCII so bytes == chars.
  val mmMetaSql: String =
    """SELECT doc_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS digest,
      |  upper(hex(encode(substring(text, 1, 4)))) AS magic,
      |  CAST(n_chars // 10 AS INT) AS n_frames
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- F2
  /** Deterministic frame sampling: every 10th frame index of each
    * media item, exploded to one row per sampled frame — the plan
    * shape for "pull frames out of videos" at scale (explode is
    * pipelined, no shuffle). */
  def mmFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), (col("n_chars") / 10).cast("int").as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(10))).as("frame_idx"))
      .withColumn("frame_key",
        concat(col("doc_id").cast("string"), lit(":"), col("frame_idx").cast("string")))
  }

  val mmFrameSampleSql: String =
    """SELECT doc_id, n_frames, frame_idx,
      |  doc_id || ':' || frame_idx AS frame_key
      |FROM (
      |  SELECT doc_id, CAST(n_chars // 10 AS INT) AS n_frames,
      |    unnest(range(0, CAST(n_chars // 10 AS INT), 10)) AS frame_idx
      |  FROM documents WHERE n_chars // 10 > 0)""".stripMargin

  // ---------------------------------------------------------------- F3
  /** Batched feature extraction over binary payloads via mapPartitions:
    * the decode/model step is the deterministic `fakeDecode` stub (???
    * replaced by a real decoder in production), but the batching
    * structure — accumulate `batchSize` payloads, one "model call" per
    * batch — is the real plumbing a GPU/model-server stage needs. */
  case class MediaRow(doc_id: Long, media: Array[Byte])
  case class FeatureRow(doc_id: Long, features: Array[Float], batch_id: Long)

  /** STUB decode: real implementation would decode image/audio bytes;
    * here: deterministic byte statistics standing in for an embedding. */
  def fakeDecode(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](8)
    var i = 0
    while (i < bytes.length) {
      out(i % 8) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }

  def extractFeatures(media: Dataset[MediaRow], batchSize: Int): Dataset[FeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      var batchId = -1L
      it.grouped(batchSize).flatMap { batch =>
        batchId += 1
        // one simulated model call per batch
        batch.map(r => FeatureRow(r.doc_id, fakeDecode(r.media), batchId))
      }
    }
  }

  def mediaDataset(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), payload.as("media")).as[MediaRow]
  }

  // ---------------------------------------------------------------- F4
  /** Perceptual-hash near-dup over binary payloads — the multimodal
    * dedup path (aHash: 64 stride-sampled bytes, bit = byte > mean;
    * on real media the sampled bytes are decoded pixels — the sampling
    * /banding/verify plumbing is identical). The 64-bit fingerprint is
    * kept as FOUR 16-bit band values, which are simultaneously (a) the
    * packed hash and (b) the LSH bands: candidates
    * come from a band equi-self-join, never all-pairs (the D2/D3
    * discipline applied to media fingerprints). Pigeonhole over 4
    * bands makes candidate generation COMPLETE for Hamming ≤ 3; the
    * reported threshold (≤ 12) is the usual LSH-recall regime —
    * pairs that differ moderately in every band can be missed, the
    * documented trade every banded dedup here makes (more bands =
    * more recall, same plan shape). All arithmetic is integer (byte
    * values, integer mean, bit packing, popcount), so the oracle
    * replays candidate generation and verification exactly; both
    * engines sample BYTES of the UTF-8 payload (DuckDB via
    * hex(encode(text)) two-hex-digit slices, Spark via substring on
    * the true BINARY column — the mm_meta equivalence), so the
    * replay holds for non-ASCII documents too. */
  def mmPhashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = octet_length(payload)
    // byte at deterministic stride position 1 + (i·n)/64 (1-based)
    def byteAt(i: Int) =
      conv(hex(substring(payload, ((lit(i) * n) / 64).cast("int") + 1, lit(1))),
        16, 10).cast("long")
    val withB = docs
      .select(col("doc_id"), array((0 until 64).map(byteAt): _*).as("bs"))
      .withColumn("mean",
        (aggregate(col("bs"), lit(0L), (a, x) => a + x) / 64).cast("long"))
    def band(b: Int) = (0 until 16).map { i =>
      when(element_at(col("bs"), 16 * b + i + 1) > col("mean"),
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    // persisted: feeds the band relation AND both verify sides
    val hashed = withB.select(col("doc_id"),
      band(0).as("b0"), band(1).as("b1"),
      band(2).as("b2"), band(3).as("b3")).persist()
    val bandRel = hashed.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .toDF("doc_id", "band", "v")
    val cand = bandRel.as("x").join(bandRel.as("y"),
      col("x.band") === col("y.band") && col("x.v") === col("y.v")
        && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
    def pop(a: Column, b: Column) = bit_count(a.bitwiseXOR(b)).cast("long")
    cand
      .join(hashed.toDF("id1", "a0", "a1", "a2", "a3"), "id1")
      .join(hashed.toDF("id2", "c0", "c1", "c2", "c3"), "id2")
      .withColumn("hamming",
        pop(col("a0"), col("c0")) + pop(col("a1"), col("c1"))
          + pop(col("a2"), col("c2")) + pop(col("a3"), col("c3")))
      .filter(col("hamming") <= 12)
      .select(col("id1"), col("id2"), col("hamming"))
      .orderBy(col("id1"), col("id2"))
  }

  val mmPhashDedupSql: String =
    """WITH s AS (
      |  SELECT doc_id, i,
      |    ('0x' || substr(hex(encode(text)),
      |      2 * (1 + (i * octet_length(encode(text))) // 64) - 1, 2))::BIGINT
      |      AS b
      |  FROM documents, (SELECT unnest(range(0, 64)) AS i) ii),
      |m AS (
      |  SELECT doc_id, CAST(sum(b) // 64 AS BIGINT) AS mean
      |  FROM s GROUP BY 1),
      |bits AS (
      |  SELECT s.doc_id, i // 16 AS band,
      |    CAST(sum(CASE WHEN b > mean THEN 1 << (i % 16) ELSE 0 END)
      |      AS BIGINT) AS v
      |  FROM s JOIN m USING (doc_id) GROUP BY s.doc_id, i // 16),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
      |  FROM bits x JOIN bits y
      |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id),
      |hx AS (SELECT doc_id, list(v ORDER BY band) AS bl FROM bits GROUP BY 1)
      |SELECT id1, id2, hamming FROM (
      |  SELECT id1, id2,
      |    CAST(bit_count(xor(a.bl[1], c.bl[1])) + bit_count(xor(a.bl[2], c.bl[2]))
      |      + bit_count(xor(a.bl[3], c.bl[3])) + bit_count(xor(a.bl[4], c.bl[4]))
      |      AS BIGINT) AS hamming
      |  FROM cand JOIN hx a ON a.doc_id = id1 JOIN hx c ON c.doc_id = id2)
      |WHERE hamming <= 12 ORDER BY id1, id2""".stripMargin

  // ---------------------------------------------------------------- F5
  /** Per-source modality mix — the corpus-composition report a
    * multimodal training pipeline reads before fixing sampling
    * ratios: items, bytes, and size percentiles per (source,
    * detected modality). Modality detection is the F1 magic-byte
    * rule (here a deterministic first-byte classification of the
    * stand-in payload; on real media the same projection reads the
    * container magic). One narrow projection + one agg; the exact
    * p50 is the B23b percentile kernel — at 100 TB the same plan
    * swaps in approx_percentile. */
  def mmModalityMix(spark: SparkSession, sfDir: String): DataFrame = {
    val b0 = conv(hex(substring(payload, 1, 1)), 16, 10).cast("long")
    val modality = element_at(
      array(lit("image"), lit("audio"), lit("video")),
      (b0 % 3 + 1).cast("int"))
    Tables.documents(spark, sfDir)
      .select(col("source"), modality.as("modality"),
        octet_length(payload).as("n_bytes"))
      .groupBy(col("source"), col("modality"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        round(expr("percentile(n_bytes, 0.5)"), 4).as("p50_bytes"),
        max(col("n_bytes")).as("max_bytes"))
      .orderBy(col("source"), col("modality"))
  }

  val mmModalityMixSql: String =
    """SELECT source, modality, count(*) AS n_items,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  round(quantile_cont(n_bytes, 0.5), 4) AS p50_bytes,
      |  max(n_bytes) AS max_bytes
      |FROM (
      |  SELECT source,
      |    CASE (('0x' || substr(hex(encode(text)), 1, 2))::BIGINT % 3)
      |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
      |      AS modality,
      |    octet_length(encode(text)) AS n_bytes
      |  FROM documents)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- F6
  /** Byte-entropy profile of the binary payloads — the compressibility
    * probe a multimodal ingest runs to TRIAGE unknown blobs before
    * decode (already-compressed media ≈ uniform bytes → high entropy;
    * text/structured payloads → low): F4's 64 stride-sampled bytes
    * reduced to a 16-bucket high-nibble histogram, Shannon entropy
    * over it, and a low/mid/high class.
    *
    * Determinism: each bucket's −p·ln p term is integerized ONCE to
    * micro-nats (p = c/64 is an exact binary fraction; the one ln is
    * the round-convention float), so the per-doc entropy is an exact
    * BIGINT sum — merge-order-independent. Pure narrow projection +
    * one (doc, nibble) agg over the 64·|docs| sample relation; the
    * payload itself never shuffles. */
  def mmByteEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = octet_length(payload)
    def byteAt(i: Int) =
      conv(hex(substring(payload, ((lit(i) * n) / 64).cast("int") + 1, lit(1))),
        16, 10).cast("long")
    val sampled = docs
      .select(col("doc_id"), n.as("n_bytes"),
        explode(array((0 until 64).map(i => byteAt(i)): _*)).as("b"))
      .select(col("doc_id"), col("n_bytes"), expr("b div 16").as("nib"))
    val hist = sampled.groupBy(col("doc_id"), col("n_bytes"), col("nib"))
      .agg(count(lit(1)).as("c"))
    hist.groupBy(col("doc_id"), col("n_bytes"))
      .agg(count(lit(1)).as("distinct_nibbles"),
        sum(expr(
          "CAST(round(1000000.0 * (c / 64.0) * ln(64.0 / c)) AS BIGINT)"))
          .as("entropy_micro"))
      .withColumn("entropy_class",
        when(col("entropy_micro") >= 2500000L, "high")
          .when(col("entropy_micro") >= 1500000L, "mid").otherwise("low"))
  }

  val mmByteEntropySql: String =
    """WITH s AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |    ('0x' || substr(hex(encode(text)),
      |      2 * (1 + (i * octet_length(encode(text))) // 64) - 1, 2))::BIGINT
      |      // 16 AS nib
      |  FROM documents, (SELECT unnest(range(0, 64)) AS i) ii),
      |h AS (
      |  SELECT doc_id, n_bytes, nib, count(*) AS c
      |  FROM s GROUP BY 1, 2, 3)
      |SELECT doc_id, n_bytes,
      |  CAST(count(*) AS BIGINT) AS distinct_nibbles,
      |  CAST(sum(CAST(round(1000000.0 * (c / 64.0) * ln(64.0 / c))
      |    AS BIGINT)) AS BIGINT) AS entropy_micro,
      |  CASE WHEN sum(CAST(round(1000000.0 * (c / 64.0) * ln(64.0 / c))
      |         AS BIGINT)) >= 2500000 THEN 'high'
      |       WHEN sum(CAST(round(1000000.0 * (c / 64.0) * ln(64.0 / c))
      |         AS BIGINT)) >= 1500000 THEN 'mid'
      |       ELSE 'low' END AS entropy_class
      |FROM h GROUP BY doc_id, n_bytes""".stripMargin

  // ---------------------------------------------------------------- F7
  /** Payload size-anomaly triage — the "don't feed the decoder
    * garbage" gate an ingest runs BEFORE decode: truncated downloads
    * and concatenated/duplicated uploads surface as size outliers
    * WITHIN their modality. Robust z on LOG-bytes (B54's median/MAD
    * kernel): raw-byte MAD provably cannot flag the small side when
    * median/MAD < cut/0.6745 — a truncated file is bounded at
    * z ≈ −1.9 on this corpus — while the multiplicative log scale
    * flags both tails; the Iglewicz-Hoaglin |z| > 3.5 cut. ln is
    * integerized ONCE per row (round(1e6·ln bytes), the C8
    * convention), so the medians interpolate over exact integers and
    * the one remaining float expression is mirrored verbatim.
    *
    * The corpus's sizes are too regular to carry anomalies, so the
    * staging PLANTS them (the E20/C22 plant-what-the-corpus-lacks
    * discipline): doc_id ≡ 0 (mod 97) truncates to 16 bytes, ≡ 0
    * (mod 89) concatenates ×8. Measured: every flag is a plant
    * (zero false positives), every truncation flags, and small-base
    * ×8 concats honestly do NOT (an 8× small file is still
    * ordinary-sized — the log scale says so). Spec-pinned.
    *
    * Scale: payloads never shuffle — only (modality, log-size)
    * pairs; medians swap to approx_percentile at 100 TB (B54's
    * documented path). */
  def mmSizeAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = Tables.documents(spark, sfDir)
      .withColumn("text",
        when(col("doc_id") % 97 === 0, substring(col("text"), 1, 16))
          .when(col("doc_id") % 89 === 0,
            concat(Seq.fill(8)(col("text")): _*))
          .otherwise(col("text")))
    val b0 = conv(hex(substring(payload, 1, 1)), 16, 10).cast("long")
    val modality = element_at(
      array(lit("image"), lit("audio"), lit("video")),
      (b0 % 3 + 1).cast("int"))
    val sized = staged.select(col("doc_id"), modality.as("modality"),
      round(lit(1000000.0) * log(octet_length(payload).cast("double")))
        .cast("long").as("log_bytes"))
    val med = sized.groupBy(col("modality"))
      .agg(expr("percentile(log_bytes, 0.5)").as("med"))
    val mad = sized.join(broadcast(med), "modality")
      .groupBy(col("modality"), col("med"))
      .agg(expr("percentile(abs(log_bytes - med), 0.5)").as("mad"))
      .filter(col("mad") > 0) // B54's zero-dispersion gate
    sized.join(broadcast(mad), "modality")
      .select(col("doc_id"), col("modality"), col("log_bytes"),
        round(lit(0.6745) * (col("log_bytes") - col("med")) / col("mad"), 6)
          .as("robust_z"))
      .filter(abs(col("robust_z")) > 3.5)
  }

  val mmSizeAnomalySql: String =
    """WITH staged AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 THEN substring(text, 1, 16)
      |         WHEN doc_id % 89 = 0 THEN text || text || text || text
      |           || text || text || text || text
      |         ELSE text END AS text
      |  FROM documents),
      |sized AS (
      |  SELECT doc_id,
      |    CASE (('0x' || substr(hex(encode(text)), 1, 2))::BIGINT % 3)
      |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
      |      AS modality,
      |    CAST(round(1000000 * ln(octet_length(encode(text)))) AS BIGINT)
      |      AS log_bytes
      |  FROM staged),
      |med AS (
      |  SELECT modality, quantile_cont(log_bytes, 0.5) AS med
      |  FROM sized GROUP BY 1),
      |mad AS (
      |  SELECT modality, med, mad FROM (
      |    SELECT s.modality, med,
      |      quantile_cont(abs(log_bytes - med), 0.5) AS mad
      |    FROM sized s JOIN med USING (modality) GROUP BY 1, 2)
      |  WHERE mad > 0),
      |scored AS (
      |  SELECT doc_id, s.modality, log_bytes,
      |    round(0.6745 * (log_bytes - med) / mad, 6) AS robust_z
      |  FROM sized s JOIN mad ON s.modality = mad.modality)
      |SELECT * FROM scored WHERE abs(robust_z) > 3.5""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("mm_size_anomaly", mmSizeAnomaly, mmSizeAnomalySql),
    QueryDef("mm_byte_entropy", mmByteEntropy, mmByteEntropySql),
    QueryDef("mm_meta", mmMeta, mmMetaSql),
    QueryDef("mm_frame_sample", mmFrameSample, mmFrameSampleSql),
    QueryDef("mm_phash_dedup", mmPhashDedup, mmPhashDedupSql),
    QueryDef("mm_modality_mix", mmModalityMix, mmModalityMixSql))
}
