package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables
import graft.functions.gf

/** Training-data pipeline operators beyond the dedup/ANN families
  * (SURVEY.md §2.J): deterministic dataset splitting and sampling,
  * sequence packing, benchmark decontamination, and embedding
  * quantization — the assembly stages between "cleaned corpus" and
  * "training shards".
  *
  * Scale notes (100 TB):
  *   - Splits/sampling key on a portable md5-derived hash of the
  *     document id (gf.h32, the same kernel the dedup oracles replay),
  *     so assignment is stable across runs, engines, and repartitions —
  *     never `rand()`, which re-rolls per task retry.
  *   - `sample_stratified` and `pack_sequences` shuffle once on
  *     `source` (the stratum / shard key); no global sort anywhere.
  *   - `contamination` broadcasts the benchmark side (eval sets are
  *     tiny vs the corpus) and joins on shingle hash — linear shuffle,
  *     quadratic only within identical-shingle buckets.
  */
object PipelineOps {

  // ---------------------------------------------------------------- J1
  /** Deterministic train/val/test split: md5-hash bucket per doc_id
    * (90/5/5). The idiom every large corpus uses for reproducible
    * membership — adding documents never reshuffles earlier ones. */
  def sampleSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", (gf.h32($"doc_id".cast("string")) % 100).as("bucket"))
      .withColumn("split",
        when($"bucket" < 90, "train").when($"bucket" < 95, "val")
          .otherwise("test"))
  }

  val sampleSplitSql: String =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 90 THEN 'train'
      |       WHEN bucket < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
      |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------- J2
  /** Stratified 20% sample per source: rank docs within each source by
    * hash (deterministic "random" order) and keep the top ceil(20%).
    * One shuffle on the stratum key; no global sort. */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bySource = Window.partitionBy($"source")
    val ranked = Tables.documents(spark, sfDir)
      .select($"source", $"doc_id", gf.h32($"doc_id".cast("string")).as("h"))
      .withColumn("sample_rank",
        row_number().over(bySource.orderBy($"h", $"doc_id")))
      .withColumn("n_source", count(lit(1)).over(bySource))
    ranked.filter($"sample_rank" <= expr("(n_source + 4) DIV 5"))
      .select($"source", $"doc_id", $"sample_rank", $"n_source")
  }

  val sampleStratifiedSql: String =
    """WITH ranked AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY
      |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id)
      |      AS sample_rank,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_source
      |  FROM documents)
      |SELECT source, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank, n_source
      |FROM ranked WHERE sample_rank <= (n_source + 4) // 5""".stripMargin

  // ---------------------------------------------------------------- J3
  /** Sequence packing (concat-and-chunk): docs are laid out in a
    * deterministic order per source, token offsets accumulated, and
    * each doc assigned to the 512-token context chunk its offset lands
    * in — the GPT-style packing layout, computed with one window over
    * the shard key (each source packs independently; at 100 TB the
    * cumsum never crosses executors for more than one source). */
  def packPipeline(docs: DataFrame): DataFrame = {
    val bySource = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("end_off", sum(col("n_tok")).over(bySource))
      .select(col("source"), col("doc_id"), col("n_tok"),
        (col("end_off") - col("n_tok")).as("tok_offset"),
        expr("(end_off - n_tok) DIV 512").as("chunk_id"))
  }

  def packSequences(spark: SparkSession, sfDir: String): DataFrame =
    packPipeline(Tables.documents(spark, sfDir))

  val packSequencesSql: String =
    """WITH toks AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT source, doc_id, n_tok,
      |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tok
      |      AS tok_offset
      |  FROM toks)
      |SELECT source, doc_id, n_tok, tok_offset, tok_offset // 512 AS chunk_id
      |FROM packed""".stripMargin

  // ---------------------------------------------------------------- J4
  /** Benchmark decontamination: flag corpus documents sharing ≥2
    * distinct 3-token shingles with any benchmark document (here the
    * doc_id % 50 == 0 subset stands in for the eval set). The
    * benchmark side is broadcast; the corpus never self-joins. */
  def contaminationPipeline(corpDocs: DataFrame, benchDocs: DataFrame): DataFrame = {
    val shingled = (d: DataFrame) =>
      d.select(col("doc_id"), gf.shingle_md5_h32(col("text"), 3).as("sh"))
    val corp = shingled(corpDocs)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("h"))
    val bench = shingled(benchDocs)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("h"))
    corp.join(broadcast(bench), "h")
      .groupBy(col("doc_id"), col("bench_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 2)
      .select(col("doc_id"), col("bench_id"), col("n_overlap"),
        round(col("n_overlap") / col("n_shingles"), 6).as("contam_frac"))
  }

  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    contaminationPipeline(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0))
  }

  val contaminationSql: String =
    s"""WITH ${DedupOps.shingleSqlCtes("documents")},
      |cnt AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      |  FROM shh GROUP BY doc_id),
      |bench AS (SELECT doc_id AS bench_id, h FROM shh WHERE doc_id % 50 = 0),
      |corp AS (
      |  SELECT s.doc_id, c.n_shingles, s.h
      |  FROM shh s JOIN cnt c USING (doc_id) WHERE s.doc_id % 50 <> 0)
      |SELECT corp.doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_overlap,
      |  round(CAST(count(*) AS BIGINT) / n_shingles, 6) AS contam_frac
      |FROM corp JOIN bench USING (h)
      |GROUP BY corp.doc_id, bench_id, n_shingles
      |HAVING count(*) >= 2""".stripMargin

  // ---------------------------------------------------------------- J5
  /** Embedding normalize + int8 quantize: per-vector L2 norm and the
    * symmetric scalar quantization q_i = floor(127·x_i/‖x‖ + 0.5) —
    * the storage layout ANN indexes serve at scale (4× smaller than
    * f32). Narrow projection, zero shuffle; quantized vector emitted
    * as a CSV string (arrays don't hash portably across engines). */
  def embQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .withColumn("l2_norm", round(sqrt(aggregate($"embedding", lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))), 6))
      .select($"vec_id", $"label", $"l2_norm",
        array_join(transform($"embedding",
          x => floor(x.cast("double") * 127 / $"l2_norm" + 0.5).cast("int")
            .cast("string")), ",").as("q8"))
  }

  val embQuantizeSql: String =
    """WITH normed AS (
      |  SELECT vec_id, label,
      |    round(sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_norm,
      |    embedding
      |  FROM embeddings)
      |SELECT vec_id, label, l2_norm,
      |  array_to_string(list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 127 / l2_norm + 0.5) AS INT)), ',')
      |    AS q8
      |FROM normed""".stripMargin

  // ---------------------------------------------------------------- J6
  /** Vocabulary coverage: build the corpus top-20 word vocabulary
    * (count desc, word asc tie-break) and report each document's
    * out-of-vocabulary token fraction — the tokenizer-coverage
    * analysis run before committing to a vocab size. Two linear
    * aggregations + one broadcast semi-join on the token key. */
  def textVocabOov(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok").limit(20).select($"tok")
    toks.join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"doc_id", $"n_tok", $"n_oov",
        round($"n_oov" / $"n_tok", 6).as("oov_rate"))
  }

  val textVocabOovSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS n FROM toks GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT 20)),
      |flagged AS (
      |  SELECT t.doc_id,
      |    CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(sum(oov) AS BIGINT) AS n_oov,
      |  round(CAST(sum(oov) AS BIGINT) / count(*), 6) AS oov_rate
      |FROM flagged GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- J7
  /** Mixture rebalancing: sample each source toward a TARGET mixture —
    * here target share ∝ a deterministic per-source weight
    * w = 1 + h32(source) % 3, standing in for the curated mixture
    * table a real pipeline supplies — with rate_s = min(1,
    * (w_s·N/Σw)/n_s), selecting rows by the same stable hash as the
    * other samplers. The data-mixing stage that reweights
    * over-represented sources; rates derive from one count aggregation
    * broadcast back onto the scan. */
  def mixRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_source"))
      .withColumn("w", gf.h32($"source") % 3 + 1)
      .withColumn("n_total", sum($"n_source").over(Window.partitionBy()))
      .withColumn("sum_w", sum($"w").over(Window.partitionBy()))
      .select($"source", $"n_source",
        least(lit(1.0), ($"w" * $"n_total" / $"sum_w") / $"n_source").as("rate"))
    docs.select($"doc_id", $"source",
        (gf.h32($"doc_id".cast("string")) % 1000000).as("h"))
      .join(broadcast(counts), "source")
      .filter($"h" < $"rate" * 1000000)
      .select($"source", $"doc_id", $"n_source", round($"rate", 6).as("rate"))
  }

  val mixRebalanceSql: String =
    """WITH counts AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_source FROM documents
      |  GROUP BY source),
      |weighted AS (
      |  SELECT source, n_source,
      |    ('0x' || substr(md5(source), 1, 8))::BIGINT % 3 + 1 AS w
      |  FROM counts),
      |rates AS (
      |  SELECT source, n_source,
      |    least(1.0,
      |      (w * (SELECT CAST(sum(n_source) AS BIGINT) FROM counts)
      |         / (SELECT CAST(sum(w) AS BIGINT) FROM weighted)) / n_source)
      |      AS rate
      |  FROM weighted)
      |SELECT d.source, d.doc_id, r.n_source, round(r.rate, 6) AS rate
      |FROM documents d JOIN rates r ON d.source = r.source
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
      |      < r.rate * 1000000""".stripMargin

  // ---------------------------------------------------------------- J8
  /** Per-document importance-weighted sampling (quality-weighted data
    * mixing): each doc's keep probability scales with its length
    * proxy — w_ppm = 100000 + 800000·min(n_chars,500)/500, i.e. 10%
    * floor rising to 90% for long docs — and the keep decision is the
    * deterministic hash draw u = h32(doc_id) mod 1e6 < w_ppm. ALL
    * arithmetic is integer (parts-per-million), so the boundary is
    * bit-exact across engines and re-runs are reproducible (same
    * draw per doc forever — the property a training pipeline needs
    * for incremental rebuilds). Narrow projection: no shuffle, pure
    * codegen, trivially linear at any scale. */
  def sampleWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"n_chars",
        (lit(100000L) + lit(800000L) * least($"n_chars", lit(500L)).cast("long") / 500L)
          .cast("long").as("w_ppm"),
        (gf.h32($"doc_id".cast("string")) % 1000000L).as("u"))
      .filter($"u" < $"w_ppm")
      .select($"doc_id", $"source", $"n_chars", $"w_ppm")
  }

  val sampleWeightedSql: String =
    """SELECT doc_id, source, n_chars, w_ppm
      |FROM (
      |  SELECT doc_id, source, n_chars,
      |    100000 + 800000 * least(n_chars, 500) // 500 AS w_ppm,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 1000000 AS u
      |  FROM documents)
      |WHERE u < w_ppm""".stripMargin

  // ---------------------------------------------------------------- J10
  /** Temperature-scaled source sampling — the multilingual-mixing rule
    * (sample source s with p_s ∝ n_s^α, α = 0.5): up-samples the tail
    * sources a proportional draw would starve, the standard lever for
    * low-resource balance in LLM corpora. Target volume T = 30% of
    * the corpus; per-source keep rate r_s = min(1, p_s·T / n_s). The
    * sqrt weights are INTEGERIZED (floor(√n·10⁶)) before the
    * cross-source sum so the total is merge-order-independent (the
    * power-sum discipline); the per-doc draw is the same md5-h32
    * used by every sampler here — reproducible across runs, engines,
    * and repartitions, never `rand()`. One count agg (|sources| rows,
    * broadcast back) + one narrow keep-flag scan. */
  def sampleTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_source"))
      .withColumn("w", floor(sqrt($"n_source") * 1e6).cast("long"))
      .withColumn("sum_w", sum($"w").over(Window.partitionBy(lit(1))))
      .withColumn("n_total", sum($"n_source").over(Window.partitionBy(lit(1))))
      .withColumn("t_target", floor($"n_total" * 0.3).cast("long"))
      .select($"source", $"n_source",
        least(lit(1.0), ($"w" * $"t_target") / ($"sum_w" * $"n_source"))
          .as("rate"))
    docs.select($"doc_id", $"source",
        (gf.h32($"doc_id".cast("string")) % 1000000).as("h"))
      .join(broadcast(counts), "source")
      .groupBy($"source")
      .agg(max($"n_source").as("n_source"),
        round(max($"rate"), 6).as("rate"),
        sum(when($"h" < $"rate" * 1000000, 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"source")
  }

  val sampleTemperatureSql: String =
    """WITH counts AS (
      |  SELECT source, count(*) AS n_source,
      |    CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS w
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT source, n_source,
      |    least(1.0, (w * t_target) / (sum_w * n_source)) AS rate
      |  FROM (
      |    SELECT source, n_source, w,
      |      sum(w) OVER () AS sum_w,
      |      CAST(floor(sum(n_source) OVER () * 0.3) AS BIGINT) AS t_target
      |    FROM counts)),
      |drawn AS (
      |  SELECT d.source, t.n_source, t.rate,
      |    CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 1000000 < t.rate * 1000000 THEN 1 ELSE 0 END AS kept
      |  FROM documents d JOIN tot t ON d.source = t.source)
      |SELECT source, max(n_source) AS n_source, round(max(rate), 6) AS rate,
      |  CAST(sum(kept) AS BIGINT) AS n_kept
      |FROM drawn GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- J11
  /** Per-source dataset card — the composition report shipped next to
    * a training corpus: document count, token volume, mean quality
    * (C2's composite), and exact-duplicate rate per source. Quality
    * means are INTEGERIZED to micro-units per doc before the
    * cross-partition sum (merge-order-independent — the power-sum
    * discipline); the dup flag is one md5-key count (≥2 occurrences),
    * joined back as a left-semi-derived flag. Two linear aggs and a
    * digest-key join: the text column never shuffles, and every
    * metric is map-side combinable — the report costs one scan more
    * than reading the corpus at any SF. */
  def corpusReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nChars = length($"text")
    val nAlpha = length(regexp_replace($"text", "[^A-Za-z]", ""))
    val nPunct = length(regexp_replace($"text", "[^.,;:!?]", ""))
    val nToks = size(split(trim($"text"), "\\s+"))
    val score = coalesce(
      (lit(0.4) * (nAlpha / nChars)) +
        (lit(0.3) * (lit(1.0) - nPunct / nChars)) +
        (lit(0.3) * least(lit(1.0), nToks / lit(100.0))),
      lit(0.0))
    val base = Tables.documents(spark, sfDir)
      .select($"source", $"doc_id", nToks.as("n_toks"),
        floor(score * 1e6).cast("long").as("qm"), md5($"text").as("sig"))
    val dupSigs = base.groupBy($"sig").agg(count(lit(1)).as("n"))
      .filter($"n" >= 2).select($"sig")
    base
      .join(dupSigs.withColumn("is_dup", lit(1L)), Seq("sig"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("total_tokens"),
        round(sum($"qm") / (count(lit(1)) * 1e6), 6).as("mean_quality"),
        round(sum(coalesce($"is_dup", lit(0L))) / count(lit(1)), 6)
          .as("dup_rate"))
      .orderBy($"source")
  }

  val corpusReportSql: String =
    """WITH scored AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_toks,
      |    CAST(floor(coalesce(
      |      0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      |             / length(text))
      |      + 0.3 * (1.0 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
      |               / length(text))
      |      + 0.3 * least(1.0,
      |          CAST(len(string_split_regex(trim(text), '\s+')) AS INT) / 100.0)
      |      , 0.0) * 1e6) AS BIGINT) AS qm,
      |    md5(text) AS sig
      |  FROM documents),
      |dup AS (SELECT sig FROM scored GROUP BY sig HAVING count(*) >= 2)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
      |  round(sum(qm) / (count(*) * 1e6), 6) AS mean_quality,
      |  round(sum(CASE WHEN sig IN (SELECT sig FROM dup) THEN 1 ELSE 0 END)
      |    / count(*), 6) AS dup_rate
      |FROM scored GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- J13
  /** Duplicate-aware downweighting — the soft-dedup discipline (keep
    * every copy, split each duplicate cluster's training mass across
    * its members: weight = 1/|cluster|) that repetition studies
    * (Muennighoff et al. 2023; Lee et al. 2022) recommend over hard
    * removal when near-term data is scarce. Clusters here are exact
    * normalized-text fingerprints (C4's md5_norm key); the corpus is
    * salted with same-source copies and a cross-source "mirror" so
    * the report exercises both duplication shapes. Per source:
    * raw docs, distinct fingerprints, effective docs (Σ 1/copies —
    * a fully-mirrored source collapses to half mass), and the
    * discount ratio a mixture planner feeds into J10's temperature
    * weights. One fingerprint-keyed shuffle (the cluster-size join);
    * the text column never shuffles. */
  def sampleDedupWeight(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
    val sameSrc = base.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 700000).as("doc_id"), $"source", $"text")
    val mirror = base.filter($"doc_id" % 10 === 3)
      .select(($"doc_id" + 900000).as("doc_id"),
        lit("mirror").as("source"), $"text")
    val corpus = base.unionByName(sameSrc).unionByName(mirror)
      .select($"source",
        md5(lower(trim(regexp_replace($"text", "\\s+", " "))).cast("binary"))
          .as("fp"))
    val copies = corpus.groupBy($"fp").agg(count(lit(1)).as("n_copies"))
    corpus.join(copies, "fp")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"fp").as("n_unique"),
        round(sum(lit(1.0) / $"n_copies"), 6).as("effective_docs"))
      .withColumn("dedup_discount",
        round($"effective_docs" / $"n_docs", 6))
  }

  val sampleDedupWeightSql: String =
    """WITH corpus AS MATERIALIZED (
      |  SELECT source,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM (
      |    SELECT doc_id, source, text FROM documents
      |    UNION ALL
      |    SELECT doc_id + 700000, source, text FROM documents
      |    WHERE doc_id % 10 = 0
      |    UNION ALL
      |    SELECT doc_id + 900000, 'mirror', text FROM documents
      |    WHERE doc_id % 10 = 3)),
      |copies AS (SELECT fp, count(*) AS n_copies FROM corpus GROUP BY 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(count(DISTINCT corpus.fp) AS BIGINT) AS n_unique,
      |  round(sum(1.0 / n_copies), 6) AS effective_docs,
      |  round(round(sum(1.0 / n_copies), 6) / count(*), 6) AS dedup_discount
      |FROM corpus JOIN copies USING (fp)
      |GROUP BY source""".stripMargin

  // ---------------------------------------------------------------- J14
  /** Leakage-free (group-aware) split — the fix for J1's quiet flaw:
    * J1 splits DOCUMENTS, so two verbatim copies of the same text can
    * straddle train/test (exactly the contamination J4 then has to
    * hunt). J14 splits GROUPS: every member of an exact-duplicate
    * group (D1's md5 content key) draws ONE deterministic h32 ticket
    * from the group key and lands on the same side, so eval can never
    * see a training document's twin. 80/10/10 at the group level.
    *
    * Plan: narrow md5 projection → group agg on the content key (one
    * shuffle, map-side combinable) → join back on the same key (the
    * agg's partitioning is reusable — no extra exchange on the group
    * side). Linear at any SF; the draw is hash-of-key (never rand(),
    * which re-rolls per task retry and can't keep a group together
    * anyway). */
  def sampleGroupSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", md5($"text".cast("binary")).as("gkey"))
    val groups = docs.groupBy($"gkey").agg(count(lit(1)).as("group_size"))
      .withColumn("bucket",
        gf.h32(concat(lit("grpsplit:"), $"gkey")) % 100)
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val")
          .otherwise("test"))
    docs.join(groups, "gkey")
      .select($"doc_id", $"gkey", $"group_size", $"bucket", $"split")
  }

  val sampleGroupSplitSql: String =
    """WITH docs AS (SELECT doc_id, md5(text) AS gkey FROM documents),
      |groups AS (
      |  SELECT gkey, count(*) AS group_size,
      |    ('0x' || substr(md5('grpsplit:' || gkey), 1, 8))::BIGINT % 100
      |      AS bucket
      |  FROM docs GROUP BY gkey)
      |SELECT doc_id, d.gkey AS gkey, group_size, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM docs d JOIN groups g ON d.gkey = g.gkey""".stripMargin

  // ---------------------------------------------------------------- J9
  /** Quality-stratified sampling — the curriculum/mixing step between
    * scoring and packing: documents are ranked into quality DECILES
    * within their source (per-source calibration, so one boilerplate-
    * heavy feed can't monopolize the top bucket), and the keep rate
    * rises with the decile (decile d keeps d·10%) via the same
    * deterministic h32 draw every sampler here uses — reproducible
    * across runs/engines/repartitions, never `rand()`. Composite
    * quality is the C2 signal (identical expression tree, so the same
    * doubles order both engines' ntile). One shuffle on source; ntile
    * within a source partition — the J2 window shape. */
  def sampleQualityMix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nChars = length($"text")
    val nAlpha = length(regexp_replace($"text", "[^A-Za-z]", ""))
    val nPunct = length(regexp_replace($"text", "[^.,;:!?]", ""))
    val nToks = size(split(trim($"text"), "\\s+"))
    // C2's composite, inlined with the same operation tree
    // coalesce: an empty document divides 0/0 → NULL, and Spark sorts
    // NULLs first while DuckDB defaults NULLS LAST — pin the ordering
    // by scoring empties 0.0 in both engines (round-7 advisor finding)
    val score = coalesce(
      (lit(0.4) * (nAlpha / nChars)) +
        (lit(0.3) * (lit(1.0) - nPunct / nChars)) +
        (lit(0.3) * least(lit(1.0), nToks / lit(100.0))),
      lit(0.0))
    val w = Window.partitionBy($"source")
      .orderBy($"quality_score", $"doc_id")
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", score.as("quality_score"))
      .withColumn("decile", ntile(10).over(w))
      .select($"doc_id", $"source", $"decile",
        when((gf.h32($"doc_id".cast("string")) % 1000000)
          < $"decile" * 100000, "Y").otherwise("N").as("keep_flag"))
  }

  val sampleQualityMixSql: String =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    coalesce(
      |    0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      |           / length(text))
      |    + 0.3 * (1.0 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
      |             / length(text))
      |    + 0.3 * least(1.0,
      |        CAST(len(string_split_regex(trim(text), '\s+')) AS INT) / 100.0)
      |    , 0.0) AS quality_score
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, source,
      |    ntile(10) OVER (PARTITION BY source
      |      ORDER BY quality_score, doc_id) AS decile
      |  FROM scored)
      |SELECT doc_id, source, decile,
      |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |    % 1000000 < decile * 100000 THEN 'Y' ELSE 'N' END AS keep_flag
      |FROM ranked""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sample_group_split", sampleGroupSplit, sampleGroupSplitSql),
    QueryDef("sample_dedup_weight", sampleDedupWeight, sampleDedupWeightSql),
    QueryDef("corpus_report", corpusReport, corpusReportSql),
    QueryDef("sample_temperature", sampleTemperature, sampleTemperatureSql),
    QueryDef("sample_weighted", sampleWeighted, sampleWeightedSql),
    QueryDef("text_vocab_oov", textVocabOov, textVocabOovSql),
    QueryDef("mix_rebalance", mixRebalance, mixRebalanceSql),
    QueryDef("sample_split", sampleSplit, sampleSplitSql),
    QueryDef("sample_stratified", sampleStratified, sampleStratifiedSql),
    QueryDef("pack_sequences", packSequences, packSequencesSql),
    QueryDef("contamination_check", contamination, contaminationSql),
    QueryDef("emb_quantize", embQuantize, embQuantizeSql),
    QueryDef("sample_quality_mix", sampleQualityMix, sampleQualityMixSql))
}
