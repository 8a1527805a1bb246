package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables
import graft.functions.gf

/** Round-6 corpus additions (SURVEY.md §2: C12, D8, D9, E5).
  *
  * Scale notes:
  *   - `text_tfidf` keeps both aggregations linear (term counts, then
  *     doc-frequency counts over the term table); the idf side is a
  *     broadcast at test SF and a shuffle join on the term key at
  *     corpus scale — the text column never enters either shuffle.
  *   - `dedup_containment` verifies DIRECTIONAL overlap only on LSH
  *     candidates (never all-pairs): containment |A∩B|/|A| catches
  *     quote/prefix duplication that symmetric Jaccard under-scores
  *     when one document is much longer.
  *   - `dedup_incremental` is the ingest-time shape: only NEW-batch
  *     bands join OLD-corpus bands, so a day's increment costs
  *     O(batch) + one probe of the standing band index, not a full
  *     corpus self-join.
  *   - `ann_rerank` is the two-stage layout every quantized vector
  *     index serves: a cheap int8 dot-product scan (4× less data
  *     moved than f32) selects 50 coarse candidates per query, exact
  *     float cosine reranks only those.
  */
object DedupMore {

  // --------------------------------------------------------------- C12
  /** Top-5 TF-IDF terms per document (idf = ln((N+1)/(df+1)) + 1,
    * rank ties broken by term). */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val tf = docs
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // df(term) = |(doc,term) rows| as a count window over the term
    // key: tf is computed ONCE (the agg + broadcast-join form re-ran
    // the corpus explode on both consumers — no ReuseExchange), and
    // the term-key shuffle replaces a vocab-sized broadcast that
    // would not hold at 100 TB anyway (Heaps-law vocabulary).
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
      .crossJoin(broadcast(nDocs))
      .select($"doc_id", $"term",
        round($"tf" * (log(($"n_docs" + 1) / ($"df" + 1)) + 1), 6).as("score"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
    scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"doc_id", $"rank", $"term", $"score")
  }

  val textTfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(tf * (ln((n_docs + 1) / (df + 1)) + 1), 6) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN nd)
      |SELECT doc_id, rank, term, score FROM (
      |  SELECT doc_id, term, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      |  FROM scored) WHERE rank <= 5""".stripMargin

  // --------------------------------------------------------------- D8
  /** Directional shingle containment on MinHash-LSH candidates:
    * cont12 = |S1∩S2|/|S1| flags documents fully contained in another
    * (prefix/quote duplication) even when Jaccard is low. Exact
    * verification never leaves the candidate set. */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = DedupOps.corpus(Tables.documents(spark, sfDir))
    val shingled = docs.select(col("doc_id"),
      gf.shingle_md5_h32(col("text"), 3).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = DedupOps.sharedPairs(spark, sfDir, 0.3)
      .select("id1", "id2")
    val s1 = shingled.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val s2 = shingled.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    candidates.join(s1, "id1").join(s2, "id2")
      .withColumn("ix", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("cont12", col("ix") / size(col("sh1")))
      .withColumn("cont21", col("ix") / size(col("sh2")))
      .filter(greatest(col("cont12"), col("cont21")) >= 0.9)
      .select(col("id1"), col("id2"),
        round(col("cont12"), 6).as("cont12"),
        round(col("cont21"), 6).as("cont21"))
  }

  val dedupContainmentSql: String =
    s"""WITH ${DedupOps.minhashSqlCtes},
       |cand2 AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.3),
       |sz AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM shh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id1, c.id2, CAST(count(*) AS DOUBLE) AS ix
       |  FROM cand2 c
       |  JOIN shh a ON a.doc_id = c.id1
       |  JOIN shh b ON b.doc_id = c.id2 AND b.h = a.h
       |  GROUP BY c.id1, c.id2)
       |SELECT i.id1, i.id2,
       |  round(i.ix / z1.n, 6) AS cont12,
       |  round(i.ix / z2.n, 6) AS cont21
       |FROM inter i
       |JOIN sz z1 ON z1.doc_id = i.id1
       |JOIN sz z2 ON z2.doc_id = i.id2
       |WHERE greatest(i.ix / z1.n, i.ix / z2.n) >= 0.9""".stripMargin

  // --------------------------------------------------------------- D9
  /** Incremental (batch-vs-corpus) near-dup detection: the corpus is
    * split by a deterministic id-hash into a standing OLD partition
    * and an incoming NEW batch; only new×old band pairs join. This is
    * the shape an ingest pipeline runs daily — cost O(batch size),
    * the standing corpus is probed, never self-joined. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame =
    incrementalPipeline(DedupOps.corpus(Tables.documents(spark, sfDir))
      .withColumn("is_new", gf.h32(col("doc_id").cast("string")) % 10 === 0))

  /** docs must carry (doc_id, text, is_new). */
  def incrementalPipeline(docs: DataFrame): DataFrame = {
    // signature + partition flag in ONE narrow projection — the flag
    // rides the compact sig relation into banding, no id re-joins
    val sigs = docs.select(col("doc_id"), col("is_new"),
      gf.minhash_sig_mod(gf.shingle_md5_h32(col("text"), 3), 128).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = sigs.select(col("doc_id"), col("is_new"),
      posexplode(transform(sequence(lit(0), lit(15)),
        b => slice(col("sig"), b * 8 + 1, lit(8)))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_key")
    val newB = bands.filter(col("is_new"))
      .select(col("band_id"), col("band_key"), col("doc_id").as("id_new"))
    val oldB = bands.filter(!col("is_new"))
      .select(col("band_id"), col("band_key"), col("doc_id").as("id_old"))
    val cand = newB.join(oldB, Seq("band_id", "band_key"))
      .select("id_new", "id_old").distinct()
    val s1 = sigs.select(col("doc_id").as("id_new"), col("sig").as("sig1"))
    val s2 = sigs.select(col("doc_id").as("id_old"), col("sig").as("sig2"))
    cand.join(s1, "id_new").join(s2, "id_old")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y), b => b))
          / lit(128.0))
      .filter(col("est_jaccard") >= 0.5)
      .select(col("id_new"), col("id_old"), col("est_jaccard"))
  }

  // --------------------------------------------------------------- D13
  /** Standing band-index materialization — the SCALE path for D9.
    * incrementalPipeline re-minhashes and re-shuffles the whole OLD
    * corpus on every batch (the worst ×20 probe ratio on the round-7
    * board, 4.2). A production ingest instead treats the corpus index
    * as a WRITTEN artifact: signatures and 16-band LSH keys are
    * materialized as bucketed segments, and a daily batch minhashes
    * only itself and probes the standing index —
    *   - the corpus is never re-shingled/re-minhashed per batch;
    *   - the candidate join shuffles ONLY the batch into the index's
    *     bucketing (the bands segments are bucketBy(band hash), so
    *     their scans satisfy the join distribution with zero
    *     Exchange);
    *   - the signature-verify join reads the sig segments bucketed by
    *     doc_id, again shuffling only the candidate side.
    * The band key is folded to one BIGINT (md5-h32 over band id +
    * slice values — the portable hash every dedup op here uses) so it
    * can be a bucket column; hash collisions can only ADD candidate
    * pairs, which the est_jaccard ≥ 0.5 verification then discards.
    *
    * The index lifecycle (create / refresh-per-batch / compact) lives
    * in [[graft.sources.BandIndex]], carried by the H11
    * [[graft.sources.IndexStore]] segment store; only the signature
    * and band-key EXPRESSIONS live here, shared by the batch build,
    * the batch probe, and the G12 in-stream projection so their keys
    * can never diverge. ScaleSpec asserts output equality with D9
    * across refresh/compact/rebuild and the Exchange-free index side
    * of the probe plan. */
  def bandSigs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      gf.minhash_sig_mod(gf.shingle_md5_h32(col("text"), 3), 128).as("sig"))

  /** The band-key fold: (band id, 8-long slice) → one portable BIGINT
    * via md5-h32 of "id-v1-…-v8" — shared by the batch index (D13)
    * and the streaming probe (G12) so their keys can never diverge. */
  def bandKeyExpr(bandId: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    gf.h32(concat_ws("-", concat(array(bandId.cast("string")),
      transform(key, x => x.cast("string")))))

  /** (doc_id, bk): one folded BIGINT band key per (doc, band). */
  def bandKeys(sigs: DataFrame): DataFrame = sigs
    .select(col("doc_id"), posexplode(transform(sequence(lit(0), lit(15)),
      b => slice(col("sig"), b * 8 + 1, lit(8)))))
    .select(col("doc_id"),
      bandKeyExpr(col("pos"), col("col")).as("bk"))

  val dedupIncrementalSql: String =
    s"""WITH ${DedupOps.minhashSigSqlCtes},
       |flag AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0
       |      AS is_new
       |  FROM corpus),
       |cand AS (
       |  SELECT DISTINCT b1.doc_id AS id_new, b2.doc_id AS id_old
       |  FROM band b1
       |  JOIN flag f1 ON b1.doc_id = f1.doc_id AND f1.is_new
       |  JOIN band b2 ON b1.band_id = b2.band_id AND b1.key = b2.key
       |  JOIN flag f2 ON b2.doc_id = f2.doc_id AND NOT f2.is_new),
       |est AS (
       |  SELECT c.id_new, c.id_old,
       |    CAST(sum(CASE WHEN m1.m = m2.m THEN 1 ELSE 0 END) AS DOUBLE) / 128
       |      AS est_jaccard
       |  FROM cand c
       |  JOIN mh m1 ON m1.doc_id = c.id_new
       |  JOIN mh m2 ON m2.doc_id = c.id_old AND m2.j = m1.j
       |  GROUP BY c.id_new, c.id_old)
       |SELECT id_new, id_old, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin

  // --------------------------------------------------------------- D14
  /** Duplicated-span coverage — the sequence-level dedup signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): document-level near-dup (D2-D9) misses long
    * VERBATIM SPANS embedded in otherwise-distinct documents, which
    * are what language models memorize. Per document: the fraction of
    * its token 8-gram positions whose gram also occurs in ≥2 distinct
    * documents. Grams are STRINGS (no hash-collision divergence);
    * the plan is two linear aggs — (gram → distinct-doc count ≥ 2)
    * shuffles the gram KEY, then per-doc position counts — the text
    * column itself never shuffles. At 100 TB the gram relation is the
    * big one and both aggs are map-side combinable; a production run
    * would add a Bloom prefilter (I2) on the shared-gram set. */
  def dedupSpanCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // tokens materialized as a column BEFORE the gram transform — a
    // split expression referenced inside the lambda re-runs the regex
    // once per gram position, O(tokens²) per doc (the C15 lesson)
    val toks = $"toks"
    val g8 = when(size(toks) < 8, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - 8),
        i => concat_ws(" ", slice(toks, i + 1, lit(8)))))
    val pos = DedupOps.corpus(Tables.documents(spark, sfDir))
      // row-parallelism for the 8-gram explode AND the persisted
      // cache's partitioning (r20; guide §2.5): one scan task and a
      // 1-partition cache otherwise (measured 0.8 + 0.4 s 1-task
      // stages over the cached relation)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .select($"doc_id", explode(g8).as("s"))
    // persisted: feeds both the shared-gram agg and the coverage join
    val posP = pos.persist()
    val shared = posP.groupBy($"s")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"s")
    posP.join(shared, Seq("s"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_pos"))
      .join(posP.groupBy($"doc_id").agg(count(lit(1)).as("n8")),
        Seq("doc_id"), "right")
      .select($"doc_id", $"n8",
        coalesce($"n_shared_pos", lit(0L)).as("n_shared_pos"),
        round(coalesce($"n_shared_pos", lit(0L)) / $"n8", 6).as("span_frac"))
      .orderBy($"doc_id")
  }

  val dedupSpanCoverageSql: String =
    s"""WITH ${DedupOps.corpusSql},
       |tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |  FROM corpus),
       |g8 AS (
       |  SELECT doc_id,
       |    CASE WHEN len(l) < 8 THEN array_to_string(l, ' ')
       |         ELSE array_to_string(l[g:g+7], ' ') END AS s
       |  FROM tok, unnest(range(1, greatest(len(l) - 7, 1) + 1)) AS u(g)),
       |shared AS (
       |  SELECT s FROM g8 GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
       |cov AS (
       |  SELECT doc_id, count(*) AS n_shared_pos
       |  FROM g8 WHERE s IN (SELECT s FROM shared) GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS n8 FROM g8 GROUP BY 1)
       |SELECT t.doc_id, CAST(t.n8 AS BIGINT) AS n8,
       |  CAST(coalesce(c.n_shared_pos, 0) AS BIGINT) AS n_shared_pos,
       |  round(coalesce(c.n_shared_pos, 0) / t.n8, 6) AS span_frac
       |FROM tot t LEFT JOIN cov c ON c.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // --------------------------------------------------------------- E5
  /** Two-stage quantized ANN: int8 symmetric quantization (the same
    * layout emb_quantize ships) powers a coarse integer dot-product
    * scan → top-50 candidates per query → exact float cosine rerank →
    * top-5. Integer arithmetic is exactly portable, so the ENTIRE
    * candidate selection is oracle-replayed, not just the final
    * ranking. */
  def annRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val q8 = emb
      // row-parallelism for the |Q|·N int8 coarse-dot kernel below
      // (r20; guide §2.5, the emb_dim_ablation mechanism): one scan
      // task otherwise (measured 0.8 s 1-task stage)
      .repartition(spark.sparkContext.defaultParallelism, $"vec_id")
      .withColumn("l2", round(sqrt(aggregate($"embedding", lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))), 6))
      .select($"vec_id", transform($"embedding",
        x => floor(x.cast("double") * 127 / $"l2" + 0.5).cast("int")).as("q"))
    val queriesQ = q8.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qq"))
    val coarse = q8.join(broadcast(queriesQ), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"),
        aggregate(zip_with($"q", $"qq", (a, b) => (a * b).cast("long")),
          lit(0L), (acc, x) => acc + x).as("idot"))
    val wCoarse = Window.partitionBy($"qid").orderBy($"idot".desc, $"nid")
    val top50 = coarse.withColumn("r", row_number().over(wCoarse))
      .filter($"r" <= 50).select($"qid", $"nid")
    val exact = top50
      .join(emb.select($"vec_id".as("nid"), $"embedding".as("ne")), "nid")
      .join(broadcast(emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))), "qid")
      .select($"qid", $"nid", round(gf.cosine_sim($"qe", $"ne"), 6).as("sim"))
    val wExact = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
    exact.withColumn("rank", row_number().over(wExact)).filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"sim")
  }

  val annRerankSql: String =
    """WITH normed AS (
      |  SELECT vec_id,
      |    round(sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2,
      |    embedding
      |  FROM embeddings),
      |q8 AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 127 / l2 + 0.5) AS INT)) AS q
      |  FROM normed),
      |qs AS (SELECT vec_id AS qid, q AS qq FROM q8 WHERE vec_id < 10),
      |coarse AS (
      |  SELECT qid, c.vec_id AS nid,
      |    CAST(list_inner_product(qq, c.q) AS BIGINT) AS idot
      |  FROM qs, q8 c WHERE c.vec_id <> qid),
      |top50 AS (
      |  SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY idot DESC, nid) AS r
      |    FROM coarse) WHERE r <= 50),
      |exact AS (
      |  SELECT t.qid, t.nid,
      |    round(list_cosine_similarity(qe.embedding::DOUBLE[],
      |      ne.embedding::DOUBLE[]), 6) AS sim
      |  FROM top50 t
      |  JOIN embeddings qe ON qe.vec_id = t.qid
      |  JOIN embeddings ne ON ne.vec_id = t.nid)
      |SELECT qid, rank, nid, sim FROM (
      |  SELECT qid, nid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      |  FROM exact) WHERE rank <= 5""".stripMargin

  // --------------------------------------------------------------- C13
  /** Corpus novelty profile: per document, the fraction of its
    * distinct 3-shingles whose FIRST occurrence (minimum doc_id) is
    * this document — the redundancy curve dedup teams plot before
    * choosing thresholds. Planted exact copies score 0.0 novelty by
    * construction. Two linear shuffles (shingle-key agg, shingle-key
    * join); the text column never shuffles. */
  def textNovelty(spark: SparkSession, sfDir: String): DataFrame =
    noveltyPipeline(DedupOps.corpus(Tables.documents(spark, sfDir)))

  def noveltyPipeline(docs: DataFrame): DataFrame = {
    // One corpus explode, collapsed to (shingle, doc, multiplicity)
    // first; "first doc for this shingle" is then a min window over
    // the shingle key instead of an agg + self-join that re-ran the
    // whole explode on both sides (measured 3.8x at the x10 probe —
    // worst in the table — before this form; ReuseExchange does not
    // dedupe the two consumers).
    val g = docs.select(col("doc_id"),
        explode(gf.shingle_md5_h32(col("text"), 3)).as("h"))
      .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("c"))
    val firstW = Window.partitionBy(col("h"))
    g.withColumn("first_doc", min(col("doc_id")).over(firstW))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), col("c")).otherwise(0L))
          .as("n_first"))
      .select(col("doc_id"), col("n_shingles"),
        round(col("n_first") / col("n_shingles"), 6).as("novelty"))
  }

  val textNoveltySql: String =
    s"""WITH ${DedupOps.corpusSql},
       |${DedupOps.shingleSqlCtes("corpus")},
       |firsts AS (SELECT h, min(doc_id) AS first_doc FROM shh GROUP BY h)
       |SELECT s.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    / CAST(count(*) AS BIGINT), 6) AS novelty
       |FROM shh s JOIN firsts f ON s.h = f.h
       |GROUP BY s.doc_id""".stripMargin

  // --------------------------------------------------------------- D10
  /** Degree profile of the near-duplicate pair graph: how many docs
    * have 1, 2, … near-dup partners. The standing LSH-quality
    * diagnostic a dedup pipeline monitors — a fat tail means a
    * banding collision hotspot (or boilerplate cluster) about to
    * blow up the within-bucket quadratic term. Cost: the pair list
    * is duplicate-sized, so both aggregations are negligible next to
    * the LSH itself. */
  def dedupGraphDegree(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = DedupOps.sharedPairs(spark, sfDir, 0.5)
    pairs.select(col("id1").as("doc_id"))
      .unionByName(pairs.select(col("id2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("degree"))
  }

  val dedupGraphDegreeSql: String =
    s"""WITH ${DedupOps.minhashSqlCtes},
       |pairs AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.5),
       |deg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
       |  FROM (SELECT id1 AS doc_id FROM pairs
       |        UNION ALL SELECT id2 FROM pairs)
       |  GROUP BY 1)
       |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
       |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin

  // --------------------------------------------------------------- D11
  /** Cross-source shingle-overlap matrix: pairwise Jaccard between
    * each source's distinct-shingle set — the corpus-forensics view
    * ("which feeds syndicate which") that decides source-level dedup
    * priorities. The corpus reduces to DISTINCT (source, shingle)
    * first (linear shuffle on the shingle key, ≤ |sources|·|shingle
    * space| rows); the self-join fans out per shingle only by the
    * number of sources sharing it, and the totals are a |sources|-row
    * broadcast. Text never shuffles. */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
      .select($"source", explode(gf.shingle_md5_h32($"text", 3)).as("h"))
      .distinct()
      .persist() // three consumers: both join sides + totals
    val tot = d.groupBy($"source").agg(count(lit(1)).as("n"))
    val shared = d.as("a")
      .join(d.as("b"), Seq("h"))
      .filter($"a.source" < $"b.source")
      .groupBy($"a.source".as("sa"), $"b.source".as("sb"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(tot.select($"source".as("sa"), $"n".as("na"))), "sa")
      .join(broadcast(tot.select($"source".as("sb"), $"n".as("nb"))), "sb")
      .select($"sa", $"sb", $"shared",
        round($"shared" / ($"na" + $"nb" - $"shared"), 6).as("jaccard"))
      .orderBy($"jaccard".desc, $"sa", $"sb")
  }

  val sourceOverlapSql: String =
    """WITH tok AS (
      |  SELECT source, string_split_regex(trim(text), '\s+') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT source,
      |    CASE WHEN len(l) < 3 THEN array_to_string(l, ' ')
      |         ELSE l[g] || ' ' || l[g+1] || ' ' || l[g+2] END AS s
      |  FROM tok, unnest(range(1, greatest(len(l) - 2, 1) + 1)) AS u(g)),
      |d AS (
      |  SELECT DISTINCT source, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      |  FROM sh),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
      |pair AS (
      |  SELECT a.source AS sa, b.source AS sb,
      |    CAST(count(*) AS BIGINT) AS shared
      |  FROM d a JOIN d b USING (h)
      |  WHERE a.source < b.source GROUP BY 1, 2)
      |SELECT sa, sb, shared,
      |  round(shared / (ta.n + tb.n - shared), 6) AS jaccard
      |FROM pair
      |JOIN tot ta ON ta.source = sa
      |JOIN tot tb ON tb.source = sb
      |ORDER BY jaccard DESC, sa, sb""".stripMargin

  // --------------------------------------------------------------- D12
  /** LSH calibration table — the tuning artifact an engineer reads
    * BEFORE picking the production threshold: MinHash candidates at a
    * permissive 0.3 cutoff, bucketed by estimated Jaccard decile, with
    * each bucket's pair count, mean estimate, and mean EXACT shingle
    * Jaccard side by side. A well-calibrated estimator tracks the
    * diagonal; divergence at a decile says the 128-perm estimate is
    * biased there and the threshold needs margin. Complements D10
    * (collision hotspots) and D11 (source forensics).
    *
    * Determinism: est = matches/128 is exact binary (÷ a power of
    * two), so bucket floors and the Σmatches sum are exact; the
    * per-pair exact Jaccard is integerized to micro-units
    * (floor(j·10⁶+0.5), same double both engines) BEFORE summing, so
    * bucket means are merge-order-independent — the power-sum
    * discipline applied to a float diagnostic. */
  def dedupLshCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = DedupOps.corpus(Tables.documents(spark, sfDir))
    // shingle sets feed both exact-verify sides — persisted (D4's shape)
    val shingled = docs.select($"doc_id", gf.shingle_md5_h32($"text", 3).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = DedupOps.sharedPairs(spark, sfDir, 0.3)
    val scored = cand
      .join(shingled.select($"doc_id".as("id1"), $"sh".as("sh1")), "id1")
      .join(shingled.select($"doc_id".as("id2"), $"sh".as("sh2")), "id2")
      .withColumn("j",
        size(array_intersect($"sh1", $"sh2")).cast("double")
          / size(array_union($"sh1", $"sh2")))
    scored.select(
        floor($"est_jaccard" * 10).cast("long").as("bucket"),
        ($"est_jaccard" * 128).cast("long").as("m"),
        floor($"j" * 1000000 + 0.5).cast("long").as("ju"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum($"m").cast("double") / (count(lit(1)) * 128.0), 6)
          .as("mean_est"),
        round(sum($"ju").cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("mean_exact"))
      .orderBy($"bucket")
  }

  val dedupLshCalibrationSql: String =
    s"""WITH ${DedupOps.minhashSqlCtes},
       |pairs AS (
       |  SELECT id1, id2, est_jaccard FROM est WHERE est_jaccard >= 0.3),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.id1, p.id2, count(*) AS i
       |  FROM pairs p
       |  JOIN shh h1 ON h1.doc_id = p.id1
       |  JOIN shh h2 ON h2.doc_id = p.id2 AND h2.h = h1.h
       |  GROUP BY p.id1, p.id2),
       |scored AS (
       |  SELECT p.est_jaccard,
       |    CAST(coalesce(i.i, 0) AS DOUBLE)
       |      / (s1.n + s2.n - coalesce(i.i, 0)) AS j
       |  FROM pairs p
       |  LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
       |  JOIN sizes s1 ON s1.doc_id = p.id1
       |  JOIN sizes s2 ON s2.doc_id = p.id2)
       |SELECT CAST(floor(est_jaccard * 10) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(CAST(sum(CAST(est_jaccard * 128 AS BIGINT)) AS DOUBLE)
       |    / (count(*) * 128.0), 6) AS mean_est,
       |  round(CAST(sum(CAST(floor(j * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 1000000.0, 6) AS mean_exact
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- E12
  /** Hamming-space ANN over 64-bit SimHash codes — the BINARY-
    * embedding leg of the E-family ladder (E1-E11 search float
    * vectors; production stores increasingly search learned binary
    * codes where distance is XOR+popcount): top-3 nearest corpus
    * documents per query doc (doc_id < 10), candidates generated by
    * D3's 4×16-bit band pigeonhole (a candidate is missed only if ALL
    * four bands differ — guaranteed complete for hamming ≤ 3, the
    * LSH recall trade above that), then exact-reranked and ranked by
    * the (hamming, doc_id) total order. The oracle replays band
    * extraction bit-exactly from the signature halves (sim64 =
    * (s_hi << 32) | s_lo, pinned in DedupOps.simhashSigSqlCtes).
    * Scale: band equi-join only — 4 rows/doc each side; the rerank
    * is per-candidate XOR arithmetic; the top-3 window partitions by
    * query. */
  def annHamming(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = DedupOps.corpus(Tables.documents(spark, sfDir))
      .select($"doc_id", gf.simhash_md5($"text").as("sim"))
    val bands = sigs.select($"doc_id", $"sim",
      posexplode(array((0 until 4).map { b =>
        shiftrightunsigned($"sim", b * 16).bitwiseAND(lit(0xffffL))
      }: _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_val")
      .persist() // both candidate-join sides read it
    val q = bands.filter($"doc_id" < 10)
      .select($"band_id", $"band_val",
        $"doc_id".as("query_id"), $"sim".as("qsim"))
    val cand = q.join(bands, Seq("band_id", "band_val"))
      .filter($"query_id" =!= $"doc_id")
      .select($"query_id", $"qsim", $"doc_id", $"sim").distinct()
    cand
      .withColumn("hamming", gf.hamming64($"qsim", $"sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"hamming", $"doc_id")))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank", $"doc_id", $"hamming")
      .orderBy($"query_id", $"rank")
  }

  val annHammingSql: String =
    s"""WITH ${DedupOps.simhashSigSqlCtes},
       |bands AS MATERIALIZED (
       |  -- MATERIALIZED: both candidate-join sides read it; inlining
       |  -- would run the whole simhash chain twice (D15 spill lesson)
       |  SELECT s.doc_id, s.s_hi, s.s_lo, b.band_id,
       |    CASE WHEN b.band_id < 2
       |         THEN (s.s_lo >> (16 * b.band_id)) & 65535
       |         ELSE (s.s_hi >> (16 * (b.band_id - 2))) & 65535
       |    END AS band_val
       |  FROM sig s, range(4) b(band_id)),
       |cand AS (
       |  SELECT DISTINCT q.doc_id AS query_id, q.s_hi AS q_hi,
       |    q.s_lo AS q_lo, c.doc_id, c.s_hi, c.s_lo
       |  FROM bands q
       |  JOIN bands c ON c.band_id = q.band_id
       |    AND c.band_val = q.band_val AND c.doc_id <> q.doc_id
       |  WHERE q.doc_id < 10),
       |h AS (
       |  SELECT query_id, doc_id,
       |    CAST(bit_count(xor(q_hi, s_hi)) + bit_count(xor(q_lo, s_lo))
       |      AS INT) AS hamming
       |  FROM cand),
       |r AS (
       |  SELECT query_id, doc_id, hamming,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming, doc_id) AS rn
       |  FROM h)
       |SELECT query_id, CAST(rn AS INT) AS rank, doc_id, hamming
       |FROM r WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------- D16
  /** Triangle census of the near-duplicate pair graph — the structural
    * complement to D10's degree profile: a high triangle/wedge ratio
    * (clustering coefficient) means near-dup pairs close into dense
    * boilerplate communities (one canonical survivor suffices); a low
    * ratio means chains/stars (template drift — pair-level review).
    * Counting uses degree orientation: every edge points from its
    * lower-(degree, id) endpoint, each triangle is counted exactly
    * once at its lowest-degree vertex, and the wedge join's fan-out is
    * bounded by ORIENTED out-degree ≤ √(2·|E|) regardless of hub size
    * — the standard trick that keeps triangle counting equi-join-
    * shaped at any scale. Wedge closure probes the canonical pair set
    * by equi-join; the 1-row census aggregates cross at the end
    * (documented k-bound, PlanHygieneSpec). */
  def dedupTriangles(spark: SparkSession, sfDir: String): DataFrame =
    trianglesPipeline(DedupOps.sharedPairs(spark, sfDir, 0.5))

  /** Census body over an (id1 < id2, distinct) edge list — separated
    * so ScaleProbe can grow the pair graph independently. */
  private[graft] def trianglesPipeline(rawPairs: DataFrame): DataFrame = {
    val spark = rawPairs.sparkSession
    import spark.implicits._
    val pairs = rawPairs
      .select($"id1", $"id2")
      .persist() // four consumers: degree, both orient sides, closure probe
    val deg = pairs.select($"id1".as("v"))
      .unionByName(pairs.select($"id2".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    val e = pairs
      .join(deg.select($"v".as("id1"), $"deg".as("d1")), "id1")
      .join(deg.select($"v".as("id2"), $"deg".as("d2")), "id2")
    // strict total order (deg, id) → acyclic orientation
    val fwd = $"d1" < $"d2" || ($"d1" === $"d2" && $"id1" < $"id2")
    val dir = e.select(
      when(fwd, $"id1").otherwise($"id2").as("src"),
      when(fwd, $"id2").otherwise($"id1").as("dst"))
      .persist() // diamond: both sides of the wedge self-join (§5 rule)
    // wedge (src → dst1 < dst2); closing edge probed in canonical form
    val wedgeCand = dir.as("a").join(dir.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("id1"), col("b.dst").as("id2"))
    val tri = wedgeCand.join(pairs, Seq("id1", "id2"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      expr("CAST(sum(deg * (deg - 1)) div 2 AS BIGINT)").as("n_wedges"))
    val edgeStats = pairs.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        when($"n_wedges" > 0,
          round(lit(3.0) * $"n_triangles" / $"n_wedges", 6))
          .otherwise(0.0).as("clustering"))
  }

  // multi-referenced CTEs are MATERIALIZED: DuckDB inlines a CTE per
  // reference, and pairs/deg/dir are each read 2-4 times — inlining
  // would re-evaluate the whole minhash chain per reference (the D15
  // unbounded-spill lesson, §2 status note)
  val dedupTrianglesSql: String =
    s"""WITH ${DedupOps.minhashSqlCtes},
       |pairs AS MATERIALIZED (
       |  SELECT id1, id2 FROM est WHERE est_jaccard >= 0.5),
       |deg AS MATERIALIZED (
       |  SELECT v, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT id1 AS v FROM pairs UNION ALL SELECT id2 FROM pairs)
       |  GROUP BY 1),
       |dir AS MATERIALIZED (
       |  SELECT CASE WHEN d1.deg < d2.deg
       |              OR (d1.deg = d2.deg AND p.id1 < p.id2)
       |         THEN p.id1 ELSE p.id2 END AS src,
       |         CASE WHEN d1.deg < d2.deg
       |              OR (d1.deg = d2.deg AND p.id1 < p.id2)
       |         THEN p.id2 ELSE p.id1 END AS dst
       |  FROM pairs p
       |  JOIN deg d1 ON d1.v = p.id1
       |  JOIN deg d2 ON d2.v = p.id2),
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM dir a
       |  JOIN dir b ON a.src = b.src AND a.dst < b.dst
       |  JOIN pairs p ON p.id1 = a.dst AND p.id2 = b.dst),
       |ns AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
       |  FROM deg),
       |es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CASE WHEN n_wedges > 0
       |    THEN round(3.0 * n_triangles / n_wedges, 6) ELSE 0.0 END
       |    AS clustering
       |FROM ns CROSS JOIN es CROSS JOIN tri""".stripMargin

  // --------------------------------------------------------------- D17
  /** Exact edit-distance verification of LSH candidate pairs — the
    * precision stage a shipping dedup pipeline runs AFTER candidate
    * generation: MinHash banding proposes (recall), Levenshtein
    * disposes (precision). Normalized similarity 1 − dist/max(len)
    * ≥ 0.8 keeps exact copies (dist 0) and light-edit near-copies;
    * banding's false-positive collisions fall out here. Levenshtein
    * is O(len²) per pair, which is exactly why it must NEVER run
    * all-pairs: this plan computes it only on the candidate relation
    * (linear in candidates, each a short-string DP in one task's
    * loop — no shuffle beyond the two text joins). The oracle replays
    * the full minhash chain and DuckDB's own levenshtein, so the
    * candidate set AND the verification are both hash-checked. */
  def dedupEditVerify(spark: SparkSession, sfDir: String): DataFrame =
    editVerifyPipeline(DedupOps.corpus(Tables.documents(spark, sfDir)),
      DedupOps.sharedPairs(spark, sfDir, 0.3).select("id1", "id2"))

  /** Candidate generation + Levenshtein verification over an
    * arbitrary (doc_id, text) corpus (factored for the ScaleProbe). */
  def editVerifyPipeline(docs: DataFrame): DataFrame =
    editVerifyPipeline(docs,
      DedupOps.minhashPipeline(docs, 0.3).select("id1", "id2"))

  /** Same, with the candidate relation supplied (the query surface
    * passes the run-shared store's pairs; probes build inline). */
  def editVerifyPipeline(docs: DataFrame, candidates: DataFrame): DataFrame = {
    val t1 = docs.select(col("doc_id").as("id1"), col("text").as("text1"))
    val t2 = docs.select(col("doc_id").as("id2"), col("text").as("text2"))
    // The DP kernel below is the query's ONE compute-bound stage, and
    // two planner behaviours starved it (r19 optimization, measured in
    // the executed plan): (a) the candidate side is the smaller size
    // ESTIMATE, so the planner broadcast the pairs and ran the kernel
    // on the corpus scan's 3 partitions — 29 of 32 slots idle; (b) the
    // post-kernel filters were pushed into the join CONDITION, so the
    // Levenshtein evaluated TWICE per row (condition + projection).
    // Fix: join first (planner free), apply the cheap length gate,
    // REPARTITION the gated pair-text relation to slot parallelism and
    // pin it with an eager checkpoint — the checkpoint is a few MB
    // (the kernel's working set) and is a hard barrier BOTH for the
    // filter pushdown (the kernel runs once, above it) and for AQE's
    // byte-based coalescing (which would re-fuse the tiny-but-CPU-
    // heavy partitions; partition count must follow ROWS here, not
    // bytes). Measured 5.6 → 1.0 s (isolated probe, with the bounded
    // kernel below) with results bit-identical.
    val gated = candidates.join(t1, "id1").join(t2, "id2")
      .withColumn("ml", greatest(length(col("text1")), length(col("text2"))))
      // length gate BEFORE the O(n·m) DP: dist >= |len1 - len2|, so a
      // pair with 5·|len1 - len2| > ml can never reach edit_sim 0.8 —
      // an exact integer implication of the output filter (result set
      // unchanged; the oracle needs no mirror), pruning most LSH
      // candidates before the quadratic kernel touches them
      .filter(lit(5) * abs(length(col("text1")) - length(col("text2")))
        <= col("ml"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    // threshold-bounded DP (r19 optimization): a pair can only pass
    // the output filter when round(1 − dist/ml, 6) ≥ 0.8, i.e.
    // dist ≤ ml·0.2000005 < floor(ml·2000005/10⁷) + 1 = thr — so the
    // banded O(thr·len) kernel with per-row thr returns the EXACT
    // distance for every pair that can pass and −1 (dist > thr,
    // provably failing) otherwise. Result set unchanged, same
    // argument as the length gate; the oracle needs no mirror.
    gated
      .withColumn("dist", expr("levenshtein(text1, text2, " +
        "cast(cast(ml as bigint) * 2000005 div 10000000 + 1 as int))"))
      .filter(col("dist") =!= -1)
      .withColumn("edit_sim",
        round(lit(1.0) - col("dist").cast("double") / col("ml"), 6))
      .filter(col("edit_sim") >= 0.8)
      .select(col("id1"), col("id2"), col("dist"), col("edit_sim"))
  }

  val dedupEditVerifySql: String =
    s"""WITH ${DedupOps.minhashSqlCtes},
       |sel AS (
       |  SELECT e.id1, e.id2,
       |    CAST(levenshtein(c1.text, c2.text) AS INT) AS dist,
       |    greatest(length(c1.text), length(c2.text)) AS ml
       |  FROM est e
       |  JOIN corpus c1 ON c1.doc_id = e.id1
       |  JOIN corpus c2 ON c2.doc_id = e.id2
       |  WHERE e.est_jaccard >= 0.3)
       |SELECT id1, id2, dist,
       |  round(1.0 - CAST(dist AS DOUBLE) / ml, 6) AS edit_sim
       |FROM sel
       |WHERE round(1.0 - CAST(dist AS DOUBLE) / ml, 6) >= 0.8""".stripMargin

  // --------------------------------------------------------------- D18
  /** PageRank over the near-dup pair graph (5 iterations, d = 0.85) —
    * authority scoring for canonical-document selection: in a
    * boilerplate community the highest-PageRank member is the most
    * central copy, a principled upgrade over D6's min-id canonical
    * pick. Degree (D10), triangles (D16), components (D7) profile the
    * graph's SHAPE; this ranks its NODES.
    *
    * Portable-determinism discipline: ranks are FIXED-POINT BIGINTs
    * (×10¹²) and every update is integer arithmetic — contribution =
    * fx div deg, damping = (85·Σ) div 100, teleport = 1.5e11 div n —
    * so iteration results are EXACT and independent of addition
    * order/partitioning in both engines (float PageRank would drift
    * ulp-per-iteration under Spark's unordered partial sums). The
    * undirected pair graph has no dangling nodes (every node has
    * degree ≥ 1), so no mass-leak correction term is needed. Per
    * iteration: one join of the edge relation against the (node, fx)
    * relation + one sum per destination — the classic message-passing
    * shuffle, linear in edges, same schedule GraphX/Pregel would run.
    * The oracle unrolls the 5 iterations as CTEs (all MATERIALIZED —
    * the DuckDB CTE-inlining lesson, SURVEY §6). */
  def dedupPagerank(spark: SparkSession, sfDir: String): DataFrame =
    pagerankPipeline(DedupOps.sharedPairs(spark, sfDir, 0.5)
      .select("id1", "id2"))

  /** 5 fixed-point PageRank iterations over an undirected pair
    * relation (see dedupPagerank; factored for the ScaleProbe).
    *
    * Co-partitioning (round-8 judge #5): the edge relation is joined
    * with its degree column ONCE, hash-repartitioned on `src`, and
    * persisted — every iteration's edges⋈ranks join then reads the
    * edge side Exchange-free (the persisted partitioning satisfies
    * the join's distribution requirement), so per-iteration work is
    * one Exchange of the rank relation onto src plus the per-dst
    * aggregation shuffle, instead of re-exchanging edges every round.
    * This is exactly how a Pregel runtime holds its edge partition
    * fixed across supersteps while messages move. */
  def pagerankPipeline(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgesDeg = edges.join(deg, "src")
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nScalar = deg.agg(count(lit(1)).as("n"))
    var pr = deg.crossJoin(broadcast(nScalar))
      .select(col("src").as("node"),
        expr("CAST(1000000000000 AS BIGINT) div n").as("fx"))
    for (_ <- 1 to 5) {
      val contribs = edgesDeg
        .join(pr.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("fx div deg").as("c"))
      pr = contribs.groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .crossJoin(broadcast(nScalar))
        .select(col("dst").as("node"),
          (expr("CAST(150000000000 AS BIGINT) div n")
            + expr("(85 * s) div 100")).as("fx"))
    }
    pr.join(deg, pr("node") === deg("src"))
      .select(col("node").as("doc_id"), col("deg"),
        round(col("fx") / lit(1e12), 6).as("pagerank"))
  }

  val dedupPagerankSql: String = {
    val iters = (1 to 5).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    150000000000 // max(nn.n) + (85 * sum(p.fx // d.deg)) // 100 AS fx
         |  FROM e
         |  JOIN p${k - 1} p ON p.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  CROSS JOIN nn
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${DedupOps.minhashSqlCtes},
       |prs AS MATERIALIZED (
       |  SELECT id1, id2 FROM est WHERE est_jaccard >= 0.5),
       |e AS MATERIALIZED (
       |  SELECT id1 AS src, id2 AS dst FROM prs
       |  UNION ALL
       |  SELECT id2, id1 FROM prs),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
       |p0 AS MATERIALIZED (
       |  SELECT src AS node, 1000000000000 // n AS fx
       |  FROM deg CROSS JOIN nn),
       |$iters
       |SELECT p5.node AS doc_id, CAST(d.deg AS BIGINT) AS deg,
       |  round(p5.fx / 1e12, 6) AS pagerank
       |FROM p5 JOIN deg d ON d.src = p5.node""".stripMargin
  }

  // --------------------------------------------------------------- D19
  /** Probabilistic record linkage (Fellegi & Sunter 1969) between two
    * ENTITY tables — the cross-source twin of document dedup: D1-D18
    * ask "is this the same text", linkage asks "is this the same
    * entity" across heterogeneous sources (here customer ↔ supplier,
    * the two party tables). The canonical two-stage shape:
    *   1. BLOCKING: candidate pairs only within a nation block — an
    *      equi-join, never a cross product (the LSH-banding discipline
    *      applied to entity resolution; at 100 TB the block key bounds
    *      pair fan-out and the smaller party side broadcasts);
    *   2. SCORING: per-field agreement weights in ×1000 fixed point —
    *      log-likelihood-ratio-shaped constants (agree ≫ 0 when the
    *      field is discriminative, disagree < 0), summed to a match
    *      score. Fields: entity-number suffix last-2-digits, balance
    *      kilobucket, balance hectobucket (a hierarchical agreement
    *      ladder). All comparisons are integer equality on exactly
    *      derived values, so scores are bit-identical across engines.
    * Output: the best-scoring supplier per customer (rank-1 window
    * within the block results) with score ≥ 5000 — the "review" set a
    * linkage pipeline hands downstream. */
  def dedupLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey",
      (regexp_extract($"c_name", "([0-9]+)$", 1).cast("long") % 100).as("c_id2"),
      floor($"c_acctbal".cast("double") / 1000.0).cast("long").as("c_kb"),
      floor($"c_acctbal".cast("double") / 100.0).cast("long").as("c_hb"))
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_nationkey",
      (regexp_extract($"s_name", "([0-9]+)$", 1).cast("long") % 100).as("s_id2"),
      floor($"s_acctbal".cast("double") / 1000.0).cast("long").as("s_kb"),
      floor($"s_acctbal".cast("double") / 100.0).cast("long").as("s_hb"))
    val scored = c.join(broadcast(s), $"c_nationkey" === $"s_nationkey")
      .withColumn("score",
        when($"c_id2" === $"s_id2", 6644L).otherwise(-4247L)
          + when($"c_kb" === $"s_kb", 3000L).otherwise(-1500L)
          + when($"c_hb" === $"s_hb", 2000L).otherwise(-500L))
    val w = Window.partitionBy($"c_custkey")
      .orderBy($"score".desc, $"s_suppkey")
    scored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"score" >= 5000L)
      .select($"c_custkey", $"s_suppkey", $"score")
      .orderBy($"c_custkey")
  }

  val dedupLinkageSql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) % 100 AS c_id2,
      |    CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS c_kb,
      |    CAST(floor(CAST(c_acctbal AS DOUBLE) / 100.0) AS BIGINT) AS c_hb
      |  FROM customer),
      |s AS (
      |  SELECT s_suppkey, s_nationkey,
      |    CAST(regexp_extract(s_name, '([0-9]+)$', 1) AS BIGINT) % 100 AS s_id2,
      |    CAST(floor(CAST(s_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS s_kb,
      |    CAST(floor(CAST(s_acctbal AS DOUBLE) / 100.0) AS BIGINT) AS s_hb
      |  FROM supplier),
      |scored AS (
      |  SELECT c.c_custkey, s.s_suppkey,
      |    (CASE WHEN c_id2 = s_id2 THEN 6644 ELSE -4247 END
      |     + CASE WHEN c_kb = s_kb THEN 3000 ELSE -1500 END
      |     + CASE WHEN c_hb = s_hb THEN 2000 ELSE -500 END) AS score
      |  FROM c JOIN s ON c_nationkey = s_nationkey),
      |ranked AS (
      |  SELECT c_custkey, s_suppkey, score,
      |    ROW_NUMBER() OVER (PARTITION BY c_custkey
      |      ORDER BY score DESC, s_suppkey) AS rn
      |  FROM scored)
      |SELECT c_custkey, s_suppkey, CAST(score AS BIGINT) AS score
      |FROM ranked WHERE rn = 1 AND score >= 5000
      |ORDER BY c_custkey""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dedup_linkage", dedupLinkage, dedupLinkageSql),
    QueryDef("dedup_pagerank", dedupPagerank, dedupPagerankSql),
    QueryDef("dedup_edit_verify", dedupEditVerify, dedupEditVerifySql),
    QueryDef("ann_hamming", annHamming, annHammingSql),
    QueryDef("dedup_triangles", dedupTriangles, dedupTrianglesSql),
    QueryDef("dedup_span_coverage", dedupSpanCoverage, dedupSpanCoverageSql),
    QueryDef("dedup_lsh_calibration", dedupLshCalibration,
      dedupLshCalibrationSql),
    QueryDef("source_overlap", sourceOverlap, sourceOverlapSql),
    QueryDef("dedup_graph_degree", dedupGraphDegree, dedupGraphDegreeSql),
    QueryDef("text_tfidf", textTfidf, textTfidfSql),
    QueryDef("dedup_containment", DedupOps.sharedContainment,
      dedupContainmentSql),
    QueryDef("dedup_incremental", dedupIncremental, dedupIncrementalSql),
    QueryDef("ann_rerank", annRerank, annRerankSql),
    QueryDef("text_novelty", textNovelty, textNoveltySql))
}
