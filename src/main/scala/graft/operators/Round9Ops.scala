package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.QueryDef
import graft.Tables
import graft.functions.gf

/** Round-9 surface widening (SURVEY.md §2 rows A28, C22, D21, E23,
  * I12, J15): CDC snapshot diffing, Naive-Bayes source classification,
  * k-core decomposition of the near-dup graph, scalar-quantization
  * recall sweep, Bloom-filter FPR calibration, and DSIR-style hashed
  * n-gram importance resampling.
  *
  * Scale discipline (100 TB): every operator here is one-or-two
  * map-side-combinable aggregations plus broadcast joins of bounded
  * relations — the corpus-sized relations never self-join and text
  * never shuffles (token/bucket KEYS do). Float appears only under
  * the established portability conventions: ln/exp bridged by a
  * single round() per term (the C8/B59/C19 libm convention), with all
  * summation over integers.
  */
object Round9Ops {

  // ---------------------------------------------------------------- A28
  /** CDC snapshot diff — the change-data-capture delta log between two
    * warehouse snapshots: for every business key, classify as
    * I(nsert) / D(elete) / U(pdate), carrying both sides' values. The
    * reference's change-detection (utils.py:117-194) computes exactly
    * this set driver-side against a JSON state file; at warehouse
    * scale the same question is one FULL OUTER join on the key —
    * co-located for free when both snapshots are bucketed on it
    * (A20b's MERGE discipline). Unchanged rows are filtered out, so
    * the output is churn-sized, not snapshot-sized.
    *
    * The two snapshots are derived deterministically from `orders`:
    * OLD drops keys ≡3 (mod 10) (those become inserts), NEW drops
    * keys ≡7 (deletes) and bumps totalprice by 1.0 for keys ≡0
    * (mod 5) (updates; the IEEE add of 1.0 is exact in both
    * engines, so the double comparison is portable). */
  def etlCdcDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val old = o.filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("old_status"),
        col("o_totalprice").as("old_price"))
    val neu = o.filter(col("o_orderkey") % 10 =!= 7)
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("new_status"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0d))
          .otherwise(col("o_totalprice")).as("new_price"))
    old.join(neu, Seq("key"), "full_outer")
      .withColumn("op",
        when(col("old_status").isNull, "I")
          .when(col("new_status").isNull, "D")
          .when(col("old_price") =!= col("new_price")
            || col("old_status") =!= col("new_status"), "U"))
      .filter(col("op").isNotNull)
      .select(col("key"), col("op"), col("old_status"), col("new_status"),
        col("old_price"), col("new_price"))
  }

  val etlCdcDiffSql: String =
    """WITH old AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS old_status,
      |    o_totalprice AS old_price
      |  FROM orders WHERE o_orderkey % 10 <> 3),
      |neu AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS new_status,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS new_price
      |  FROM orders WHERE o_orderkey % 10 <> 7)
      |SELECT COALESCE(old.key, neu.key) AS key,
      |  CASE WHEN old_status IS NULL THEN 'I'
      |       WHEN new_status IS NULL THEN 'D' ELSE 'U' END AS op,
      |  old_status, new_status, old_price, new_price
      |FROM old FULL JOIN neu ON old.key = neu.key
      |WHERE old_status IS NULL OR new_status IS NULL
      |   OR old_price <> new_price OR old_status <> new_status""".stripMargin

  // ---------------------------------------------------------------- D21
  /** k-core decomposition of the near-dup pair graph (k = 2, 3): the
    * maximal subgraph where every node keeps ≥ k neighbors, found by
    * iterative peeling (drop degree-<k nodes, re-count, repeat). The
    * 2-core separates duplicate COMMUNITIES from mere pair chains; the
    * 3-core isolates the dense boilerplate clusters D16's clustering
    * coefficient only measures in aggregate — the shape question a
    * dedup policy asks before choosing per-cluster canonical counts.
    *
    * Each peeling round is one degree aggregation + two semi-join
    * filters over the duplicate-sized edge relation — linear, never
    * all-pairs; lineage is truncated per round (the codified
    * iterative-lineage discipline). 8 rounds are provably enough on
    * any graph whose peeling converges in 8 (the spec asserts round
    * 9 ≡ round 8 — a fixpoint, so ALL later rounds are identical);
    * the oracle unrolls the same 8 rounds as MATERIALIZED CTEs. */
  def dedupKcore(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = DedupOps.sharedPairs(spark, sfDir, 0.5).select("id1", "id2")
    Seq(2, 3).map(k => kcoreCensus(kcorePipeline(pairs, k, 8), k))
      .reduce(_ unionByName _)
  }

  /** Peel `rounds` times for a fixed k; returns the surviving
    * undirected (id1 < id2) edge relation. */
  def kcorePipeline(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = pairs.localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val deg = e.select(col("id1").as("node"))
        .unionByName(e.select(col("id2").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      e = e
        .join(keep.withColumnRenamed("node", "id1"), Seq("id1"), "left_semi")
        .join(keep.withColumnRenamed("node", "id2"), Seq("id2"), "left_semi")
        .select(col("id1"), col("id2"))
        .localCheckpoint(true)
    }
    e
  }

  private def kcoreCensus(e: DataFrame, k: Int): DataFrame = {
    val nodes = e.select(col("id1").as("node"))
      .unionByName(e.select(col("id2").as("node"))).distinct()
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(lit(k).as("k"), col("n_nodes"), col("n_edges"))
  }

  val dedupKcoreSql: String = {
    def peel(k: Int): String = (1 to 8).map { r =>
      s"""k${k}deg$r AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT id1 AS node FROM k${k}e${r - 1}
         |    UNION ALL SELECT id2 FROM k${k}e${r - 1}) u
         |  GROUP BY node),
         |k${k}e$r AS MATERIALIZED (
         |  SELECT e.id1, e.id2 FROM k${k}e${r - 1} e
         |  WHERE EXISTS (SELECT 1 FROM k${k}deg$r d
         |                WHERE d.node = e.id1 AND d.deg >= $k)
         |    AND EXISTS (SELECT 1 FROM k${k}deg$r d
         |                WHERE d.node = e.id2 AND d.deg >= $k))""".stripMargin
    }.mkString(",\n")
    def census(k: Int): String =
      s"""SELECT $k AS k,
         |  (SELECT count(*) FROM (SELECT id1 AS n FROM k${k}e8
         |    UNION SELECT id2 FROM k${k}e8) u) AS n_nodes,
         |  (SELECT count(*) FROM k${k}e8) AS n_edges""".stripMargin
    s"""WITH ${DedupOps.minhashSqlCtes},
       |prs AS MATERIALIZED (
       |  SELECT id1, id2 FROM est WHERE est_jaccard >= 0.5),
       |k2e0 AS MATERIALIZED (SELECT id1, id2 FROM prs),
       |k3e0 AS MATERIALIZED (SELECT id1, id2 FROM prs),
       |${peel(2)},
       |${peel(3)}
       |${census(2)}
       |UNION ALL
       |${census(3)}""".stripMargin
  }

  // ---------------------------------------------------------------- I12
  /** Bloom-filter false-positive calibration — the I-family's
    * measured-vs-theory table (I10's HLL story for the runtime-filter
    * axis H12/I2 rely on): build a k=3 Bloom filter over the even
    * user-id member set at m ∈ {256, 1024, 4096} bits from the
    * portable md5 kernel, probe 1000 guaranteed non-member values,
    * and report measured FPR beside the (1 − e^{−kn/m})^k theory —
    * the table read before sizing a production runtime filter's
    * bits-per-key.
    *
    * The bit table is ≤ m·|configs| rows and broadcasts; members
    * reduce to one DISTINCT pass; the probe set is a fixed generated
    * relation — everything after the scan is constant-size. The
    * theory column is the one float expression, evaluated as an
    * identical tree in both engines. */
  def sketchBloomCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg = Seq(256L, 1024L, 4096L)
    val cfgDf = broadcast(
      spark.createDataFrame(cfg.map(Tuple1(_))).toDF("m_bits"))
    val members = Tables.events(spark, sfDir)
      .filter(col("user_id") % 2 === 0).select(col("user_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    def bitPos(j: Int, v: Column): Column =
      gf.h32(concat(lit(s"bloom$j:"), v.cast("string"))) % col("m_bits")
    val bits = members.crossJoin(cfgDf)
      .select(col("m_bits"), explode(array(
        (0 to 2).map(j => bitPos(j, col("user_id"))): _*)).as("bit"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val probes = spark.range(1000)
      .select((col("id") + 1000001L).as("pv"))
    val probeBits = probes.crossJoin(cfgDf)
      .select(col("m_bits"), col("pv"), explode(array(
        (0 to 2).map(j => bitPos(j, col("pv"))): _*)).as("bit"))
    val fp = probeBits
      .join(broadcast(bits.withColumn("present", lit(1L))),
        Seq("m_bits", "bit"), "left")
      .groupBy(col("m_bits"), col("pv"))
      .agg(sum(coalesce(col("present"), lit(0L))).as("hits"))
      .groupBy(col("m_bits"))
      .agg(sum(when(col("hits") === 3, 1L).otherwise(0L)).as("fp_count"),
        count(lit(1)).as("n_probes"))
    val bitsSet = bits.groupBy(col("m_bits"))
      .agg(count(lit(1)).as("bits_set"))
    val n = members.agg(count(lit(1)).as("n_members"))
    fp.join(bitsSet, Seq("m_bits")).crossJoin(broadcast(n))
      .select(col("m_bits"), col("n_members"), col("bits_set"),
        col("n_probes"), col("fp_count"),
        expr("fp_count * 1000000 div n_probes").as("fpr_ppm"),
        expr("""CAST(round(pow(1.0 - exp(-(3.0 * n_members) / m_bits), 3)
                * 1000000) AS BIGINT)""").as("theory_ppm"))
  }

  val sketchBloomCalibrationSql: String =
    """WITH cfg(m_bits) AS (VALUES (256), (1024), (4096)),
      |members AS MATERIALIZED (
      |  SELECT DISTINCT user_id FROM events WHERE user_id % 2 = 0),
      |bits AS MATERIALIZED (
      |  SELECT DISTINCT m_bits,
      |    ('0x' || substr(md5('bloom' || j || ':' || CAST(user_id AS VARCHAR)),
      |      1, 8))::BIGINT % m_bits AS bit
      |  FROM members CROSS JOIN cfg, range(3) t(j)),
      |probes AS (SELECT 1000001 + i AS pv FROM range(1000) r(i)),
      |probebits AS (
      |  SELECT m_bits, pv,
      |    ('0x' || substr(md5('bloom' || j || ':' || CAST(pv AS VARCHAR)),
      |      1, 8))::BIGINT % m_bits AS bit
      |  FROM probes CROSS JOIN cfg, range(3) t(j)),
      |hits AS (
      |  SELECT p.m_bits, p.pv,
      |    sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS h
      |  FROM probebits p LEFT JOIN bits b
      |    ON b.m_bits = p.m_bits AND b.bit = p.bit
      |  GROUP BY p.m_bits, p.pv),
      |fp AS (
      |  SELECT m_bits,
      |    CAST(sum(CASE WHEN h = 3 THEN 1 ELSE 0 END) AS BIGINT) AS fp_count,
      |    CAST(count(*) AS BIGINT) AS n_probes
      |  FROM hits GROUP BY m_bits),
      |bset AS (SELECT m_bits, CAST(count(*) AS BIGINT) AS bits_set
      |         FROM bits GROUP BY m_bits),
      |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM members)
      |SELECT CAST(fp.m_bits AS BIGINT) AS m_bits, n_members, bits_set,
      |  n_probes, fp_count,
      |  fp_count * 1000000 // n_probes AS fpr_ppm,
      |  CAST(round(pow(1.0 - exp(-(3.0 * n_members) / fp.m_bits), 3)
      |    * 1000000) AS BIGINT) AS theory_ppm
      |FROM fp JOIN bset ON bset.m_bits = fp.m_bits CROSS JOIN nm""".stripMargin

  // ---------------------------------------------------------------- J15
  /** DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how target-like its hashed n-gram feature
    * distribution is — log importance weight = Σ over token
    * occurrences of ln p_target(bucket) − ln p_raw(bucket) on a
    * 64-bucket hashed unigram space with add-1 smoothing — then keep
    * the top quintile. Target here = the `src0` feed; raw = the whole
    * corpus. This is the principled replacement for J9's per-source
    * quality deciles when the selection criterion is "looks like this
    * reference corpus" rather than an intrinsic quality score.
    *
    * Portability: per-bucket log-ratios are integerized ONCE
    * (round(1e6·(ln(ct+1) − ln(nt+64) − ln(cr+1) + ln(nr+64)))), so
    * per-doc weights are exact BIGINT sums — merge-order-independent.
    * The keep threshold is the exact interpolated 80th percentile
    * (B23b's bit-matched kernel); at 100 TB approx_percentile swaps
    * in. Plan: two 64-row bucket aggs broadcast back onto the token
    * stream, one per-doc sum — text never shuffles, token occurrences
    * collapse to bucket ints scan-side. */
  def sampleDsir(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("doc_id"), col("source"),
        (gf.h32(concat(lit("dsir:"), col("tok"))) % 64).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tgt = toks.filter(col("source") === "src0")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val grid = spark.range(64).select(col("id").as("b"))
      .join(tgt, Seq("b"), "left").join(raw, Seq("b"), "left")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val totals = grid.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val lam = grid.crossJoin(broadcast(totals))
      .select(col("b"),
        expr("""CAST(round((ln(ct + 1) - ln(nt + 64) - ln(cr + 1)
                + ln(nr + 64)) * 1000000) AS BIGINT)""").as("lam"))
    val perDoc = toks.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lam")).as("lw"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val thr = perDoc.agg(expr("percentile(lw, 0.8d)").as("thr"))
    perDoc.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("source"), col("n_grams"), col("lw"),
        (col("lw") >= col("thr")).as("keep"))
  }

  val sampleDsirSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5('dsir:' || tok), 1, 8))::BIGINT % 64 AS b
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split_regex(trim(text), '\s+')) AS tok
      |        FROM documents) u),
      |grid AS MATERIALIZED (
      |  SELECT r.i AS b,
      |    COALESCE(t.ct, 0) AS ct, COALESCE(w.cr, 0) AS cr
      |  FROM range(64) r(i)
      |  LEFT JOIN (SELECT b, count(*) AS ct FROM toks
      |             WHERE source = 'src0' GROUP BY b) t ON t.b = r.i
      |  LEFT JOIN (SELECT b, count(*) AS cr FROM toks GROUP BY b) w
      |    ON w.b = r.i),
      |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM grid),
      |lam AS (
      |  SELECT b, CAST(round((ln(ct + 1) - ln(nt + 64) - ln(cr + 1)
      |    + ln(nr + 64)) * 1000000) AS BIGINT) AS lam
      |  FROM grid CROSS JOIN tot),
      |perdoc AS MATERIALIZED (
      |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(lam) AS BIGINT) AS lw
      |  FROM toks JOIN lam USING (b) GROUP BY doc_id, source),
      |thr AS (SELECT quantile_cont(lw, 0.8) AS thr FROM perdoc)
      |SELECT doc_id, source, n_grams, lw, lw >= thr AS keep
      |FROM perdoc CROSS JOIN thr""".stripMargin

  // ---------------------------------------------------------------- C22
  /** Naive-Bayes source classification with a held-out confusion
    * matrix — the trainable-filter step of a curation pipeline
    * (CCNet/GPT-3-style quality classifiers are exactly bag-of-words
    * linear models like this): train multinomial NB on a
    * deterministic 80% fold (add-1 smoothing over the top-200 train
    * vocabulary), classify the 20% holdout, and emit the
    * (true_source, pred_source, n_docs) confusion matrix a filter
    * designer reads before trusting the scores.
    *
    * The raw synthetic corpus has NO lexical source signal (all 20
    * feeds draw from the same 31-token pool — measured: NB accuracy ≈
    * the majority-class baseline on source AND lang), so the staging
    * plants site chrome on HALF the sources (src0-src9 get a
    * repeated 'nav_/menu_/footer_<source>' suffix — the E20
    * plant-what-the-corpus-lacks pattern), making the matrix show
    * BOTH regimes at once: the chromed half classifies ≥ 95%
    * correct (the mechanism demonstrably recovers real site chrome),
    * the unchromed half collapses onto volume-biased predictions with
    * a near-empty diagonal — exactly the "this label is not
    * recoverable from text" verdict the audit exists to deliver.
    *
    * Determinism: every log term is integerized ONCE
    * (round(1e6·ln(·))) so per-doc per-class scores are exact BIGINT
    * sums — the argmax compares identical integers in both engines,
    * ties broken by source asc via the min-struct idiom. Plan: the
    * model is a |sources|×|vocab| grid (4000 rows, broadcast); the
    * holdout explodes to tokens, joins the broadcast grid, and
    * reduces in one (doc, source) agg — text never shuffles. */
  def textNbClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val chrome = concat(lit(" nav_"), col("source"), lit(" menu_"),
      col("source"), lit(" footer_"), col("source"))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        when(substring(col("source"), 4, 10).cast("int") < 10,
          concat(col("text"), chrome, chrome)).otherwise(col("text"))
          .as("text"),
        (gf.h32(concat(lit("nb:"), col("doc_id").cast("string"))) % 10)
          .as("fold"))
    val train = docs.filter(col("fold") < 8)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val test = docs.filter(col("fold") >= 8)
    val trainToks = train.select(col("source"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vocab = trainToks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(200).select(col("tok"))
    val sources = train.select(col("source")).distinct()
    val counts = trainToks.join(broadcast(vocab), Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val grid = sources.crossJoin(broadcast(vocab))
      .join(counts, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"),
        coalesce(col("c"), lit(0L)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcTotals = grid.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val model = grid.select(col("source"), col("tok"),
      expr("CAST(round(ln(c + 1) * 1000000) AS BIGINT)").as("lp"))
    val classConst = train.groupBy(col("source"))
      .agg(count(lit(1)).as("nd"))
      .join(srcTotals, Seq("source"))
      .select(col("source"),
        expr("CAST(round(ln(nd) * 1000000) AS BIGINT)").as("lprior"),
        expr("CAST(round(ln(ns + 200) * 1000000) AS BIGINT)").as("ld"))
    val testToks = test.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val docSrcSums = testToks.join(broadcast(model), Seq("tok"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("lp")).as("slp"), count(lit(1)).as("m"))
    val scores = test.select(col("doc_id"), col("source").as("true_source"))
      .crossJoin(broadcast(classConst))
      .join(docSrcSums, Seq("doc_id", "source"), "left")
      .select(col("doc_id"), col("true_source"), col("source"),
        (col("lprior") + coalesce(col("slp"), lit(0L))
          - coalesce(col("m"), lit(0L)) * col("ld")).as("score"))
    scores.groupBy(col("doc_id"), col("true_source"))
      .agg(min(struct((-col("score")).as("ns"), col("source").as("s")))
        .as("best"))
      .select(col("true_source"), col("best.s").as("pred_source"))
      .groupBy(col("true_source"), col("pred_source"))
      .agg(count(lit(1)).as("n_docs"))
  }

  val textNbClassifySql: String =
    """WITH folded AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    CASE WHEN CAST(substr(source, 4) AS INT) < 10
      |         THEN text || ' nav_' || source || ' menu_' || source
      |           || ' footer_' || source || ' nav_' || source
      |           || ' menu_' || source || ' footer_' || source
      |         ELSE text END AS text,
      |    ('0x' || substr(md5('nb:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 10 AS fold
      |  FROM documents),
      |traintoks AS MATERIALIZED (
      |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+'))
      |    AS tok
      |  FROM folded WHERE fold < 8),
      |vocab AS MATERIALIZED (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS n FROM traintoks GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT 200) v),
      |grid AS MATERIALIZED (
      |  SELECT s.source, v.tok, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM folded WHERE fold < 8) s
      |  CROSS JOIN vocab v
      |  LEFT JOIN (
      |    SELECT source, tok, count(*) AS c FROM traintoks
      |    WHERE tok IN (SELECT tok FROM vocab)
      |    GROUP BY source, tok) c
      |    ON c.source = s.source AND c.tok = v.tok),
      |model AS MATERIALIZED (
      |  SELECT source, tok,
      |    CAST(round(ln(c + 1) * 1000000) AS BIGINT) AS lp
      |  FROM grid),
      |cconst AS MATERIALIZED (
      |  SELECT g.source,
      |    CAST(round(ln(d.nd) * 1000000) AS BIGINT) AS lprior,
      |    CAST(round(ln(sum(g.c) + 200) * 1000000) AS BIGINT) AS ld
      |  FROM grid g
      |  JOIN (SELECT source, count(*) AS nd FROM folded
      |        WHERE fold < 8 GROUP BY source) d ON d.source = g.source
      |  GROUP BY g.source, d.nd),
      |testtoks AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
      |    AS tok
      |  FROM folded WHERE fold >= 8),
      |sums AS MATERIALIZED (
      |  SELECT t.doc_id, m.source,
      |    CAST(sum(m.lp) AS BIGINT) AS slp, CAST(count(*) AS BIGINT) AS m
      |  FROM testtoks t JOIN model m ON m.tok = t.tok
      |  GROUP BY t.doc_id, m.source),
      |scores AS MATERIALIZED (
      |  SELECT f.doc_id, f.source AS true_source, c.source,
      |    c.lprior + COALESCE(s.slp, 0) - COALESCE(s.m, 0) * c.ld AS score
      |  FROM folded f CROSS JOIN cconst c
      |  LEFT JOIN sums s ON s.doc_id = f.doc_id AND s.source = c.source
      |  WHERE f.fold >= 8),
      |pred AS (
      |  SELECT doc_id, true_source, source AS pred_source FROM (
      |    SELECT doc_id, true_source, source,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, source) AS rn
      |    FROM scores) r WHERE rn = 1)
      |SELECT true_source, pred_source, CAST(count(*) AS BIGINT) AS n_docs
      |FROM pred GROUP BY true_source, pred_source""".stripMargin

  // ---------------------------------------------------------------- E23
  /** Scalar-quantization recall sweep — the SQ leg of the quantized-
    * search trade matrix (E6/E7 cover product quantization, E21 covers
    * dimension truncation; this covers precision truncation): top-5
    * retrieval recall vs the exact rounded-cosine reference when
    * corpus and queries are symmetrically quantized to int8 / int4 /
    * ternary (J5's per-vector L2-scaled grid, levels 127 / 7 / 1) and
    * ranked by the integer dot product — the table that justifies an
    * int8 scan (E5's coarse stage) and shows where int4 starts paying
    * recall for its 2× byte saving.
    *
    * One pass over corpus × broadcast(queries) computes the exact
    * cosine AND all three integer dots per pair; a single window per
    * (qid, variant) ranks. Integer dots are exact in both engines
    * (≤ 64·127² ≪ 2⁶³); the quantization floor(x·L/l2 + 0.5) is the
    * J5 formula verbatim, portable because l2 is rounded to 6 dp
    * first. The corpus is scanned once and never shuffles (the
    * stacked rank relation is |Q|·N·4 slim rows). */
  def annSqSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val variants = Seq("ref", "b8", "b4", "b2")
    val emb = Tables.embeddings(spark, sfDir)
      // row-parallelism for the |Q|·N·4-variant dot kernel below
      // (r20; guide §2.5, the emb_dim_ablation mechanism): one scan
      // task otherwise (measured 0.8 s 1-task job = the row's cost)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("l2", round(sqrt(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))), 6))
    def qz(levels: Int): Column = transform(col("embedding"),
      x => floor(x.cast("double") * levels / col("l2") + 0.5).cast("long"))
    val enc = emb.select(col("vec_id"), col("embedding"),
      qz(127).as("q8"), qz(7).as("q4"), qz(1).as("q2"))
    val qs = enc.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("q8").as("p8"), col("q4").as("p4"), col("q2").as("p2"))
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val stacked = enc.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), posexplode(array(
        round(gf.cosine_sim(col("qv"), col("embedding")), 6),
        idot(col("p8"), col("q8")).cast("double"),
        idot(col("p4"), col("q4")).cast("double"),
        idot(col("p2"), col("q2")).cast("double"))))
      .select(col("qid"), col("nid"),
        element_at(array(variants.map(lit): _*), col("pos") + 1)
          .as("variant"),
        col("col").as("score"))
    val w = Window.partitionBy(col("qid"), col("variant"))
      .orderBy(col("score").desc, col("nid"))
    val top = stacked.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ref = top.filter(col("variant") === "ref")
      .select(col("qid").as("rqid"), col("nid").as("ref_nid"))
    top.join(broadcast(ref),
        col("qid") === col("rqid") && col("nid") === col("ref_nid"), "left")
      .groupBy(col("variant"))
      .agg(sum(when(col("ref_nid").isNotNull, 1L).otherwise(0L)).as("hits"),
        count(lit(1)).as("n_top"))
      .withColumn("recall_ppm", expr("hits * 1000000 div n_top"))
  }

  val annSqSweepSql: String =
    """WITH nrm AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |    round(sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2
      |  FROM embeddings),
      |dims AS MATERIALIZED (
      |  SELECT vec_id, dim, embedding[dim+1]::DOUBLE AS x, l2
      |  FROM nrm, range(64) d(dim)),
      |enc AS MATERIALIZED (
      |  SELECT vec_id, dim,
      |    CAST(floor(x * 127 / l2 + 0.5) AS BIGINT) AS q8,
      |    CAST(floor(x * 7 / l2 + 0.5) AS BIGINT) AS q4,
      |    CAST(floor(x * 1 / l2 + 0.5) AS BIGINT) AS q2
      |  FROM dims),
      |qenc AS (SELECT vec_id AS qid, dim, q8, q4, q2 FROM enc
      |         WHERE vec_id < 10),
      |dots AS MATERIALIZED (
      |  SELECT q.qid, e.vec_id AS nid,
      |    CAST(sum(q.q8 * e.q8) AS BIGINT) AS d8,
      |    CAST(sum(q.q4 * e.q4) AS BIGINT) AS d4,
      |    CAST(sum(q.q2 * e.q2) AS BIGINT) AS d2
      |  FROM qenc q JOIN enc e ON e.dim = q.dim AND e.vec_id <> q.qid
      |  GROUP BY q.qid, e.vec_id),
      |cosr AS MATERIALIZED (
      |  SELECT qr.qid, n.vec_id AS nid,
      |    round(list_cosine_similarity(qr.qv, n.embedding::DOUBLE[]), 6)
      |      AS cs
      |  FROM (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM nrm
      |        WHERE vec_id < 10) qr
      |  JOIN nrm n ON n.vec_id <> qr.qid),
      |stk AS (
      |  SELECT d.qid, d.nid, v.variant,
      |    CASE v.variant WHEN 'ref' THEN c.cs
      |         WHEN 'b8' THEN d.d8::DOUBLE
      |         WHEN 'b4' THEN d.d4::DOUBLE
      |         ELSE d.d2::DOUBLE END AS score
      |  FROM dots d JOIN cosr c ON c.qid = d.qid AND c.nid = d.nid,
      |    (VALUES ('ref'), ('b8'), ('b4'), ('b2')) v(variant)),
      |top AS MATERIALIZED (
      |  SELECT qid, nid, variant FROM (
      |    SELECT qid, nid, variant,
      |      ROW_NUMBER() OVER (PARTITION BY qid, variant
      |        ORDER BY score DESC, nid) AS rnk
      |    FROM stk) r WHERE rnk <= 5),
      |ref AS (SELECT qid, nid FROM top WHERE variant = 'ref')
      |SELECT t.variant,
      |  CAST(sum(CASE WHEN r.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hits,
      |  CAST(count(*) AS BIGINT) AS n_top,
      |  CAST(sum(CASE WHEN r.nid IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000 // count(*) AS recall_ppm
      |FROM top t LEFT JOIN ref r ON r.qid = t.qid AND r.nid = t.nid
      |GROUP BY t.variant""".stripMargin

  // ---------------------------------------------------------------- D23
  /** Duplicate-cluster THRESHOLD stability — how much the clustering
    * itself moves when the near-dup cutoff moves (D12 calibrates the
    * pairwise estimate, this measures the downstream CLUSTER
    * consequence): connected components at τ = 0.5 vs τ = 0.6,
    * compared pairwise over the permissive (est ≥ 0.3) candidate set —
    * same-cluster agreement, pairs split by tightening, and the
    * Rand-style agreement share. Because the 0.6 edge set is a subset
    * of the 0.5 set, the 0.6 clustering provably REFINES the 0.5 one
    * (same cluster at 0.6 ⇒ same at 0.5) — `pairs_only_tight` must be
    * 0, and the spec pins it; what the table measures is the split
    * mass (`pairs_only_loose`).
    *
    * Both closures and all three pair relations come from the
    * run-shared store (tighter cuts are filters over the stored
    * est ≥ 0.3 relation); the comparison is joins of duplicate-sized
    * label relations — no corpus-scale work beyond the shared front
    * end. */
  def dedupClusterStability(spark: SparkSession, sfDir: String): DataFrame = {
    val l05 = DedupOps.sharedCcLabels(spark, sfDir)
    val l06 = ClusterOps.connectedComponents(
      DedupOps.sharedPairs(spark, sfDir, 0.6).select("id1", "id2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val evalPairs = DedupOps.sharedPairs(spark, sfDir, 0.3)
      .select("id1", "id2")
    def same(c1: Column, c2: Column): Column =
      c1.isNotNull && c2.isNotNull && c1 === c2
    val labeled = evalPairs
      .join(l05.toDF("id1", "c05_1"), Seq("id1"), "left")
      .join(l05.toDF("id2", "c05_2"), Seq("id2"), "left")
      .join(l06.toDF("id1", "c06_1"), Seq("id1"), "left")
      .join(l06.toDF("id2", "c06_2"), Seq("id2"), "left")
      .select(same(col("c05_1"), col("c05_2")).as("s05"),
        same(col("c06_1"), col("c06_2")).as("s06"))
    val counts = labeled.agg(count(lit(1)).as("n_pairs_eval"),
      sum(when(col("s05") && col("s06"), 1L).otherwise(0L)).as("same_both"),
      sum(when(col("s05") && !col("s06"), 1L).otherwise(0L))
        .as("pairs_only_loose"),
      sum(when(!col("s05") && col("s06"), 1L).otherwise(0L))
        .as("pairs_only_tight"))
    val k05 = l05.agg(countDistinct(col("cluster_id")).as("n_clusters_loose"))
    val k06 = l06.agg(countDistinct(col("cluster_id")).as("n_clusters_tight"))
    counts.crossJoin(broadcast(k05)).crossJoin(broadcast(k06))
      .withColumn("agreement_ppm", expr(
        """(n_pairs_eval - pairs_only_loose - pairs_only_tight) * 1000000
           div n_pairs_eval"""))
  }

  val dedupClusterStabilitySql: String =
    s"""WITH RECURSIVE ${DedupOps.minhashSqlCtes},
       |p05 AS MATERIALIZED (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.5),
       |p06 AS MATERIALIZED (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.6),
       |e05 AS (SELECT id1 AS a, id2 AS b FROM p05
       |  UNION SELECT id2, id1 FROM p05),
       |e06 AS (SELECT id1 AS a, id2 AS b FROM p06
       |  UNION SELECT id2, id1 FROM p06),
       |r05(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e05) n
       |  UNION SELECT r.a, e.b FROM r05 r JOIN e05 e ON r.b = e.a),
       |r06(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e06) n
       |  UNION SELECT r.a, e.b FROM r06 r JOIN e06 e ON r.b = e.a),
       |l05 AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id
       |  FROM r05 GROUP BY a),
       |l06 AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id
       |  FROM r06 GROUP BY a),
       |ev AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.3),
       |flags AS MATERIALIZED (
       |  SELECT
       |    (a1.cluster_id IS NOT NULL AND a2.cluster_id IS NOT NULL
       |      AND a1.cluster_id = a2.cluster_id) AS s05,
       |    (b1.cluster_id IS NOT NULL AND b2.cluster_id IS NOT NULL
       |      AND b1.cluster_id = b2.cluster_id) AS s06
       |  FROM ev
       |  LEFT JOIN l05 a1 ON a1.doc_id = ev.id1
       |  LEFT JOIN l05 a2 ON a2.doc_id = ev.id2
       |  LEFT JOIN l06 b1 ON b1.doc_id = ev.id1
       |  LEFT JOIN l06 b2 ON b2.doc_id = ev.id2),
       |c AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs_eval,
       |    CAST(sum(CASE WHEN s05 AND s06 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS same_both,
       |    CAST(sum(CASE WHEN s05 AND NOT s06 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pairs_only_loose,
       |    CAST(sum(CASE WHEN NOT s05 AND s06 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pairs_only_tight
       |  FROM flags),
       |k5 AS (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT)
       |  AS n_clusters_loose FROM l05),
       |k6 AS (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT)
       |  AS n_clusters_tight FROM l06)
       |SELECT n_pairs_eval, same_both, pairs_only_loose, pairs_only_tight,
       |  n_clusters_loose, n_clusters_tight,
       |  (n_pairs_eval - pairs_only_loose - pairs_only_tight) * 1000000
       |    // n_pairs_eval AS agreement_ppm
       |FROM c CROSS JOIN k5 CROSS JOIN k6""".stripMargin

  // ---------------------------------------------------------------- C23
  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases =
    * maximal stopword-free token runs, word score = degree/frequency
    * (degree = Σ length of phrases containing the word), phrase score
    * = Σ member word scores; corpus top-20 — the cheap unsupervised
    * keyphrase surface beside C12's per-doc TF-IDF terms (RAKE scores
    * PHRASES and rewards co-occurrence span, not just rarity).
    *
    * Determinism: per-word degree/frequency are exact integers; the
    * one division is integerized ONCE per word (round(1e6·deg/freq)),
    * so phrase scores are exact BIGINT sums and the top-20 order
    * (score desc, phrase asc) is total. Plan: tokens shuffle once
    * onto (doc, phrase-run) with n_words attached by a same-key
    * window; word stats are a vocab-sized broadcast; phrase texts
    * stay scan-side until the final phrase-key agg. */
  def textRake(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("the", "of", "and", "a", "to", "in", "is", "on",
      "for", "with")
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")))
      .toDF("doc_id", "pos", "tok")
      .withColumn("is_stop", col("tok").isin(stop: _*))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pw = toks
      .withColumn("pid",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wd))
      .filter(!col("is_stop"))
      .withColumn("n_words", count(lit(1)).over(
        Window.partitionBy(col("doc_id"), col("pid"))))
      // standard RAKE practice caps candidate phrases (uncapped, a
      // stopword-poor document becomes one giant run that dominates
      // every score by length alone)
      .filter(col("n_words") <= 4)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wordScores = pw.groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
      .select(col("tok"),
        expr("CAST(round(1000000.0 * deg / freq) AS BIGINT)").as("score_w"))
    val phrases = pw.groupBy(col("doc_id"), col("pid"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("phrase"),
        max(col("n_words")).as("n_words"))
    val scored = pw.join(broadcast(wordScores), Seq("tok"))
      .groupBy(col("doc_id"), col("pid"))
      .agg(sum(col("score_w")).as("score_micro"))
    phrases.join(scored, Seq("doc_id", "pid"))
      .groupBy(col("phrase"), col("n_words"), col("score_micro"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("score_micro").desc, col("phrase")).limit(20)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        col("score_micro"))
  }

  val textRakeSql: String =
    """WITH tok0 AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, g AS pos, l[g+1] AS tok
      |  FROM tok0, unnest(range(0, len(l))) u(g)),
      |st AS (
      |  SELECT doc_id, pos, tok,
      |    tok IN ('the','of','and','a','to','in','is','on','for','with')
      |      AS is_stop
      |  FROM toks),
      |ph AS (
      |  SELECT doc_id, pos, tok, is_stop,
      |    CAST(sum(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS pid
      |  FROM st),
      |pw AS MATERIALIZED (
      |  SELECT * FROM (
      |    SELECT doc_id, pid, pos, tok,
      |      CAST(count(*) OVER (PARTITION BY doc_id, pid) AS BIGINT)
      |        AS n_words
      |    FROM ph WHERE NOT is_stop) c
      |  WHERE n_words <= 4),
      |wsc AS (
      |  SELECT tok,
      |    CAST(round(1000000.0 * sum(n_words) / count(*)) AS BIGINT)
      |      AS score_w
      |  FROM pw GROUP BY tok),
      |phrases AS (
      |  SELECT doc_id, pid, string_agg(tok, ' ' ORDER BY pos) AS phrase,
      |    max(n_words) AS n_words
      |  FROM pw GROUP BY 1, 2),
      |sc AS (
      |  SELECT p.doc_id, p.pid, CAST(sum(w.score_w) AS BIGINT)
      |    AS score_micro
      |  FROM pw p JOIN wsc w ON w.tok = p.tok GROUP BY 1, 2)
      |SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occurrences,
      |  score_micro
      |FROM phrases JOIN sc USING (doc_id, pid)
      |GROUP BY phrase, n_words, score_micro
      |ORDER BY score_micro DESC, phrase LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- B74
  /** Kaplan-Meier survival curve of the first→second purchase gap
    * with right-censoring — the time-to-event axis no other operator
    * covers (B27/B64 measure WHETHER users return per period; this
    * estimates WHEN, handling the users who haven't yet): users with
    * ≥2 purchases contribute an event at gap = days(first→second),
    * single-purchase users are CENSORED at days(first→corpus-end) —
    * dropping them (the naive mistake) biases survival low.
    *
    * Per observed day t: risk set n_t = N − Σ_{s<t}(d_s + c_s),
    * events d_t, censored c_t, and Ŝ(t) = Π_{s≤t, d_s>0}(1 − d_s/n_s).
    * The product is evaluated as the ordered cumulative sum of
    * per-day ln terms each integerized ONCE to micro-nats — a
    * deterministic fold in both engines (a float running product
    * would drift under reordering); the one exp+round is mirrored.
    * The day relation is calendar-bounded (≤ corpus span), so its
    * cumulative windows are k-bounded regardless of corpus size;
    * the only corpus-scale work is one (user) shuffle. */
  def qSurvivalKm(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val perUser = p
      .select(col("user_id"), col("ts"),
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))).as("rn"))
      .groupBy(col("user_id"))
      .agg(min(when(col("rn") === 1, col("ts"))).as("t1"),
        min(when(col("rn") === 2, col("ts"))).as("t2"))
    val maxTs = p.agg(max(col("ts")).as("tmax"))
    val obs = perUser.crossJoin(broadcast(maxTs))
      .select(col("user_id"),
        when(col("t2").isNotNull, datediff(col("t2"), col("t1")))
          .otherwise(datediff(col("tmax"), col("t1"))).cast("long").as("t"),
        col("t2").isNotNull.as("is_event"))
    val byDay = obs.groupBy(col("t"))
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("is_event"), 0L).otherwise(1L)).as("c"))
    val nTotal = obs.agg(count(lit(1)).as("n_users"))
    val wd = Window.partitionBy(lit(1)).orderBy(col("t"))
    val risk = byDay.crossJoin(broadcast(nTotal))
      .withColumn("n_risk", col("n_users") - coalesce(
        sum(col("d") + col("c")).over(
          wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("lterm", expr(
        """CASE WHEN d = 0 THEN 0
           WHEN d >= n_risk THEN CAST(-13815511 AS BIGINT)
           ELSE CAST(round(1000000.0 * ln(1.0 - CAST(d AS DOUBLE) / n_risk))
             AS BIGINT) END"""))
      .withColumn("lsum", sum(col("lterm")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    risk.select(col("t").as("gap_days"), col("n_risk"), col("d"), col("c"),
      round(exp(col("lsum") / lit(1000000.0)), 6).as("survival"))
  }

  val qSurvivalKmSql: String =
    """WITH p AS (
      |  SELECT user_id, ts, event_id FROM events
      |  WHERE event_type = 'purchase'),
      |ranked AS (
      |  SELECT user_id, ts,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rn
      |  FROM p),
      |peruser AS (
      |  SELECT user_id,
      |    min(CASE WHEN rn = 1 THEN ts END) AS t1,
      |    min(CASE WHEN rn = 2 THEN ts END) AS t2
      |  FROM ranked GROUP BY user_id),
      |mx AS (SELECT max(ts) AS tmax FROM p),
      |obs AS (
      |  SELECT user_id,
      |    CAST(CASE WHEN t2 IS NOT NULL THEN date_diff('day', t1, t2)
      |         ELSE date_diff('day', t1, tmax) END AS BIGINT) AS t,
      |    t2 IS NOT NULL AS is_event
      |  FROM peruser CROSS JOIN mx),
      |byday AS (
      |  SELECT t,
      |    CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM obs GROUP BY t),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM obs),
      |risk AS (
      |  SELECT t, d, c,
      |    n_users - COALESCE(CAST(sum(d + c) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |      AS n_risk
      |  FROM byday CROSS JOIN nt),
      |lt AS (
      |  SELECT t, d, c, n_risk,
      |    CASE WHEN d = 0 THEN 0
      |         WHEN d >= n_risk THEN CAST(-13815511 AS BIGINT)
      |         ELSE CAST(round(1000000.0
      |           * ln(1.0 - CAST(d AS DOUBLE) / n_risk)) AS BIGINT)
      |    END AS lterm
      |  FROM risk),
      |ls AS (
      |  SELECT t, d, c, n_risk,
      |    CAST(sum(lterm) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS lsum
      |  FROM lt)
      |SELECT t AS gap_days, n_risk, d, c,
      |  round(exp(lsum / 1000000.0), 6) AS survival
      |FROM ls""".stripMargin

  // ---------------------------------------------------------------- D22
  /** LSH band-count design sweep — the (b, r) DESIGN table beside
    * D12's threshold calibration: the same 128-value signatures banded
    * three ways (32×4, 16×8, 8×16), with candidate volume, verified
    * (est ≥ 0.5) pair count, precision, and recall relative to the
    * most permissive config — the measured S-curve trade (more bands =
    * higher recall + more candidate work) read before fixing a
    * production banding.
    *
    * The three candidate sets are NESTED (a matching length-16 band
    * implies its length-8 halves match, which imply their length-4
    * halves match), so the exact-estimate join runs ONCE on the r=4
    * superset and every config's verified count is a filter over it —
    * one signature scan, one est join, three band self-joins, never
    * all-pairs. */
  def dedupBandSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = DedupOps.minhashSigs(
      DedupOps.corpus(Tables.documents(spark, sfDir)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def candOf(r: Int): DataFrame = {
      val bs = sigs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(128 / r - 1)),
          b => slice(col("sig"), b * r + 1, lit(r)))))
        .toDF("doc_id", "band_id", "band_key")
      bs.toDF("id1", "band_id", "band_key")
        .join(bs.toDF("id2", "band_id", "band_key"),
          Seq("band_id", "band_key"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct()
    }
    val cand4 = candOf(4).persist(StorageLevel.MEMORY_AND_DISK)
    val est4 = cand4
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("est", size(filter(
        zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
        b => b)) / lit(128.0))
      .select(col("id1"), col("id2"), col("est"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val v4 = est4.agg(
      sum(when(col("est") >= 0.5, 1L).otherwise(0L)).as("v4"))
    Seq(4, 8, 16).map { r =>
      val c = if (r == 4) cand4 else candOf(r)
      c.join(est4, Seq("id1", "id2"))
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("est") >= 0.5, 1L).otherwise(0L)).as("n_verified"))
        .select(lit(128 / r).cast("long").as("n_bands"),
          lit(r).cast("long").as("rows_per_band"),
          col("n_cand"), col("n_verified"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(v4))
      .select(col("n_bands"), col("rows_per_band"), col("n_cand"),
        col("n_verified"),
        expr("n_verified * 1000000 div greatest(n_cand, 1)")
          .as("precision_ppm"),
        expr("n_verified * 1000000 div greatest(v4, 1)").as("recall_ppm"))
  }

  val dedupBandSweepSql: String = {
    def bandCte(r: Int): String =
      s"""b$r AS MATERIALIZED (
         |  SELECT doc_id, j // $r AS band_id, list(m ORDER BY j) AS key
         |  FROM mh GROUP BY doc_id, j // $r),
         |c$r AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
         |  FROM b$r x JOIN b$r y
         |    ON x.band_id = y.band_id AND x.key = y.key
         |   AND x.doc_id < y.doc_id)""".stripMargin
    s"""WITH ${DedupOps.minhashSigSqlCtes},
       |${bandCte(4)},
       |${bandCte(8)},
       |${bandCte(16)},
       |e4 AS MATERIALIZED (
       |  SELECT c.id1, c.id2,
       |    CAST(sum(CASE WHEN m1.m = m2.m THEN 1 ELSE 0 END) AS DOUBLE)
       |      / 128 AS est
       |  FROM c4 c
       |  JOIN mh m1 ON m1.doc_id = c.id1
       |  JOIN mh m2 ON m2.doc_id = c.id2 AND m2.j = m1.j
       |  GROUP BY c.id1, c.id2),
       |v4 AS (SELECT CAST(sum(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END)
       |  AS BIGINT) AS v4 FROM e4),
       |per AS (
       |  SELECT 32 AS n_bands, 4 AS rows_per_band,
       |    CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(sum(CASE WHEN e.est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_verified
       |  FROM c4 c JOIN e4 e ON e.id1 = c.id1 AND e.id2 = c.id2
       |  UNION ALL
       |  SELECT 16, 8, CAST(count(*) AS BIGINT),
       |    CAST(sum(CASE WHEN e.est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM c8 c JOIN e4 e ON e.id1 = c.id1 AND e.id2 = c.id2
       |  UNION ALL
       |  SELECT 8, 16, CAST(count(*) AS BIGINT),
       |    CAST(sum(CASE WHEN e.est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM c16 c JOIN e4 e ON e.id1 = c.id1 AND e.id2 = c.id2)
       |SELECT CAST(n_bands AS BIGINT) AS n_bands,
       |  CAST(rows_per_band AS BIGINT) AS rows_per_band, n_cand, n_verified,
       |  n_verified * 1000000 // greatest(n_cand, 1) AS precision_ppm,
       |  n_verified * 1000000 // greatest(v4, 1) AS recall_ppm
       |FROM per CROSS JOIN v4""".stripMargin
  }

  // ---------------------------------------------------------------- B73
  /** Mann-Whitney U rank-sum test between two event cohorts
    * (purchase vs click `value` distributions) — the NONPARAMETRIC
    * complement to B65's two-proportion z-test: does one cohort
    * stochastically dominate the other, with no normality assumption.
    *
    * The global average-rank assignment is the scale problem: ranks
    * need a TOTAL order over N values. Solved without any
    * unpartitioned window via the distributedRank discipline applied
    * to the cumulative count: distinct values range-repartition, each
    * partition computes a LOCAL cumulative count, and |partitions|-row
    * broadcast offsets globalize it. Tie handling is exact: every row
    * of a tied value gets the average rank, carried as the INTEGER
    * 2·rank (= 2·cum − cnt + 1), so rank sums and both U statistics
    * are exact BIGINTs; the tie-corrected normal approximation z is
    * the one float expression, mirrored verbatim. */
  def qMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val ab = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), col("value"))
    val dv = ab.groupBy(col("value")).agg(count(lit(1)).as("cnt"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("na_v"))
    // distributed global cumulative count (no unpartitioned window)
    val part = dv.repartitionByRange(32, col("value"))
      .withColumn("__pid", spark_partition_id())
    val local = part.withColumn("__lcum", sum(col("cnt")).over(
      Window.partitionBy(col("__pid")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val offs = local.groupBy(col("__pid")).agg(sum(col("cnt")).as("__pc"))
      .withColumn("__off", coalesce(sum(col("__pc")).over(
        Window.partitionBy(lit(1)).orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    val ranked = local.join(broadcast(offs), "__pid")
      .withColumn("cum", col("__off") + col("__lcum"))
    ranked.agg(
        sum(expr("na_v * (2 * cum - cnt + 1)")).as("r2a"),
        sum(col("na_v")).as("n_a"),
        sum(col("cnt") - col("na_v")).as("n_b"),
        sum(expr("cnt * cnt * cnt - cnt")).as("tie_mass"))
      .select(col("n_a"), col("n_b"),
        expr("r2a - n_a * (n_a + 1)").as("u2_a"),
        expr("2 * n_a * n_b - (r2a - n_a * (n_a + 1))").as("u2_b"),
        col("tie_mass"),
        expr("""round(((r2a - n_a * (n_a + 1)) - CAST(n_a * n_b AS DOUBLE))
          / (2 * sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1)
          - CAST(tie_mass AS DOUBLE)
            / ((n_a + n_b) * (n_a + n_b - 1))))), 6)""").as("z"))
  }

  val qMannWhitneySql: String =
    """WITH ab AS (
      |  SELECT event_type, value FROM events
      |  WHERE event_type IN ('purchase', 'click')),
      |dv AS (
      |  SELECT value, CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS na_v
      |  FROM ab GROUP BY value),
      |r AS (
      |  SELECT value, cnt, na_v,
      |    CAST(sum(cnt) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM dv),
      |s AS (
      |  SELECT CAST(sum(na_v * (2 * cum - cnt + 1)) AS BIGINT) AS r2a,
      |    CAST(sum(na_v) AS BIGINT) AS n_a,
      |    CAST(sum(cnt - na_v) AS BIGINT) AS n_b,
      |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_mass
      |  FROM r)
      |SELECT n_a, n_b,
      |  r2a - n_a * (n_a + 1) AS u2_a,
      |  2 * n_a * n_b - (r2a - n_a * (n_a + 1)) AS u2_b,
      |  tie_mass,
      |  round(((r2a - n_a * (n_a + 1)) - CAST(n_a * n_b AS DOUBLE))
      |    / (2 * sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1)
      |    - CAST(tie_mass AS DOUBLE)
      |      / ((n_a + n_b) * (n_a + n_b - 1))))), 6) AS z
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- B72
  /** CUSUM changepoint scan (Page 1954) over the per-type daily event
    * series — the "WHEN did this feed change" locator beside the
    * drift detectors that say THAT it changed (B59 PSI between fixed
    * halves, A26 schema drift, B70 chi-square): per event type, the
    * day maximizing |S_k| where S_k = Σ_{d≤k}(n_d − mean), plus the
    * deviation mass normalized to ppm — the standard first tool for
    * locating a level shift in a count series.
    *
    * Integerized exactly: S_k is computed as D·cum_k − k·N (scaled by
    * the day count D so the mean never becomes a float), so the
    * argmax compares identical BIGINTs in both engines, ties broken
    * by earliest day via the min-struct idiom. One shuffle onto
    * (type, day) for the daily rollup; the CUSUM windows run over the
    * |types|×|days| relation, never the raw events. */
  def qCusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val tot = Window.partitionBy(col("event_type"))
    val s = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("d_cnt", count(lit(1)).over(tot))
      .withColumn("total", sum(col("n")).over(tot))
      .withColumn("s", col("d_cnt") * col("cum") - col("k") * col("total"))
    s.groupBy(col("event_type"))
      .agg(max(col("d_cnt")).as("n_days"), max(col("total")).as("total"),
        min(struct((-abs(col("s"))).as("negabs"), col("day").as("d")))
          .as("best"),
        max(abs(col("s"))).as("cusum_max"))
      .select(col("event_type"), col("n_days"), col("total"),
        col("best.d").as("cp_day"), col("cusum_max"),
        expr("cusum_max * 1000000 div (n_days * total)").as("mag_ppm"))
  }

  val qCusumChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, day, n,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS k,
      |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS d_cnt,
      |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM daily),
      |s AS (
      |  SELECT event_type, day, d_cnt, total,
      |    d_cnt * cum - k * total AS s
      |  FROM c),
      |best AS (
      |  SELECT event_type, day AS cp_day FROM (
      |    SELECT event_type, day,
      |      row_number() OVER (PARTITION BY event_type
      |        ORDER BY abs(s) DESC, day) AS rn
      |    FROM s) r WHERE rn = 1),
      |agg AS (
      |  SELECT event_type, max(d_cnt) AS n_days, max(total) AS total,
      |    CAST(max(abs(s)) AS BIGINT) AS cusum_max
      |  FROM s GROUP BY event_type)
      |SELECT a.event_type, a.n_days, a.total, b.cp_day, a.cusum_max,
      |  a.cusum_max * 1000000 // (a.n_days * a.total) AS mag_ppm
      |FROM agg a JOIN best b ON b.event_type = a.event_type""".stripMargin

  // ---------------------------------------------------------------- I13
  /** Mergeable uniform sample sketch — the ROW-sampling axis of the
    * sketch family (I4 = frequencies, I5/I11 = quantiles, I6 = F₀,
    * I9 = F₂; this = "show me 16 uniform example rows per group"):
    * bottom-k by a portable per-row hash IS a uniform sample without
    * replacement, and it is MERGEABLE — union two samples, keep the k
    * smallest hashes, and the result is exactly the sample of the
    * union (the property a distributed reservoir needs; a classic
    * random-tape reservoir is NOT merge-order-independent).
    *
    * Runs as the bounded `TopKAgg` aggregate on the NEGATED hash
    * (top-k of −h ≡ bottom-k of h): map-side partial combine ships ≤
    * k rows per (partition, group) — at 100 TB the shuffle carries
    * 16·|groups| rows, not the stream. The oracle is the equivalent
    * rank window; merge-order independence is pinned by TopKAgg's own
    * B42 spec. */
  def sketchReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        gf.h32(concat(lit("res:"), col("event_id").cast("string"))).as("h"))
    ev.groupBy(col("event_type"))
      .agg(graft.functions.TopKAgg.top_k(
        -col("h").cast("double"), col("event_id"), 16).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"),
        (col("pos") + 1).cast("long").as("sample_rank"),
        col("col.id").as("event_id"),
        (-col("col.v")).cast("long").as("h"))
  }

  val sketchReservoirSql: String =
    """WITH h AS (
      |  SELECT event_type, event_id,
      |    ('0x' || substr(md5('res:' || CAST(event_id AS VARCHAR)), 1, 8))
      |      ::BIGINT AS h
      |  FROM events),
      |r AS (
      |  SELECT event_type, event_id, h,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY h, event_id) AS sample_rank
      |  FROM h)
      |SELECT event_type, CAST(sample_rank AS BIGINT) AS sample_rank,
      |  event_id, h
      |FROM r WHERE sample_rank <= 16""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_cusum_changepoint", qCusumChangepoint, qCusumChangepointSql),
    QueryDef("dedup_band_sweep", dedupBandSweep, dedupBandSweepSql),
    QueryDef("q_mann_whitney", qMannWhitney, qMannWhitneySql),
    QueryDef("q_survival_km", qSurvivalKm, qSurvivalKmSql),
    QueryDef("text_rake", textRake, textRakeSql),
    QueryDef("dedup_cluster_stability", dedupClusterStability,
      dedupClusterStabilitySql),
    QueryDef("sketch_reservoir", sketchReservoir, sketchReservoirSql),
    QueryDef("etl_cdc_diff", etlCdcDiff, etlCdcDiffSql),
    QueryDef("dedup_kcore", dedupKcore, dedupKcoreSql),
    QueryDef("sketch_bloom_calibration", sketchBloomCalibration,
      sketchBloomCalibrationSql),
    QueryDef("sample_dsir", sampleDsir, sampleDsirSql),
    QueryDef("text_nb_classify", textNbClassify, textNbClassifySql),
    QueryDef("ann_sq_sweep", annSqSweep, annSqSweepSql))
}
