package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables

/** Round-13 surface (SURVEY.md §2 rows B93, B94): the EVALUATION leg
  * of the tree-family story — round 12 trained models (B89/B90/B91)
  * and B88 computes exact AUC from a score column, but nothing scored
  * the trained models. These queries close train → score → evaluate:
  * apply the trained model to every corpus row as a broadcast-join /
  * broadcast-projection (the model is a handful of rows — it never
  * shuffles), then feed the integer scores through B88's exact
  * trapezoid ROC/AUC. Every score is exact ×10⁶ fixed point, so the
  * DuckDB oracle — which re-derives the SAME model from the shared
  * training CTEs and unrolls the SAME application arithmetic —
  * hash-matches the full ROC table.
  *
  * Scale (100 TB): scoring is one linear pass with the model
  * broadcast (GBT: a 1-row pivoted stump table; forest: ≤12
  * threshold rows + ≤16 leaf-score rows); the ROC input collapses to
  * |distinct scores| rows (≤8 for the 3-stump GBT, ≤~256 for the
  * 4-tree forest) before any window — the B84/B88 collapse-first
  * discipline, so the unpartitioned cumulative window orders a
  * domain-bounded relation regardless of corpus size.
  */
object Round13Ops {

  /** The shared evaluation-corpus relation (q, dd, y) — every
    * tree-family trainer and scorer reads exactly these columns, so
    * one definition keeps the stored models (ModelStore) and the
    * in-plan spec hooks bit-identical. */
  private[graft] def evalRows(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).select(
      col("l_quantity").cast("long").as("q"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
      (col("l_returnflag") === "R").cast("long").as("y"))

  /** evalRows + the deterministic row id the bagging/fold hashes key
    * on ((orderkey, linenumber) — NOT unique in this corpus, which is
    * fine for hashing: duplicate rows co-travel between folds). */
  private[graft] def ridRows(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).select(
      col("l_quantity").cast("long").as("q"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
      (col("l_returnflag") === "R").cast("long").as("y"),
      concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")).as("rid"))
  // NOT repartitioned (r20 measurement on record): hash-partitioning
  // these rows to defaultParallelism before the fold/bag md5 kernels
  // looked like the r19 dedup_edit_verify win, but the interleaved
  // PropAB A/B read floors on/off 6.17/5.75 (gbt_model_build),
  // 7.22/7.01 (forest_cv_build), 1.87/2.20 (q_oob_eval) — the one
  // md5-per-row kernels here are cheaper than the exchange they'd
  // ride, unlike the O(len²) DP that justified the pattern.

  /** ridRows + J18's deterministic 80/20 split column (fold 0 of the
    * shared content hash = test). */
  private[graft] def holdoutRows(spark: SparkSession,
      sfDir: String): DataFrame = {
    import graft.functions.gf
    ridRows(spark, sfDir).withColumn("split",
      when(gf.h32(concat(lit("hold:"), col("rid"))) % cvFolds === 0,
        lit("test")).otherwise(lit("train")))
  }

  /** ridRows collapsed to (fold, q, dd, y) under the shared J18/B100
    * content-hash fold assignment. */
  private[graft] def foldRows(spark: SparkSession,
      sfDir: String): DataFrame =
    foldRidRows(spark, sfDir)
      .select(col("fold"), col("q"), col("dd"), col("y"))

  /** ridRows + the shared fold column, KEEPING rid — the base the
    * forest protocols need (bagging hashes rid; fold gates the
    * training set). One staged copy serves both forest-CV and the
    * forest curve (round 15). */
  private[graft] def foldRidRows(spark: SparkSession,
      sfDir: String): DataFrame = {
    import graft.functions.gf
    ridRows(spark, sfDir).withColumn("fold",
      gf.h32(concat(lit("hold:"), col("rid"))) % cvFolds)
  }

  // ---------------------------------------------------------------- B93
  /** Score the B91 gradient-boosted stumps over the full corpus and
    * evaluate with B88's exact ROC/AUC — boosting's additive model
    * applied per row: s = F₀ + Σ_t leaf_t(x), every term the exact
    * ×10⁶ integer the training trajectory produced, so the oracle
    * (which replays the identical trajectory from the shared gbtCtes)
    * reproduces every score bit-for-bit. The 3-round model pivots to
    * ONE broadcast row; scoring is a fused projection — no join, no
    * shuffle. The ROC input has ≤8 distinct scores (2³ threshold
    * outcomes), so the evaluation windows are constant-size. */
  def qGbtEval(spark: SparkSession, sfDir: String): DataFrame =
    Round10bOps.rocAucPipeline(
      gbtScore(evalRows(spark, sfDir), ModelStore.gbtFull(spark, sfDir))
        .select(col("s"), col("y")))

  /** Train + score + evaluate over arbitrary (q, dd, y∈{0,1}) rows —
    * the spec hook (`Round13Spec` pins AUC = 10⁶ on a separable
    * plant and re-derives the corpus AUC from the emitted curve). */
  private[graft] def gbtEvalPipeline(rows: DataFrame): DataFrame = {
    val data = rows.persist()
    Round10bOps.rocAucPipeline(
      gbtScore(data, gbtModelRow(data)).select(col("s"), col("y")))
  }

  /** The trained B91 model as ONE broadcastable row: F₀ plus each
    * round's (threshold, leaf_left, leaf_right) — the deployable
    * artifact every scorer (B93, B96, J18's holdout fit, G25's
    * stream) broadcasts. Trains on exactly the rows given. */
  private[graft] def gbtModelRow(trainRows: DataFrame): DataFrame =
    gbtModelRowFrom(
      Round12Ops.gbtPipeline(trainRows, Round12Ops.gbtRounds), trainRows)

  /** The pivot half of [[gbtModelRow]] over an ALREADY-TRAINED stump
    * table — lets ModelStore derive the scoring row and persist the
    * trajectory from one training pass. */
  private[graft] def gbtModelRowFrom(stumps: DataFrame,
      trainRows: DataFrame): DataFrame = {
    val pivotCols = (1 to Round12Ops.gbtRounds).flatMap { t =>
      Seq(max(when(col("round") === t, col("threshold"))).as(s"thr$t"),
        max(when(col("round") === t, col("leaf_left"))).as(s"ll$t"),
        max(when(col("round") === t, col("leaf_right"))).as(s"lr$t"))
    }
    val pivot = stumps.agg(pivotCols.head, pivotCols.tail: _*)
    val f0 = trainRows.agg((lit(1000000L) * sum(col("y"))).as("s0"),
        count(lit(1)).as("n0"))
      .select(expr("s0 div n0").as("f0"))
    pivot.crossJoin(f0).localCheckpoint(true)
  }

  /** The additive-application expression over a model row in scope
    * (f0 plus thr$t/ll$t/lr$t per round) — built by folding over
    * `Round12Ops.gbtRounds` with the training feature schedule (odd
    * rounds split q, even rounds dd), so scoring can never desync
    * from the trajectory length the trainers and SQL oracles
    * generate. Shared by batch scoring, the joint CV/curve scorers,
    * and the G25/G26 streaming scorers. */
  private[graft] def gbtScoreColumn: org.apache.spark.sql.Column =
    (1 to Round12Ops.gbtRounds).foldLeft(col("f0")) { (acc, t) =>
      val feat = if (t % 2 == 1) col("q") else col("dd")
      acc + when(feat <= col(s"thr$t"), col(s"ll$t"))
        .otherwise(col(s"lr$t"))
    }

  /** Additive application of the broadcast model row — features
    * alternate q/dd/q as in training; appends integer column `s`. */
  private[graft] def gbtScore(rows: DataFrame, model: DataFrame): DataFrame =
    rows.crossJoin(broadcast(model))
      .withColumn("s", gbtScoreColumn)
      .drop(model.columns: _*)

  /** The oracle-side additive-application terms — the SQL twin of
    * [[gbtScoreColumn]], generated from the SAME round count and
    * feature schedule so no SQL copy can desync from the trajectory.
    * `pfx` is the per-model CTE prefix ("g" for the full-corpus
    * model, "x$f"/"L$g" for the joint CV/curve models); `qual`
    * prefixes the feature columns (e.g. "e."). */
  private[graft] def gbtTermsSql(pfx: String = "g",
      qual: String = ""): String =
    (1 to Round12Ops.gbtRounds).map { t =>
      val f = if (t % 2 == 1) "q" else "dd"
      s"""    + CASE WHEN $qual$f <= (SELECT threshold FROM ${pfx}s$t)
         |      THEN (SELECT leaf_left FROM ${pfx}s$t)
         |      ELSE (SELECT leaf_right FROM ${pfx}s$t) END""".stripMargin
    }.mkString("\n")

  /** B88's exact-ROC SQL tail over a CTE named `scored(s, y)`. */
  private def rocSqlOver(scoredCte: String): String =
    s"""rcv AS (
       |  SELECT s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS tot
       |  FROM $scoredCte GROUP BY 1),
       |rcc AS (
       |  SELECT s,
       |    CAST(sum(pos) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
       |    CAST(sum(tot - pos) OVER (ORDER BY s DESC) AS BIGINT) AS fp,
       |    CAST(sum(pos) OVER () AS BIGINT) AS pp,
       |    CAST(sum(tot - pos) OVER () AS BIGINT) AS nn
       |  FROM rcv),
       |rcl AS (
       |  SELECT s, tp, fp, pp, nn,
       |    coalesce(lag(tp, 1) OVER (ORDER BY s DESC), 0) AS tp0,
       |    coalesce(lag(fp, 1) OVER (ORDER BY s DESC), 0) AS fp0
       |  FROM rcc)
       |SELECT s AS threshold, tp, fp,
       |  tp * 1000000 // greatest(pp, 1) AS tpr_ppm,
       |  fp * 1000000 // greatest(nn, 1) AS fpr_ppm,
       |  CAST(sum((tp + tp0) * (fp - fp0)) OVER () AS BIGINT)
       |    * 1000000 // greatest(2 * pp * nn, 1) AS auc_ppm
       |FROM rcl""".stripMargin

  val qGbtEvalSql: String = {
    val terms = gbtTermsSql()
    s"""WITH ${Round12Ops.gbtCtes},
       |scored AS (
       |  SELECT (SELECT f0 FROM gf0)
       |$terms AS s, y
       |  FROM g0),
       |${rocSqlOver("scored")}""".stripMargin
  }

  // ---------------------------------------------------------------- B94
  /** Score the B90 random forest over the full corpus and evaluate
    * with B88's exact ROC/AUC — the bagged-ensemble application: every
    * row routes through each tree's trained thresholds to its leaf
    * STRING as a pure column expression (the ≤12-row model pivots to
    * ONE broadcast row of per-tree thresholds; an unsplit node keeps
    * its rows — the early-leaf case), each leaf's value is the exact
    * ×10⁶ positive-rate of the TREE'S OWN BAG at that leaf
    * (truncating div, Spark `div` ≡ DuckDB `//`), and the forest
    * score is the truncated mean of the 4 per-tree leaf values. The
    * oracle re-derives the same model from the shared forestCtes and
    * unrolls the same routing CASEs, so every score — and the whole
    * ROC table — hash-matches.
    *
    * Scale: scoring is ONE linear pass with zero corpus-scale
    * exchange — the pivoted threshold row and the ≤ trees·2^depth
    * leaf-score rows are all broadcast, per-tree leaves are computed
    * columns, and the first shuffle anywhere is the ROC's
    * map-side-combined collapse to |distinct scores| (domain-bounded)
    * rows. (An explode-and-regroup formulation would shuffle the
    * corpus by row id — and this table's natural (orderkey,
    * linenumber) id isn't even unique — so the column formulation is
    * both the faster and the only correct one.) */
  def qForestEval(spark: SparkSession, sfDir: String): DataFrame = {
    val trees = Round12Ops.forestTrees
    val (model, leafScores) = ModelStore.forestModel(spark, sfDir)
    val scored = forestScoreWith(ridRows(spark, sfDir), model, leafScores)
      .select(
        expr((0 until trees).map(t => s"ls_$t")
          .mkString("(", " + ", s") div $trees")).as("s"),
        col("y"))
    Round10bOps.rocAucPipeline(scored)
  }

  /** Train + score + evaluate over arbitrary (q, dd, y, rid) rows —
    * the spec hook (`rid` feeds only the deterministic bagging hash;
    * scoring never groups by it). */
  private[graft] def forestEvalPipeline(spark: SparkSession,
      rows: DataFrame): DataFrame = {
    val trees = Round12Ops.forestTrees
    val scored = forestRowScores(rows.persist()).select(
      expr((0 until trees).map(t => s"ls_$t")
        .mkString("(", " + ", s") div $trees")).as("s"),
      col("y"))
    Round10bOps.rocAucPipeline(scored)
  }

  /** The forest's scoring ARTIFACTS trained on `data` — the split
    * table (level, node, threshold) and each tree's own-bag leaf
    * scores (node, ls) — the two relations a production scorer loads
    * (ModelStore persists exactly these). */
  private[graft] def forestArtifactsOf(
      data: DataFrame): (DataFrame, DataFrame) = {
    val trees = Round12Ops.forestTrees
    // ONE corpus pass to the bag-flagged sufficient-statistic cells;
    // training and the own-bag leaf-score routing (LEFT join: an
    // unsplit node is a leaf) both run cells-sized off it (round 15)
    val cells = Round12Ops.bagCells(data, trees).localCheckpoint(true)
    val model = Round12Ops.levelLoop(
        Round12Ops.bagAssign(cells, trees), Round12Ops.forestDepth)
      .select(col("level"), col("node"), col("threshold"))
      .localCheckpoint(true)
    val leafScores = routeForest(
        Round12Ops.bagAssign(cells, trees), model)
      .groupBy(col("node"))
      .agg(expr("1000000 * sum(w * y) div sum(w)").as("ls"))
      .localCheckpoint(true)
    (model, leafScores)
  }

  /** The shared forest-scoring substrate (B94/B98): train the B90
    * model on `data`'s bags, derive per-tree leaf scores from each
    * tree's OWN bag, and append per-tree score columns `ls_0..ls_3`
    * (0 when a leaf has no bag rows) to every input row — ONE linear
    * pass, the model pivoted to one broadcast row, leaf routing as
    * pure column expressions, leaf-score lookups as equi broadcast
    * joins. */
  private[graft] def forestRowScores(data: DataFrame): DataFrame = {
    val (model, leafScores) = forestArtifactsOf(data)
    forestScoreWith(data, model, leafScores)
  }

  /** Scoring-only half of the substrate: route every `data` row
    * through an ALREADY-TRAINED (level, node, threshold) split table
    * and (node, ls) leaf-score relation — what the stored-model
    * scorers (B94/B98 off ModelStore) time. */
  private[graft] def forestScoreWith(data: DataFrame, model: DataFrame,
      leafScores: DataFrame): DataFrame = {
    val trees = Round12Ops.forestTrees
    // pivot the model into ONE broadcast row: per tree, the root
    // threshold and both child thresholds (null = unsplit)
    val pivotCols = (0 until trees).flatMap { t =>
      Seq(
        max(when(col("node") === s"t${t}r", col("threshold")))
          .as(s"thr_$t"),
        max(when(col("node") === s"t${t}rL", col("threshold")))
          .as(s"thrL_$t"),
        max(when(col("node") === s"t${t}rR", col("threshold")))
          .as(s"thrR_$t"))
    }
    val pivot = model.agg(pivotCols.head, pivotCols.tail: _*)
      .localCheckpoint(true)
    // per-row leaf string per tree — a pure column expression, so
    // scoring is one pass with everything broadcast
    def leaf(t: Int) = {
      def kid(side: String, thr: String) =
        when(col(thr).isNull, lit(s"t${t}r$side"))
          .otherwise(concat(lit(s"t${t}r$side"),
            when(col("dd") <= col(thr), lit("L")).otherwise(lit("R"))))
      when(col(s"thr_$t").isNull, lit(s"t${t}r"))
        .otherwise(when(col("q") <= col(s"thr_$t"), kid("L", s"thrL_$t"))
          .otherwise(kid("R", s"thrR_$t")))
        .as(s"leaf_$t")
    }
    val withLeaves = data.crossJoin(broadcast(pivot))
      .select(data.columns.map(col) ++ (0 until trees).map(leaf): _*)
    // per-tree leaf-score lookups — 4 broadcast joins, still no shuffle
    val joined = (0 until trees).foldLeft(withLeaves) { (df, t) =>
      df.join(broadcast(leafScores
          .select(col("node").as(s"leaf_$t"), col("ls").as(s"ls_$t"))),
        Seq(s"leaf_$t"), "left")
    }
    joined.select(data.columns.map(col)
      ++ (0 until trees).map(t =>
        coalesce(col(s"ls_$t"), lit(0L)).as(s"ls_$t")): _*)
  }

  /** Route (node, q, dd, y, …) rows through the trained per-level
    * thresholds: level 1 splits on q, level 2 on dd (the training
    * feature schedule); a node with no threshold row keeps its rows —
    * the early-leaf case. */
  private[operators] def routeForest(rows: DataFrame,
      model: DataFrame): DataFrame = {
    val l1 = model.filter(col("level") === 1)
      .select(col("node"), col("threshold").as("thr"))
    val l2 = model.filter(col("level") === 2)
      .select(col("node"), col("threshold").as("thr"))
    rows.join(broadcast(l1), Seq("node"), "left")
      .withColumn("node", when(col("thr").isNull, col("node"))
        .otherwise(concat(col("node"),
          when(col("q") <= col("thr"), lit("L")).otherwise(lit("R")))))
      .drop("thr")
      .join(broadcast(l2), Seq("node"), "left")
      .withColumn("node", when(col("thr").isNull, col("node"))
        .otherwise(concat(col("node"),
          when(col("dd") <= col("thr"), lit("L")).otherwise(lit("R")))))
      .drop("thr")
  }

  val qForestEvalSql: String = {
    val trees = Round12Ops.forestTrees
    val pivotCols = (0 until trees).flatMap { t =>
      Seq(s"max(CASE WHEN node = 't${t}r' THEN v END) AS thr_$t",
        s"max(CASE WHEN node = 't${t}rL' THEN v END) AS thrL_$t",
        s"max(CASE WHEN node = 't${t}rR' THEN v END) AS thrR_$t")
    }.mkString(",\n    ")
    def leaf(t: Int) =
      s"""CASE WHEN p.thr_$t IS NULL THEN 't${t}r'
         |    WHEN e.q <= p.thr_$t THEN
         |      CASE WHEN p.thrL_$t IS NULL THEN 't${t}rL'
         |           WHEN e.dd <= p.thrL_$t THEN 't${t}rLL'
         |           ELSE 't${t}rLR' END
         |    ELSE
         |      CASE WHEN p.thrR_$t IS NULL THEN 't${t}rR'
         |           WHEN e.dd <= p.thrR_$t THEN 't${t}rRL'
         |           ELSE 't${t}rRR' END END AS leaf_$t""".stripMargin
    val leafJoins = (0 until trees)
      .map(t => s"LEFT JOIN ls l$t ON l$t.node = e.leaf_$t")
      .mkString("\n  ")
    val scoreSum = (0 until trees)
      .map(t => s"coalesce(l$t.ls, 0)").mkString(" + ")
    s"""WITH ${Round12Ops.forestCtes},
       |bg1 AS (
       |  SELECT CASE WHEN s.v IS NULL THEN b.node
       |    ELSE b.node || CASE WHEN b.q <= s.v THEN 'L' ELSE 'R' END
       |    END AS node, b.dd, b.y
       |  FROM fk0 b LEFT JOIN fksel1 s ON s.node = b.node),
       |bg2 AS (
       |  SELECT CASE WHEN s.v IS NULL THEN b.node
       |    ELSE b.node || CASE WHEN b.dd <= s.v THEN 'L' ELSE 'R' END
       |    END AS node, b.y
       |  FROM bg1 b LEFT JOIN fksel2 s ON s.node = b.node),
       |ls AS MATERIALIZED (
       |  SELECT node, 1000000 * CAST(sum(y) AS BIGINT) // count(*) AS ls
       |  FROM bg2 GROUP BY 1),
       |pv AS MATERIALIZED (
       |  SELECT $pivotCols
       |  FROM (SELECT node, v FROM fksel1
       |        UNION ALL SELECT node, v FROM fksel2)),
       |ev AS (
       |  SELECT e.y,
       |${(0 until trees).map(leaf).mkString(",\n")}
       |  FROM fraw e, pv p),
       |scored AS MATERIALIZED (
       |  SELECT CAST($scoreSum AS BIGINT) // $trees AS s, e.y
       |  FROM ev e
       |  $leafJoins),
       |${rocSqlOver("scored")}""".stripMargin
  }

  // ---------------------------------------------------------------- B95
  /** Exact precision-recall curve + Average Precision — the
    * evaluation view ROC misrepresents under class imbalance (Davis &
    * Goadrich 2006): per descending score threshold, precision =
    * TP/(TP+FP) and recall = TP/P as exact ×10⁶ integer divisions,
    * and AP is the step integral Σ (TP_i − TP_{i−1})·P_i — computed
    * as integer products of the already-truncated precision, so the
    * oracle replays the identical arithmetic. Score: l_discount cents
    * predicting returnflag = 'R' (B88's scoring pair, so the two
    * curves describe the same classifier). Collapse-first: the fact
    * table reduces to |distinct scores| rows before any window. */
  def qPrCurve(spark: SparkSession, sfDir: String): DataFrame =
    prPipeline(Tables.lineitem(spark, sfDir).select(
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("s"),
      (col("l_returnflag") === "R").cast("long").as("y")))

  /** PR over arbitrary (s, y∈{0,1}) scored rows — the spec hook
    * (`Round13Spec` plants a perfect ranker → AP = 10⁶ and pins the
    * final point (recall 1, precision P/(P+N))). */
  private[graft] def prPipeline(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val ordered = Window.orderBy(col("s").desc)
    scored.groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("tot"))
      .withColumn("tp", sum(col("pos")).over(cum))
      .withColumn("fp", sum(col("tot") - col("pos")).over(cum))
      .withColumn("pp", sum(col("pos")).over(all))
      .withColumn("prec_ppm",
        expr("tp * 1000000 div greatest(tp + fp, 1)"))
      .withColumn("tp0", coalesce(lag(col("tp"), 1).over(ordered), lit(0L)))
      .withColumn("ap_num",
        sum((col("tp") - col("tp0")) * col("prec_ppm")).over(all))
      .select(col("s").as("threshold"), col("tp"), col("fp"),
        col("prec_ppm"),
        expr("tp * 1000000 div greatest(pp, 1)").as("recall_ppm"),
        expr("ap_num div greatest(pp, 1)").as("ap_ppm"))
  }

  val qPrCurveSql: String =
    """WITH prv AS (
      |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS s,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos,
      |    CAST(count(*) AS BIGINT) AS tot
      |  FROM lineitem GROUP BY 1),
      |prc AS (
      |  SELECT s,
      |    CAST(sum(pos) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
      |    CAST(sum(tot - pos) OVER (ORDER BY s DESC) AS BIGINT) AS fp,
      |    CAST(sum(pos) OVER () AS BIGINT) AS pp
      |  FROM prv),
      |prp AS (
      |  SELECT s, tp, fp, pp,
      |    tp * 1000000 // greatest(tp + fp, 1) AS prec_ppm,
      |    coalesce(lag(tp, 1) OVER (ORDER BY s DESC), 0) AS tp0
      |  FROM prc)
      |SELECT s AS threshold, tp, fp, prec_ppm,
      |  tp * 1000000 // greatest(pp, 1) AS recall_ppm,
      |  CAST(sum((tp - tp0) * prec_ppm) OVER () AS BIGINT)
      |    // greatest(pp, 1) AS ap_ppm
      |FROM prp""".stripMargin

  // ---------------------------------------------------------------- B96
  /** Calibration (reliability) table for the trained B93 scorer — the
    * third evaluation axis after ranking (ROC/PR): does the score
    * MEAN what it says? The GBT score lives in label space (×10⁶ —
    * F₀ plus residual-mean leaves), so per distinct score the table
    * emits the prediction, the observed positive rate (exact ×10⁶
    * div), the signed calibration gap, and the bin mass. The oracle
    * re-derives the identical model and replays the grouping. */
  def qCalibration(spark: SparkSession, sfDir: String): DataFrame =
    gbtScore(evalRows(spark, sfDir), ModelStore.gbtFull(spark, sfDir))
      .groupBy(col("s").as("score_ppm"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .select(col("score_ppm"), col("n"),
        expr("pos * 1000000 div n").as("observed_ppm"),
        expr("score_ppm - pos * 1000000 div n").as("gap_ppm"))

  val qCalibrationSql: String = {
    val terms = gbtTermsSql()
    s"""WITH ${Round12Ops.gbtCtes},
       |scored AS (
       |  SELECT (SELECT f0 FROM gf0)
       |$terms AS s, y
       |  FROM g0),
       |cal AS (
       |  SELECT s AS score_ppm, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos
       |  FROM scored GROUP BY 1)
       |SELECT score_ppm, n,
       |  pos * 1000000 // n AS observed_ppm,
       |  score_ppm - pos * 1000000 // n AS gap_ppm
       |FROM cal""".stripMargin
  }

  // ---------------------------------------------------------------- J18
  /** Holdout-split evaluation — the generalization measurement the
    * training-corpus AUCs (B93/B94) cannot give: rows split 80/20 by
    * a deterministic content hash (md5-h32("hold:" + rid) mod 5,
    * fold 0 = test — the C22/B90 fold discipline, identical in both
    * engines, and duplicate rows co-travel: a (orderkey, linenumber)
    * collision lands in ONE side, never leaking train rows into
    * test), the B91 model trains on the TRAIN split only, scores
    * both splits, and the exact trapezoid AUC is computed PER SPLIT
    * with split-partitioned windows — two rows out: train AUC, test
    * AUC, and their class totals. The gap between them is the
    * overfit measurement a training pipeline gates on.
    *
    * Scale: one linear split pass, the B91 training passes over 80%
    * of the corpus, one broadcast-scoring pass, and windows over the
    * |splits|×|distinct scores| collapsed relation. */
  def sampleHoldoutEval(spark: SparkSession, sfDir: String): DataFrame =
    groupedAuc(
      gbtScore(holdoutRows(spark, sfDir),
          ModelStore.gbtHoldout(spark, sfDir))
        .select(col("split"), col("s"), col("y")), "split")

  /** Exact trapezoid AUC PER GROUP — `scored` carries (groupCol, s,
    * y); every window partitions by the group, so the output is one
    * (group, pos, neg, auc_ppm) row per group. Shared by J18's
    * holdout and B100's cross-validation. (BIGINT headroom: exact up
    * to ~3·10⁹ rows per class per group — the auc_num·10⁶ and
    * 2·pp·nn products; beyond that, DECIMAL(38,0) the products.) */
  private[graft] def groupedAuc(scored: DataFrame,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy(col(groupCol)).orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col(groupCol)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val ordered = Window.partitionBy(col(groupCol)).orderBy(col("s").desc)
    scored.groupBy(col(groupCol), col("s"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("tot"))
      .withColumn("tp", sum(col("pos")).over(cum))
      .withColumn("fp", sum(col("tot") - col("pos")).over(cum))
      .withColumn("pp", sum(col("pos")).over(all))
      .withColumn("nn", sum(col("tot") - col("pos")).over(all))
      .withColumn("tp0", coalesce(lag(col("tp"), 1).over(ordered), lit(0L)))
      .withColumn("fp0", coalesce(lag(col("fp"), 1).over(ordered), lit(0L)))
      .withColumn("auc_num",
        sum((col("tp") + col("tp0")) * (col("fp") - col("fp0"))).over(all))
      .groupBy(col(groupCol))
      .agg(max(col("pp")).as("pos"), max(col("nn")).as("neg"),
        max(expr("auc_num * 1000000 div greatest(2 * pp * nn, 1)"))
          .as("auc_ppm"))
  }

  val sampleHoldoutEvalSql: String = {
    val terms = gbtTermsSql()
    s"""WITH hraw AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
       |    CASE WHEN ('0x' || substr(md5('hold:'
       |        || CAST(l_orderkey AS VARCHAR) || ':'
       |        || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 5 = 0
       |      THEN 'test' ELSE 'train' END AS split
       |  FROM lineitem),
       |${Round12Ops.gbtCtesFrom(
           "  SELECT q, dd, y FROM hraw WHERE split = 'train'")},
       |scored AS (
       |  SELECT split, (SELECT f0 FROM gf0)
       |$terms AS s, y
       |  FROM hraw),
       |hv AS (
       |  SELECT split, s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS tot
       |  FROM scored GROUP BY 1, 2),
       |hc AS (
       |  SELECT split, s,
       |    CAST(sum(pos) OVER (PARTITION BY split ORDER BY s DESC)
       |      AS BIGINT) AS tp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY split ORDER BY s DESC)
       |      AS BIGINT) AS fp,
       |    CAST(sum(pos) OVER (PARTITION BY split) AS BIGINT) AS pp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY split) AS BIGINT) AS nn
       |  FROM hv),
       |hl AS (
       |  SELECT split, tp, fp, pp, nn,
       |    coalesce(lag(tp, 1) OVER (PARTITION BY split ORDER BY s DESC),
       |      0) AS tp0,
       |    coalesce(lag(fp, 1) OVER (PARTITION BY split ORDER BY s DESC),
       |      0) AS fp0
       |  FROM hc),
       |ha AS (
       |  SELECT split, pp, nn,
       |    CAST(sum((tp + tp0) * (fp - fp0)) OVER (PARTITION BY split)
       |      AS BIGINT) AS auc_num
       |  FROM hl)
       |SELECT split, max(pp) AS pos, max(nn) AS neg,
       |  max(auc_num * 1000000 // greatest(2 * pp * nn, 1)) AS auc_ppm
       |FROM ha GROUP BY split""".stripMargin
  }

  // ---------------------------------------------------------------- B97
  /** Forest feature importances — the model-interpretation view
    * (Breiman 2001 §10): per (tree, feature), the impurity DECREASE
    * its splits bought, node-weighted. The level loop's per-node
    * argmin relation now carries the node's class totals (pp, nn), so
    * parent impurity G(pp, nn) and split gain derive with NO extra
    * fact pass; gains convert to exact ×10⁶ integers (round of a
    * bit-identical double — the B84 discipline) and the node-weighted
    * sum is integer arithmetic: importance = Σ nn·gain_ppm div
    * n_tree. With depth 2 and alternating features, level-1 rows are
    * l_quantity splits and level-2 rows l_discount_cents — so the
    * table answers "which feature carried each tree". */
  def qFeatureImportance(spark: SparkSession, sfDir: String): DataFrame =
    featureImportanceFrom(ModelStore.forestLevels(spark, sfDir))

  /** Importances over arbitrary (q, dd, y, rid) rows — the spec hook
    * (`Round13Spec` pins: a feature that fully determines the label
    * takes ~all of its tree's importance; importances are
    * non-negative). */
  private[graft] def featureImportancePipeline(rows: DataFrame): DataFrame =
    featureImportanceFrom(Round12Ops.forestLevelsFull(rows.persist(),
      Round12Ops.forestTrees, Round12Ops.forestDepth))

  /** Importances from an already-trained per-level argmin relation
    * (level, node, feature, threshold, gini, pp, nn) — the
    * stored-model path (B97 off ModelStore's levels table). `by`
    * adds outer grouping columns already present on `sel` (B107
    * passes Seq("fold") over the prefix-stripped CV levels); empty =
    * the B97 single-forest view, identical arithmetic either way. */
  private[graft] def featureImportanceFrom(sel: DataFrame,
      by: Seq[String] = Nil): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val withGain = sel
      .withColumn("tree", substring(col("node"), 1, 2))
      .withColumn("parent_gini",
        round((d(col("nn")) - (d(col("pp")) * d(col("pp"))
          + d(col("nn") - col("pp")) * d(col("nn") - col("pp")))
          / d(col("nn"))) / d(col("nn")), 6))
      .withColumn("gain_ppm",
        expr("CAST(round((parent_gini - gini) * 1000000) AS BIGINT)"))
    val keyCols = by :+ "tree"
    val nTree = withGain.filter(col("level") === 1)
      .select(keyCols.map(col) :+ col("nn").as("n_tree"): _*)
    withGain.groupBy((keyCols :+ "feature").map(col): _*)
      .agg(sum(col("nn") * col("gain_ppm")).as("wsum"))
      .join(broadcast(nTree), keyCols)
      .select(keyCols.map(col) ++ Seq(col("feature"),
        expr("wsum div n_tree").as("importance_ppm")): _*)
  }

  val qFeatureImportanceSql: String = {
    val pg =
      """round((CAST(nn AS DOUBLE)
        |      - (CAST(pp AS DOUBLE) * CAST(pp AS DOUBLE)
        |         + CAST(nn - pp AS DOUBLE) * CAST(nn - pp AS DOUBLE))
        |        / CAST(nn AS DOUBLE)) / CAST(nn AS DOUBLE), 6)""".stripMargin
    s"""WITH ${Round12Ops.forestCtes},
       |imp0 AS (
       |  SELECT substr(node, 1, 2) AS tree, 'l_quantity' AS feature,
       |    pp, nn, gini
       |  FROM fksel1
       |  UNION ALL
       |  SELECT substr(node, 1, 2), 'l_discount_cents', pp, nn, gini
       |  FROM fksel2),
       |impg AS (
       |  SELECT tree, feature, nn,
       |    CAST(round(($pg - gini) * 1000000) AS BIGINT) AS gain_ppm
       |  FROM imp0),
       |nt AS (SELECT substr(node, 1, 2) AS tree, nn AS n_tree FROM fksel1)
       |SELECT tree, feature,
       |  CAST(sum(nn * gain_ppm) AS BIGINT) // n_tree AS importance_ppm
       |FROM impg JOIN nt USING (tree)
       |GROUP BY tree, feature, n_tree""".stripMargin
  }

  // --------------------------------------------------------------- B101
  /** GBT feature importances — B97's interpretation view for the
    * BOOSTING family (Friedman 2001 §8.1, squared-loss gains): each
    * round's stump already carries the trajectory's SSE curve
    * (total_sse = pre-fit loss, split_sse = post-split loss — the
    * spec's non-increasing invariant), so per-round gain costs ZERO
    * extra fact passes. Each gain is normalized by the ROUND-1
    * pre-fit total SSE — a SINGLE stored double, so the
    * normalization is a fixed two-operand float expression, never a
    * cross-round double sum whose addition order could differ
    * between engines — rounded to an exact ×10⁶ BIGINT share, and
    * per-feature importance is the exact INTEGER sum of its rounds'
    * shares (order-free). Answers "which feature carried the
    * boosting run" the way B97 answers it for the forest — closing
    * model interpretation across both tree families. */
  def qGbtImportance(spark: SparkSession, sfDir: String): DataFrame =
    gbtImportanceFrom(ModelStore.gbtStumps(spark, sfDir))

  /** Importances from an already-trained stump trajectory — the spec
    * hook takes any (round, feature, total_sse, split_sse) relation
    * (`Round13Spec` pins: shares are non-negative, round-1's share
    * is the largest single-round drop on a separable plant, and the
    * trajectory's own non-increasing invariant bounds Σshares). */
  private[graft] def gbtImportanceFrom(stumps: DataFrame): DataFrame = {
    val t1 = stumps.filter(col("round") === 1)
      .select(col("total_sse").as("t1"))
    // t1 = 0 (constant labels: residuals all zero) would make every
    // share 0/0 — Spark's round+CAST turns that NaN into NULL while
    // DuckDB propagates it, so guard the denominator IDENTICALLY in
    // both engines: a zero-loss trajectory has zero importance
    stumps.crossJoin(broadcast(t1))
      .withColumn("share_ppm",
        expr("CASE WHEN t1 = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "CAST(round((total_sse - split_sse) * 1000000 / t1) AS BIGINT) " +
          "END"))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_rounds"),
        sum(col("share_ppm")).as("importance_ppm"))
      .select(col("feature"), col("n_rounds"), col("importance_ppm"))
  }

  val qGbtImportanceSql: String = {
    val roundsUnion = (1 to Round12Ops.gbtRounds).map { t =>
      val fn = if (t % 2 == 1) "l_quantity" else "l_discount_cents"
      s"SELECT '$fn' AS feature, total_sse, split_sse FROM gs$t"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${Round12Ops.gbtCtes},
       |gimp AS (
       |$roundsUnion),
       |gt1 AS (SELECT total_sse AS t1 FROM gs1)
       |SELECT feature, CAST(count(*) AS BIGINT) AS n_rounds,
       |  CAST(sum(CASE WHEN t1 = 0 THEN CAST(0 AS BIGINT) ELSE
       |    CAST(round((total_sse - split_sse) * 1000000 / t1)
       |    AS BIGINT) END) AS BIGINT) AS importance_ppm
       |FROM gimp, gt1 GROUP BY feature""".stripMargin
  }

  // --------------------------------------------------------------- B102
  /** Champion/challenger model comparison — the SELECTION-BETWEEN-
    * FAMILIES step the per-model evaluations (B93 GBT, B94 forest)
    * can't give alone: both stored models score every row in ONE
    * linear pass (both are broadcast artifacts in label space ×10⁶,
    * so the Bayes 0.5 cut is the same integer threshold 500000 for
    * each), and one output row carries the prediction-agreement
    * matrix, each model's exact accuracy, and McNemar's paired
    * counts — b = rows only the GBT got right, c = rows only the
    * forest got right — with the χ² statistic (b−c)²·10⁶/(b+c) as an
    * exact integer division (McNemar 1947; the paired test is the
    * correct one because both models scored the SAME rows —
    * independent-sample accuracy comparison would waste the
    * pairing). Disagreement rows are the only evidence that
    * separates the models; everything else cancels.
    *
    * Scale: one scan, every model artifact broadcast, the first and
    * only shuffle is the final 1-row aggregate (map-side combined).
    * Integer headroom: counts ≤ corpus rows, (b−c)²·10⁶ needs
    * |b−c| ≲ 3·10⁶ before DECIMAL(38,0) promotion — disagreement
    * counts, not corpus counts, so the headroom note is per-DISAGREE
    * mass. */
  def qModelCompare(spark: SparkSession, sfDir: String): DataFrame = {
    val trees = Round12Ops.forestTrees
    val (fModel, fLeaves) = ModelStore.forestModel(spark, sfDir)
    val gModel = ModelStore.gbtFull(spark, sfDir)
    val withF = forestScoreWith(ridRows(spark, sfDir), fModel, fLeaves)
      .withColumn("s_f", expr((0 until trees).map(t => s"ls_$t")
        .mkString("(", " + ", s") div $trees")))
    val both = gbtScore(withF, gModel).withColumnRenamed("s", "s_g")
    modelCompareFrom(both.select(col("s_g"), col("s_f"), col("y")))
  }

  /** The comparison tail over (s_g, s_f, y) doubly-scored rows — the
    * spec hook (`Round13Spec` pins: two perfect models agree
    * everywhere with b = c = 0 and both accuracies 10⁶; a planted
    * one-sided disagreement lands entirely in b). */
  private[graft] def modelCompareFrom(scored: DataFrame): DataFrame =
    modelCompareGrouped(scored, Nil)

  /** [[modelCompareFrom]] per group — `by` empty means one global row
    * (B102); B106 passes Seq("fold") for the per-fold significance
    * story the CV protocols enable (round 15). Identical arithmetic
    * either way: groupBy() with no columns IS the global aggregate. */
  private[graft] def modelCompareGrouped(scored: DataFrame,
      by: Seq[String]): DataFrame =
    scored
      .withColumn("p_g", (col("s_g") >= 500000L).cast("long"))
      .withColumn("p_f", (col("s_f") >= 500000L).cast("long"))
      .groupBy(by.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("p_g") === 1 && col("p_f") === 1, 1L)
          .otherwise(0L)).as("agree_pos"),
        sum(when(col("p_g") === 0 && col("p_f") === 0, 1L)
          .otherwise(0L)).as("agree_neg"),
        sum(when(col("p_g") === 1 && col("p_f") === 0, 1L)
          .otherwise(0L)).as("only_gbt_pos"),
        sum(when(col("p_g") === 0 && col("p_f") === 1, 1L)
          .otherwise(0L)).as("only_forest_pos"),
        sum((col("p_g") === col("y")).cast("long")).as("gc"),
        sum((col("p_f") === col("y")).cast("long")).as("fc"),
        sum(when(col("p_g") === col("y") && col("p_f") =!= col("y"), 1L)
          .otherwise(0L)).as("b_gbt_only_right"),
        sum(when(col("p_f") === col("y") && col("p_g") =!= col("y"), 1L)
          .otherwise(0L)).as("c_forest_only_right"))
      .select(by.map(col) ++ Seq(col("n"), col("agree_pos"),
        col("agree_neg"),
        col("only_gbt_pos"), col("only_forest_pos"),
        expr("gc * 1000000 div n").as("gbt_acc_ppm"),
        expr("fc * 1000000 div n").as("forest_acc_ppm"),
        col("b_gbt_only_right"), col("c_forest_only_right"),
        expr("""(b_gbt_only_right - c_forest_only_right)
          * (b_gbt_only_right - c_forest_only_right) * 1000000
          div greatest(b_gbt_only_right + c_forest_only_right, 1)""")
          .as("mcnemar_x2_ppm")): _*)

  val qModelCompareSql: String = {
    val trees = Round12Ops.forestTrees
    val gTerms = gbtTermsSql(qual = "e.")
    val pivotCols = (0 until trees).flatMap { t =>
      Seq(s"max(CASE WHEN node = 't${t}r' THEN v END) AS thr_$t",
        s"max(CASE WHEN node = 't${t}rL' THEN v END) AS thrL_$t",
        s"max(CASE WHEN node = 't${t}rR' THEN v END) AS thrR_$t")
    }.mkString(",\n    ")
    def leaf(t: Int) =
      s"""CASE WHEN p.thr_$t IS NULL THEN 't${t}r'
         |    WHEN e.q <= p.thr_$t THEN
         |      CASE WHEN p.thrL_$t IS NULL THEN 't${t}rL'
         |           WHEN e.dd <= p.thrL_$t THEN 't${t}rLL'
         |           ELSE 't${t}rLR' END
         |    ELSE
         |      CASE WHEN p.thrR_$t IS NULL THEN 't${t}rR'
         |           WHEN e.dd <= p.thrR_$t THEN 't${t}rRL'
         |           ELSE 't${t}rRR' END END AS leaf_$t""".stripMargin
    val leafJoins = (0 until trees)
      .map(t => s"LEFT JOIN ls l$t ON l$t.node = e.leaf_$t")
      .mkString("\n  ")
    val scoreSum = (0 until trees)
      .map(t => s"coalesce(l$t.ls, 0)").mkString(" + ")
    s"""WITH ${Round12Ops.gbtCtes},
       |${Round12Ops.forestCtes},
       |bg1 AS (
       |  SELECT CASE WHEN s.v IS NULL THEN b.node
       |    ELSE b.node || CASE WHEN b.q <= s.v THEN 'L' ELSE 'R' END
       |    END AS node, b.dd, b.y
       |  FROM fk0 b LEFT JOIN fksel1 s ON s.node = b.node),
       |bg2 AS (
       |  SELECT CASE WHEN s.v IS NULL THEN b.node
       |    ELSE b.node || CASE WHEN b.dd <= s.v THEN 'L' ELSE 'R' END
       |    END AS node, b.y
       |  FROM bg1 b LEFT JOIN fksel2 s ON s.node = b.node),
       |ls AS MATERIALIZED (
       |  SELECT node, 1000000 * CAST(sum(y) AS BIGINT) // count(*) AS ls
       |  FROM bg2 GROUP BY 1),
       |pv AS MATERIALIZED (
       |  SELECT $pivotCols
       |  FROM (SELECT node, v FROM fksel1
       |        UNION ALL SELECT node, v FROM fksel2)),
       |ev AS (
       |  SELECT e.y, e.q, e.dd,
       |${(0 until trees).map(leaf).mkString(",\n")}
       |  FROM fraw e, pv p),
       |mscored AS MATERIALIZED (
       |  SELECT e.y,
       |    CAST($scoreSum AS BIGINT) // $trees AS s_f,
       |    (SELECT f0 FROM gf0)
       |$gTerms AS s_g
       |  FROM ev e
       |  $leafJoins),
       |mpred AS (
       |  SELECT y,
       |    CASE WHEN s_g >= 500000 THEN 1 ELSE 0 END AS p_g,
       |    CASE WHEN s_f >= 500000 THEN 1 ELSE 0 END AS p_f
       |  FROM mscored),
       |magg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN p_g = 1 AND p_f = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS agree_pos,
       |    CAST(sum(CASE WHEN p_g = 0 AND p_f = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS agree_neg,
       |    CAST(sum(CASE WHEN p_g = 1 AND p_f = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS only_gbt_pos,
       |    CAST(sum(CASE WHEN p_g = 0 AND p_f = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS only_forest_pos,
       |    CAST(sum(CASE WHEN p_g = y THEN 1 ELSE 0 END) AS BIGINT) AS gc,
       |    CAST(sum(CASE WHEN p_f = y THEN 1 ELSE 0 END) AS BIGINT) AS fc,
       |    CAST(sum(CASE WHEN p_g = y AND p_f <> y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b_gbt_only_right,
       |    CAST(sum(CASE WHEN p_f = y AND p_g <> y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c_forest_only_right
       |  FROM mpred)
       |SELECT n, agree_pos, agree_neg, only_gbt_pos, only_forest_pos,
       |  gc * 1000000 // n AS gbt_acc_ppm,
       |  fc * 1000000 // n AS forest_acc_ppm,
       |  b_gbt_only_right, c_forest_only_right,
       |  (b_gbt_only_right - c_forest_only_right)
       |    * (b_gbt_only_right - c_forest_only_right) * 1000000
       |    // greatest(b_gbt_only_right + c_forest_only_right, 1)
       |    AS mcnemar_x2_ppm
       |FROM magg""".stripMargin
  }

  // ---------------------------------------------------------------- B98
  /** Out-of-bag evaluation (Breiman 1996) — the validation estimate a
    * bagged ensemble gives FOR FREE: each row is scored only by the
    * trees whose bag it is NOT in (the same md5-h32 flags the bagging
    * used, complemented), s = Σ oob leaf scores div |oob trees|, rows
    * in every bag drop (no unbiased scorer exists for them —
    * (3/4)⁴ ≈ 32% here), and the exact trapezoid ROC/AUC runs over
    * the survivors. Unlike J18's holdout this consumes the WHOLE
    * corpus for training and still yields an out-of-sample estimate.
    * Same zero-corpus-shuffle scoring shape as B94. */
  def qOobEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, leafScores) = ModelStore.forestModel(spark, sfDir)
    oobEvalFrom(
      forestScoreWith(ridRows(spark, sfDir), model, leafScores))
  }

  /** OOB evaluation over arbitrary (q, dd, y, rid) rows — the spec
    * hook. */
  private[graft] def oobEvalPipeline(rows: DataFrame): DataFrame =
    oobEvalFrom(forestRowScores(rows.persist()))

  /** The OOB tail over already-appended per-tree row scores
    * (ls_0..ls_3 + rid): complement the bagging hash, average only
    * the out-of-bag trees, drop rows in every bag, exact ROC. */
  private[graft] def oobEvalFrom(rowScores: DataFrame): DataFrame = {
    import graft.functions.gf
    val trees = Round12Ops.forestTrees
    val withOob = (0 until trees).foldLeft(rowScores) {
      (df, t) => df.withColumn(s"oob_$t",
        (gf.h32(concat(lit(s"frst:$t:"), col("rid"))) % trees === 0)
          .cast("long"))
    }
    val scored = withOob
      .withColumn("oobsum", expr((0 until trees)
        .map(t => s"ls_$t * oob_$t").mkString(" + ")))
      .withColumn("oobcnt", expr((0 until trees)
        .map(t => s"oob_$t").mkString(" + ")))
      .filter(col("oobcnt") > 0)
      .select(expr("oobsum div oobcnt").as("s"), col("y"))
    Round10bOps.rocAucPipeline(scored)
  }

  val qOobEvalSql: String = {
    val trees = Round12Ops.forestTrees
    val pivotCols = (0 until trees).flatMap { t =>
      Seq(s"max(CASE WHEN node = 't${t}r' THEN v END) AS thr_$t",
        s"max(CASE WHEN node = 't${t}rL' THEN v END) AS thrL_$t",
        s"max(CASE WHEN node = 't${t}rR' THEN v END) AS thrR_$t")
    }.mkString(",\n    ")
    def leaf(t: Int) =
      s"""CASE WHEN p.thr_$t IS NULL THEN 't${t}r'
         |    WHEN e.q <= p.thr_$t THEN
         |      CASE WHEN p.thrL_$t IS NULL THEN 't${t}rL'
         |           WHEN e.dd <= p.thrL_$t THEN 't${t}rLL'
         |           ELSE 't${t}rLR' END
         |    ELSE
         |      CASE WHEN p.thrR_$t IS NULL THEN 't${t}rR'
         |           WHEN e.dd <= p.thrR_$t THEN 't${t}rRL'
         |           ELSE 't${t}rRR' END END AS leaf_$t""".stripMargin
    def oob(t: Int) =
      s"""CASE WHEN ('0x' || substr(md5('frst:$t:' || e.rid), 1, 8))::BIGINT
         |  % $trees = 0 THEN 1 ELSE 0 END AS oob_$t""".stripMargin
    val leafJoins = (0 until trees)
      .map(t => s"LEFT JOIN ls l$t ON l$t.node = e.leaf_$t")
      .mkString("\n  ")
    val oobSum = (0 until trees)
      .map(t => s"coalesce(l$t.ls, 0) * e.oob_$t").mkString(" + ")
    val oobCnt = (0 until trees).map(t => s"e.oob_$t").mkString(" + ")
    s"""WITH ${Round12Ops.forestCtes},
       |bg1 AS (
       |  SELECT CASE WHEN s.v IS NULL THEN b.node
       |    ELSE b.node || CASE WHEN b.q <= s.v THEN 'L' ELSE 'R' END
       |    END AS node, b.dd, b.y
       |  FROM fk0 b LEFT JOIN fksel1 s ON s.node = b.node),
       |bg2 AS (
       |  SELECT CASE WHEN s.v IS NULL THEN b.node
       |    ELSE b.node || CASE WHEN b.dd <= s.v THEN 'L' ELSE 'R' END
       |    END AS node, b.y
       |  FROM bg1 b LEFT JOIN fksel2 s ON s.node = b.node),
       |ls AS MATERIALIZED (
       |  SELECT node, 1000000 * CAST(sum(y) AS BIGINT) // count(*) AS ls
       |  FROM bg2 GROUP BY 1),
       |pv AS MATERIALIZED (
       |  SELECT $pivotCols
       |  FROM (SELECT node, v FROM fksel1
       |        UNION ALL SELECT node, v FROM fksel2)),
       |ev AS (
       |  SELECT e.y, e.rid,
       |${(0 until trees).map(leaf).mkString(",\n")},
       |${(0 until trees).map(oob).mkString(",\n")}
       |  FROM fraw e, pv p),
       |scored AS MATERIALIZED (
       |  SELECT CAST($oobSum AS BIGINT) // ($oobCnt) AS s, e.y
       |  FROM ev e
       |  $leafJoins
       |  WHERE $oobCnt > 0),
       |${rocSqlOver("scored")}""".stripMargin
  }

  // ---------------------------------------------------------------- B99
  /** Operating-point selection + confusion matrix — the DECISION step
    * after the curves: pick the score threshold maximizing Youden's J
    * (TPR − FPR, the distance above the chance diagonal) EXACTLY —
    * J's sign-stable integer form tp·nn − fp·pp avoids any division —
    * and emit the confusion matrix (TP/FP/FN/TN) plus
    * precision/recall/F1 in exact ×10⁶ integers at that threshold.
    * One row out: the deployable decision rule with its quality
    * certificate. Scores are B93's GBT scores, so the whole
    * train → score → choose-threshold → report chain is exact and the
    * oracle replays it bit-for-bit.
    *
    * Integer headroom: the products tp·nn, fp·pp (and the shared
    * auc_num·10⁶ / (2·pp·nn) pattern) stay inside a signed 64-bit
    * BIGINT while each class total is ≲ 3·10⁹ rows; past that (a full
    * 100 TB corpus is ~6·10¹¹ lineitems) promote the products to
    * DECIMAL(38,0) — the s2 sums in the trainers already do exactly
    * that — at the cost of the oracle mirroring the cast. */
  def qConfusion(spark: SparkSession, sfDir: String): DataFrame =
    confusionFromScored(
      gbtScore(evalRows(spark, sfDir), ModelStore.gbtFull(spark, sfDir))
        .select(col("s"), col("y")))

  /** Threshold choice + confusion over arbitrary (q, dd, y) rows —
    * the spec hook (`Round13Spec` pins a separable plant: J = 10⁶,
    * zero off-diagonal mass, F1 = 10⁶). */
  private[graft] def confusionPipeline(rows: DataFrame): DataFrame = {
    val data = rows.persist()
    confusionFromScored(
      gbtScore(data, gbtModelRow(data)).select(col("s"), col("y")))
  }

  /** The decision tail over (s, y) scored rows. */
  private[graft] def confusionFromScored(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val best = Window.orderBy(col("j_num").desc, col("s").desc)
    scored.groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("tot"))
      .withColumn("tp", sum(col("pos")).over(cum))
      .withColumn("fp", sum(col("tot") - col("pos")).over(cum))
      .withColumn("pp", sum(col("pos")).over(all))
      .withColumn("nn", sum(col("tot") - col("pos")).over(all))
      // J = TPR − FPR, exactly: (tp·nn − fp·pp) / (pp·nn) — the
      // numerator alone ranks (the denominator is constant)
      .withColumn("j_num", col("tp") * col("nn") - col("fp") * col("pp"))
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("s").as("threshold"), col("tp"), col("fp"),
        (col("pp") - col("tp")).as("fn"), (col("nn") - col("fp")).as("tn"),
        expr("tp * 1000000 div greatest(tp + fp, 1)").as("precision_ppm"),
        expr("tp * 1000000 div greatest(pp, 1)").as("recall_ppm"),
        expr("2 * tp * 1000000 div greatest(2 * tp + fp + (pp - tp), 1)")
          .as("f1_ppm"),
        expr("j_num * 1000000 div greatest(pp * nn, 1)").as("youden_ppm"))
  }

  val qConfusionSql: String = {
    val terms = gbtTermsSql()
    s"""WITH ${Round12Ops.gbtCtes},
       |scored AS (
       |  SELECT (SELECT f0 FROM gf0)
       |$terms AS s, y
       |  FROM g0),
       |cfv AS (
       |  SELECT s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS tot
       |  FROM scored GROUP BY 1),
       |cfc AS (
       |  SELECT s,
       |    CAST(sum(pos) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
       |    CAST(sum(tot - pos) OVER (ORDER BY s DESC) AS BIGINT) AS fp,
       |    CAST(sum(pos) OVER () AS BIGINT) AS pp,
       |    CAST(sum(tot - pos) OVER () AS BIGINT) AS nn
       |  FROM cfv),
       |cfj AS (
       |  SELECT s, tp, fp, pp, nn, tp * nn - fp * pp AS j_num,
       |    row_number() OVER (ORDER BY tp * nn - fp * pp DESC, s DESC)
       |      AS rn
       |  FROM cfc)
       |SELECT s AS threshold, tp, fp, pp - tp AS fn, nn - fp AS tn,
       |  tp * 1000000 // greatest(tp + fp, 1) AS precision_ppm,
       |  tp * 1000000 // greatest(pp, 1) AS recall_ppm,
       |  2 * tp * 1000000 // greatest(2 * tp + fp + (pp - tp), 1)
       |    AS f1_ppm,
       |  j_num * 1000000 // greatest(pp * nn, 1) AS youden_ppm
       |FROM cfj WHERE rn = 1""".stripMargin
  }

  // --------------------------------------------------------------- B103
  /** Cost-sensitive operating points — the deployment reality B99's
    * Youden threshold idealizes away: false positives and false
    * negatives rarely cost the same (a curation pipeline dropping a
    * good document vs admitting a bad one), so for each (cost_fp,
    * cost_fn) pair the best observed score cut minimizes the exact
    * integer expected cost cfp·FP + cfn·FN. Three standard ratios
    * (1:1, 1:5, 5:1) emit one deployable row each: threshold, the
    * matrix at it, and the total cost — ties broken toward the
    * HIGHER threshold (the conservative rule). Candidate thresholds
    * are the observed score cuts (the ROC curve's operating points);
    * the degenerate reject-all policy's cost is cfn·P, directly
    * comparable against the emitted total_cost column. Everything
    * exact integers over the ≤|distinct scores| collapsed relation,
    * so the oracle replays bit-for-bit. */
  def qCostCurve(spark: SparkSession, sfDir: String): DataFrame =
    costCurveFrom(
      gbtScore(evalRows(spark, sfDir), ModelStore.gbtFull(spark, sfDir))
        .select(col("s"), col("y")))

  private[graft] val costRatios = Seq((1L, 1L), (1L, 5L), (5L, 1L))

  /** The cost-minimization tail over (s, y) scored rows — the spec
    * hook (`Round13Spec` pins: a separable plant reaches cost 0 at
    * every ratio; each emitted row satisfies the cost identity). */
  private[graft] def costCurveFrom(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    import spark.implicits._
    val cum = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val curve = scored.groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("tot"))
      .withColumn("tp", sum(col("pos")).over(cum))
      .withColumn("fp", sum(col("tot") - col("pos")).over(cum))
      .withColumn("pp", sum(col("pos")).over(all))
      .withColumn("nn", sum(col("tot") - col("pos")).over(all))
    val ratios = costRatios.toDF("cost_fp", "cost_fn")
    val best = Window.partitionBy(col("cost_fp"), col("cost_fn"))
      .orderBy(col("total_cost"), col("s").desc)
    curve.crossJoin(broadcast(ratios))
      .withColumn("total_cost",
        col("cost_fp") * col("fp") + col("cost_fn") * (col("pp") - col("tp")))
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("cost_fp"), col("cost_fn"), col("s").as("threshold"),
        col("tp"), col("fp"), (col("pp") - col("tp")).as("fn"),
        (col("nn") - col("fp")).as("tn"), col("total_cost"))
  }

  val qCostCurveSql: String = {
    val terms = gbtTermsSql()
    val ratioRows = costRatios
      .map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"""WITH ${Round12Ops.gbtCtes},
       |scored AS (
       |  SELECT (SELECT f0 FROM gf0)
       |$terms AS s, y
       |  FROM g0),
       |ccv AS (
       |  SELECT s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS tot
       |  FROM scored GROUP BY 1),
       |ccc AS (
       |  SELECT s,
       |    CAST(sum(pos) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
       |    CAST(sum(tot - pos) OVER (ORDER BY s DESC) AS BIGINT) AS fp,
       |    CAST(sum(pos) OVER () AS BIGINT) AS pp,
       |    CAST(sum(tot - pos) OVER () AS BIGINT) AS nn
       |  FROM ccv),
       |ratios(cost_fp, cost_fn) AS (VALUES $ratioRows),
       |costed AS (
       |  SELECT CAST(r.cost_fp AS BIGINT) AS cost_fp,
       |    CAST(r.cost_fn AS BIGINT) AS cost_fn, c.s, c.tp, c.fp,
       |    c.pp, c.nn,
       |    CAST(r.cost_fp * c.fp + r.cost_fn * (c.pp - c.tp) AS BIGINT)
       |      AS total_cost,
       |    row_number() OVER (PARTITION BY r.cost_fp, r.cost_fn
       |      ORDER BY r.cost_fp * c.fp + r.cost_fn * (c.pp - c.tp),
       |        c.s DESC) AS rn
       |  FROM ccc c, ratios r)
       |SELECT cost_fp, cost_fn, s AS threshold, tp, fp,
       |  pp - tp AS fn, nn - fp AS tn, total_cost
       |FROM costed WHERE rn = 1""".stripMargin
  }

  // --------------------------------------------------------------- B104
  /** Isotonic calibration (PAV — Ayer et al. 1955; Zadrozny & Elkan
    * 2002) — B96's reliability table made MONOTONE: the raw per-score
    * observed rates need not increase with the score (finite-sample
    * noise), but a calibrated probability must, and the isotonic
    * regression fit is computable in closed form by the max-min
    * identity iso(i) = max_{j≤i} min_{k≥i} rate(j..k) — no
    * sequential pooling loop, so it is EXPRESSIBLE as joins over the
    * collapsed bin relation and replayable in SQL. Interval rates
    * are exact integer divisions over cumulative (pos, tot) sums
    * (×10⁶ FIRST, then min/max over integers — deterministic in both
    * engines; the truncation point is part of the operator's
    * definition), and the whole computation runs on |distinct
    * scores| ≤ 8 bins: the interval relation is ≤36 rows and the
    * (j,i,k) triple join ≤120 — model-sized, never corpus-sized. */
  def qIsotonicCalibration(spark: SparkSession, sfDir: String): DataFrame =
    isotonicFrom(
      gbtScore(evalRows(spark, sfDir), ModelStore.gbtFull(spark, sfDir))
        .select(col("s"), col("y")))

  /** The PAV tail over (s, y) scored rows — the spec hook
    * (`Round13Spec` pins a hand-computed non-monotone plant pooling
    * exactly as PAV does, and corpus monotonicity). */
  private[graft] def isotonicFrom(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("s"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = scored.groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .withColumn("i", row_number().over(ord))
      .withColumn("cp", sum(col("pos")).over(cum))
      .withColumn("ct", sum(col("n")).over(cum))
      .localCheckpoint(true)
    val lo = bins.select(col("i").as("j"),
      (col("cp") - col("pos")).as("cpj0"), (col("ct") - col("n")).as("ctj0"))
    val hi = bins.select(col("i").as("k"), col("cp").as("cpk"),
      col("ct").as("ctk"))
    val rates = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("(cpk - cpj0) * 1000000 div (ctk - ctj0)").as("rate"))
    val m = rates.join(bins.select(col("i")),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("j"), col("i")).agg(min(col("rate")).as("mrate"))
    val iso = m.groupBy(col("i")).agg(max(col("mrate")).as("iso_ppm"))
    bins.join(iso, "i")
      .select(col("s").as("score_ppm"), col("n"),
        expr("pos * 1000000 div n").as("observed_ppm"), col("iso_ppm"))
  }

  val qIsotonicCalibrationSql: String = {
    val terms = gbtTermsSql()
    s"""WITH ${Round12Ops.gbtCtes},
       |scored AS (
       |  SELECT (SELECT f0 FROM gf0)
       |$terms AS s, y
       |  FROM g0),
       |ibins AS MATERIALIZED (
       |  SELECT s, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS i,
       |    CAST(sum(sum(y)) OVER (ORDER BY s) AS BIGINT) AS cp,
       |    CAST(sum(count(*)) OVER (ORDER BY s) AS BIGINT) AS ct
       |  FROM scored GROUP BY s),
       |irates AS (
       |  SELECT l.i AS j, h.i AS k,
       |    (h.cp - (l.cp - l.pos)) * 1000000
       |      // (h.ct - (l.ct - l.n)) AS rate
       |  FROM ibins l JOIN ibins h ON l.i <= h.i),
       |im AS (
       |  SELECT r.j, b.i, min(r.rate) AS mrate
       |  FROM irates r JOIN ibins b ON r.j <= b.i AND b.i <= r.k
       |  GROUP BY r.j, b.i),
       |iiso AS (
       |  SELECT i, max(mrate) AS iso_ppm FROM im GROUP BY i)
       |SELECT b.s AS score_ppm, b.n,
       |  b.pos * 1000000 // b.n AS observed_ppm, o.iso_ppm
       |FROM ibins b JOIN iiso o USING (i)""".stripMargin
  }

  // ---------------------------------------------------------------- J20
  /** Slice-based (disaggregated) model evaluation — the model-QA view
    * aggregate AUC hides: the deployed scorer's exact trapezoid AUC
    * computed PER DATA SLICE (ship-date MONTH — a temporal axis the
    * model never saw, so lagging months reveal where the model
    * quietly underperforms, the pre-ship check for temporal drift),
    * one row per slice with its class totals. Reuses the stored
    * model and the groupedAuc discipline: all windows partition by
    * slice, the fact table collapses to |slices|×|distinct scores|
    * rows first. */
  def sampleSliceEval(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.lineitem(spark, sfDir).select(
      col("l_quantity").cast("long").as("q"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
      (col("l_returnflag") === "R").cast("long").as("y"),
      month(col("l_shipdate")).cast("long").as("ship_month"))
    groupedAuc(
      gbtScore(data, ModelStore.gbtFull(spark, sfDir))
        .select(col("ship_month"), col("s"), col("y")), "ship_month")
  }

  val sampleSliceEvalSql: String = {
    val terms = gbtTermsSql()
    s"""WITH ${Round12Ops.gbtCtes},
       |sraw AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
       |    CAST(month(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT)
       |      AS ship_month
       |  FROM lineitem),
       |sscored AS (
       |  SELECT ship_month, (SELECT f0 FROM gf0)
       |$terms AS s, y
       |  FROM sraw),
       |sv AS (
       |  SELECT ship_month, s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS tot
       |  FROM sscored GROUP BY 1, 2),
       |sc AS (
       |  SELECT ship_month, s,
       |    CAST(sum(pos) OVER (PARTITION BY ship_month ORDER BY s DESC)
       |      AS BIGINT) AS tp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY ship_month
       |      ORDER BY s DESC) AS BIGINT) AS fp,
       |    CAST(sum(pos) OVER (PARTITION BY ship_month) AS BIGINT) AS pp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY ship_month) AS BIGINT)
       |      AS nn
       |  FROM sv),
       |sl AS (
       |  SELECT ship_month, tp, fp, pp, nn,
       |    coalesce(lag(tp, 1) OVER (PARTITION BY ship_month
       |      ORDER BY s DESC), 0) AS tp0,
       |    coalesce(lag(fp, 1) OVER (PARTITION BY ship_month
       |      ORDER BY s DESC), 0) AS fp0
       |  FROM sc),
       |sa AS (
       |  SELECT ship_month, pp, nn,
       |    CAST(sum((tp + tp0) * (fp - fp0)) OVER (PARTITION BY ship_month)
       |      AS BIGINT) AS auc_num
       |  FROM sl)
       |SELECT ship_month, max(pp) AS pos, max(nn) AS neg,
       |  max(auc_num * 1000000 // greatest(2 * pp * nn, 1)) AS auc_ppm
       |FROM sa GROUP BY ship_month""".stripMargin
  }

  // --------------------------------------------------------------- B100
  /** k-fold cross-validation (k = 5) — the model-SELECTION protocol
    * J18's single holdout cannot give: every row is scored exactly
    * once, by the one model whose training fold excluded it, so the
    * five out-of-fold AUCs measure variance across resamples, not just
    * one split's luck. Folds are the SAME deterministic content hash
    * J18 uses (md5-h32("hold:"+rid) mod 5 — fold 0 IS J18's test
    * split, so the two protocols' numbers are directly comparable and
    * duplicate rows co-travel), each fold's model is the full B91
    * trajectory over the other four folds, and the per-fold exact
    * trapezoid AUC runs over fold-partitioned windows. The oracle
    * instantiates the shared training CTEs FIVE times (gbtCtesFrom
    * with per-fold CTE prefixes) and replays the identical scoring,
    * so all five rows hash-match.
    *
    * Scale: 5 models × 3 boosting rounds = 15 domain-bounded
    * aggregation passes over 80% of the corpus each (at 100 TB the
    * five trainings run as one shared scan per round with a fold
    * grouping column if needed — here they pipeline), one scoring
    * pass per fold with the model broadcast, and the AUC windows
    * order |folds|×|distinct scores| collapsed rows. */
  def qCvAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = ModelStore.gbtCvWide(spark, sfDir)
      .withColumnRenamed("g", "fold")
    val scored = foldRows(spark, sfDir).join(broadcast(wide), "fold")
      .select(col("fold"), gbtScoreColumn.as("s"), col("y"))
    groupedAuc(scored, "fold")
  }

  /** The five folds' joint wide models over an already-staged
    * (fold, q, dd, y) base: each row replicated to the four models
    * whose training set contains it (ModelStore's `gbtcv` build —
    * the caller stages the base once for all four GBT artifacts).
    * jointGbtModels' output closes over checkpointed relations only
    * (per-round stump argmins + f0s), so the caller drops the base
    * cache as soon as this returns. */
  private[graft] def cvWideModelsFrom(data: DataFrame): DataFrame = {
    val spark = data.sparkSession
    val train0 = data.crossJoin(broadcast(
        spark.range(cvFolds).select(col("id").as("g"))))
      .filter(col("g") =!= col("fold"))
      .select(col("g"), col("q"), col("dd"), col("y"))
    jointGbtModels(train0)
  }

  /** The learning curve's joint wide models over an already-staged
    * (fold, q, dd, y) base: nested subsets — size g trains on folds
    * 1..g, fold 0 held out (ModelStore's `gbtlc` build). */
  private[graft] def lcWideModelsFrom(data: DataFrame): DataFrame = {
    val spark = data.sparkSession
    val train0 = data.filter(col("fold") >= 1)
      .crossJoin(broadcast(
        spark.range(1, cvFolds.toLong).select(col("id").as("g"))))
      .filter(col("fold") <= col("g"))
      .select(col("g"), col("q"), col("dd"), col("y"))
    jointGbtModels(train0)
  }

  private[graft] val cvFolds = 5

  /** CV over arbitrary (q, dd, y, rid) rows — the spec hook
    * (`Round13Spec` pins: folds partition the corpus exactly; a
    * separable relation gives AUC = 10⁶ on every fold; fold 0's AUC
    * equals J18's test AUC; and the JOINT training below equals five
    * independent per-fold trainings bit-for-bit).
    *
    * The five models train TOGETHER (the B90 shared-level-loop
    * discipline applied to CV): the training state carries a `tfold`
    * column — each row replicated to the four folds whose training
    * set contains it — so every boosting round is ONE aggregation
    * pass for all five models (3 passes total where per-fold
    * scheduling pays 15), windows partition by tfold, the per-fold
    * argmins checkpoint as a 5-row relation, and scoring is one
    * 5-row-broadcast equi join on the row's own fold. Identical
    * arithmetic per fold, so the per-fold-trained oracle
    * hash-matches. */
  private[graft] def cvAucPipeline(rows: DataFrame): DataFrame = {
    import graft.functions.gf
    val data = rows.withColumn("fold",
      gf.h32(concat(lit("hold:"), col("rid"))) % cvFolds)
      .select(col("fold"), col("q"), col("dd"), col("y")).persist()
    val spark = rows.sparkSession
    val train0 = data.crossJoin(broadcast(
        spark.range(cvFolds).select(col("id").as("g"))))
      .filter(col("g") =!= col("fold"))
      .select(col("g"), col("q"), col("dd"), col("y"))
    val wide = jointGbtModels(train0).withColumnRenamed("g", "fold")
    // each row scored by the one model whose training set excluded it
    val scored = data.join(broadcast(wide), "fold")
      .select(col("fold"), gbtScoreColumn.as("s"), col("y"))
    groupedAuc(scored, "fold")
  }

  /** Train one B91 trajectory PER GROUP in shared passes: `train0`
    * carries (g, q, dd, y) with each row replicated to every group
    * whose training set contains it — ONE aggregation pass per
    * boosting round trains every group's model at once (the B90
    * shared-loop discipline), windows partition by g, and the result
    * is one wide broadcastable model row per group (f0 + each
    * round's threshold/leaves). Shared by B100's cross-validation
    * and J19's learning curve; arithmetic per group is identical to
    * a solo B91 run on that group's rows (spec-pinned). */
  private[graft] def jointGbtModels(train0: DataFrame): DataFrame =
    jointGbtWithTrajectory(train0.withColumn("w", lit(1L)))._1

  /** [[jointGbtModels]] returning BOTH halves of the training output:
    * the wide scoring rows AND the full per-group stump trajectory
    * (g, round, feature, threshold, total_sse, split_sse, leaf_left,
    * leaf_right) — column-for-column gbtPipeline's table per group,
    * computed from the same exact per-group scalars (round-15's
    * all-artifacts-joint `gbt_model_build` slices the `gbt` key's
    * stumps artifact from it; the SSE doubles use gbtPipeline's
    * identical 6dp-rounded expressions, so stored ≡ retrained still
    * holds to the bit).
    *
    * `train0` carries (g, q, dd, y, w): w is the row's multiplicity —
    * 1 for per-row callers (Σw ≡ count, bit-identical), the
    * (fold, q, dd, y) contingency counts for the build path, which
    * collapses the facts to sufficient statistics in ONE corpus pass
    * and runs every boosting round over the |cells|×|groups| relation
    * (exact: Σ over duplicate rows ≡ weighted Σ — s, n are BIGINT
    * sums, s² a DECIMAL(38,0) sum, all order- and grouping-free). */
  private[graft] def jointGbtWithTrajectory(
      train0: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val f0s = train0.groupBy(col("g"))
      .agg((lit(1000000L) * sum(col("y") * col("w"))).as("s0"),
        sum(col("w")).as("n0"))
      .select(col("g"), expr("s0 div n0").as("f0"))
      .localCheckpoint(true)
    var cur = train0.join(broadcast(f0s), "g")
      .select(col("g"), col("q"), col("dd"), col("w"),
        (col("y") * 1000000L - col("f0")).as("r"))
    val dec0 = DecimalType(38, 0)
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val stumps = (1 to Round12Ops.gbtRounds).map { t =>
      val feat = if (t % 2 == 1) col("q") else col("dd")
      val byV = cur.groupBy(col("g"), feat.as("v"))
        .agg(sum(col("r") * col("w")).as("s"), sum(col("w")).as("n"),
          sum((col("r") * col("r")).cast(dec0) * col("w")).as("s2"))
      val cum = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("g")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val curves = byV
        .withColumn("sL", sum(col("s")).over(cum))
        .withColumn("nL", sum(col("n")).over(cum))
        .withColumn("s2L", sum(col("s2")).over(cum))
        .withColumn("sT", sum(col("s")).over(all))
        .withColumn("nT", sum(col("n")).over(all))
        .withColumn("s2T", sum(col("s2")).over(all))
        .filter(col("nL") < col("nT"))
        .select(col("g"), col("v"), col("sL"), col("nL"), col("sT"),
          col("nT"),
          round((d(col("s2L")) - d(col("sL")) * d(col("sL")) / d(col("nL")))
            + ((d(col("s2T")) - d(col("s2L")))
               - d(col("sT") - col("sL")) * d(col("sT") - col("sL"))
                 / d(col("nT") - col("nL"))), 6).as("split_sse"),
          round(d(col("s2T")) - d(col("sT")) * d(col("sT")) / d(col("nT")),
            6).as("total_sse"))
      val stump = curves
        .withColumn("rn", row_number().over(Window.partitionBy(col("g"))
          .orderBy(col("split_sse"), col("v"))))
        .filter(col("rn") === 1)
        .select(col("g"), col("v").as("threshold"),
          expr("sL div nL").as("leaf_left"),
          expr("(sT - sL) div (nT - nL)").as("leaf_right"),
          col("split_sse"), col("total_sse"))
        .localCheckpoint(true)
      cur = cur.join(broadcast(stump), "g")
        .select(col("g"), col("q"), col("dd"), col("w"),
          (col("r") - when(feat <= col("threshold"), col("leaf_left"))
            .otherwise(col("leaf_right"))).as("r"))
      stump.select(col("g"), lit(t.toLong).as("round"),
        lit(Round12Ops.featName(t)).as("feature"), col("threshold"),
        col("total_sse"), col("split_sse"),
        col("leaf_left"), col("leaf_right"))
    }.reduce(_ unionByName _)
    val pivotCols = (1 to Round12Ops.gbtRounds).flatMap { t =>
      Seq(max(when(col("round") === t, col("threshold"))).as(s"thr$t"),
        max(when(col("round") === t, col("leaf_left"))).as(s"ll$t"),
        max(when(col("round") === t, col("leaf_right"))).as(s"lr$t"))
    }
    val wide = stumps.groupBy(col("g"))
      .agg(pivotCols.head, pivotCols.tail: _*)
      .join(f0s, "g")
    (wide, stumps)
  }

  val qCvAucSql: String = {
    def terms(p: String) = gbtTermsSql(pfx = p)
    val foldCtes = (0 until cvFolds).map { f =>
      Round12Ops.gbtCtesFrom(
        s"  SELECT q, dd, y FROM cvraw WHERE fold <> $f", s"x$f")
    }.mkString(",\n")
    val scoredUnion = (0 until cvFolds).map { f =>
      s"""SELECT CAST($f AS BIGINT) AS fold, (SELECT f0 FROM x${f}f0)
         |${terms(s"x$f")} AS s, y
         |FROM cvraw WHERE fold = $f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cvraw AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
       |    ('0x' || substr(md5('hold:' || CAST(l_orderkey AS VARCHAR)
       |      || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
       |      % $cvFolds AS fold
       |  FROM lineitem),
       |$foldCtes,
       |cvscored AS MATERIALIZED (
       |$scoredUnion),
       |cvv AS (
       |  SELECT fold, s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS tot
       |  FROM cvscored GROUP BY 1, 2),
       |cvc AS (
       |  SELECT fold, s,
       |    CAST(sum(pos) OVER (PARTITION BY fold ORDER BY s DESC)
       |      AS BIGINT) AS tp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY fold ORDER BY s DESC)
       |      AS BIGINT) AS fp,
       |    CAST(sum(pos) OVER (PARTITION BY fold) AS BIGINT) AS pp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY fold) AS BIGINT) AS nn
       |  FROM cvv),
       |cvl AS (
       |  SELECT fold, tp, fp, pp, nn,
       |    coalesce(lag(tp, 1) OVER (PARTITION BY fold ORDER BY s DESC),
       |      0) AS tp0,
       |    coalesce(lag(fp, 1) OVER (PARTITION BY fold ORDER BY s DESC),
       |      0) AS fp0
       |  FROM cvc),
       |cva AS (
       |  SELECT fold, pp, nn,
       |    CAST(sum((tp + tp0) * (fp - fp0)) OVER (PARTITION BY fold)
       |      AS BIGINT) AS auc_num
       |  FROM cvl)
       |SELECT fold, max(pp) AS pos, max(nn) AS neg,
       |  max(auc_num * 1000000 // greatest(2 * pp * nn, 1)) AS auc_ppm
       |FROM cva GROUP BY fold""".stripMargin
  }

  // ---------------------------------------------------------------- J19
  /** Learning curve — the data-efficiency measurement a curation
    * pipeline gates scale-up spend on ("would more data help?"):
    * NESTED training subsets of 25/50/75/100% of the train pool
    * (folds 1..s of the J18/B100 content hash — nested so the curve
    * isolates SIZE, not resampling), one B91 model per size, all four
    * trained JOINTLY in shared passes (each row replicated to every
    * size containing it — the B100 discipline), every model evaluated
    * on the SAME fixed held-out split (fold 0), exact per-size
    * trapezoid AUC. Four rows out: AUC as a function of training-set
    * size, the curve whose slope says whether the next 10 TB is worth
    * ingesting. */
  def sampleLearningCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = ModelStore.gbtLcWide(spark, sfDir)
    val scored = foldRows(spark, sfDir).filter(col("fold") === 0)
      .crossJoin(broadcast(wide))
      .select(col("g").as("train_folds"), gbtScoreColumn.as("s"), col("y"))
    groupedAuc(scored, "train_folds")
  }

  /** The curve over arbitrary (q, dd, y, rid) rows — the spec hook
    * (`Round13Spec` pins: the largest size's model IS the J18 train
    * model, so its row equals the holdout-test evaluation; sizes
    * nest; a separable relation scores 10⁶ at every size). */
  private[graft] def learningCurvePipeline(rows: DataFrame): DataFrame = {
    import graft.functions.gf
    val data = rows.withColumn("fold",
      gf.h32(concat(lit("hold:"), col("rid"))) % cvFolds)
      .select(col("fold"), col("q"), col("dd"), col("y")).persist()
    val spark = rows.sparkSession
    // nested subsets: size s trains on folds 1..s (fold 0 is held out)
    val train0 = data.filter(col("fold") >= 1)
      .crossJoin(broadcast(
        spark.range(1, cvFolds.toLong).select(col("id").as("g"))))
      .filter(col("fold") <= col("g"))
      .select(col("g"), col("q"), col("dd"), col("y"))
    val wide = jointGbtModels(train0)
    val test = data.filter(col("fold") === 0)
    // every size's model scores the SAME held-out rows: a 4-row
    // broadcast fan-out of the 20% test split
    val scored = test.crossJoin(broadcast(wide))
      .select(col("g").as("train_folds"), gbtScoreColumn.as("s"), col("y"))
    groupedAuc(scored, "train_folds")
  }

  val sampleLearningCurveSql: String = {
    def terms(p: String) = gbtTermsSql(pfx = p)
    val sizeCtes = (1 until cvFolds).map { g =>
      Round12Ops.gbtCtesFrom(
        s"  SELECT q, dd, y FROM lcraw WHERE fold >= 1 AND fold <= $g",
        s"L$g")
    }.mkString(",\n")
    val scoredUnion = (1 until cvFolds).map { g =>
      s"""SELECT CAST($g AS BIGINT) AS train_folds,
         |  (SELECT f0 FROM L${g}f0)
         |${terms(s"L$g")} AS s, y
         |FROM lcraw WHERE fold = 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH lcraw AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
       |    ('0x' || substr(md5('hold:' || CAST(l_orderkey AS VARCHAR)
       |      || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
       |      % $cvFolds AS fold
       |  FROM lineitem),
       |$sizeCtes,
       |lcscored AS MATERIALIZED (
       |$scoredUnion),
       |lcv AS (
       |  SELECT train_folds, s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS tot
       |  FROM lcscored GROUP BY 1, 2),
       |lcc AS (
       |  SELECT train_folds, s,
       |    CAST(sum(pos) OVER (PARTITION BY train_folds ORDER BY s DESC)
       |      AS BIGINT) AS tp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY train_folds
       |      ORDER BY s DESC) AS BIGINT) AS fp,
       |    CAST(sum(pos) OVER (PARTITION BY train_folds) AS BIGINT) AS pp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY train_folds) AS BIGINT)
       |      AS nn
       |  FROM lcv),
       |lcl AS (
       |  SELECT train_folds, tp, fp, pp, nn,
       |    coalesce(lag(tp, 1) OVER (PARTITION BY train_folds
       |      ORDER BY s DESC), 0) AS tp0,
       |    coalesce(lag(fp, 1) OVER (PARTITION BY train_folds
       |      ORDER BY s DESC), 0) AS fp0
       |  FROM lcc),
       |lca AS (
       |  SELECT train_folds, pp, nn,
       |    CAST(sum((tp + tp0) * (fp - fp0))
       |      OVER (PARTITION BY train_folds) AS BIGINT) AS auc_num
       |  FROM lcl)
       |SELECT train_folds, max(pp) AS pos, max(nn) AS neg,
       |  max(auc_num * 1000000 // greatest(2 * pp * nn, 1)) AS auc_ppm
       |FROM lca GROUP BY train_folds""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sample_learning_curve", sampleLearningCurve,
      sampleLearningCurveSql),
    QueryDef("q_cv_auc", qCvAuc, qCvAucSql),
    QueryDef("q_confusion", qConfusion, qConfusionSql),
    QueryDef("q_gbt_eval", qGbtEval, qGbtEvalSql),
    QueryDef("q_forest_eval", qForestEval, qForestEvalSql),
    QueryDef("q_pr_curve", qPrCurve, qPrCurveSql),
    QueryDef("q_calibration", qCalibration, qCalibrationSql),
    QueryDef("sample_holdout_eval", sampleHoldoutEval, sampleHoldoutEvalSql),
    QueryDef("q_feature_importance", qFeatureImportance, qFeatureImportanceSql),
    QueryDef("q_gbt_importance", qGbtImportance, qGbtImportanceSql),
    QueryDef("q_model_compare", qModelCompare, qModelCompareSql),
    QueryDef("q_cost_curve", qCostCurve, qCostCurveSql),
    QueryDef("q_isotonic_calibration", qIsotonicCalibration,
      qIsotonicCalibrationSql),
    QueryDef("sample_slice_eval", sampleSliceEval, sampleSliceEvalSql),
    QueryDef("q_oob_eval", qOobEval, qOobEvalSql))
}
