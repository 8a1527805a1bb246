package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef

/** Round 15 — the forest side of the evaluation-protocol family:
  * k-fold cross-validation (B105) and the learning curve (J21) for
  * the B90 random forest, plus the per-fold McNemar comparison
  * (B106) those protocols enable. Mirrors the GBT protocol surface
  * (B100 `q_cv_auc`, J19 `sample_learning_curve`, B102
  * `q_model_compare`) so BOTH model families carry the same
  * selection/efficiency/significance story.
  *
  * Training discipline: the jointGbtModels shared-pass idea applied
  * to the forest's PLANET level loop — every (protocol group, tree)
  * pair enters ONE level loop as a distinct node prefix
  * (`c{g}t{t}r` for CV groups, `s{g}t{t}r` for curve sizes), so one
  * aggregation pass per level trains every open node of every tree
  * of every group at once: 2 passes for 20 CV trees + 16 curve
  * trees where per-group scheduling would pay groups×trees×levels.
  * Per-group arithmetic is identical to a solo B90 run on that
  * group's training rows (the level loop partitions everything by
  * the node path, which carries the group), so the per-group-trained
  * DuckDB oracles hash-match — spec-pinned joint ≡ solo.
  *
  * Scale: training shuffles |groups|·|trees|·|open nodes| ×
  * |distinct values| rows per level — domain-bounded regardless of
  * corpus size; the replicated union behind it is map-side combined
  * before any exchange. Scoring reads the STORED artifacts
  * (ModelStore `forestcv`/`forestlc`): the split tables pivot to one
  * broadcastable row PER GROUP, leaf routing is a pure column
  * expression, leaf-score lookups are equi broadcast joins on the
  * group-prefixed leaf string, and every evaluation window
  * partitions by fold/size — at 100 TB each protocol row is ONE
  * linear pass over the facts with zero corpus-scale exchange.
  *
  * Reference provenance: the reference pipeline retrains its model
  * per refresh with a single holdout (gcp_processes.py:29-47's
  * CURRENT_IND refresh discipline is the closest analog); the
  * protocol axes here are the standard ones (Stone 1974 CV;
  * Breiman 2001 forests; McNemar 1947 paired comparison). */
object Round15Ops {

  private val trees = Round12Ops.forestTrees
  private val folds = Round13Ops.cvFolds

  // ------------------------------------------------------- training

  /** Collapse (fold, q, dd, y, rid) rows to the forest training
    * SUFFICIENT STATISTICS in one corpus pass: per-tree bag-
    * membership flags (the SAME md5-h32 hash B90 uses, so a group's
    * tree-t bag is exactly the solo forest's tree-t bag restricted
    * to the group's training rows) plus the multiplicity w. ≤
    * |folds|·2^trees·|q|·|dd|·2 cells regardless of corpus size —
    * every protocol group's training then runs over the weighted
    * cells (exact: class totals are integer sums, so Σ over
    * duplicate rows ≡ weighted Σ). */
  private[graft] def forestCells(data: DataFrame): DataFrame = {
    import graft.functions.gf
    val flags = (0 until trees).map(t =>
      (gf.h32(concat(lit(s"frst:$t:"), col("rid"))) % trees =!= 0)
        .as(s"m$t"))
    data.select(Seq(col("fold"), col("q"), col("dd"), col("y"))
        ++ flags: _*)
      .groupBy((Seq("fold", "q", "dd", "y")
        ++ (0 until trees).map(t => s"m$t")).map(col): _*)
      .agg(count(lit(1)).as("w"))
      // Partitioned by (q, dd) at slot parallelism, NOT coalesce(1)
      // (r20 optimization; guide §2.5): the r15 coalesce existed
      // because the then-36-BRANCH protocol union over 32-partition
      // cells scheduled ~1000 near-empty tasks per pass — but
      // jointAssign is now ONE explode pass (below), so there is no
      // branch multiplication left, and the 1-partition cache made
      // the assignment materialization and every routing pass a
      // single task (measured: the 1.6 s 1-task stage inside
      // forest_cv_build). An explicit hash repartition also survives
      // AQE coalescing, which would otherwise fold the ~2 MB agg
      // output back to one partition.
      .repartition(data.sparkSession.sparkContext.defaultParallelism,
        col("q"), col("dd"))
  }

  /** The joint assignment over the cells: every (group, tree) root as
    * node `$letter${g}t${t}r`, cells filtered by the group's training
    * predicate and the tree's bag flag. ONE explode pass (r20
    * optimization; guide §2.4 "don't multiply passes"): the old
    * |groups|·|trees|-branch filter union re-read the cells once per
    * branch and its materialization collapsed to a single task over
    * the 1-partition cache; the explode emits exactly the same
    * (node, q, dd, y, w) multiset — per cell, the nodes whose group
    * predicate AND bag flag hold — in one pass at the cells'
    * parallelism. */
  private def jointAssign(cells: DataFrame, letter: String,
      groups: Seq[Int], trains: Int => Column): DataFrame = {
    val nodeCols = groups.flatMap { g =>
      (0 until trees).map { t =>
        when(trains(g) && col(s"m$t"), lit(s"$letter${g}t${t}r"))
      }
    }
    cells
      .select(explode(array_compact(array(nodeCols: _*))).as("node"),
        col("q"), col("dd"), col("y"), col("w"))
  }

  /** Train every group's forest in ONE shared level loop and derive
    * every tree's own-bag leaf scores in ONE routing pass — returns
    * (levels, leaf_scores), the ModelStore artifact pair (both
    * eagerly checkpointed, so the caller can drop the cells cache).
    * The assignment is materialized once: the level loop and the
    * leaf routing each make multiple passes over it, and the cells
    * behind it are domain-bounded. */
  private def artifactsOf(assign0: DataFrame): Seq[DataFrame] = {
    val assign = assign0.localCheckpoint(true)
    val levels = Round12Ops.levelLoop(assign, Round12Ops.forestDepth)
      .localCheckpoint(true)
    val model = levels.select(col("level"), col("node"), col("threshold"))
    val leafScores = Round13Ops.routeForest(assign, model)
      .groupBy(col("node"))
      .agg(expr("1000000 * sum(w * y) div sum(w)").as("ls"))
      .localCheckpoint(true)
    Seq(levels, leafScores)
  }

  private def cvAssign(cells: DataFrame): DataFrame =
    jointAssign(cells, "c", 0 until folds, g => col("fold") =!= g)
  private def lcAssign(cells: DataFrame): DataFrame =
    jointAssign(cells, "s", 1 until folds,
      g => col("fold") >= 1 && col("fold") <= g)

  /** CV groups g ∈ 0..4 train on fold ≠ g (the B100 protocol), over
    * an already-collapsed [[forestCells]] relation. */
  private[graft] def forestCvArtifacts(cells: DataFrame): Seq[DataFrame] =
    artifactsOf(cvAssign(cells))

  /** Curve sizes g ∈ 1..4 train on folds 1..g — nested subsets, fold
    * 0 held out (the J19 protocol) — over [[forestCells]]. */
  private[graft] def forestLcArtifacts(cells: DataFrame): Seq[DataFrame] =
    artifactsOf(lcAssign(cells))

  /** BOTH protocol families in ONE level loop — all 36 roots (20 CV
    * + 16 curve trees, letter-disjoint node prefixes) train together
    * and route together; `forest_cv_build` slices the two store keys
    * from the result by prefix. Per-group arithmetic is node-path-
    * partitioned, so each slice is bit-identical to the per-protocol
    * build (which the solo cold paths still use). */
  private[graft] def forestProtocolsJoint(cells: DataFrame): Seq[DataFrame] =
    artifactsOf(cvAssign(cells) unionByName lcAssign(cells))

  // -------------------------------------------------------- scoring

  /** Pivot the joint split table into one row PER GROUP (g parsed
    * from the node prefix — single-digit groups by construction):
    * per tree, the root threshold and both child thresholds (null =
    * unsplit), the B94 broadcast-pivot shape widened by the group
    * key. ≤5 rows, checkpointed. */
  private def groupPivot(levels: DataFrame): DataFrame = {
    val parsed = levels.select(
      expr("CAST(substring(node, 2, 1) AS BIGINT)").as("g"),
      expr("substring(node, 3)").as("rest"), col("threshold"))
    val pivotCols = (0 until trees).flatMap { t =>
      Seq(max(when(col("rest") === s"t${t}r", col("threshold")))
          .as(s"thr_$t"),
        max(when(col("rest") === s"t${t}rL", col("threshold")))
          .as(s"thrL_$t"),
        max(when(col("rest") === s"t${t}rR", col("threshold")))
          .as(s"thrR_$t"))
    }
    parsed.groupBy(col("g")).agg(pivotCols.head, pivotCols.tail: _*)
      .localCheckpoint(true)
  }

  /** Score rows that already carry their group's pivot columns:
    * per-tree group-prefixed leaf strings as pure column
    * expressions, leaf-score lookups as equi broadcast joins,
    * forest score `s` = truncated mean of the 4 per-tree leaf
    * values (0 for a leaf no bag row reached — B94's convention).
    * Drops the pivot columns; keeps everything else (the compare
    * query carries the GBT model columns through). */
  private def forestGroupedScore(rows: DataFrame, leafScores: DataFrame,
      letter: String, gCol: String): DataFrame = {
    def kid(t: Int, side: String, thr: String) =
      when(col(thr).isNull, lit(s"t${t}r$side"))
        .otherwise(concat(lit(s"t${t}r$side"),
          when(col("dd") <= col(thr), lit("L")).otherwise(lit("R"))))
    def leaf(t: Int) =
      concat(lit(letter), col(gCol).cast("string"),
        when(col(s"thr_$t").isNull, lit(s"t${t}r"))
          .otherwise(when(col("q") <= col(s"thr_$t"),
            kid(t, "L", s"thrL_$t")).otherwise(kid(t, "R", s"thrR_$t"))))
        .as(s"leaf_$t")
    val keep = rows.columns.filterNot(c => c.startsWith("thr_")
      || c.startsWith("thrL_") || c.startsWith("thrR_")).map(col)
    val withLeaves = rows.select(keep ++ (0 until trees).map(leaf): _*)
    val joined = (0 until trees).foldLeft(withLeaves) { (d, t) =>
      d.join(broadcast(leafScores
          .select(col("node").as(s"leaf_$t"), col("ls").as(s"ls_$t"))),
        Seq(s"leaf_$t"), "left")
    }
    joined.withColumn("s",
      expr((0 until trees).map(t => s"coalesce(ls_$t, 0)")
        .mkString("(", " + ", s") div $trees")))
  }

  // ----------------------------------------------------------- B105
  /** k-fold cross-validation for the RANDOM FOREST (k = 5) — B100's
    * model-selection protocol applied to the second model family:
    * every row is scored exactly once, by the one forest whose
    * training folds excluded it, folds are the SAME deterministic
    * content hash (so the GBT and forest CV rows are directly
    * comparable per fold), and the per-fold exact trapezoid AUC runs
    * over fold-partitioned windows. Scoring reads the standing
    * `forestcv` artifacts: a 5-row group pivot broadcast-joined on
    * the row's own fold — ONE linear pass, zero corpus shuffle
    * before the |folds|×|distinct scores| collapse. */
  def qForestCvAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val (levels, ls) = ModelStore.forestCvModel(spark, sfDir)
    val pivot = groupPivot(levels).withColumnRenamed("g", "fold")
    val scored = forestGroupedScore(
      Round13Ops.foldRows(spark, sfDir).join(broadcast(pivot), "fold"),
      ls, "c", "fold")
    Round13Ops.groupedAuc(
      scored.select(col("fold"), col("s"), col("y")), "fold")
  }

  /** CV over arbitrary (q, dd, y, rid) rows — the spec hook
    * (`Round15Spec` pins joint ≡ solo per-fold forests, separable
    * AUC = 10⁶ per fold, and fold partition of the corpus). */
  private[graft] def forestCvPipeline(rows: DataFrame): DataFrame = {
    import graft.functions.gf
    val data = rows.withColumn("fold",
      gf.h32(concat(lit("hold:"), col("rid"))) % folds).persist()
    // eagerly checkpoint the (5-row) result so the corpus cache can
    // drop before returning — ScaleProbe calls this on corpora
    // replicated up to ×100, and a leaked corpus-sized cache per
    // scale point would distort the probe via spill (r15 advisor)
    try {
      val Seq(levels, ls) = forestCvArtifacts(forestCells(data))
      val pivot = groupPivot(levels).withColumnRenamed("g", "fold")
      val scored = forestGroupedScore(
        data.select(col("fold"), col("q"), col("dd"), col("y"))
          .join(broadcast(pivot), "fold"),
        ls, "c", "fold")
      Round13Ops.groupedAuc(
        scored.select(col("fold"), col("s"), col("y")), "fold")
        .localCheckpoint(true)
    } finally { data.unpersist(); () }
  }

  // ------------------------------------------------------------ J21
  /** Learning curve for the RANDOM FOREST — J19's data-efficiency
    * measurement on the second family: nested training subsets of
    * 25/50/75/100% of the train pool (folds 1..g), one forest per
    * size trained jointly, every size evaluated on the SAME fixed
    * held-out fold 0, exact per-size trapezoid AUC. Four rows out;
    * read next to J19's GBT curve, the pair says which family's
    * accuracy is still data-bound — the scale-up-spend signal. */
  def sampleForestCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val (levels, ls) = ModelStore.forestLcModel(spark, sfDir)
    val pivot = groupPivot(levels)
    val scored = forestGroupedScore(
      Round13Ops.foldRows(spark, sfDir).filter(col("fold") === 0)
        .crossJoin(broadcast(pivot)),
      ls, "s", "g")
    Round13Ops.groupedAuc(
      scored.select(col("g").as("train_folds"), col("s"), col("y")),
      "train_folds")
  }

  /** The curve over arbitrary (q, dd, y, rid) rows — the spec hook
    * (`Round15Spec` pins: the largest size's forest ≡ the CV fold-0
    * forest, so their evaluation rows agree; sizes nest). */
  private[graft] def forestCurvePipeline(rows: DataFrame): DataFrame = {
    import graft.functions.gf
    val data = rows.withColumn("fold",
      gf.h32(concat(lit("hold:"), col("rid"))) % folds).persist()
    // checkpoint-then-unpersist: see forestCvPipeline (r15 advisor)
    try {
      val Seq(levels, ls) = forestLcArtifacts(forestCells(data))
      val pivot = groupPivot(levels)
      val scored = forestGroupedScore(
        data.filter(col("fold") === 0)
          .select(col("fold"), col("q"), col("dd"), col("y"))
          .crossJoin(broadcast(pivot)),
        ls, "s", "g")
      Round13Ops.groupedAuc(
        scored.select(col("g").as("train_folds"), col("s"), col("y")),
        "train_folds")
        .localCheckpoint(true)
    } finally { data.unpersist(); () }
  }

  // ----------------------------------------------------------- B106
  /** Per-fold McNemar champion/challenger comparison — B102's paired
    * test with the SIGNIFICANCE STORY cross-validation buys: five
    * independent resamples, each fold's rows scored by the two
    * models (GBT `gbtcv`, forest `forestcv`) whose training excluded
    * them, so the five χ² rows are out-of-sample AND paired — the
    * distribution of (b−c) across folds is what separates a real
    * family advantage from one split's luck (a one-row full-corpus
    * McNemar on training scores cannot). Both stored artifacts
    * broadcast over ONE scan of the facts; the only shuffle is the
    * map-side-combined collapse to 5 rows. */
  def qModelCompareCv(spark: SparkSession, sfDir: String): DataFrame = {
    val (levels, ls) = ModelStore.forestCvModel(spark, sfDir)
    val fPivot = groupPivot(levels).withColumnRenamed("g", "fold")
    val gWide = ModelStore.gbtCvWide(spark, sfDir)
      .withColumnRenamed("g", "fold")
    val rows = Round13Ops.foldRows(spark, sfDir)
      .join(broadcast(fPivot), "fold")
      .join(broadcast(gWide), "fold")
    val scored = forestGroupedScore(rows, ls, "c", "fold")
      .withColumnRenamed("s", "s_f")
      .withColumn("s_g", Round13Ops.gbtScoreColumn)
    Round13Ops.modelCompareGrouped(
      scored.select(col("fold"), col("s_g"), col("s_f"), col("y")),
      Seq("fold"))
  }

  // ----------------------------------------------------------- B107
  /** Per-fold forest feature importances — importance STABILITY
    * across resamples (Breiman 2001 §10 read over Stone-1974 folds):
    * B97's node-weighted impurity-decrease arithmetic applied to
    * each CV fold's forest, one row per (fold, tree, feature). A
    * feature whose importance swings across folds is fit to the
    * resample, not the signal — the interpretation-QA view a single
    * forest's importance table cannot give. ZERO extra training or
    * fact passes: the stored `forestcv` levels relation already
    * carries every node's (gini, pp, nn); the whole plan is
    * model-sized (≤ folds·trees·levels rows). */
  def qForestImportanceCv(spark: SparkSession, sfDir: String): DataFrame = {
    val levels = ModelStore.forestCvModel(spark, sfDir)._1
    Round13Ops.featureImportanceFrom(
      levels.select(
        expr("CAST(substring(node, 2, 1) AS BIGINT)").as("fold"),
        expr("substring(node, 3)").as("node"),
        col("level"), col("feature"), col("gini"), col("pp"), col("nn")),
      Seq("fold"))
  }

  // ----------------------------------------------------------- B108
  /** Out-of-sample calibration — B96's reliability table computed on
    * HELD-OUT scores: every row is scored by the one CV model whose
    * training folds excluded it, so each bin's observed rate is an
    * honest estimate of the deployed probability (the in-sample
    * table B96 bins training scores, which overstates fit — the
    * difference between these two tables IS the calibration
    * overfit, read side by side). Same columns as B96 so the
    * comparison is direct; bins are |folds|×|distinct scores| ≤ 40 —
    * still model-sized. One scan, the 5-row wide model broadcast,
    * the only shuffle the map-side-combined bin collapse. */
  def qCalibrationCv(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = ModelStore.gbtCvWide(spark, sfDir)
      .withColumnRenamed("g", "fold")
    Round13Ops.foldRows(spark, sfDir).join(broadcast(wide), "fold")
      .select(Round13Ops.gbtScoreColumn.as("s"), col("y"))
      .groupBy(col("s").as("score_ppm"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .select(col("score_ppm"), col("n"),
        expr("pos * 1000000 div n").as("observed_ppm"),
        expr("score_ppm - pos * 1000000 div n").as("gap_ppm"))
  }

  /** The table over arbitrary (q, dd, y, rid) rows — the spec hook
    * (`Round15Spec` pins out-of-fold mass conservation, the per-bin
    * gap identity, and zero gaps on a separable plant). */
  private[graft] def calibrationCvPipeline(rows: DataFrame): DataFrame = {
    import graft.functions.gf
    val data = rows.withColumn("fold",
      gf.h32(concat(lit("hold:"), col("rid"))) % folds)
      .select(col("fold"), col("q"), col("dd"), col("y")).persist()
    // checkpoint-then-unpersist: see forestCvPipeline (r15 advisor)
    try {
      val spark = rows.sparkSession
      val train0 = data.crossJoin(broadcast(
          spark.range(folds).select(col("id").as("g"))))
        .filter(col("g") =!= col("fold"))
        .select(col("g"), col("q"), col("dd"), col("y"))
      val wide = Round13Ops.jointGbtModels(train0)
        .withColumnRenamed("g", "fold")
      data.join(broadcast(wide), "fold")
        .select(Round13Ops.gbtScoreColumn.as("s"), col("y"))
        .groupBy(col("s").as("score_ppm"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .select(col("score_ppm"), col("n"),
          expr("pos * 1000000 div n").as("observed_ppm"),
          expr("score_ppm - pos * 1000000 div n").as("gap_ppm"))
        .localCheckpoint(true)
    } finally { data.unpersist(); () }
  }

  // ---------------------------------------------------------- oracle

  private[operators] val crawCte: String =
    s"""craw AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
       |    CAST(l_orderkey AS VARCHAR) || ':' ||
       |      CAST(l_linenumber AS VARCHAR) AS rid,
       |    ('0x' || substr(md5('hold:' || CAST(l_orderkey AS VARCHAR) ||
       |      ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
       |      % $folds AS fold
       |  FROM lineitem)""".stripMargin

  /** The five per-fold CV GBT training chains (prefixes x0..x4) over
    * `craw` — ONE definition shared by B108's oracle here and the
    * B109/B110 oracles (Round16Ops.oofScoredCtes): a change to the
    * CV training CTE shape lands in every out-of-fold oracle at once
    * (r16 review). */
  private[operators] def cvGbtChainsSql: String =
    (0 until folds).map { f =>
      Round12Ops.gbtCtesFrom(
        s"  SELECT q, dd, y FROM craw WHERE fold <> $f", s"x$f")
    }.mkString(",\n")

  private val pivotColsSql: String = (0 until trees).flatMap { t =>
    Seq(s"max(CASE WHEN node = 't${t}r' THEN v END) AS thr_$t",
      s"max(CASE WHEN node = 't${t}rL' THEN v END) AS thrL_$t",
      s"max(CASE WHEN node = 't${t}rR' THEN v END) AS thrR_$t")
  }.mkString(",\n    ")

  private def leafSql(t: Int): String =
    s"""CASE WHEN p.thr_$t IS NULL THEN 't${t}r'
       |    WHEN e.q <= p.thr_$t THEN
       |      CASE WHEN p.thrL_$t IS NULL THEN 't${t}rL'
       |           WHEN e.dd <= p.thrL_$t THEN 't${t}rLL'
       |           ELSE 't${t}rLR' END
       |    ELSE
       |      CASE WHEN p.thrR_$t IS NULL THEN 't${t}rR'
       |           WHEN e.dd <= p.thrR_$t THEN 't${t}rRL'
       |           ELSE 't${t}rRR' END END AS leaf_$t""".stripMargin

  private val scoreSumSql: String =
    (0 until trees).map(t => s"coalesce(l$t.ls, 0)").mkString(" + ")

  /** Per-group scoring CTEs over an already-generated training chain
    * `${pfx}0`/`${pfx}sel1/2` (forestCtesOver): own-bag leaf scores,
    * the threshold pivot, leaf strings for the `srcCond` rows, and
    * the scored relation `${pfx}sc` whose projection the caller
    * chooses (AUC wants `s, y`; the compare adds the GBT terms). */
  private def scoreCtes(pfx: String, srcCond: String,
      evExtra: String, scSelect: String): String = {
    val leafJoins = (0 until trees)
      .map(t => s"LEFT JOIN ${pfx}ls l$t ON l$t.node = e.leaf_$t")
      .mkString("\n  ")
    s"""${pfx}bg1 AS (
       |  SELECT CASE WHEN s.v IS NULL THEN b.node
       |    ELSE b.node || CASE WHEN b.q <= s.v THEN 'L' ELSE 'R' END
       |    END AS node, b.dd, b.y
       |  FROM ${pfx}0 b LEFT JOIN ${pfx}sel1 s ON s.node = b.node),
       |${pfx}bg2 AS (
       |  SELECT CASE WHEN s.v IS NULL THEN b.node
       |    ELSE b.node || CASE WHEN b.dd <= s.v THEN 'L' ELSE 'R' END
       |    END AS node, b.y
       |  FROM ${pfx}bg1 b LEFT JOIN ${pfx}sel2 s ON s.node = b.node),
       |${pfx}ls AS MATERIALIZED (
       |  SELECT node, 1000000 * CAST(sum(y) AS BIGINT) // count(*) AS ls
       |  FROM ${pfx}bg2 GROUP BY 1),
       |${pfx}pv AS MATERIALIZED (
       |  SELECT $pivotColsSql
       |  FROM (SELECT node, v FROM ${pfx}sel1
       |        UNION ALL SELECT node, v FROM ${pfx}sel2)),
       |${pfx}ev AS (
       |  SELECT e.y$evExtra,
       |${(0 until trees).map(leafSql).mkString(",\n")}
       |  FROM (SELECT * FROM craw WHERE $srcCond) e, ${pfx}pv p),
       |${pfx}sc AS (
       |  SELECT $scSelect
       |  FROM ${pfx}ev e
       |  $leafJoins)""".stripMargin
  }

  /** The qCvAucSql grouped exact-trapezoid AUC tail over a CTE
    * `rel(groupCol, s, y)`. */
  private def groupedAucSql(rel: String, g: String): String =
    s"""zv AS (
       |  SELECT $g, s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS tot
       |  FROM $rel GROUP BY 1, 2),
       |zc AS (
       |  SELECT $g, s,
       |    CAST(sum(pos) OVER (PARTITION BY $g ORDER BY s DESC)
       |      AS BIGINT) AS tp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY $g ORDER BY s DESC)
       |      AS BIGINT) AS fp,
       |    CAST(sum(pos) OVER (PARTITION BY $g) AS BIGINT) AS pp,
       |    CAST(sum(tot - pos) OVER (PARTITION BY $g) AS BIGINT) AS nn
       |  FROM zv),
       |zl AS (
       |  SELECT $g, tp, fp, pp, nn,
       |    coalesce(lag(tp, 1) OVER (PARTITION BY $g ORDER BY s DESC),
       |      0) AS tp0,
       |    coalesce(lag(fp, 1) OVER (PARTITION BY $g ORDER BY s DESC),
       |      0) AS fp0
       |  FROM zc),
       |za AS (
       |  SELECT $g, pp, nn,
       |    CAST(sum((tp + tp0) * (fp - fp0)) OVER (PARTITION BY $g)
       |      AS BIGINT) AS auc_num
       |  FROM zl)
       |SELECT $g, max(pp) AS pos, max(nn) AS neg,
       |  max(auc_num * 1000000 // greatest(2 * pp * nn, 1)) AS auc_ppm
       |FROM za GROUP BY $g""".stripMargin

  val qForestCvAucSql: String = {
    val chains = (0 until folds).map { g =>
      Round12Ops.forestCtesOver("craw", s"fold <> $g", s"c${g}k") + ",\n" +
        scoreCtes(s"c${g}k", s"fold = $g", "",
          s"CAST($scoreSumSql AS BIGINT) // $trees AS s, e.y")
    }.mkString(",\n")
    val scoredUnion = (0 until folds).map { g =>
      s"SELECT CAST($g AS BIGINT) AS fold, s, y FROM c${g}ksc"
    }.mkString("\nUNION ALL\n")
    s"""WITH $crawCte,
       |$chains,
       |fcvscored AS MATERIALIZED (
       |$scoredUnion),
       |${groupedAucSql("fcvscored", "fold")}""".stripMargin
  }

  val sampleForestCurveSql: String = {
    val chains = (1 until folds).map { g =>
      Round12Ops.forestCtesOver("craw",
        s"fold >= 1 AND fold <= $g", s"s${g}k") + ",\n" +
        scoreCtes(s"s${g}k", "fold = 0", "",
          s"CAST($scoreSumSql AS BIGINT) // $trees AS s, e.y")
    }.mkString(",\n")
    val scoredUnion = (1 until folds).map { g =>
      s"SELECT CAST($g AS BIGINT) AS train_folds, s, y FROM s${g}ksc"
    }.mkString("\nUNION ALL\n")
    s"""WITH $crawCte,
       |$chains,
       |flcscored AS MATERIALIZED (
       |$scoredUnion),
       |${groupedAucSql("flcscored", "train_folds")}""".stripMargin
  }

  val qModelCompareCvSql: String = {
    val gbtChains = (0 until folds).map { f =>
      Round12Ops.gbtCtesFrom(
        s"  SELECT q, dd, y FROM craw WHERE fold <> $f", s"x$f")
    }.mkString(",\n")
    val forestChains = (0 until folds).map { f =>
      Round12Ops.forestCtesOver("craw", s"fold <> $f", s"c${f}k") + ",\n" +
        scoreCtes(s"c${f}k", s"fold = $f", ", e.q, e.dd",
          s"""CAST($scoreSumSql AS BIGINT) // $trees AS s_f,
             |    (SELECT f0 FROM x${f}f0)
             |${Round13Ops.gbtTermsSql(s"x$f", "e.")} AS s_g, e.y"""
            .stripMargin)
    }.mkString(",\n")
    val scoredUnion = (0 until folds).map { f =>
      s"SELECT CAST($f AS BIGINT) AS fold, s_g, s_f, y FROM c${f}ksc"
    }.mkString("\nUNION ALL\n")
    s"""WITH $crawCte,
       |$gbtChains,
       |$forestChains,
       |mcv AS MATERIALIZED (
       |$scoredUnion),
       |mpred AS (
       |  SELECT fold, y,
       |    CASE WHEN s_g >= 500000 THEN 1 ELSE 0 END AS p_g,
       |    CASE WHEN s_f >= 500000 THEN 1 ELSE 0 END AS p_f
       |  FROM mcv),
       |magg AS (
       |  SELECT fold, CAST(count(*) AS BIGINT) AS n,
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
       |  FROM mpred GROUP BY fold)
       |SELECT fold, n, agree_pos, agree_neg, only_gbt_pos,
       |  only_forest_pos,
       |  gc * 1000000 // n AS gbt_acc_ppm,
       |  fc * 1000000 // n AS forest_acc_ppm,
       |  b_gbt_only_right, c_forest_only_right,
       |  (b_gbt_only_right - c_forest_only_right)
       |    * (b_gbt_only_right - c_forest_only_right) * 1000000
       |    // greatest(b_gbt_only_right + c_forest_only_right, 1)
       |    AS mcnemar_x2_ppm
       |FROM magg""".stripMargin
  }

  val qForestImportanceCvSql: String = {
    val pg =
      """round((CAST(nn AS DOUBLE)
        |      - (CAST(pp AS DOUBLE) * CAST(pp AS DOUBLE)
        |         + CAST(nn - pp AS DOUBLE) * CAST(nn - pp AS DOUBLE))
        |        / CAST(nn AS DOUBLE)) / CAST(nn AS DOUBLE), 6)""".stripMargin
    val chains = (0 until folds).map { f =>
      Round12Ops.forestCtesOver("craw", s"fold <> $f", s"c${f}k")
    }.mkString(",\n")
    val imp0 = (0 until folds).flatMap { f =>
      Seq(s"""SELECT CAST($f AS BIGINT) AS fold,
             |    substr(node, 1, 2) AS tree, 'l_quantity' AS feature,
             |    pp, nn, gini
             |  FROM c${f}ksel1""".stripMargin,
        s"""SELECT CAST($f AS BIGINT), substr(node, 1, 2),
           |    'l_discount_cents', pp, nn, gini
           |  FROM c${f}ksel2""".stripMargin)
    }.mkString("\n  UNION ALL\n  ")
    val nt = (0 until folds).map { f =>
      s"""SELECT CAST($f AS BIGINT) AS fold,
         |    substr(node, 1, 2) AS tree, nn AS n_tree
         |  FROM c${f}ksel1""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $crawCte,
       |$chains,
       |fimp0 AS (
       |  $imp0),
       |fimpg AS (
       |  SELECT fold, tree, feature, nn,
       |    CAST(round(($pg - gini) * 1000000) AS BIGINT) AS gain_ppm
       |  FROM fimp0),
       |fnt AS (
       |  $nt)
       |SELECT fold, tree, feature,
       |  CAST(sum(nn * gain_ppm) AS BIGINT) // n_tree AS importance_ppm
       |FROM fimpg JOIN fnt USING (fold, tree)
       |GROUP BY fold, tree, feature, n_tree""".stripMargin
  }

  val qCalibrationCvSql: String = {
    val gbtChains = cvGbtChainsSql
    val scoredUnion = (0 until folds).map { f =>
      s"""SELECT (SELECT f0 FROM x${f}f0)
         |${Round13Ops.gbtTermsSql(s"x$f")} AS s, y
         |FROM craw WHERE fold = $f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $crawCte,
       |$gbtChains,
       |ccv AS MATERIALIZED (
       |$scoredUnion),
       |ccal AS (
       |  SELECT s AS score_ppm, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos
       |  FROM ccv GROUP BY 1)
       |SELECT score_ppm, n,
       |  pos * 1000000 // n AS observed_ppm,
       |  score_ppm - pos * 1000000 // n AS gap_ppm
       |FROM ccal""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_forest_cv_auc", qForestCvAuc, qForestCvAucSql),
    QueryDef("sample_forest_curve", sampleForestCurve, sampleForestCurveSql),
    QueryDef("q_model_compare_cv", qModelCompareCv, qModelCompareCvSql),
    QueryDef("q_forest_importance_cv", qForestImportanceCv,
      qForestImportanceCvSql),
    QueryDef("q_calibration_cv", qCalibrationCv, qCalibrationCvSql))
}
