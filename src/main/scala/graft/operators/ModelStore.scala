package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run-shared store of TRAINED MODELS — the BpeStore/AnnIndexStore
  * lifecycle pattern applied to the evaluation family (SURVEY §2
  * B93-B100, J18/J19, G25/G26): a trained model is a written
  * artifact whose lifecycle is independent of any query, so training
  * runs ONCE per (corpus, protocol) per run and persists under the
  * resolved `graft.store.root` (H20 — a cluster points every
  * standing artifact at a shared object-store prefix with one
  * setting, and the per-JVM cache keys on the RESOLVED root, so an
  * A/B rebuild under a fresh root is a genuine cold build). Every
  * scorer then reads the standing artifact, so its bench row times
  * scoring + evaluation; the one-time trainings are carried by the
  * explicit `gbt_model_build` / `forest_model_build` Bench rows
  * (min-of-two-cold, the round-13 `_build` discipline).
  *
  * Stored ≡ retrained holds to the BIT: B91's trajectory is exact
  * ×10⁶ integer fixed point and B90's thresholds/leaf scores are
  * exact integers — every persisted column is BIGINT or STRING
  * except the 6dp-rounded DOUBLEs (the forest levels' ginis and the
  * GBT stump trajectory's total_sse/split_sse, which B101's
  * importances read), and parquet round-trips doubles bit-exactly.
  * So the DuckDB oracles, which re-derive the identical trajectory
  * from the shared training CTEs (`gbtCtesFrom`/`forestCtes`),
  * hash-match whether the Spark side trained in-plan or read the
  * store.
  *
  * Publication and torn-state recovery are the shared
  * [[graft.sources.ArtifactStore]]'s (atomic rename, `_SUCCESS`
  * gate): a half-complete KEY (e.g. `gbt`'s model published, stumps
  * not) rebuilds only its missing artifact — spec-pinned.
  *
  * Four GBT artifacts (they differ in TRAINING RELATION, not shape):
  *  - `gbt`    — the full-corpus B91 model row (B93/B96/B99 batch
  *               scorers, G25's deployed stream scorer, G26's drift
  *               reference);
  *  - `gbtho`  — J18's holdout model, trained on the 80% train split
  *               of the shared content-hash fold discipline;
  *  - `gbtcv`  — B100's five jointly-trained per-fold models (one
  *               wide row per fold);
  *  - `gbtlc`  — J19's four jointly-trained nested-subset models.
  * All four derive their training rows from ONE staged base relation
  * (fold, q, dd, y) when built through [[gbtModelBuild]] — the facts
  * are scanned once per build pass, not once per artifact. One
  * forest artifact pair: the split table (level, node, threshold) +
  * each tree's own-bag leaf scores (node, ls), plus the full
  * per-level argmin relation (gini, pp, nn) B97's importances read.
  */
object ModelStore {

  private val store = new graft.sources.ArtifactStore("graft-models")

  /** Test hook: forget which keys this JVM has built, simulating a
    * process restart against the same store root (the torn-state
    * recovery spec uses it; production code never calls this). */
  private[graft] def forgetBuiltForTests(): Unit = store.forgetBuilt()

  private def ckey(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Run `f` over a freshly staged GBT training base (fold, q, dd,
    * y), dropping the cache once `f`'s outputs are materialized —
    * the standalone cold path a Verify query takes when it is the
    * first store reader (the bench build row goes through
    * [[gbtModelBuild]]'s all-artifacts-joint pass instead). */
  private def withBase(spark: SparkSession, sfDir: String)
      (f: DataFrame => Seq[DataFrame]): Seq[DataFrame] = {
    val b = Round13Ops.foldRows(spark, sfDir).persist()
    // every artifact f returns is eagerly checkpointed before it
    // escapes (gbtModelRowFrom / jointGbtModels close over
    // checkpointed relations only), so the base drops safely here
    try f(b) finally { b.unpersist(); () }
  }

  /** [[withBase]] for the forest protocols: the staged relation is
    * the CELLS sufficient-statistic collapse (fold, bag flags, q,
    * dd, y, w) — one corpus pass, after which every level/leaf pass
    * of every protocol group is cells-sized. Solo cold paths only;
    * the bench build row ([[forestProtocolsBuild]]) stages its own
    * cells for BOTH keys' joint pass. */
  private def withForestCells(spark: SparkSession, sfDir: String)
      (f: DataFrame => Seq[DataFrame]): Seq[DataFrame] = {
    val b = Round15Ops.forestCells(
      Round13Ops.foldRidRows(spark, sfDir)).persist()
    try f(b) finally { b.unpersist(); () }
  }

  private def gbtAll(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    store.get(spark, "gbt_" + ckey(sfDir), Seq("model", "stumps")) {
      withBase(spark, sfDir) { b =>
        // ONE training pass serves both artifacts: the full per-round
        // stump table (threshold/leaves + the SSE trajectory B101's
        // importances read) and the pivoted 1-row scoring model
        val rows = b.select(col("q"), col("dd"), col("y"))
        val stumps = Round12Ops.gbtPipeline(rows, Round12Ops.gbtRounds)
          .localCheckpoint(true)
        val model = Round13Ops.gbtModelRowFrom(stumps, rows)
        Seq(model, stumps)
      }
    }

  /** The standing full-corpus B91 model row (f0 + per-round
    * threshold/leaves) — the deployable artifact every batch and
    * streaming scorer broadcasts. */
  def gbtFull(spark: SparkSession, sfDir: String): DataFrame =
    gbtAll(spark, sfDir).head

  /** The full-corpus boosting trajectory (round, feature, threshold,
    * total_sse, split_sse, leaves) — B101's importance substrate. */
  def gbtStumps(spark: SparkSession, sfDir: String): DataFrame =
    gbtAll(spark, sfDir)(1)

  private def gbtHoldoutAll(spark: SparkSession,
      sfDir: String): Seq[DataFrame] =
    store.get(spark, "gbtho_" + ckey(sfDir), Seq("model")) {
      withBase(spark, sfDir) { b =>
        // fold 0 of the shared content hash = test, so the 80% train
        // split is exactly fold ≠ 0 (holdoutRows' split column is the
        // same hash expression — identical relation by construction)
        Seq(Round13Ops.gbtModelRow(
          b.filter(col("fold") =!= 0).select("q", "dd", "y")))
      }
    }

  /** J18's model: the same trajectory trained on ONLY the 80% train
    * split of the shared content-hash discipline. */
  def gbtHoldout(spark: SparkSession, sfDir: String): DataFrame =
    gbtHoldoutAll(spark, sfDir).head

  private def gbtCvAll(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    store.get(spark, "gbtcv_" + ckey(sfDir), Seq("wide")) {
      withBase(spark, sfDir)(b =>
        Seq(Round13Ops.cvWideModelsFrom(b)))
    }

  /** B100's five per-fold models as one wide row per fold (column
    * `g`), trained JOINTLY in shared passes. */
  def gbtCvWide(spark: SparkSession, sfDir: String): DataFrame =
    gbtCvAll(spark, sfDir).head

  private def gbtLcAll(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    store.get(spark, "gbtlc_" + ckey(sfDir), Seq("wide")) {
      withBase(spark, sfDir)(b =>
        Seq(Round13Ops.lcWideModelsFrom(b)))
    }

  /** J19's four nested-subset models as one wide row per size
    * (column `g` = folds 1..g trained on). */
  def gbtLcWide(spark: SparkSession, sfDir: String): DataFrame =
    gbtLcAll(spark, sfDir).head

  private def forestAll(spark: SparkSession,
      sfDir: String): Seq[DataFrame] =
    store.get(spark, "forest_" + ckey(sfDir),
        Seq("levels", "leaf_scores")) {
      // ONE corpus pass serves all three forest readers: the facts
      // collapse to the bag-flagged sufficient-statistic cells, then
      // the level loop (B97's full argmin relation, B90's split
      // table) AND the own-bag leaf-score routing (B94/B98's
      // scorers) both run cells-sized off the same checkpoint — no
      // corpus persist anywhere on the build
      val trees = Round12Ops.forestTrees
      val cells = Round12Ops.bagCells(
          Round13Ops.ridRows(spark, sfDir), trees)
        .localCheckpoint(true)
      val levels = Round12Ops.levelLoop(
          Round12Ops.bagAssign(cells, trees), Round12Ops.forestDepth)
        .localCheckpoint(true)
      val model = levels.select(col("level"), col("node"), col("threshold"))
      val leafScores = Round13Ops.routeForest(
          Round12Ops.bagAssign(cells, trees), model)
        .groupBy(col("node"))
        .agg(expr("1000000 * sum(w * y) div sum(w)").as("ls"))
        .localCheckpoint(true)
      Seq(levels, leafScores)
    }

  /** The forest's scoring artifacts: (split table, leaf scores). */
  def forestModel(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val out = forestAll(spark, sfDir)
    (out.head.select(col("level"), col("node"), col("threshold")),
      out(1))
  }

  /** The forest's full per-level argmin relation (level, node,
    * feature, threshold, gini, pp, nn) — B97's substrate. */
  def forestLevels(spark: SparkSession, sfDir: String): DataFrame =
    forestAll(spark, sfDir).head

  private def forestCvAll(spark: SparkSession,
      sfDir: String): Seq[DataFrame] =
    store.get(spark, "forestcv_" + ckey(sfDir), Seq("levels", "leaf_scores")) {
      withForestCells(spark, sfDir)(Round15Ops.forestCvArtifacts)
    }

  /** B105's per-fold forests: the joint split table (nodes
    * `c{g}t{t}r…`) and each tree's own-bag leaf scores. */
  def forestCvModel(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val out = forestCvAll(spark, sfDir)
    (out.head, out(1))
  }

  private def forestLcAll(spark: SparkSession,
      sfDir: String): Seq[DataFrame] =
    store.get(spark, "forestlc_" + ckey(sfDir), Seq("levels", "leaf_scores")) {
      withForestCells(spark, sfDir)(Round15Ops.forestLcArtifacts)
    }

  /** J21's per-size forests (nodes `s{g}t{t}r…`) + leaf scores. */
  def forestLcModel(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val out = forestLcAll(spark, sfDir)
    (out.head, out(1))
  }

  /** Bench lifecycle hook: train every standing GBT artifact in one
    * timed pass. ALL ELEVEN protocol groups (full + holdout + 5 CV
    * folds + 4 curve sizes) train JOINTLY in one shared pass set —
    * the jointGbtModels group key widened across artifacts — and the
    * facts collapse FIRST to the (fold, q, dd, y) sufficient-
    * statistic contingency relation (|folds|·|q|·|dd|·2 cells), so
    * the corpus is scanned exactly ONCE and every boosting round of
    * every group runs over the weighted cells (the per-round
    * collapse hoisted above the whole protocol family; 12 corpus
    * passes in r14 → 1). Each group's slice is bit-identical to the
    * per-artifact derivation (integer/decimal sums over duplicates ≡
    * weighted sums — the spec-pinned joint ≡ solo invariant), so
    * every oracle hash is unchanged. */
  def gbtModelBuild(spark: SparkSession, sfDir: String): Unit = {
    val sk = ckey(sfDir)
    var staged: Option[DataFrame] = None
    // evaluated at most once, and only if some key is incomplete;
    // outputs close over checkpointed per-round relations, so the
    // staged cells drop as soon as every slice is published
    lazy val joint: (DataFrame, DataFrame) = {
      // coalesce(1): |folds|·|q|·|dd|·2 cells — the 11-branch group
      // union over 32-partition cells would schedule ~350 near-empty
      // tasks per boosting pass otherwise (the Round15Ops.forestCells
      // lesson)
      val cells = Round13Ops.foldRows(spark, sfDir)
        .groupBy(col("fold"), col("q"), col("dd"), col("y"))
        .agg(count(lit(1)).as("w")).coalesce(1).persist()
      staged = Some(cells)
      val groups: Seq[(String, org.apache.spark.sql.Column)] =
        Seq("full" -> lit(true), "ho" -> (col("fold") =!= 0)) ++
          (0 until Round13Ops.cvFolds).map(f =>
            s"cv$f" -> (col("fold") =!= f)) ++
          (1 until Round13Ops.cvFolds).map(g =>
            s"lc$g" -> (col("fold") >= 1 && col("fold") <= g))
      val train0 = groups.map { case (g, pred) =>
        cells.filter(pred)
          .select(lit(g).as("g"), col("q"), col("dd"), col("y"),
            col("w"))
      }.reduce(_ unionByName _)
      Round13Ops.jointGbtWithTrajectory(train0)
    }
    // re-key a sliced wide relation from the string group tag back to
    // the artifact's BIGINT protocol key (fold / train size)
    def slice(pfx: String): DataFrame = {
      val (wide, _) = joint
      wide.filter(col("g").startsWith(pfx)).select(
        expr(s"CAST(substring(g, ${pfx.length + 1}) AS BIGINT)").as("g") +:
          wide.columns.filter(_ != "g").map(col): _*)
    }
    try {
      // force the shared joint pass ONCE on this thread, then publish
      // the four store keys CONCURRENTLY (r20 optimization; guide
      // §2.6): each key's build block is a filter of the already-
      // checkpointed joint relations plus its own parquet publish —
      // independent store writes whose serial driver round-trips were
      // ~1/3 of the build row's wall.
      val _ = joint
      Overlap.unitLegs(Seq(
        () => { store.get(spark, s"gbt_$sk", Seq("model", "stumps")) {
          Seq(joint._1.filter(col("g") === "full").drop("g"),
            joint._2.filter(col("g") === "full").drop("g"))
        }; () },
        () => { store.get(spark, s"gbtho_$sk", Seq("model")) {
          Seq(joint._1.filter(col("g") === "ho").drop("g"))
        }; () },
        () => { store.get(spark, s"gbtcv_$sk", Seq("wide"))(Seq(slice("cv"))); () },
        () => { store.get(spark, s"gbtlc_$sk", Seq("wide"))(Seq(slice("lc"))); () }))
    } finally { staged.foreach(_.unpersist()); () }
  }

  /** Bench lifecycle hook: the forest training pass. */
  def forestModelBuild(spark: SparkSession, sfDir: String): Unit = {
    forestAll(spark, sfDir)
    ()
  }

  /** Bench lifecycle hook: train BOTH forest protocol artifact pairs
    * (CV + curve) off ONE staged sufficient-statistic cells relation
    * (fold, bag flags, q, dd, y, w) — a single corpus pass. */
  def forestProtocolsBuild(spark: SparkSession, sfDir: String): Unit = {
    val sk = ckey(sfDir)
    var staged: Option[DataFrame] = None
    // all 36 protocol trees in ONE level loop + ONE routing pass;
    // each store key slices its letter's nodes (bit-identical to the
    // per-protocol builds the solo cold paths use — spec-pinned)
    lazy val joint: Seq[DataFrame] = {
      val cells = Round15Ops.forestCells(
        Round13Ops.foldRidRows(spark, sfDir)).persist()
      staged = Some(cells)
      Round15Ops.forestProtocolsJoint(cells)
    }
    def slice(letter: String): Seq[DataFrame] =
      joint.map(_.filter(col("node").startsWith(letter)))
    try {
      // same shape as gbtModelBuild: one joint pass, then the two
      // store keys publish concurrently (r20; guide §2.6)
      val _ = joint
      Overlap.unitLegs(Seq(
        () => { store.get(spark, s"forestcv_$sk", Seq("levels", "leaf_scores")) {
          slice("c")
        }; () },
        () => { store.get(spark, s"forestlc_$sk", Seq("levels", "leaf_scores")) {
          slice("s")
        }; () }))
    } finally { staged.foreach(_.unpersist()); () }
  }
}
