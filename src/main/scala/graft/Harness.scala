package graft

import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.StoreRoot

/** What every graft main shares: how a session is built and warmed,
  * which store builds the bench times as rows of their own, and how a
  * row is run and timed. One run path, so a row that throws is a
  * `Failed` outcome everywhere — never a timing.
  */
object Harness {

  type Plan = (SparkSession, String) => DataFrame

  /** local[N] with N = `SPARK_GRAFT_CPUS` (default: every available
    * processor), one shuffle partition per core, UTC, AQE on, no UI,
    * WARN logging. `extraConf` is applied last, so it may override any
    * of these. */
  def session(extraConf: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val spark = extraConf
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Touch every base table (parquet footers, scan codegen) and run
    * one shuffle + aggregation, so one-time session costs are not
    * billed to whichever row happens to run first. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq(Tables.lineitem _, Tables.orders _, Tables.documents _,
      Tables.events _, Tables.embeddings _)
      .foreach(t => t(spark, sfDir).count())
    Analytics.q1PricingSummary(spark, sfDir).count()
  }

  sealed trait Row { def name: String }

  /** A SparkEntry query; running it counts its result. */
  final case class Query(name: String, plan: Plan) extends Row

  /** A run-shared store build. The `readers` are the queries that probe
    * the store, so a bench of any of them times the build on its own
    * row instead of folding it into the first probe. */
  final case class Build(name: String, readers: Set[String],
      build: (SparkSession, String) => Unit) extends Row

  val buildRows: Seq[Build] = Seq(
    Build("bm25_standing_build", Set("bm25_standing"),
      RetrievalOps.bm25StandingBuild),
    Build("phrase_standing_build", Set("phrase_standing"),
      Round10bOps.phraseStandingBuild),
    Build("dedup_index_build", Set(
      "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_bbit_minhash",
      "dedup_clusters", "dedup_canonical", "dedup_canonical_quality",
      "dedup_cluster_profile", "dedup_lsh_calibration",
      "dedup_edit_verify", "dedup_graph_degree", "dedup_containment",
      "dedup_triangles", "dedup_pagerank", "dedup_kcore",
      "dedup_cluster_stability", "dedup_cc_incremental",
      "dedup_cc_decremental", "graph_hits"),
      DedupOps.dedupIndexBuild),
    Build("knn_graph_pre_build", Set("knn_graph_incremental"),
      AnnOps.knnGraphPreBuild),
    Build("cknn_graph_pre_build", Set("ann_layered_incremental",
      "streaming_ann_refresh"),
      Round16Ops.cknnGraphPreBuild),
    Build("ccap_graph_pre_build", Set("ann_layered_cap_incremental",
      "streaming_ann_cap_refresh"),
      Round17Ops.ccapGraphPreBuild),
    Build("gbt_model_build", Set(
      "q_gbt_eval", "q_calibration", "q_confusion",
      "sample_holdout_eval", "q_cv_auc", "sample_learning_curve",
      "streaming_model_score", "streaming_drift_psi",
      "q_gbt_importance", "q_model_compare", "q_cost_curve",
      "q_isotonic_calibration", "sample_slice_eval",
      "streaming_confusion_monitor", "q_model_compare_cv",
      "q_calibration_cv", "q_calibration_fix", "q_threshold_transfer",
      "q_calibration_oos", "q_calibration_oos_gated"),
      ModelStore.gbtModelBuild),
    Build("forest_model_build", Set(
      "q_forest_eval", "q_oob_eval", "q_feature_importance",
      "q_model_compare"),
      ModelStore.forestModelBuild),
    Build("forest_cv_build", Set(
      "q_forest_cv_auc", "sample_forest_curve", "q_model_compare_cv",
      "q_forest_importance_cv"),
      ModelStore.forestProtocolsBuild),
    Build("ivm_state_build", Set(
      "warehouse_ivm", "warehouse_ivm_join", "warehouse_ivm_distinct"),
      Round12Ops.IvmStateStore.build))

  /** The build row or SparkEntry query called `name`. */
  def row(name: String): Row = buildRows.find(_.name == name)
    .getOrElse(Query(name, SparkEntry.queries(name)))

  sealed trait Outcome
  final case class Ok(sec: Double) extends Outcome
  final case class Failed(errorClass: String, msg: String) extends Outcome {
    override def toString: String = s"$errorClass: $msg"
  }

  /** Release every cached relation (blocking), then time `body`. */
  def timed(spark: SparkSession)(body: => Any): Outcome = {
    CacheHygiene.release(spark, blocking = true)
    val t0 = System.nanoTime()
    try { body; Ok((System.nanoTime() - t0) / 1e9) }
    catch { case NonFatal(e) => Failed(e.getClass.getName, String.valueOf(e.getMessage)) }
  }

  /** Run one row. A build runs cold, under a fresh store root: the
    * store caches key on the resolved root, so a same-root rerun would
    * time a cache hit. */
  def run(spark: SparkSession, sfDir: String, row: Row): Outcome = row match {
    case Query(_, plan) => timed(spark)(plan(spark, sfDir).count())
    case Build(_, _, build) =>
      withFreshStoreRoot(spark)(timed(spark)(build(spark, sfDir)))
  }

  /** Run `body` with the session's store root set to a fresh temporary
    * directory; the original root is restored and the fresh one
    * deleted afterwards. */
  def withFreshStoreRoot[T](spark: SparkSession)(body: => T): T = {
    val key = StoreRoot.confKey
    val origRoot = spark.conf.getOption(key)
    val fresh = Files.createTempDirectory("graft-fresh-root")
    try {
      spark.conf.set(key, fresh.toString)
      body
    } finally {
      origRoot match {
        case Some(r) => spark.conf.set(key, r)
        case None => spark.conf.unset(key)
      }
      StoreRoot.deleteRecursively(fresh)
    }
  }
}
