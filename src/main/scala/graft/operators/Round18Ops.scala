package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef

/** Round 18 — EPOCH COMPACTION for the capped ANN substrate (E32
  * `ann_epoch_compact`: the one leg of the E31/G29 index lifecycle
  * that existed only as prose — "epoch merge IS a fresh capped build"
  * — now an operator, hash-proven against exactly that rebuild) and
  * the B111 fit-half-mass GATE (B112 `q_calibration_oos_gated`: the
  * deploy decision rule the 4/5-negative out-of-sample corpus table
  * implies — ship the PAV fix only when the fit half carries enough
  * mass per bin to transfer, else ship identity).
  *
  * Reference provenance: the reference (WebScrap_DataPipeline,
  * gcp_processes.py) has neither a vector index nor model
  * calibration; both families are the standard public ones (LSM/FAISS
  * segment-merge compaction; isotonic-regression deployment gating,
  * Zadrozny & Elkan 2002). */
object Round18Ops {

  // ---------------------------------------------------------------- E32
  /** Epoch COMPACTION of the capped layered substrate — the off-peak
    * merge E31/G29's staleness story prices: the multi-epoch state
    * (edge/bucket/rep segments accumulated by streamed ingest)
    * collapses to a SINGLE epoch-0 substrate — one global rep set per
    * bucket and the capped graph recomputed over it — after which
    * maintenance costs reset to the one-epoch floor.
    *
    * The structural lemma that makes compaction SEGMENT-LOCAL on the
    * rep side (spec-pinned executable, not asserted): the global
    * top-`cap` of a bucket's members by the cap hash is CONTAINED in
    * the union of the per-epoch top-`cap` sets — any global winner is
    * a fortiori a winner within its own arrival epoch. So the
    * compacted rep set is derived by ranking the REP SEGMENTS alone
    * (≤ cap·epochs rows per bucket — never a corpus-population
    * window), exactly the scan-side discipline the E28 exemplar build
    * uses. The scoring pass (members × R_compact, ≤ N·tables·cap
    * candidates) is the fresh capped build's own linear term — the
    * honest, irreducible price of compaction, which is why it runs
    * off-peak on the CompactionProbe economics (`graft
    * .AnnCompactProbe` measures the carry-vs-compact crossover that
    * schedules it).
    *
    * The emitted result is the layered search over the compacted
    * substrate; the oracle is the fresh SINGLE-epoch capped rebuild
    * over the union corpus + E28's search chain — hash equality
    * proves compact-from-segments ≡ fresh rebuild (the A33/E30
    * maintenance ≡ recompute discipline, applied to the merge).
    *
    * Scale: rep collapse is rep-segment-sized; candidate generation
    * and scoring are the linear capped build (the ONLY linear build
    * on the board — the reason this substrate is the 100 TB path);
    * nothing reads the standing graph or re-hashes the corpus (the
    * bucket segments carry every member's buckets). */
  def annEpochCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Round17Ops.capSegmentDir(spark, sfDir)
    val cemb = Round16Ops.clusteredEmb(spark, sfDir)
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    val compacted = compactFrom(emb,
      graft.sources.SegmentStore.read(spark, s"$dir/buckets"),
      graft.sources.SegmentStore.read(spark, s"$dir/reps"))
      .localCheckpoint(true)
    val edges = Round16Ops.symEdges(compacted)
    val out = Round16Ops.layeredSearchOver(cemb, edges)
      .localCheckpoint(true)
    edges.unpersist()
    out
  }

  /** The compacted single-epoch rep set: global top-`cap` per
    * (table, bucket) by the cap hash, ranked WITHIN the union of the
    * epoch rep segments (the containment lemma — see object doc). */
  private[graft] def compactReps(segReps: DataFrame): DataFrame = {
    import graft.functions.gf
    val wb = Window.partitionBy(col("table_id"), col("bucket"))
      .orderBy(col("h"), col("dst"))
    // distinct is defensive: under the epoch contract a vector is rep
    // of exactly one epoch per (table, bucket), but a duplicated
    // segment row must not consume two rank slots and evict a real rep
    segReps.select(col("table_id"), col("bucket"), col("dst")).distinct()
      .withColumn("h",
        gf.h32(concat(lit("cap:"), col("dst").cast("string"))))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= Round17Ops.epochCap)
      .select(col("table_id"), col("bucket"), col("dst"))
  }

  /** The compaction body over segment-store relations: collapse the
    * rep segments, score members × R_compact, keep top-3 per src —
    * i.e. a fresh capped build whose rep rank ran off the segments
    * instead of the corpus. The spec hook (`Round18Spec` pins it
    * bit-equal to [[Round16Ops.knnGraphBuildCapped]] over the union
    * corpus, with real rep eviction, and idempotent). */
  private[graft] def compactFrom(emb: DataFrame, segBuckets: DataFrame,
      segReps: DataFrame): DataFrame =
    compactFromReps(emb, segBuckets, compactReps(segReps))

  /** [[compactFrom]] with the rep collapse already done — the
    * lifecycle staging collapses once and feeds BOTH the store append
    * and this scoring pass (r18 review: the two-pass form re-read and
    * re-ranked the same rep segments twice). No checkpoint here: the
    * rep relation is consumed exactly once by the candidate join, and
    * a pinned block per call would leak into the AnnCompactProbe
    * sweep, which deliberately never blanket-releases between points. */
  private[graft] def compactFromReps(emb: DataFrame,
      segBuckets: DataFrame, rc: DataFrame): DataFrame = {
    val cand = segBuckets
      .select(col("table_id"), col("bucket"), col("vec_id").as("src"))
      .join(rc, Seq("table_id", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    Round17Ops.top3(Round17Ops.scorePairs(cand, emb))
  }

  /** E32's oracle: the fresh SINGLE-epoch capped rebuild (one global
    * rep-rank window per bucket — no epoch term) + E28's search
    * chain. Identical to E31's oracle minus the epoch partition: that
    * difference IS the compaction. */
  val annEpochCompactSql: String =
    s"""WITH ${Round16Ops.clusteredBaseCtes},
       |creps AS MATERIALIZED (
       |  SELECT table_id, bucket, vec_id AS dst FROM (
       |    SELECT table_id, bucket, vec_id,
       |      row_number() OVER (PARTITION BY table_id, bucket
       |        ORDER BY ('0x' || substr(md5('cap:' ||
       |          CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, vec_id)
       |        AS rn
       |    FROM cbuck) WHERE rn <= ${Round17Ops.epochCap}),
       |ccand AS (
       |  SELECT DISTINCT b.vec_id AS src, r.dst
       |  FROM cbuck b JOIN creps r
       |    ON r.table_id = b.table_id AND r.bucket = b.bucket
       |  WHERE b.vec_id <> r.dst),
       |cscored AS (
       |  SELECT c.src, c.dst, round(list_cosine_similarity(s.v, e.v), 6)
       |    AS sim
       |  FROM ccand c
       |  JOIN cemb s ON s.vec_id = c.src
       |  JOIN cemb e ON e.vec_id = c.dst),
       |cknng AS MATERIALIZED (
       |  SELECT src, rank, dst, sim FROM (
       |    SELECT src, dst, sim,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst)
       |        AS rank
       |    FROM cscored) WHERE rank <= 3),
       |${Round16Ops.clusteredCoarseCtes},
       |${Round16Ops.layeredSearchSqlTail}""".stripMargin

  // ---------------------------------------------------------------- G30
  /** The FULL index lifecycle in one operator — streamed ingest, a
    * SCHEDULED compaction, CONTINUED streamed ingest on the compacted
    * store, search (round 18; E32 exercised in situ on the live path,
    * the loop a deployment actually runs): wave 1 (vec_id ≡ 4 mod 10)
    * arrives in 3 micro-batches against the pre-corpus (G29's
    * protocol, its own segment store); the carried state then holds 4
    * rep epochs ≥ the measured n* ≈ 3 (`AnnCompactProbe`), so the
    * scheduler fires E32's compaction — the multi-epoch reps collapse
    * to one global epoch-0 set, the capped graph recomputes, and a
    * FRESH store opens with exactly two segments (all buckets, the
    * compacted reps) plus the compacted standing graph; wave 2
    * (vec_id ≡ 7 mod 10) then streams in 3 micro-batches AGAINST THE
    * COMPACTED STORE, each batch its own rep epoch, and the layered
    * search over the final merge is the emitted result.
    *
    * Why the whole loop still hash-equals one rebuild: compaction
    * RESETS the epoch labels — after it, every pre-compaction member
    * is epoch 0 (its reps the global top-cap over pre ∪ wave-1
    * members, which by E32's containment lemma is exactly what the
    * compacted rep segment carries) and wave-2 batches pin epochs
    * 1..3. So the final candidate relation is members × (R_compact ∪
    * ∪_e R_e^{w2}), and the oracle replays the rebuild under the
    * POST-COMPACTION labels (epoch(v) = 0 unless v ≡ 7 mod 10, else
    * 1 + (v div 10) mod 3) + E28's search chain — hash equality
    * proves the composite (stream → compact → stream → merge →
    * search) ≡ that rebuild. `Round18Spec` pins the in-engine
    * equality, REAL compaction churn (a wave-1 rep evicted at the
    * boundary), wave-2 epoch non-degeneracy, and that the
    * NO-compaction 7-epoch carry rebuild DIFFERS — the reset is
    * load-bearing, not a relabeling.
    *
    * Scale: each phase is G29's per-batch arithmetic (batch buckets,
    * ≤cap·tables reps, two batch-sized equi-joins, atomic segment
    * appends); the compaction is E32's segment-local collapse + the
    * linear capped rescoring, run once between waves — nothing in the
    * loop is cluster-quadratic, and the wave-2 increments touch the
    * COMPACTED rep set (cap/bucket), not the 4-epoch union: the cost
    * reset the AnnCompactProbe curve prices. */
  def streamingAnnLifecycle(spark: SparkSession,
      sfDir: String): DataFrame = {
    val dir = stagedLifecycle.computeIfAbsent(sfDir,
      _ => ingestLifecycle(spark, sfDir))
    val cemb = Round16Ops.clusteredEmb(spark, sfDir)
    val edges = Round16Ops.symEdges(
      lifecycleMergedGraph(spark, dir))
    val out = Round16Ops.layeredSearchOver(cemb, edges)
      .localCheckpoint(true)
    edges.unpersist()
    out
  }

  private val stagedLifecycle =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Phase 1 ingest → compaction → phase 2 ingest; returns the
    * POST-compaction store dir (buckets, reps, edges segments + the
    * compacted standing graph). Runs once per (JVM, corpus). */
  private def ingestLifecycle(spark: SparkSession,
      sfDir: String): String = {
    import graft.sources.SegmentStore
    val cemb = Round16Ops.clusteredEmb(spark, sfDir).localCheckpoint(true)
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    val w1 = col("vec_id") % 10 === 4
    val w2 = col("vec_id") % 10 === 7
    // phase 1: wave 1 streams against the pre-corpus (G29 verbatim,
    // its own store — the pre-corpus here EXCLUDES wave 2, so this
    // store is not the `ccapknng` one)
    val d1 = Round17Ops.tempSegmentDir("graft_lifecycle_p1")
    val preB = AnnOps.signBucketsQ(
      cemb.filter(!w1 && !w2).select(col("vec_id"),
        col("v").as("embedding")), "vec_id", 4, 8)
      .localCheckpoint(true)
    Round17Ops.stageCapSegments(cemb, preB, w1, d1)
    Round17Ops.runCapIngest(spark, cemb, d1)
    // SCHEDULED COMPACTION: the carried state holds 4 rep epochs —
    // past the measured n* ≈ 3 (AnnCompactProbe) — so the off-peak
    // merge fires: collapse reps, recompute the capped graph, open a
    // fresh two-segment store
    val allB1 = SegmentStore.read(spark, s"$d1/buckets")
      .select(col("table_id"), col("bucket"), col("vec_id"))
      .localCheckpoint(true)
    // collapse the reps ONCE; the same relation feeds the compacted
    // store's rep segment and the rescoring pass
    val rc = compactReps(SegmentStore.read(spark, s"$d1/reps"))
      .localCheckpoint(true)
    val compacted = compactFromReps(emb, allB1, rc).localCheckpoint(true)
    val d2 = Round17Ops.tempSegmentDir("graft_lifecycle_p2")
    SegmentStore.append(allB1, s"$d2/buckets")
    SegmentStore.append(rc, s"$d2/reps")
    compacted.write.parquet(s"$d2/standing")
    rc.unpersist(); allB1.unpersist(); compacted.unpersist()
    // phase 2: wave 2 streams against the COMPACTED store
    Round17Ops.stageBatchFiles(cemb.filter(w2), d2)
    Round17Ops.runCapIngest(spark, cemb, d2)
    d2
  }

  /** The final maintenance merge: the compacted standing graph
    * summarizes members × R_compact; every src that gained a wave-2
    * segment edge re-ranks over union. */
  private[graft] def lifecycleMergedGraph(spark: SparkSession,
      dir: String): DataFrame =
    Round17Ops.mergeGraph(spark.read.parquet(s"$dir/standing"),
      graft.sources.SegmentStore.read(spark, s"$dir/edges"))
      .localCheckpoint(true)

  /** Spec hook: the staged post-compaction store dir. */
  private[graft] def lifecycleDir(spark: SparkSession,
      sfDir: String): String =
    stagedLifecycle.computeIfAbsent(sfDir,
      _ => ingestLifecycle(spark, sfDir))

  /** Spec reference: the rebuild under the POST-COMPACTION epoch
    * labels (0 for everything ingested before the compaction, 1..3
    * for the wave-2 batches) — the contract the G30 oracle replays. */
  private[graft] def lifecycleRebuild(cemb: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    val b = AnnOps.signBucketsQ(emb, "vec_id", 4, 8)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val reps = Round17Ops.epochReps(
      b.withColumn("epoch",
        when(col("vec_id") % 10 === 7,
          expr("1 + (vec_id div 10) % 3")).otherwise(lit(0L))),
      Round17Ops.epochCap)
    val cand = b.select(col("table_id"), col("bucket"),
        col("vec_id").as("src"))
      .join(reps, Seq("table_id", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    try Round17Ops.top3(Round17Ops.scorePairs(cand, emb))
      .localCheckpoint(true)
    finally { b.unpersist(); () }
  }

  /** G30's oracle: the rebuild under the post-compaction epoch labels
    * + E28's search chain. The CASE's epoch reset IS the compaction. */
  val streamingAnnLifecycleSql: String =
    s"""WITH ${Round16Ops.clusteredBaseCtes},
       |creps AS MATERIALIZED (
       |  SELECT table_id, bucket, vec_id AS dst FROM (
       |    SELECT table_id, bucket, vec_id,
       |      row_number() OVER (PARTITION BY table_id, bucket,
       |        CASE WHEN vec_id % 10 = 7
       |          THEN 1 + (vec_id // 10) % 3 ELSE 0 END
       |        ORDER BY ('0x' || substr(md5('cap:' ||
       |          CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, vec_id)
       |        AS rn
       |    FROM cbuck) WHERE rn <= ${Round17Ops.epochCap}),
       |ccand AS (
       |  SELECT DISTINCT b.vec_id AS src, r.dst
       |  FROM cbuck b JOIN creps r
       |    ON r.table_id = b.table_id AND r.bucket = b.bucket
       |  WHERE b.vec_id <> r.dst),
       |cscored AS (
       |  SELECT c.src, c.dst, round(list_cosine_similarity(s.v, e.v), 6)
       |    AS sim
       |  FROM ccand c
       |  JOIN cemb s ON s.vec_id = c.src
       |  JOIN cemb e ON e.vec_id = c.dst),
       |cknng AS MATERIALIZED (
       |  SELECT src, rank, dst, sim FROM (
       |    SELECT src, dst, sim,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst)
       |        AS rank
       |    FROM cscored) WHERE rank <= 3),
       |${Round16Ops.clusteredCoarseCtes},
       |${Round16Ops.layeredSearchSqlTail}""".stripMargin

  // --------------------------------------------------------------- B112
  /** Minimum fit-half rows PER OCCUPIED BIN for the calibration fix to
    * ship (the noise-floor leg: below this the per-bin rate estimate's
    * binomial SE is too wide for ANY step fit to transfer). */
  private[graft] val gateMinPerBin = 32L

  /** Minimum AVERAGE per-bin z² of the fit half's (s − o) deviations
    * for the fix to ship (the signal leg): z²_bin = n·(s−o)² /
    * (s·(10⁶−s)) is the squared deviation in units of the bin's own
    * binomial variance, so requiring a mean of 4 (≈ 2σ per bin) means
    * the fit sees MISCALIBRATION, not noise. */
  private[graft] val gateMinAvgZsq = 4L

  /** The B111 read with the FIT-HALF GATE — the shipping rule the
    * round-17 verdict asked for (item #4): B111 measured that the PAV
    * fix can transfer NEGATIVELY, and a deployment needs the decision
    * that measurement implies, not just the measurement. Per fold the
    * fix applies ONLY when the fit half carries BOTH
    *  (a) ≥ [[gateMinPerBin]] rows per occupied score bin (mass: the
    *      verdict's rule — enough support that the step values are
    *      estimates, not memorized noise), AND
    *  (b) an average per-bin z² ≥ [[gateMinAvgZsq]] (signal: the
    *      measured (s − o) deviations exceed their own binomial
    *      noise). The second leg is what this corpus demands: the
    *      measured table shows the GBT's out-of-fold scores already
    *      ≈calibrated, so EVERY fold transfers slightly negative at
    *      ANY mass (sf0.001 −17932..+1385 ppm at ~75 rows/bin,
    *      sf0.01 −26..−527 at ~750) — mass alone would ship a
    *      known-negative fix the moment the corpus grows; fitting
    *      noise is gated by what it IS (noise), not by how many rows
    *      estimated it.
    * Otherwise the shipped calibrator is the IDENTITY (brier_post =
    * brier_pre, improvement 0) and the row says so (`fix_applied`).
    * Both legs read ONLY fit-half statistics — never the held half —
    * so the gate is a legal deploy-time decision (no test-set
    * peeking). The planted-overfit spec corpus (true miscalibration
    * 3·10⁵ ppm ≫ its binomial SE) passes both legs and still improves
    * out of sample; this corpus ships identity everywhere, which its
    * own B111 table proves is the right call.
    *
    * Scale: the gate is one aggregation over the ≤40-row fit-bin
    * relation; everything else is B111's plan verbatim. Integer
    * headroom: the z² numerator n·(s−o)² ≤ n·10¹² wraps BIGINT past
    * ~9·10⁶ rows per bin, so it is COMPUTED in DECIMAL(38,0)
    * (HUGEINT oracle-side) — the B109 promotion, implemented (r18
    * advisor); see the zsq expression for the residual quotient
    * envelope. */
  def qCalibrationOosGated(spark: SparkSession,
      sfDir: String): DataFrame = {
    import graft.functions.gf
    val wide = ModelStore.gbtCvWide(spark, sfDir)
      .withColumnRenamed("g", "fold")
    calibrationOosGatedFrom(
      Round13Ops.foldRidRows(spark, sfDir).join(broadcast(wide), "fold")
        .select(col("fold"),
          (gf.h32(concat(lit("oos:"), col("rid"))) % 2).as("half"),
          Round13Ops.gbtScoreColumn.as("s"), col("y")),
      gateMinPerBin)
  }

  /** The gated tail over (fold, half, s, y) scored rows — the spec
    * hook (`Round18Spec` pins: a planted-overfit fold with fit mass
    * still improves, a thin-fit fold ships identity, a CALIBRATED
    * fold with mass ships identity — the signal leg — and the
    * applied-fold set is ANTITONE in the gate M). */
  private[graft] def calibrationOosGatedFrom(scored: DataFrame,
      m: Long, minAvgZsq: Long = gateMinAvgZsq): DataFrame = {
    val base = Round17Ops.calibrationOosFrom(scored)
    val gate = scored.filter(col("half") === 0)
      .groupBy(col("fold"), col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .withColumn("o", expr("pos * 1000000 div n"))
      // z² per bin: deviation² over the bin's own binomial variance
      // (non-negative numerator, positive denominator — trunc ≡ floor,
      // the StatsOps div discipline). The numerator n·(s−o)² is
      // computed in DECIMAL(38,0) (HUGEINT oracle-side) — the B109
      // promotion made real here, not just cited (r18 advisor): in
      // BIGINT it wraps silently in Spark past ~9.2·10⁶ rows per bin
      // while DuckDB raises, so at extreme scale the engines could
      // have diverged on fix_applied. Residual envelope: the QUOTIENT
      // re-lands in BIGINT, exact while zsq < 9.2·10¹⁸ — violated only
      // by a degenerate s ∈ {0, 10⁶} bin (denominator 1) carrying
      // > 9.2·10⁶ rows at maximal deviation, i.e. data that is not
      // miscalibrated but inverted.
      .withColumn("zsq", expr("CAST(n AS DECIMAL(38,0)) * (s - o)" +
        " * (s - o) div greatest(s * (1000000 - s), 1)"))
      .groupBy(col("fold"))
      // mass = PER-BIN minimum (r18 review: the sum(n) ≥ m·bins form
      // was an AVERAGE — a 10⁴-row bin could carry a 2-row bin past
      // the gate, and the 2-row bin's step value is exactly the
      // memorized noise the gate exists to block)
      .agg(when(min(col("n")) >= lit(m) &&
          sum(col("zsq")) >= lit(minAvgZsq) * count(lit(1)), lit(1L))
        .otherwise(lit(0L)).as("fix_applied"))
    base.join(gate, Seq("fold"))
      .select(col("fold"), col("n_held"), col("fix_applied"),
        col("brier_pre_ppm"),
        when(col("fix_applied") === 1, col("brier_post_ppm"))
          .otherwise(col("brier_pre_ppm")).as("brier_post_ppm"),
        when(col("fix_applied") === 1, col("improvement_ppm"))
          .otherwise(lit(0L)).as("improvement_ppm"))
  }

  val qCalibrationOosGatedSql: String =
    s"""WITH ${Round17Ops.oosCtes},
       |${Round17Ops.oosChainCtes},
       |fgate AS (
       |  SELECT fold,
       |    CAST(CASE WHEN min(n) >= $gateMinPerBin
       |      AND sum(CAST(n AS HUGEINT) * (s - pos * 1000000 // n)
       |            * (s - pos * 1000000 // n)
       |          // greatest(s * (1000000 - s), 1))
       |        >= $gateMinAvgZsq * count(*)
       |      THEN 1 ELSE 0 END AS BIGINT) AS fix_applied
       |  FROM fbins GROUP BY fold)
       |SELECT h.fold, h.n_held, g.fix_applied,
       |  h.bnum_pre // (h.n_held * 1000000) AS brier_pre_ppm,
       |  CASE WHEN g.fix_applied = 1
       |    THEN h.bnum_post // (h.n_held * 1000000)
       |    ELSE h.bnum_pre // (h.n_held * 1000000) END AS brier_post_ppm,
       |  CASE WHEN g.fix_applied = 1
       |    THEN h.bnum_pre // (h.n_held * 1000000)
       |      - h.bnum_post // (h.n_held * 1000000)
       |    ELSE CAST(0 AS BIGINT) END AS improvement_ppm
       |FROM hsum h JOIN fgate g USING (fold)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // the fresh single-epoch capped rebuild + E28's search chain —
    // hash equality proves compaction-from-segments ≡ fresh rebuild
    QueryDef("ann_epoch_compact", annEpochCompact, annEpochCompactSql),
    // the rebuild under the post-compaction epoch labels + E28's
    // search chain — hash equality proves the full loop (stream →
    // compact → stream → merge → search) ≡ that rebuild
    QueryDef("streaming_ann_lifecycle", streamingAnnLifecycle,
      streamingAnnLifecycleSql),
    QueryDef("q_calibration_oos_gated", qCalibrationOosGated,
      qCalibrationOosGatedSql))
}
