package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType,
  StructField, StructType}

import graft.QueryDef

/** Round 17 — the streaming ANN-index refresh (G28
  * `streaming_ann_refresh`: the G16 segment-append discipline applied
  * to E30's layered-index maintenance) and the out-of-sample
  * calibration READ (B111 `q_calibration_oos`: B109's PAV fit applied
  * to scores the fit never saw).
  *
  * Reference provenance: the reference (WebScrap_DataPipeline,
  * gcp_processes.py) has no vector index and no model evaluation —
  * both families are the standard public ones (HNSW/FAISS segment
  * maintenance; isotonic-regression holdout evaluation, Zadrozny &
  * Elkan 2002 / Niculescu-Mizil & Caruana 2005). */
object Round17Ops {

  // ---------------------------------------------------------------- G28
  /** Streaming maintenance of the LAYERED ANN index — the G16
    * pattern (every micro-batch appends O(batch) SEGMENTS to a
    * standing store; standing segments are never read back for
    * rewriting, only probed) applied to E30's index family, closing
    * the lifecycle asymmetry the round-16 verdict named: the BAND
    * index had a streaming write path (G16), the ANN index only a
    * batch incremental one (E30).
    *
    * The stream: the new-vector half of E30's deterministic split
    * (vec_id ≡ 4 mod 10) arrives in 3 micro-batches (batch =
    * (vec_id div 10) mod 3). Each batch, inside foreachBatch:
    *  1. encode the batch against the SAME portable sign-LSH planes
    *     the standing index used (stateless per-vector hashing — no
    *     stream-side shuffle);
    *  2. candidate pairs = batch buckets ⋈ (standing ∪ prior-segment
    *     ∪ own) buckets — O(batch·bucket), never a corpus self-join;
    *  3. score both directions exactly as E19 does and APPEND the
    *     scored edges as a new segment; append the batch's buckets as
    *     a new bucket segment.
    * Every unordered pair with ≥1 new endpoint is scored in exactly
    * the batch where its LATER endpoint arrives (the earlier one's
    * buckets are by then a standing/prior segment), so the segment
    * union carries the SAME candidate-edge relation as E30's one-shot
    * batch fold-in — and top-3 is monotone under union (E27's
    * argument), so the final per-src re-rank over standing lists ∪
    * segment edges EQUALS the full rebuild. The emitted result is the
    * E28 LAYERED SEARCH over the refreshed index; the oracle is E28's
    * full-rebuild SQL verbatim, so hash equality proves the whole
    * composite (streamed graph fold-in + exemplar re-derivation +
    * coarse scan + fine beam) streamed-refresh ≡ rebuild — the
    * G16/G17 discipline on an index structure.
    *
    * Staging guard (G16's): the ingest runs once per (JVM, corpus) —
    * the standing pre-batch state is the run-shared `cknngpre` store
    * (priced by the `cknn_graph_pre_build` bench row) and the stream
    * writes plain parquet segments under a temp store dir; repeat
    * invocations re-measure the maintenance MERGE + search, not the
    * ingest (a real store's idempotence is its commit protocol).
    *
    * Scale: per batch the work is the batch's buckets, one
    * batch×bucket equi-join and the scored append — the index never
    * rewrites; the final merge touches the segment edges' srcs' ≤3-row
    * standing lists. At 100 TB the segments are object-store files
    * and the merge is the compaction a scheduler runs off-peak (the
    * CompactionProbe economics). */
  def streamingAnnRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedAnn.computeIfAbsent(sfDir,
      _ => ingestAnnSegments(spark, sfDir))
    val cemb = Round16Ops.clusteredEmb(spark, sfDir)
    val edges = Round16Ops.symEdges(mergedGraphFrom(spark, sfDir, dir))
    val out = Round16Ops.layeredSearchOver(cemb, edges)
      .localCheckpoint(true)
    edges.unpersist()
    out
  }

  private val stagedAnn =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def batchSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(FloatType, containsNull = false))))

  /** Temp segment-store dir, swept at JVM exit (r17 advisor): the
    * staging guard keeps one store per (JVM, corpus) ALIVE for the
    * session — correct for repeat invocations — but a long-lived JVM
    * benching several corpora would otherwise accumulate unbounded
    * /tmp parquet. ONE shutdown hook sweeps a concurrent registry of
    * every staged dir (r18 advisor: a hook THREAD per dir accumulates
    * unboundedly in exactly the long-lived JVM the sweep exists for),
    * and a registration racing JVM shutdown is tolerated — the sweep
    * can no longer run anyway, and the OS tmp reaper owns the residue. */
  private val sweepAtExit =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val sweepHookInstalled: Boolean =
    try {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        sweepAtExit.forEach(p =>
          try graft.sources.StoreRoot.deleteRecursively(p)
          catch { case _: Exception => () })))
      true
    } catch { case _: IllegalStateException => false }

  private[operators] def tempSegmentDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    sweepAtExit.add(d)
    // the ACCESS is the point: it forces the lazy one-time hook
    // install (false = registration raced JVM shutdown; the OS tmp
    // reaper owns the residue then)
    val _ = sweepHookInstalled
    d.toString
  }

  /** Stage the G28 ingest's inputs under `d` (all UNTIMED substrate:
    * the standing bucket segment + the arriving micro-batch files) —
    * split from [[runAnnIngest]] so the §5 `stream_ann_ingest` probe
    * can time the foreachBatch loop alone against a growing standing
    * corpus. `newPred` selects the arriving vectors (parameterized so
    * the probe can hold the batch fixed while the corpus grows). */
  private[graft] def stageAnnSegments(cemb: DataFrame, oldB: DataFrame,
      newPred: Column, d: String): Unit = {
    graft.sources.SegmentStore.append(
      oldB.select(col("table_id"), col("bucket"), col("vec_id")),
      s"$d/buckets")
    stageBatchFiles(cemb.filter(newPred), d)
  }

  /** Stage the arriving vectors as 3 deterministic micro-batch files
    * with strictly increasing mtimes (file-source arrival order). */
  private[operators] def stageBatchFiles(newVecs: DataFrame, d: String): Unit = {
    (0 to 2).foreach { b =>
      newVecs.filter(expr("(vec_id div 10) % 3") === b)
        .coalesce(1).write.parquet(s"$d/batch_$b")
    }
    val t0 = System.currentTimeMillis()
    (0 to 2).foreach { i =>
      val f = new java.io.File(s"$d/batch_$i")
      (f +: f.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
    }
  }

  /** The G28 foreachBatch segment-append loop — the LIVE path a
    * deployment runs per micro-batch (encode, batch×bucket equi-join,
    * score, append two segments). Segment appends go through
    * [[graft.sources.SegmentStore]] (atomic rename per segment — safe
    * under concurrent writers, snapshot-clean under readers;
    * `Round18Spec` rehearses both). */
  private[graft] def runAnnIngest(spark: SparkSession, cemb: DataFrame,
      d: String): Unit = {
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    graft.streaming.StreamingTwins.drain(spark.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$d/batch_*")
      .writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val sp = batch.sparkSession
          val bEmb = batch.select(col("vec_id"),
            col("v").as("embedding")).localCheckpoint(true)
          val bB = AnnOps.signBucketsQ(bEmb, "vec_id", 4, 8)
            .select(col("table_id"), col("bucket"), col("vec_id"))
            .localCheckpoint(true)
          val prior = graft.sources.SegmentStore.read(sp, s"$d/buckets")
          val pairs = bB.select(col("table_id"), col("bucket"),
              col("vec_id").as("n"))
            .join(prior.unionByName(bB).select(col("table_id"),
              col("bucket"), col("vec_id").as("x")),
              Seq("table_id", "bucket"))
            .filter(col("n") =!= col("x"))
            .select(col("n"), col("x")).distinct()
          val cand = pairs.select(col("n").as("src"), col("x").as("dst"))
            .unionByName(
              pairs.select(col("x").as("src"), col("n").as("dst")))
            .distinct()
          graft.sources.SegmentStore.append(
            scorePairs(cand, emb), s"$d/edges")
          graft.sources.SegmentStore.append(bB, s"$d/buckets")
      })
  }

  /** The streamed ingest: stage the new-vector micro-batches, run the
    * foreachBatch segment-append loop, return the segment-store dir.
    * Runs once per (JVM, corpus) — see the staging guard above. */
  private def ingestAnnSegments(spark: SparkSession,
      sfDir: String): String = {
    val d = tempSegmentDir("graft_stream_ann")
    // checkpointed ONCE and closed over by every micro-batch (r17
    // review: re-deriving the full clustered corpus per batch paid 3
    // redundant corpus scans inside the stream)
    val cemb = Round16Ops.clusteredEmb(spark, sfDir).localCheckpoint(true)
    // standing bucket state = segment 0 of the bucket store (the
    // cknngpre store's bucket artifact, written once)
    val (_, oldB) = Round16Ops.clusteredPre(spark, sfDir)
    stageAnnSegments(cemb, oldB, col("vec_id") % 10 === 4, d)
    runAnnIngest(spark, cemb, d)
    d
  }

  /** THE maintenance-merge shape, defined once (r18 review: four
    * inline copies had grown — G28, G29, G30, and the compaction
    * probe): untouched standing top-3 lists pass through; every src
    * that gained an increment edge re-ranks over (its standing list ∪
    * its increment edges) — E30's fold-in arithmetic. */
  private[graft] def mergeGraph(standing: DataFrame,
      incEdges: DataFrame): DataFrame = {
    val affected = incEdges.select(col("src")).distinct()
    val untouched = standing.join(affected, Seq("src"), "left_anti")
    val reranked = top3(
      standing.join(affected, Seq("src"))
        .select(col("src"), col("dst"), col("sim"))
        .unionByName(incEdges.select(col("src"), col("dst"),
          col("sim"))))
    untouched.unionByName(reranked)
  }

  /** The G28 maintenance merge over the streamed segments. */
  private[graft] def mergedGraphFrom(spark: SparkSession, sfDir: String,
      dir: String): DataFrame = {
    val (standing, _) = Round16Ops.clusteredPre(spark, sfDir)
    mergeGraph(standing,
      graft.sources.SegmentStore.read(spark, s"$dir/edges"))
      .localCheckpoint(true)
  }

  /** Spec hook: the streamed-refresh merged graph alone (ingest runs
    * through the same staging guard the query uses). */
  private[graft] def streamedMergedGraph(spark: SparkSession,
      sfDir: String): DataFrame = {
    val dir = stagedAnn.computeIfAbsent(sfDir,
      _ => ingestAnnSegments(spark, sfDir))
    mergedGraphFrom(spark, sfDir, dir)
  }

  /** Spec hook: the raw streamed segment edges (batch-boundary
    * non-degeneracy pins read them). */
  private[graft] def streamedSegmentEdges(spark: SparkSession,
      sfDir: String): DataFrame = {
    val dir = stagedAnn.computeIfAbsent(sfDir,
      _ => ingestAnnSegments(spark, sfDir))
    graft.sources.SegmentStore.read(spark, s"$dir/edges")
  }

  // ---------------------------------------------------------------- E31
  /** Incremental maintenance of the CAPPED layered substrate under
    * EPOCH-PINNED representatives — the refresh ≡ rebuild contract
    * the round-16 forward note designed and round 17 lands: under a
    * per-bucket candidate cap, a naive global re-rank of the reps on
    * ingest EVICTS standing representatives (new members can hash
    * below them), changing old members' candidate pools — so
    * top-3-under-union no longer covers the standing lists and
    * refresh ≠ rebuild. The epoch contract fixes the semantics
    * instead of the algebra: representatives are pinned AT THEIR
    * INGEST EPOCH — R_e(bucket) = up to `cap` epoch-e members
    * minimizing the cap hash — and the index's candidate relation is
    * members × (∪_e R_e). Then rebuild candidates decompose exactly
    * as [old × R_0] (summarized by the standing capped graph — top-3
    * monotone under union, E27) ∪ [new × (R_0 ∪ R_1)] ∪ [old × R_1]
    * (the increment), so REFRESH ≡ EPOCH-STRUCTURED REBUILD to the
    * bit. The emitted result is the layered search over the
    * refreshed substrate; the oracle replays the epoch-structured
    * rebuild (per-(bucket, epoch) rep rank in one window) + E28's
    * search chain, so hash equality proves the whole composite.
    *
    * The price of the contract is bounded staleness, not correctness:
    * an epoch's reps stay representative of their own epoch's bucket
    * population forever (candidates only ADD as epochs land), and the
    * off-peak compaction that merges epochs is exactly a fresh capped
    * build — the CompactionProbe economics decide when.
    *
    * Scale: the increment touches the batch's buckets, the batch's
    * ≤cap·tables reps, one batch×rep join and the affected srcs'
    * ≤3-row standing lists — never the corpus self-join the cap
    * exists to avoid; the standing build is the LINEAR capped one
    * (N·tables·cap candidates, the ×20-measured 16.3 s → 4.8 s knob
    * of E28's row). */
  def annLayeredCapIncremental(spark: SparkSession,
      sfDir: String): DataFrame = {
    val cemb = Round16Ops.clusteredEmb(spark, sfDir)
    val (standing, oldB, r0) = standingCappedState(spark, sfDir)
    val edges = Round16Ops.symEdges(
      epochCappedIncrementalFrom(cemb, standing, oldB, r0)
        .localCheckpoint(true))
    val out = Round16Ops.layeredSearchOver(cemb, edges)
      .localCheckpoint(true)
    edges.unpersist()
    out
  }

  private[graft] val epochCap = 16

  private def capHashed(b: DataFrame): DataFrame = {
    import graft.functions.gf
    b.withColumn("h",
      gf.h32(concat(lit("cap:"), col("vec_id").cast("string"))))
  }

  /** Per-(table, bucket, epoch) representatives: up to `cap` members
    * of that epoch minimizing the cap hash. */
  private[graft] def epochReps(b: DataFrame, cap: Int): DataFrame = {
    val wb = Window.partitionBy(col("table_id"), col("bucket"),
      col("epoch")).orderBy(col("h"), col("vec_id"))
    capHashed(b)
      .withColumn("rn", row_number().over(wb)).filter(col("rn") <= cap)
      .select(col("table_id"), col("bucket"), col("vec_id").as("dst"))
  }

  private[graft] def scorePairs(cand: DataFrame,
      emb: DataFrame): DataFrame = {
    import graft.functions.gf
    cand
      .join(emb.select(col("vec_id").as("src"),
        col("embedding").as("sv")), "src")
      .join(emb.select(col("vec_id").as("dst"),
        col("embedding").as("dv")), "dst")
      .select(col("src"), col("dst"),
        round(gf.cosine_sim(col("sv"), col("dv")), 6).as("sim"))
  }

  private[graft] def top3(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("src"), col("rank"), col("dst"), col("sim"))
  }

  /** The epoch-structured capped REBUILD over the whole corpus — the
    * contract the oracle replays and the spec's equality reference. */
  private[graft] def epochCappedGraph(cemb: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    val b = AnnOps.signBucketsQ(emb, "vec_id", 4, 8)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val reps = epochReps(
      b.withColumn("epoch", (col("vec_id") % 10 === 4).cast("int")),
      epochCap)
    val cand = b.select(col("table_id"), col("bucket"),
        col("vec_id").as("src"))
      .join(reps, Seq("table_id", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    try top3(scorePairs(cand, emb)).localCheckpoint(true)
    finally { b.unpersist(); () }
  }

  /** The standing epoch-0 capped graph, run-shared (the E11/E15
    * split — built once per corpus per run under the `ccapknng` store
    * key, priced by the `ccap_graph_pre_build` bench row; identical
    * to the epoch rule's R_0 build since every standing member is
    * epoch 0). */
  private def standingCappedState(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) =
    AnnOps.cappedPreSharedOver(spark, sfDir, "ccapknng",
      Round16Ops.clusteredEmb(spark, sfDir)
        .filter(col("vec_id") % 10 =!= 4)
        .select(col("vec_id"), col("v").as("embedding")), epochCap)

  /** Bench lifecycle hook: materialize the standing capped graph so
    * the two maintenance rows time a warm store read. */
  def ccapGraphPreBuild(spark: SparkSession, sfDir: String): Unit = {
    standingCappedState(spark, sfDir)
    ()
  }

  /** Spec hook: the refresh path with the standing state derived
    * in-plan (no store — bit-identical to the store read since the
    * capped build and the bucket hashing are deterministic). */
  private[graft] def epochCappedIncrementalGraph(
      cemb: DataFrame): DataFrame = {
    val old = cemb.filter(col("vec_id") % 10 =!= 4)
      .select(col("vec_id"), col("v").as("embedding"))
    val oldB = AnnOps.signBucketsQ(old, "vec_id", 4, 8)
    epochCappedIncrementalFrom(cemb,
      Round16Ops.knnGraphBuildCapped(old, epochCap), oldB,
      epochReps(oldB.withColumn("epoch", lit(0)), epochCap))
  }

  /** The refresh path: standing epoch-0 capped graph + STORED
    * standing buckets + the increment [new × (R_0 ∪ R_1)] ∪
    * [old × R_1], merged by per-src re-rank. With the buckets read
    * from the store the maintenance path never re-hashes the
    * standing corpus — its contact with standing data is the
    * bucket-table joins and the affected srcs' ≤3-row lists (the
    * `epoch_cap_incr` probe measures the resulting near-flatness).
    * `newPred` is parameterized so the probe can hold the BATCH
    * fixed while the standing corpus grows. */
  private[graft] def epochCappedIncrementalFrom(cemb: DataFrame,
      standing: DataFrame, oldB: DataFrame, r0: DataFrame,
      newPred: Column = col("vec_id") % 10 === 4): DataFrame = {
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    val newB = AnnOps.signBucketsQ(emb.filter(newPred), "vec_id", 4, 8)
      .localCheckpoint(true)
    val r1 = epochReps(newB.withColumn("epoch", lit(1)), epochCap)
    val newCand = newB.select(col("table_id"), col("bucket"),
        col("vec_id").as("src"))
      .join(r0.unionByName(r1), Seq("table_id", "bucket"))
    val oldCand = oldB.select(col("table_id"), col("bucket"),
        col("vec_id").as("src"))
      .join(r1, Seq("table_id", "bucket"))
    val cand = newCand.unionByName(oldCand)
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val inc = scorePairs(cand, emb).localCheckpoint(true)
    mergeGraph(standing, inc)
  }

  val annLayeredCapIncrementalSql: String =
    s"""WITH ${Round16Ops.clusteredBaseCtes},
       |creps AS MATERIALIZED (
       |  SELECT table_id, bucket, vec_id AS dst FROM (
       |    SELECT table_id, bucket, vec_id,
       |      row_number() OVER (PARTITION BY table_id, bucket,
       |        (vec_id % 10 = 4)
       |        ORDER BY ('0x' || substr(md5('cap:' ||
       |          CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, vec_id)
       |        AS rn
       |    FROM cbuck) WHERE rn <= $epochCap),
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

  // ---------------------------------------------------------------- G29
  /** Streaming ingest of the EPOCH-CAPPED substrate — G28 and E31
    * composed, which is the index path a 100 TB deployment actually
    * runs (the capped build is the only linear one, and live vectors
    * arrive as a stream): each micro-batch is its OWN REP EPOCH.
    * Inside foreachBatch the batch derives its per-(table, bucket)
    * representatives FROM THE BATCH ALONE (epoch-pinned — standing
    * rep segments are never re-ranked), scores the epoch-capped
    * increment [batch members × (prior reps ∪ batch reps)] ∪
    * [prior members × batch reps], and appends three segments:
    * edges, buckets, reps. Every (member, rep) candidate is scored
    * in exactly the batch where the LATER of the two arrives, so the
    * segment union carries the multi-epoch rebuild's candidate
    * relation and top-3-under-union gives streamed refresh ≡
    * MULTI-EPOCH-STRUCTURED REBUILD to the bit — the oracle replays
    * that rebuild (one rep-rank window partitioned by (bucket,
    * arrival epoch), arrival derived from vec_id) + E28's search
    * chain, so hash equality proves the whole composite.
    *
    * Scale: per batch the work is the batch's buckets, its ≤cap·
    * tables reps, two batch-sized equi-joins and the appends — the
    * standing index never rewrites and NOTHING is ever
    * cluster-quadratic (the whole point of ingesting into the capped
    * substrate); epoch merge (compaction) is a fresh capped build,
    * scheduled off-peak by the CompactionProbe economics. */
  def streamingAnnCapRefresh(spark: SparkSession,
      sfDir: String): DataFrame = {
    val dir = stagedCapAnn.computeIfAbsent(sfDir,
      _ => ingestCapSegments(spark, sfDir))
    val cemb = Round16Ops.clusteredEmb(spark, sfDir)
    val edges = Round16Ops.symEdges(
      capMergedGraphFrom(spark, sfDir, dir))
    val out = Round16Ops.layeredSearchOver(cemb, edges)
      .localCheckpoint(true)
    edges.unpersist()
    out
  }

  private val stagedCapAnn =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage the G29 ingest's inputs under `d` (untimed substrate:
    * standing epoch-0 bucket + rep segments, the arriving micro-batch
    * files) — split from [[runCapIngest]] for the §5
    * `stream_capann_ingest` probe. */
  private[graft] def stageCapSegments(cemb: DataFrame, oldB: DataFrame,
      newPred: Column, d: String): Unit = {
    graft.sources.SegmentStore.append(
      oldB.select(col("table_id"), col("bucket"), col("vec_id")),
      s"$d/buckets")
    graft.sources.SegmentStore.append(
      epochReps(oldB.withColumn("epoch", lit(0)), epochCap), s"$d/reps")
    stageBatchFiles(cemb.filter(newPred), d)
  }

  /** The G29 foreachBatch loop: each micro-batch derives its OWN rep
    * epoch and appends three segments (edges, buckets, reps) through
    * the atomic [[graft.sources.SegmentStore]]. */
  private[graft] def runCapIngest(spark: SparkSession, cemb: DataFrame,
      d: String): Unit = {
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    graft.streaming.StreamingTwins.drain(spark.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$d/batch_*")
      .writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val sp = batch.sparkSession
          val bEmb = batch.select(col("vec_id"),
            col("v").as("embedding")).localCheckpoint(true)
          val bB = AnnOps.signBucketsQ(bEmb, "vec_id", 4, 8)
            .select(col("table_id"), col("bucket"), col("vec_id"))
            .localCheckpoint(true)
          // the batch's OWN epoch: rank within the batch alone — the
          // constant epoch tag makes the shared window per-batch
          val bReps = epochReps(bB.withColumn("epoch", lit(1)),
            epochCap).localCheckpoint(true)
          val priorB = graft.sources.SegmentStore.read(sp, s"$d/buckets")
          val priorR = graft.sources.SegmentStore.read(sp, s"$d/reps")
          val cand = bB.select(col("table_id"), col("bucket"),
              col("vec_id").as("src"))
            .join(priorR.unionByName(bReps), Seq("table_id", "bucket"))
            .unionByName(
              priorB.select(col("table_id"), col("bucket"),
                col("vec_id").as("src"))
                .join(bReps, Seq("table_id", "bucket")))
            .filter(col("src") =!= col("dst"))
            .select(col("src"), col("dst")).distinct()
          graft.sources.SegmentStore.append(
            scorePairs(cand, emb), s"$d/edges")
          graft.sources.SegmentStore.append(bB, s"$d/buckets")
          graft.sources.SegmentStore.append(bReps, s"$d/reps")
      })
  }

  private def ingestCapSegments(spark: SparkSession,
      sfDir: String): String = {
    val d = tempSegmentDir("graft_stream_capann")
    // checkpointed once, closed over by every batch (see
    // ingestAnnSegments)
    val cemb = Round16Ops.clusteredEmb(spark, sfDir).localCheckpoint(true)
    val newPred = col("vec_id") % 10 === 4
    val oldB = AnnOps.signBucketsQ(
      cemb.filter(!newPred).select(col("vec_id"),
        col("v").as("embedding")), "vec_id", 4, 8)
      .localCheckpoint(true)
    stageCapSegments(cemb, oldB, newPred, d)
    runCapIngest(spark, cemb, d)
    d
  }

  /** The G29 segment-store dir for this (JVM, corpus) — staged on
    * first use (shared with E32's compaction, which collapses exactly
    * this store's multi-epoch state). */
  private[operators] def capSegmentDir(spark: SparkSession,
      sfDir: String): String =
    stagedCapAnn.computeIfAbsent(sfDir,
      _ => ingestCapSegments(spark, sfDir))

  /** The maintenance merge over the streamed epoch-capped segments —
    * the standing epoch-0 capped graph summarizes [old × R_0]; every
    * src that gained a segment edge re-ranks over union. */
  private[graft] def capMergedGraphFrom(spark: SparkSession,
      sfDir: String, dir: String): DataFrame = {
    val (standing, _, _) = standingCappedState(spark, sfDir)
    mergeGraph(standing,
      graft.sources.SegmentStore.read(spark, s"$dir/edges"))
      .localCheckpoint(true)
  }

  /** Spec hook: the streamed epoch-capped merged graph. */
  private[graft] def streamedCapMergedGraph(spark: SparkSession,
      sfDir: String): DataFrame = {
    val dir = stagedCapAnn.computeIfAbsent(sfDir,
      _ => ingestCapSegments(spark, sfDir))
    capMergedGraphFrom(spark, sfDir, dir)
  }

  /** Spec hook: the raw streamed rep segments. */
  private[graft] def streamedCapReps(spark: SparkSession,
      sfDir: String): DataFrame = {
    val dir = stagedCapAnn.computeIfAbsent(sfDir,
      _ => ingestCapSegments(spark, sfDir))
    graft.sources.SegmentStore.read(spark, s"$dir/reps")
  }

  /** The MULTI-epoch-structured capped rebuild — epoch = arrival
    * label (0 for standing, 1 + (vec_id div 10) mod 3 per batch),
    * the contract the G29 oracle replays and the spec's reference. */
  private[graft] def multiEpochCappedGraph(cemb: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    val b = AnnOps.signBucketsQ(emb, "vec_id", 4, 8)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val reps = epochReps(
      b.withColumn("epoch",
        when(col("vec_id") % 10 === 4,
          expr("1 + (vec_id div 10) % 3")).otherwise(lit(0L))),
      epochCap)
    val cand = b.select(col("table_id"), col("bucket"),
        col("vec_id").as("src"))
      .join(reps, Seq("table_id", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    try top3(scorePairs(cand, emb)).localCheckpoint(true)
    finally { b.unpersist(); () }
  }

  val streamingAnnCapRefreshSql: String =
    s"""WITH ${Round16Ops.clusteredBaseCtes},
       |creps AS MATERIALIZED (
       |  SELECT table_id, bucket, vec_id AS dst FROM (
       |    SELECT table_id, bucket, vec_id,
       |      row_number() OVER (PARTITION BY table_id, bucket,
       |        CASE WHEN vec_id % 10 = 4
       |          THEN 1 + (vec_id // 10) % 3 ELSE 0 END
       |        ORDER BY ('0x' || substr(md5('cap:' ||
       |          CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, vec_id)
       |        AS rn
       |    FROM cbuck) WHERE rn <= $epochCap),
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

  // --------------------------------------------------------------- B111
  /** Out-of-sample READ of the calibration FIX — the nested split the
    * round-16 verdict asked for: B109 fits PAV per fold on that
    * fold's out-of-fold scores but reports improvement on the SAME
    * scores (in-sample for the FIT, cal_post = 0 structurally). Here
    * each fold's out-of-fold scores split by a content hash into a
    * FIT half and a HELD half; PAV (B104's grouped max-min closed
    * form) fits on the FIT half only, extends to a STEP FUNCTION
    * (a held score takes the isotonic value of the largest fit score
    * ≤ it; below the lowest fit score it takes the lowest fit bin's
    * value — the standard left-constant extension), and the table
    * reports the held half's Brier before and after. improvement_ppm
    * here CAN be negative (nothing forces a fit to transfer) — the
    * spec pins that a planted-overfit scorer improves out-of-sample
    * while an already-calibrated one is untouched, and the corpus
    * table is the honest measurement.
    *
    * Scale: one fact scan (5-row wide model broadcast, the hash-half
    * a scan-side projection), two |folds|×|distinct scores| ≤ 40 bin
    * collapses; the PAV fit, the step-application join (fit bins ×
    * held bins, both model-sized) and the Brier tails are all
    * bin-relation-sized. Integer headroom: the B109 envelope
    * (BIGINT-safe to ~9·10⁶ rows per bin, then DECIMAL(38,0)
    * promotion, oracle mirroring the cast — the B99 discipline). */
  def qCalibrationOos(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.gf
    val wide = ModelStore.gbtCvWide(spark, sfDir)
      .withColumnRenamed("g", "fold")
    calibrationOosFrom(
      Round13Ops.foldRidRows(spark, sfDir).join(broadcast(wide), "fold")
        .select(col("fold"),
          (gf.h32(concat(lit("oos:"), col("rid"))) % 2).as("half"),
          Round13Ops.gbtScoreColumn.as("s"), col("y")))
  }

  /** The fit-on-half / read-on-half tail over (fold, half, s, y)
    * scored rows — the spec hook. */
  private[graft] def calibrationOosFrom(scored: DataFrame): DataFrame = {
    // loud domain guard (r17 advisor): the s = −1 left-extension
    // sentinel is total ONLY over non-negative scores — a GBT leaf-sum
    // corpus with s < −1 would silently drop those held bins from
    // n_held on BOTH engines (so the oracle could never flag it).
    // Assert the domain on the bin-sized relations instead: a
    // negative-score corpus fails here, loudly, before any read.
    def nonNegS(bins: DataFrame): DataFrame = bins.filter(coalesce(
      assert_true(col("s") >= 0, lit("q_calibration_oos: negative " +
        "score breaks the s = -1 left-extension sentinel")), lit(true)))
    val iso = nonNegS(Round16Ops.pavTable(scored.filter(col("half") === 0)
        .select(col("fold"), col("s"), col("y")))
      .select(col("fold"), col("s"), col("iso_ppm")))
    // left-constant extension: a per-fold sentinel at s = −1 carrying
    // the lowest fit bin's value makes "largest fit s ≤ held s" total
    // (scores are ≥ 0 on both engines — asserted above)
    val isoLo = iso.groupBy(col("fold"))
      .agg(min(struct(col("s"), col("iso_ppm"))).as("m"))
      .select(col("fold"), lit(-1L).as("s"),
        col("m").getField("iso_ppm").as("iso_ppm"))
    val isoAll = iso.unionByName(isoLo)
    val held = nonNegS(scored.filter(col("half") === 1)
      .groupBy(col("fold"), col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos")))
    val applied = held
      .join(isoAll.select(col("fold"), col("s").as("fs"),
        col("iso_ppm")), Seq("fold"))
      .filter(col("fs") <= col("s"))
      .groupBy(col("fold"), col("s"), col("n"), col("pos"))
      .agg(max(struct(col("fs"), col("iso_ppm"))).as("m"))
      .select(col("fold"), col("s"), col("n"), col("pos"),
        col("m").getField("iso_ppm").as("iso"))
    applied.groupBy(col("fold")).agg(
        sum(col("n")).as("n_held"),
        sum(expr("pos * (1000000 - s) * (1000000 - s)" +
          " + (n - pos) * s * s")).as("bnum_pre"),
        sum(expr("pos * (1000000 - iso) * (1000000 - iso)" +
          " + (n - pos) * iso * iso")).as("bnum_post"))
      .select(col("fold"), col("n_held"),
        expr("bnum_pre div (n_held * 1000000)").as("brier_pre_ppm"),
        expr("bnum_post div (n_held * 1000000)").as("brier_post_ppm"),
        expr("bnum_pre div (n_held * 1000000)" +
          " - bnum_post div (n_held * 1000000)").as("improvement_ppm"))
  }

  // ---------------------------------------------------------- oracles

  /** B111's oracle front end: the per-fold GBT chains + the
    * out-of-fold scored view with the fit/held hash-half kept
    * (shared with B112's gated read, Round18Ops). */
  private[operators] def oosCtes: String = {
    val folds = Round13Ops.cvFolds
    val scoredUnion = (0 until folds).map { f =>
      s"""SELECT CAST($f AS BIGINT) AS fold,
         |  ('0x' || substr(md5('oos:' || rid), 1, 8))::BIGINT % 2
         |    AS half,
         |  (SELECT f0 FROM x${f}f0)
         |${Round13Ops.gbtTermsSql(s"x$f")} AS s, y
         |FROM craw WHERE fold = $f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${Round15Ops.crawCte},
       |${Round15Ops.cvGbtChainsSql},
       |oos AS MATERIALIZED (
       |$scoredUnion)""".stripMargin
  }

  /** The fit-on-half / apply-to-half PAV chain (fbins → hsum) over
    * whatever `oos(fold, half, s, y)` the preceding CTEs defined —
    * shared by B111's read and B112's gated read (Round18Ops). */
  private[operators] val oosChainCtes: String =
    s"""fbins AS MATERIALIZED (
       |  SELECT fold, s, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(row_number() OVER (PARTITION BY fold ORDER BY s)
       |      AS BIGINT) AS i,
       |    CAST(sum(sum(y)) OVER (PARTITION BY fold ORDER BY s)
       |      AS BIGINT) AS cp,
       |    CAST(sum(count(*)) OVER (PARTITION BY fold ORDER BY s)
       |      AS BIGINT) AS ct
       |  FROM oos WHERE half = 0 GROUP BY fold, s),
       |frates AS (
       |  SELECT l.fold, l.i AS j, h.i AS k,
       |    (h.cp - (l.cp - l.pos)) * 1000000
       |      // (h.ct - (l.ct - l.n)) AS rate
       |  FROM fbins l JOIN fbins h ON h.fold = l.fold AND l.i <= h.i),
       |fmm AS (
       |  SELECT r.fold, r.j, b.i, min(r.rate) AS mrate
       |  FROM frates r JOIN fbins b
       |    ON b.fold = r.fold AND r.j <= b.i AND b.i <= r.k
       |  GROUP BY r.fold, r.j, b.i),
       |fiso AS MATERIALIZED (
       |  SELECT m.fold, b.s, max(m.mrate) AS iso_ppm
       |  FROM fmm m JOIN fbins b ON b.fold = m.fold AND b.i = m.i
       |  GROUP BY m.fold, b.s),
       |fisoall AS MATERIALIZED (
       |  SELECT fold, s, iso_ppm FROM fiso
       |  UNION ALL
       |  SELECT fold, CAST(-1 AS BIGINT) AS s, iso_ppm FROM (
       |    SELECT fold, iso_ppm,
       |      row_number() OVER (PARTITION BY fold ORDER BY s) AS rn
       |    FROM fiso) WHERE rn = 1),
       |hbins AS MATERIALIZED (
       |  SELECT fold, s, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos
       |  FROM oos WHERE half = 1 GROUP BY fold, s),
       |happ AS (
       |  SELECT fold, s, n, pos, iso FROM (
       |    SELECT h.fold, h.s, h.n, h.pos, f.iso_ppm AS iso,
       |      row_number() OVER (PARTITION BY h.fold, h.s
       |        ORDER BY f.s DESC) AS rn
       |    FROM hbins h JOIN fisoall f
       |      ON f.fold = h.fold AND f.s <= h.s) WHERE rn = 1),
       |hsum AS (
       |  SELECT fold, CAST(sum(n) AS BIGINT) AS n_held,
       |    CAST(sum(pos * (1000000 - s) * (1000000 - s)
       |      + (n - pos) * s * s) AS BIGINT) AS bnum_pre,
       |    CAST(sum(pos * (1000000 - iso) * (1000000 - iso)
       |      + (n - pos) * iso * iso) AS BIGINT) AS bnum_post
       |  FROM happ GROUP BY fold)""".stripMargin

  val qCalibrationOosSql: String =
    s"""WITH $oosCtes,
       |$oosChainCtes
       |SELECT fold, n_held,
       |  bnum_pre // (n_held * 1000000) AS brier_pre_ppm,
       |  bnum_post // (n_held * 1000000) AS brier_post_ppm,
       |  bnum_pre // (n_held * 1000000)
       |    - bnum_post // (n_held * 1000000) AS improvement_ppm
       |FROM hsum""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // the oracle IS E28's full-rebuild SQL — hash equality proves the
    // streamed segment refreshes search identically to a rebuild
    QueryDef("streaming_ann_refresh", streamingAnnRefresh,
      Round16Ops.annGraphLayeredSql),
    // the multi-epoch-structured capped rebuild + E28's search chain
    QueryDef("streaming_ann_cap_refresh", streamingAnnCapRefresh,
      streamingAnnCapRefreshSql),
    // the epoch-structured capped rebuild + E28's search chain — hash
    // equality proves refresh ≡ rebuild under the epoch-pinned-reps
    // contract
    QueryDef("ann_layered_cap_incremental", annLayeredCapIncremental,
      annLayeredCapIncrementalSql),
    QueryDef("q_calibration_oos", qCalibrationOos, qCalibrationOosSql))
}
