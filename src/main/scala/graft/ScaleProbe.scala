package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Scale-behavior probe: runs headline operators on 1× and N×
  * replicas of the sf tables (ids offset per replica so keys stay
  * distinct) and reports the runtime ratio. A scalable plan should
  * grow ≈linearly (ratio ≈ N, usually less thanks to fixed overhead);
  * a quadratic one explodes.
  *
  * Document replicas are SALTED (every token suffixed with the replica
  * index) so cross-replica texts share no shingles: growing the corpus
  * must hold duplicate DENSITY constant, not multiply every duplicate
  * cluster by the replica count — identical-text replication turns
  * each cluster into an R²-pair clique and measures that worst-case
  * corpus, not the operator's scaling.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [factor...]  (default 5 10)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors: Seq[Int] =
      if (args.length > 1) args.drop(1).toSeq.map(_.toInt) else Seq(5, 10)
    val spark = Harness.session(extraConf = Map(
      // graft extensions: inert except on marker column names — lets the
      // vhash probes compare the H16 columnar lane vs the codegen row path
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      // events.parquet carries TIMESTAMP(NANOS); read as long (pruned
      // away anyway — probes only use ids/type)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++
      // SPARK_GRAFT_PROBE_PARTITIONS: size the shuffle to the probed
      // scale — a ×100 replica corpus on one partition per core crosses
      // the per-task sort-spill threshold, and naming that cause (vs
      // taking the super-linear ratio at face value) needs the A/B
      sys.env.get("SPARK_GRAFT_PROBE_PARTITIONS")
        .map("spark.sql.shuffle.partitions" -> _))
    spark.sparkContext.setLogLevel("ERROR")

    def replicate(df: DataFrame, times: Int, idCols: Seq[String], offset: Long): DataFrame =
      (0 until times).map { i =>
        idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * offset)))
      }.reduce(_ unionByName _)

    /** Replicate documents with per-replica token salting: same size and
      * in-replica duplicate structure, zero cross-replica shingle overlap.
      * Replica 0 keeps the ORIGINAL text so probes that join the scaled
      * corpus against a fixed unsalted set (contamination's bench side)
      * retain their 1× match structure — salting replica 0 would turn
      * those joins into zero-match runs and probe nothing. */
    def replicateDocs(df: DataFrame, times: Int): DataFrame =
      (0 until times).map { i =>
        val ids = df.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
        if (i == 0) ids
        else ids.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1_" + i))
      }.reduce(_ unionByName _)

    /** Replicated docs WRITTEN to parquet and re-scanned, for the
      * columnar-lane probes: the in-memory union's doc_id+offset /
      * regexp_replace branches are non-attribute projections that
      * GraftAffineToColumnar's eligibility guards (correctly) reject,
      * so probing the union measured the ROW path at every scaled
      * factor (round-9 advisor finding). Re-scanning parquet puts the
      * marked projection directly over a columnar scan at every
      * factor. Write cost is paid here, outside the timed action. */
    def replicateDocsScan(df: DataFrame, times: Int): DataFrame = {
      // cache key carries the corpus path AND a content fingerprint
      // (file sizes + mtimes of the source parquet) — a path-only key
      // silently reuses stale /tmp parquet when the corpus is
      // regenerated in place, and a sanitized path alone can collide
      // distinct dirs like /a/b vs /a_b (round-11 advisor); hashing
      // the RAW path plus the fingerprint closes both
      val srcDir = java.nio.file.Paths.get(sfDir, "documents.parquet")
      val fingerprint: Long =
        try {
          val s = java.nio.file.Files.list(srcDir)
          try s.iterator().asScala.foldLeft(17L) { (h, f) =>
            val sz = try java.nio.file.Files.size(f) catch { case _: Throwable => 0L }
            val mt = try java.nio.file.Files.getLastModifiedTime(f).toMillis
                     catch { case _: Throwable => 0L }
            h * 1000003L + sz * 31L + mt
          } finally s.close()
        } catch { case _: Throwable => 0L }
      val corpusKey = java.lang.Long.toHexString(
        sfDir.hashCode.toLong << 32 | (fingerprint & 0xffffffffL)) +
        "_" + java.lang.Long.toHexString(fingerprint >>> 32)
      val p = s"/tmp/graft_probe_docs_${corpusKey}_x$times"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")))
        replicateDocs(df, times).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // nanos ts column pruned away — probes only need ids/type
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "user_id", "event_type")

    // warmup
    li.count(); docs.count(); ev.count()

    // the shared (q, dd, y, rid) eval projection (the B93/B94 shape)
    def liLabeled(d: DataFrame): DataFrame =
      d.select(col("l_quantity").cast("long").as("q"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
        (col("l_returnflag") === lit("R")).cast("long").as("y"),
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")).as("rid"))

    /** B109/B110 shared preamble: the five per-fold CV models train
      * on the FIXED 1× corpus (untimed — gbt_model_build prices the
      * training at bench time; re-derived per probe point because
      * `isolated()`'s cache release drops checkpoint blocks between
      * points), and each probe corpus gets the out-of-fold
      * (fold, s, y) scoring view the bench rows time. */
    def cvWideFixed: DataFrame = {
      import graft.functions.gf
      val data = liLabeled(spark.read.parquet(s"$sfDir/lineitem.parquet"))
        .withColumn("fold",
          gf.h32(concat(lit("hold:"), col("rid"))) %
            operators.Round13Ops.cvFolds)
      val train0 = data.crossJoin(broadcast(spark
          .range(operators.Round13Ops.cvFolds).select(col("id").as("g"))))
        .filter(col("g") =!= col("fold"))
        .select(col("g"), col("q"), col("dd"), col("y"))
      operators.Round13Ops.jointGbtModels(train0)
        .withColumnRenamed("g", "fold").localCheckpoint(true)
    }
    def oofScoredWith(d: DataFrame, wide: DataFrame): DataFrame = {
      import graft.functions.gf
      liLabeled(d)
        .withColumn("fold",
          gf.h32(concat(lit("hold:"), col("rid"))) %
            operators.Round13Ops.cvFolds)
        .join(broadcast(wide), "fold")
        .select(col("fold"),
          operators.Round13Ops.gbtScoreColumn.as("s"), col("y"))
    }

    val probes: Seq[(String, DataFrame => Double, Int => DataFrame, DataFrame)] = Seq(
      ("q1_agg",
        (d: DataFrame) => time(d.groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast("decimal(12,2)")), count(lit(1))).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      ("window_scd",
        (d: DataFrame) => {
          import org.apache.spark.sql.expressions.Window
          time(d.withColumn("rn",
            row_number().over(Window.partitionBy("l_suppkey")
              .orderBy("l_shipdate", "l_orderkey", "l_linenumber")))
            .filter(col("rn") === 1).count())
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      ("minhash_lsh",
        (d: DataFrame) => time(
          operators.DedupOps.minhashPipeline(d.select("doc_id", "text"), 0.5).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      ("simhash",
        (d: DataFrame) => time(
          operators.DedupOps.simhashPipeline(d.select("doc_id", "text"), 3).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // decontamination: corpus grows, benchmark (eval set) stays fixed —
      // the realistic shape; broadcast side is constant
      ("contamination",
        (d: DataFrame) => time(operators.PipelineOps.contaminationPipeline(
          d, docs.filter(col("doc_id") % 50 === 0)).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // packing: source cardinality fixed, rows per stratum grow linearly
      ("pack_seq",
        (d: DataFrame) => time(operators.PipelineOps.packPipeline(d).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // top-3 lineitems per supplier, window form vs bounded aggregate:
      // the window shuffles+sorts every row; the aggregate's map-side
      // combine ships at most k rows per (partition, supplier)
      ("topk_window",
        (d: DataFrame) => {
          import org.apache.spark.sql.expressions.Window
          time(d.withColumn("rn", row_number().over(
            Window.partitionBy("l_suppkey")
              .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
            .filter(col("rn") <= 3).count())
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      ("topk_agg",
        (d: DataFrame) => time(d.groupBy(col("l_suppkey"))
          .agg(functions.TopKAgg.top_k(col("l_extendedprice"),
            col("l_orderkey") * 10 + col("l_linenumber"), 3).as("top"))
          .select(col("l_suppkey"), explode(col("top"))).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // incremental dedup: the NEW batch stays fixed (a slice of the
      // original docs) while the standing OLD corpus grows — the
      // realistic daily-ingest shape; cost should track the probe side
      ("dedup_incr",
        (d: DataFrame) => time(operators.DedupMore.incrementalPipeline(
          d.withColumn("is_new", col("doc_id") < 1000000L
            && abs(hash(col("doc_id"))) % 10 === 0)).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // incremental dedup against a STANDING band index (D13): the
      // index build is the once-per-corpus cost and runs untimed; the
      // timed section is the daily batch probe only — cost should be
      // near-flat in corpus size (batch work + a co-located join)
      ("dedup_incr_idx",
        (d: DataFrame) => {
          val dir = java.nio.file.Files
            .createTempDirectory("graft_bandidx_probe").toString
          val isNew = (col("doc_id") < 1000000L) &&
            (abs(hash(col("doc_id"))) % 10 === 0)
          val idx = new sources.BandIndex(spark, "graft_probe_bandidx", dir)
          idx.create(d.filter(!isNew).select("doc_id", "text"))
          val newDocs = d.filter(isNew).select("doc_id", "text")
          val t = time(idx.probe(newDocs).count())
          idx.drop()
          t
        },
        (n: Int) => replicateDocs(docs, n), docs),
      // compaction-policy curve, fan-out side: the SAME probe against
      // an 8-segment store (create + 7 refreshes). The delta vs
      // dedup_incr_idx (1 segment = the post-compaction cost) at each
      // scale is the probe-latency price of deferring compaction —
      // what a compaction scheduler weighs against the rewrite cost
      ("dedup_incr_seg8",
        (d: DataFrame) => {
          val dir = java.nio.file.Files
            .createTempDirectory("graft_bandidx_seg8").toString
          val isNew = (col("doc_id") < 1000000L) &&
            (abs(hash(col("doc_id"))) % 10 === 0)
          val idx = new sources.BandIndex(spark, "graft_probe_bandseg8", dir)
          val old = d.filter(!isNew).select("doc_id", "text")
            .withColumn("seg", abs(hash(col("doc_id"))) % 8)
          idx.create(old.filter(col("seg") === 0).drop("seg"))
          (1 to 7).foreach(s => idx.refresh(old.filter(col("seg") === s).drop("seg")))
          val newDocs = d.filter(isNew).select("doc_id", "text")
          val t = time(idx.probe(newDocs).count())
          idx.drop()
          t
        },
        (n: Int) => replicateDocs(docs, n), docs),
      // novelty: two shingle-key linear shuffles; ratio should stay ≈N
      ("novelty",
        (d: DataFrame) => time(
          operators.DedupMore.noveltyPipeline(d).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // count-min heavy hitters: the sketch stays 128 cells at ANY
      // size — the build agg is linear, the probe joins a fixed-key
      // relation against the broadcast sketch; ratio should stay ≈N
      // for the scan and the probe side should not grow
      ("cms_hh",
        (d: DataFrame) => time(
          operators.StatsOps.heavyHittersPipeline(d).count()),
        (n: Int) => replicate(ev, n, Seq("event_id"), 10000000L), ev),
      // co-occurrence: replicas repeat (user,type) rows — the DISTINCT
      // reduction must absorb the growth before the quadratic pair
      // step, so runtime tracks the scan, not the pair fanout
      ("cooccur",
        (d: DataFrame) => time(
          operators.StatsOps.cooccurrencePipeline(d).count()),
        (n: Int) => replicate(ev, n, Seq("event_id"), 10000000L), ev),
      // full duplicate-cluster closure (LSH pairs → connected
      // components): per-replica duplicate density is constant, so the
      // pair graph grows linearly and each CC round is a linear
      // equi-join — ratio should track the LSH probe, with the
      // fixed per-round job overhead amortizing as data grows
      ("cc_closure",
        (d: DataFrame) => time(operators.ClusterOps.connectedComponents(
          operators.DedupOps.minhashPipeline(d.select("doc_id", "text"), 0.5))
          .count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // two-star contraction CC (D25): same input as cc_closure — the
      // head-to-head of the two closure algorithms; rounds are
      // diameter-independent, each two linear passes over the edges
      ("cc_twostar",
        (d: DataFrame) => time(operators.Round9bOps.twoStarComponents(
          operators.DedupOps.minhashPipeline(d.select("doc_id", "text"), 0.5)
            .select("id1", "id2")).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // triangle census: constant duplicate density → pair graph grows
      // linearly; degree orientation bounds the wedge join's fan-out by
      // oriented out-degree, so the census should track the LSH cost
      ("triangles",
        (d: DataFrame) => time(operators.DedupMore.trianglesPipeline(
          operators.DedupOps.minhashPipeline(d.select("doc_id", "text"), 0.5))
          .count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // PageRank closure: constant duplicate density → edge relation
      // grows linearly; each of the 5 fixed-point iterations is one
      // linear edges⋈ranks join + per-dst sum, so the full run should
      // track the LSH candidate cost (like cc_closure, with a fixed
      // iteration count instead of diameter-driven rounds)
      ("pagerank",
        (d: DataFrame) => time(operators.DedupMore.pagerankPipeline(
          operators.DedupOps.minhashPipeline(d.select("doc_id", "text"), 0.5)
            .select("id1", "id2")).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // Levenshtein verify: candidates grow linearly with constant
      // duplicate density and each pair's DP cost is doc-length-bounded
      // — the verify stage should add a near-constant factor on top of
      // the LSH probe, NOT change its slope
      ("edit_verify",
        (d: DataFrame) => time(operators.DedupMore.editVerifyPipeline(
          d.select("doc_id", "text")).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // HLL registers: the agg state is ≤ |groups|·32 rows at ANY
      // size — cost should track the scan only
      ("hll_registers",
        (d: DataFrame) => time(operators.SketchOps.hllRegisters(
          d, col("event_type"), col("user_id")).count()),
        (n: Int) => replicate(ev, n, Seq("event_id"), 10000000L), ev),
      // KMV set-op sketches: salted replicas grow each source's
      // distinct shingle set ~linearly; the pairwise stage stays
      // |sources|²·k regardless — cost should track the distinct
      ("kmv_setops",
        (d: DataFrame) => time(operators.SketchOps.kmvPipeline(d).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // PQ ANN: fixed query set (vec_id < 10 — replicas carry offset
      // ids), corpus codes grow linearly; ADC join + partial sums
      // should track the corpus scan
      ("ann_pq",
        (d: DataFrame) => time(operators.AnnOps.annPqPipeline(d).count()),
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), n,
          Seq("vec_id"), 10000000L),
        spark.read.parquet(s"$sfDir/embeddings.parquet")),
      // E28 layered graph search: fixed query set (vec_id < 10 lives
      // in replica 0 only); the SEARCH is timed over an untimed
      // fresh-built substrate (the D13 build-once/probe-many split —
      // standing-index builds carry their own cost rows). Expected:
      // the coarse layer grows as √N (2·⌈√N⌉ exemplars × 10 queries),
      // the fine beam is round/beam-bounded — sub-linear overall.
      // Replicated ids land in fresh hash clusters, so duplicate-
      // vector pairs inside a grown cluster stay rare (not salted:
      // the search never compares replicas pairwise — only the
      // substrate build would, and it is untimed here).
      ("graph_layered",
        (d: DataFrame) => {
          val (cemb, edges) = operators.Round16Ops.layeredSubstrate(
            d.select(col("vec_id"), col("embedding")))
          // materialize the lazily-persisted symmetrized edge set
          // BEFORE the timed region (r17 review): symEdges' O(N)
          // union+distinct is substrate build, not search
          edges.count()
          val t = time(
            operators.Round16Ops.layeredSearchOver(cemb, edges).count())
          edges.unpersist()
          t
        },
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), n,
          Seq("vec_id"), 10000000L),
        spark.read.parquet(s"$sfDir/embeddings.parquet")),
      // E28 BUILD-side A/B: the uncapped E19 build over the clustered
      // corpus pays ~N²/K candidates (anchor-dominated buckets are
      // cluster-sized); the per-bucket candidate cap (16 hash-sampled
      // reps per bucket) bounds candidates by N·tables·cap — the two
      // rows measure the quadratic-vs-linear divergence directly
      ("layered_raw_build",
        (d: DataFrame) => {
          val t = time {
            val (_, edges) = operators.Round16Ops.layeredSubstrate(
              d.select(col("vec_id"), col("embedding")))
            val c = edges.count(); edges.unpersist(); c
          }
          t
        },
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), n,
          Seq("vec_id"), 10000000L),
        spark.read.parquet(s"$sfDir/embeddings.parquet")),
      // round-17 judge item #1b: the layered SEARCH at the scales the
      // rest of the board uses — sf0.1 base, ×50/×100 replicas — on
      // the CAPPED substrate (the documented 100 TB build mitigation;
      // the uncapped E19 build is cluster-quadratic and infeasible at
      // these sizes, which is exactly why the cap is the knob a
      // deployment turns). Substrate build untimed (the D13
      // build-once/probe-many split); the timed region is the coarse
      // √N scan + the beam traversal, expected near-flat-to-√N.
      ("graph_layered_capped",
        (d: DataFrame) => {
          val (cemb, edges) = operators.Round16Ops.layeredSubstrateCapped(
            d.select(col("vec_id"), col("embedding")), 16)
          edges.count() // see graph_layered: edge-set build is untimed
          val t = time(
            operators.Round16Ops.layeredSearchOver(cemb, edges).count())
          edges.unpersist()
          t
        },
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), n,
          Seq("vec_id"), 10000000L),
        spark.read.parquet(s"$sfDir/embeddings.parquet")),
      // E31 epoch-capped incremental maintenance (round 17): the
      // BATCH stays fixed (replica 0's new vectors) while the
      // standing corpus grows ×N — the daily-ingest shape. Untimed
      // substrate: the derived corpus, the standing capped graph AND
      // the standing bucket table (all store artifacts at scale,
      // priced by ccap_graph_pre_build). Timed: the increment
      // [new × (R_0 ∪ R_1)] ∪ [old × R_1] + the per-src re-rank
      // merge. Expected near-flat: the batch's buckets and reps are
      // fixed, standing contact is the bucket-table equi-joins (rep
      // side ≤ cap·tables rows per bucket) and the affected srcs'
      // ≤3-row lists — the [old × R_1] term grows only with the
      // POPULATION OF TOUCHED BUCKETS, not the corpus.
      ("epoch_cap_incr",
        (d: DataFrame) => {
          val cemb = operators.Round16Ops.clusteredEmbOver(
            d.select(col("vec_id"), col("embedding")))
            .localCheckpoint(true)
          val batchPred = col("vec_id") % 10 === 4 &&
            col("vec_id") < 10000000L
          val old = cemb.filter(!batchPred)
            .select(col("vec_id"), col("v").as("embedding"))
          val standing = operators.Round16Ops.knnGraphBuildCapped(
            old, operators.Round17Ops.epochCap)
          val oldB = operators.AnnOps.signBucketsQ(old, "vec_id", 4, 8)
            .localCheckpoint(true)
          // the standing rep set is store state too (third `ccapknng`
          // artifact) — derived untimed here like the graph/buckets
          val r0 = operators.Round17Ops.epochReps(
            oldB.withColumn("epoch", lit(0)),
            operators.Round17Ops.epochCap).localCheckpoint(true)
          time(operators.Round17Ops.epochCappedIncrementalFrom(
            cemb, standing, oldB, r0, batchPred).count())
        },
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), n,
          Seq("vec_id"), 10000000L),
        spark.read.parquet(s"$sfDir/embeddings.parquet")),
      ("layered_cap_build",
        (d: DataFrame) => {
          val t = time {
            val (_, edges) = operators.Round16Ops.layeredSubstrateCapped(
              d.select(col("vec_id"), col("embedding")), 16)
            val c = edges.count(); edges.unpersist(); c
          }
          t
        },
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), n,
          Seq("vec_id"), 10000000L),
        spark.read.parquet(s"$sfDir/embeddings.parquet")),
      // G28 streamed ANN ingest (round 18, r17 judge item #5): the
      // foreachBatch LIVE path itself — §5 measured E31's batch
      // maintenance to ×100 but G28/G29's per-micro-batch wall time
      // vs standing-corpus size was inferred, not measured. The BATCH
      // is fixed (replica 0's new vectors); the standing corpus grows
      // ×N. Untimed: corpus derivation, standing buckets, batch file
      // staging (store artifacts / arrival queue at scale). Timed:
      // the 3-micro-batch streaming run — encode, batch×bucket
      // equi-join against (standing ∪ prior ∪ own) segments, score,
      // segment appends. Expected sub-linear: per batch the stream
      // side is fixed, standing contact is the bucket equi-join whose
      // output grows with TOUCHED-BUCKET POPULATION (the epoch_cap_
      // incr mechanism, here on the live path).
      ("stream_ann_ingest",
        (d: DataFrame) => {
          val cemb = operators.Round16Ops.clusteredEmbOver(
            d.select(col("vec_id"), col("embedding")))
            .localCheckpoint(true)
          val newPred = col("vec_id") % 10 === 4 &&
            col("vec_id") < 10000000L
          val oldB = operators.AnnOps.signBucketsQ(
            cemb.filter(!newPred).select(col("vec_id"),
              col("v").as("embedding")), "vec_id", 4, 8)
            .localCheckpoint(true)
          val dir = java.nio.file.Files
            .createTempDirectory("graft_probe_sann").toString
          try {
            operators.Round17Ops.stageAnnSegments(cemb, oldB, newPred,
              dir)
            time { operators.Round17Ops.runAnnIngest(spark, cemb, dir)
              0L }
          } finally sources.StoreRoot.deleteRecursively(
            java.nio.file.Paths.get(dir))
        },
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), n,
          Seq("vec_id"), 10000000L),
        spark.read.parquet(s"$sfDir/embeddings.parquet")),
      // G29 streamed epoch-capped ingest: same shape, but each batch
      // derives its own rep epoch and the increment is rep-bounded
      // ([batch × (prior ∪ own reps)] ∪ [standing members × batch
      // reps]) — the second term is the touched-bucket-population
      // one; nothing cluster-quadratic is the claim under test.
      ("stream_capann_ingest",
        (d: DataFrame) => {
          val cemb = operators.Round16Ops.clusteredEmbOver(
            d.select(col("vec_id"), col("embedding")))
            .localCheckpoint(true)
          val newPred = col("vec_id") % 10 === 4 &&
            col("vec_id") < 10000000L
          val oldB = operators.AnnOps.signBucketsQ(
            cemb.filter(!newPred).select(col("vec_id"),
              col("v").as("embedding")), "vec_id", 4, 8)
            .localCheckpoint(true)
          val dir = java.nio.file.Files
            .createTempDirectory("graft_probe_scapann").toString
          try {
            operators.Round17Ops.stageCapSegments(cemb, oldB, newPred,
              dir)
            time { operators.Round17Ops.runCapIngest(spark, cemb, dir)
              0L }
          } finally sources.StoreRoot.deleteRecursively(
            java.nio.file.Paths.get(dir))
        },
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), n,
          Seq("vec_id"), 10000000L),
        spark.read.parquet(s"$sfDir/embeddings.parquet")),
      // C20 segment dedup: the segment relation grows linearly; the
      // (source, segment) count agg is the one shuffle — cost should
      // track the explode+agg (salted replicas keep per-source
      // recurrence structure: each replica is its own site)
      ("seg_dedup",
        (d: DataFrame) => time(operators.TextOps.segDedupPipeline(
          d.withColumn("source",
            concat(col("source"), lit("_r"),
              expr("doc_id div 1000000")))).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // C21 line dedup: same shape as seg_dedup with variable-length
      // unaligned lines; only 8-byte line hashes shuffle
      ("line_dedup",
        (d: DataFrame) => time(operators.TextOps.lineDedupPipeline(
          d.withColumn("source",
            concat(col("source"), lit("_r"),
              expr("doc_id div 1000000")))).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // D21 k-core: the pair graph grows linearly at constant duplicate
      // density; each peeling round is one degree agg + two semi-join
      // filters over the (shrinking) edge relation, so the full 8-round
      // peel should track the LSH candidate cost like cc_closure
      ("kcore",
        (d: DataFrame) => time(operators.Round9Ops.kcorePipeline(
          operators.DedupOps.minhashPipeline(d.select("doc_id", "text"), 0.5)
            .select("id1", "id2"), 2, 8).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // H16 columnar hash lane vs the codegen row path: same static
      // GraftHash kernel either way; the columnar form skips the row
      // pipeline (no per-row copy into UnsafeRow before the hash) at
      // the price of per-batch output-vector allocation — measured,
      // not assumed (the honest number for the §5 H16 note)
      // (toRdd.count, not an agg: an aggregate above would collapse the
      // projection and leave no ProjectExec for the rule to match —
      // toRdd keeps the projection as the plan's output node)
      // (replicateDocsScan, not replicateDocs: the rule only fires over
      // a COLUMNAR child, so the scaled corpus is written to parquet
      // and re-scanned — probing the in-memory union measured the row
      // path at every factor; round-9 advisor finding)
      ("vhash_columnar",
        (d: DataFrame) => time(d.select(col("doc_id"),
          graft.functions.gf.rolling_hash64(col("text")).as("graft_vhash"))
          .queryExecution.toRdd.count()),
        (n: Int) => replicateDocsScan(docs, n), docs),
      ("vhash_row",
        (d: DataFrame) => time(d.select(col("doc_id"),
          graft.functions.gf.rolling_hash64(col("text")).as("h"))
          .queryExecution.toRdd.count()),
        (n: Int) => replicateDocsScan(docs, n), docs),
      // H16 affine lane: the SIMD (jdk.incubator.vector) kernel vs the
      // codegen row path on the same marked `attr * m + c` projection —
      // the shape the Panama backend actually vectorizes (the hash
      // lane's per-string loop is sequential by construction)
      ("vscore_columnar",
        (d: DataFrame) => time(d.select(col("doc_id"),
          (col("doc_id") * lit(2654435761L) + lit(1099511628211L))
            .as("graft_vscore"))
          .queryExecution.toRdd.count()),
        (n: Int) => replicateDocsScan(docs, n), docs),
      ("vscore_row",
        (d: DataFrame) => time(d.select(col("doc_id"),
          (col("doc_id") * lit(2654435761L) + lit(1099511628211L))
            .as("s"))
          .queryExecution.toRdd.count()),
        (n: Int) => replicateDocsScan(docs, n), docs),
      // D27 substring spans: candidate pairs stay linear at constant
      // dup density (salted replicas), gram-position relation linear;
      // the per-pair island windows are pair-bounded — cost should
      // track the gram scan + shared-gram semi-join
      ("substr_spans",
        (d: DataFrame) => time(operators.Round10Ops.substrSpansPipeline(
          d.select("doc_id", "text"),
          operators.DedupOps.minhashPipeline(d.select("doc_id", "text"), 0.5)
            .select("id1", "id2")).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // C27 KN LM: four token-key count aggs + the doc-stream model
      // join — everything linear in the bigram stream; the model
      // relation is vocabulary-bounded (salting grows vocab per
      // replica, the honest worst case)
      ("kn_lm",
        (d: DataFrame) => time(operators.Round10Ops.knLmPipeline(
          d.select("doc_id", "text")).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // C25 BPE training: the corpus collapses once to the word
      // histogram; all 20 rounds run on the vocab-bounded relation, so
      // cost should be nearly FLAT in corpus size (the scan dominates;
      // salted replicas grow the vocab ×N — the honest worst case —
      // yet the rounds stay tiny)
      ("bpe_train",
        (d: DataFrame) => time(operators.Round10Ops.bpeTrainOn(
          d.select("doc_id", "text"))._1.count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // D24 prefix join: constant duplicate density keeps the true-pair
      // volume linear; prefix tokens are the globally RAREST ~n/5 per
      // doc, so the candidate equi-join's fan-out rides the df tail —
      // cost should track the shingle scan + df agg, not pair volume
      ("prefix_join",
        (d: DataFrame) => time(operators.Round9bOps.prefixJoinPipeline(
          d.select("doc_id", "text")).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // I11 q-digest: leaf count grows ~linearly with distinct prices,
      // but the digest stays ≤ ~1k nodes and the 20 rounds shrink
      // geometrically — cost should track the leaf aggregation scan
      ("qdigest",
        (d: DataFrame) => time(operators.SketchOps.qdigestFromLeaves(
          d.select(expr(
            "CAST(floor(l_extendedprice * 100) AS BIGINT) div 16").as("id"))
            .groupBy(col("id")).agg(count(lit(1)).as("c"))).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B83 association rules: orders replicate against the SAME part
      // catalog (partkeys not offset — the realistic shape: more
      // baskets, fixed catalog), so supports grow ×N on a constant
      // key set; the frequent-item prune and the same-order self-join
      // (fan-out bounded by items-per-order) keep the pair shuffle
      // linear in baskets — cost should track the basket scan
      ("assoc_rules",
        (d: DataFrame) => time(operators.Round10bOps.assocRulesPipeline(
          d.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
            .distinct(), 3).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // D28 BFS: constant duplicate density → edge relation linear;
      // each of the 4 rounds is one frontier⋈edges equi-join + a
      // min-agg on BIGINT keys — should track the LSH candidate cost
      // like cc_closure, with fewer rounds (fixed 4, not diameter)
      ("bfs_paths",
        (d: DataFrame) => time({
          val pr = operators.DedupOps.minhashPipeline(
            d.select("doc_id", "text"), 0.5).select("id1", "id2")
          val e = pr.select(col("id1").as("a"), col("id2").as("b"))
            .unionByName(pr.select(col("id2").as("a"), col("id1").as("b")))
            .distinct().localCheckpoint(true)
          operators.Round10bOps.bfsPipeline(e, 4).count()
        }),
        (n: Int) => replicateDocs(docs, n), docs),
      // D29 label propagation: same edge substrate; each of the 3
      // rounds adds a per-node argmax window on top of the join+agg —
      // the window partitions by node over label-count rows (degree-
      // bounded), so the slope should match bfs_paths with a
      // constant-factor premium for the extra per-round shuffle
      ("label_prop",
        (d: DataFrame) => time({
          val pr = operators.DedupOps.minhashPipeline(
            d.select("doc_id", "text"), 0.5).select("id1", "id2")
          val e = pr.select(col("id1").as("a"), col("id2").as("b"))
            .unionByName(pr.select(col("id2").as("a"), col("id1").as("b")))
            .distinct().localCheckpoint(true)
          operators.Round10bOps.labelPropPipeline(e, 3).count()
        }),
        (n: Int) => replicateDocs(docs, n), docs),
      // C28 phrase search: the corpus-scale posting scan grows ×N but
      // replica salting means only replica 0 matches the probe terms —
      // the broadcast term prefilter should absorb the growth before
      // the position self-join, so cost tracks the tokenize+filter
      // scan while the match-side work stays constant
      ("phrase",
        (d: DataFrame) => time(operators.Round10bOps.phraseSearchPipeline(
          d.select("doc_id", "text"),
          Seq(("q1", "order", "fast"), ("q2", "hash", "join"),
            ("q3", "table", "scan"))).count()),
        (n: Int) => replicateDocs(docs, n), docs),
      // B87 sequential patterns: replicas multiply events per user
      // (ids offset, users shared) — per-user streams grow ×N, but
      // the exploded gap probes keep join fanout at exactly 3/event,
      // so the window sort + equi-join should both stay linear
      ("seq_patterns",
        (d: DataFrame) => time(operators.Round10bOps.seqPatternsPipeline(
          d.withColumn("ts", col("event_id"))).count()),
        (n: Int) => replicate(ev, n, Seq("event_id"), 10000000L), ev),
      // B86 depth-2 tree: both levels collapse the fact table to
      // |distinct thresholds| rows before any window — cost should
      // track the two aggregation scans, domain-bounded everywhere
      ("tree_depth2",
        (d: DataFrame) => time(operators.Round10bOps.treeDepth2Pipeline(
          d.select(col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y")))
          .count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B89 depth-4 tree: K aggregation passes (one per level, argmins
      // checkpointed), every window over domain-bounded relations —
      // cost should track K scans of the fact cache
      ("tree_depthk",
        (d: DataFrame) => time(operators.Round12Ops.treeDepthKPipeline(
          d.select(col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y")),
          operators.Round12Ops.treeDepth).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B90 forest: the 4-way bagged union feeds the SAME per-level
      // agg — 2 passes over ~3N rows regardless of tree count
      ("forest",
        (d: DataFrame) => time(operators.Round12Ops.forestPipeline(
          d.select(col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y"),
            concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string")).as("rid")),
          operators.Round12Ops.forestTrees,
          operators.Round12Ops.forestDepth).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B91 boosting: 3 rounds of collapse-first agg + broadcast
      // residual projections — linear per round by construction
      ("gbt_stumps",
        (d: DataFrame) => time(operators.Round12Ops.gbtPipeline(
          d.select(col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y")),
          operators.Round12Ops.gbtRounds).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // A33 IVM: maintenance reads the |groups|-row state + the
      // churn-sized delta; the full-outer delta derivation is the
      // only corpus-scale stage and both its sides are key-pruned
      // scans — cost should track the two snapshot scans
      ("warehouse_ivm",
        (d: DataFrame) => time({
          import org.apache.spark.sql.types.DecimalType
          val p = (c: org.apache.spark.sql.Column) =>
            c.cast(DecimalType(12, 2))
          val old = d.filter(col("o_orderkey") % 10 =!= 3)
            .select(col("o_orderkey").as("key"),
              col("o_orderstatus").as("st"),
              col("o_orderpriority").as("prio"),
              p(col("o_totalprice")).as("price"))
          val neu = d.filter(col("o_orderkey") % 10 =!= 7)
            .select(col("o_orderkey").as("key"),
              col("o_orderstatus").as("st2"),
              col("o_orderpriority").as("prio2"),
              when(col("o_orderkey") % 5 === 0,
                (p(col("o_totalprice")) + lit(1).cast(DecimalType(12, 2)))
                  .cast(DecimalType(12, 2)))
                .otherwise(p(col("o_totalprice"))).as("price2"))
          operators.Round12Ops.ivmMaintain(
            operators.Round12Ops.ivmState(old),
            operators.Round12Ops.ivmDelta(old, neu)).count()
        }),
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/orders.parquet"), n,
          Seq("o_orderkey"), 10000000L),
        spark.read.parquet(s"$sfDir/orders.parquet")),
      // B94 forest evaluation: training is the domain-bounded level
      // loop; scoring is one linear pass with everything broadcast
      // and the first shuffle is the |distinct scores| collapse —
      // cost should track the two linear passes
      ("forest_eval",
        (d: DataFrame) => time(operators.Round13Ops.forestEvalPipeline(
          spark,
          d.select(col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y"),
            concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string")).as("rid"))).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B98 OOB evaluation: the B94 shape plus per-row hash flags —
      // same expected scaling
      ("oob_eval",
        (d: DataFrame) => time(operators.Round13Ops.oobEvalPipeline(
          d.select(col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y"),
            concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string")).as("rid"))).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B100 cross-validation: the joint five-model training
      // replicates every row to the 4 folds whose training set
      // contains it — a ×4 fan-out per boosting pass that is the
      // protocol's inherent cost; the probe measures where that
      // replication knees (each pass is still collapse-first, so the
      // expectation is ~linear in corpus × folds)
      ("cv_auc",
        (d: DataFrame) => time(operators.Round13Ops.cvAucPipeline(
          d.select(col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y"),
            concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string")).as("rid"))).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B102-B104/J20 decision leg (round 15): the models are the
      // standing store artifacts (untimed here — the `_build` rows
      // price the trainings; the probes train on the FIXED 1× corpus
      // outside the timed region), so each probe times exactly what
      // the bench row times at scale: the corpus-sized scoring scan
      // plus the model-sized decision tail (1-row McNemar / 3-row
      // cost argmin / ≤8-bin PAV / per-slice AUC windows). Expected
      // slope ≈ the single linear pass.
      ("model_compare",
        (d: DataFrame) => {
          val base = liLabeled(li).persist()
          val gModel = operators.Round13Ops.gbtModelRow(
            base.select("q", "dd", "y"))
          val (fModel, fLeaves) =
            operators.Round13Ops.forestArtifactsOf(base)
          base.unpersist()
          val probe = liLabeled(d)
          time {
            val nTrees = operators.Round12Ops.forestTrees
            val withF = operators.Round13Ops
              .forestScoreWith(probe, fModel, fLeaves)
              .withColumn("s_f", expr((0 until nTrees)
                .map(t => s"ls_$t")
                .mkString("(", " + ", s") div $nTrees")))
            val both = operators.Round13Ops.gbtScore(withF, gModel)
              .withColumnRenamed("s", "s_g")
            operators.Round13Ops.modelCompareFrom(
              both.select(col("s_g"), col("s_f"), col("y"))).count()
          }
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      ("cost_curve",
        (d: DataFrame) => {
          val model = operators.Round13Ops.gbtModelRow(
            liLabeled(li).select("q", "dd", "y"))
          val probe = liLabeled(d)
          time(operators.Round13Ops.costCurveFrom(
            operators.Round13Ops.gbtScore(probe, model)
              .select(col("s"), col("y"))).count())
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      ("isotonic_cal",
        (d: DataFrame) => {
          val model = operators.Round13Ops.gbtModelRow(
            liLabeled(li).select("q", "dd", "y"))
          val probe = liLabeled(d)
          time(operators.Round13Ops.isotonicFrom(
            operators.Round13Ops.gbtScore(probe, model)
              .select(col("s"), col("y"))).count())
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      ("slice_eval",
        (d: DataFrame) => {
          val model = operators.Round13Ops.gbtModelRow(
            liLabeled(li).select("q", "dd", "y"))
          val probe = d.select(col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y"),
            month(col("l_shipdate")).cast("long").as("ship_month"))
          time(operators.Round13Ops.groupedAuc(
            operators.Round13Ops.gbtScore(probe, model)
              .select(col("ship_month"), col("s"), col("y")),
            "ship_month").count())
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B109/B110 (round 16): the per-fold CV models are trained ONCE
      // on the FIXED 1× corpus (untimed — gbt_model_build prices the
      // training at bench time), so each probe times exactly what the
      // bench row times at scale: the corpus-sized out-of-fold scoring
      // scan (5-row wide model broadcast-joined on the row's fold) +
      // the ≤40-bin PAV/Brier or threshold-transfer tail. Expected
      // slope ≈ one linear pass; everything after the (fold, s) bin
      // collapse is bin-sized regardless of corpus.
      // (r16 advisor) the model construction is HOISTED out of the
      // timed thunk — cvWideFixed's jointGbtModels pass ends in an
      // eager localCheckpoint(true), so `val wide = ...` forces the
      // whole 5-fold training BEFORE time() opens, mirroring the
      // graph_layered substrate split; the timed region is exactly
      // the bench row's shape (scoring scan + bin-sized tail)
      ("cal_fix",
        (d: DataFrame) => {
          val wide = cvWideFixed
          time(operators.Round16Ops.calibrationFixFrom(
            oofScoredWith(d, wide)).count())
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      ("thr_transfer",
        (d: DataFrame) => {
          val wide = cvWideFixed
          time(operators.Round16Ops.thresholdTransferFrom(
            oofScoredWith(d, wide)).count())
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // B105 forest cross-validation (round 15): training collapses
      // to the (fold, bags, q, dd, y) sufficient-statistic cells —
      // whose COUNT is domain-bounded, hence replica-independent —
      // so the expected curve is one linear pass (cells build) + one
      // linear pass (scoring), with the 36-root level loop flat
      ("forest_cv",
        (d: DataFrame) => time(
          operators.Round15Ops.forestCvPipeline(liLabeled(d)).count()),
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // G25 deployed-model stream scoring: the standing model is the
      // untimed stored artifact; timed = the 3-micro-batch scoring
      // run (stream-static broadcast join, stateless) + the
      // post-stream exact ROC. The probe lands scores through
      // foreachBatch → parquet (the G14 production write path, and
      // the ONLY correct sink at scale: the G25 query's memory sink
      // is fine at the bench SF but collects every scored row on the
      // driver — the first probe attempt OOM'd exactly there, so the
      // lesson is recorded in the harness) and collapses each batch
      // to |distinct scores| counts BEFORE landing — the monitor
      // shape, state ≤8 rows regardless of corpus size.
      ("model_score_stream",
        (d: DataFrame) => {
          val data = d.select(col("l_orderkey").as("key"),
            col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
            (col("l_returnflag") === lit("R")).cast("long").as("y"))
          // untimed: the standing model + the staged arrival files
          val model = operators.Round13Ops.gbtModelRow(
            data.select("q", "dd", "y")).withColumn("one", lit(1))
          val dirP = java.nio.file.Files
            .createTempDirectory("graft_probe_score")
          try {
            (0 to 2).foreach { b =>
              data.filter(pmod(col("key"), lit(3)) === b)
                .coalesce(1).write.parquet(s"$dirP/batch_$b")
            }
            val t0 = System.currentTimeMillis()
            (0 to 2).foreach { i =>
              val f = new java.io.File(s"$dirP/batch_$i")
              (f +: f.listFiles().toSeq)
                .foreach(_.setLastModified(t0 + i * 4000L))
            }
            val src = spark.readStream.schema(data.schema)
              .option("maxFilesPerTrigger", 1).parquet(s"$dirP/batch_*")
            val scored = src.withColumn("one", lit(1))
              .join(broadcast(model), "one")
              .withColumn("s", operators.Round13Ops.gbtScoreColumn)
              .select(col("s"), col("y"))
            val outDir = s"$dirP/landed"
            time {
              val q = scored.writeStream
                .option("checkpointLocation", s"$dirP/ckpt")
                .foreachBatch {
                  (df: DataFrame, _: Long) =>
                    df.groupBy(col("s"), col("y"))
                      .agg(count(lit(1)).as("n"))
                      .write.mode("append").parquet(outDir)
                }.start()
              try q.processAllAvailable() finally q.stop()
              val landed = spark.read.parquet(outDir)
                .groupBy(col("s")).agg(
                  sum(when(col("y") === 1, col("n"))
                    .otherwise(lit(0L))).as("pos"),
                  sum(col("n")).as("tot"))
              // the ROC tail over the pre-collapsed counts (same
              // arithmetic as rocAucPipeline's post-collapse stages)
              landed.count()
            }
          } finally sources.StoreRoot.deleteRecursively(dirP)
        },
        (n: Int) => replicate(li, n, Seq("l_orderkey"), 10000000L), li),
      // A33 IVM over the A20b BUCKETED snapshot layout (round-12
      // judge item #5): the bucketed write is the standing storage —
      // paid at ingest, outside the timed region — and the delta's
      // full-outer join then plans with zero Exchange (ScaleSpec-
      // pinned), so the timed maintenance should track the two
      // co-partitioned snapshot scans (slope target ≤ ~1.2 at ×10 vs
      // the unbucketed probe's 2.4)
      ("warehouse_ivm_bucketed",
        (d: DataFrame) => {
          import org.apache.spark.sql.types.DecimalType
          val p = (c: org.apache.spark.sql.Column) =>
            c.cast(DecimalType(12, 2))
          val old = d.filter(col("o_orderkey") % 10 =!= 3)
            .select(col("o_orderkey").as("key"),
              col("o_orderstatus").as("st"),
              col("o_orderpriority").as("prio"),
              p(col("o_totalprice")).as("price"))
          val neu = d.filter(col("o_orderkey") % 10 =!= 7)
            .select(col("o_orderkey").as("key"),
              col("o_orderstatus").as("st2"),
              col("o_orderpriority").as("prio2"),
              when(col("o_orderkey") % 5 === 0,
                (p(col("o_totalprice")) + lit(1).cast(DecimalType(12, 2)))
                  .cast(DecimalType(12, 2)))
                .otherwise(p(col("o_totalprice"))).as("price2"))
          // standing layout build AND the standing |groups|-row view
          // state — both stored artifacts at scale, NOT timed (the
          // round-12 item-#1 accounting discipline: time the
          // maintenance path, not its stored substrate). The table
          // names carry a per-invocation nonce (a fixed name would
          // collide under concurrent probes and leak catalog entries
          // across runs) and both the tables and the temp dir are
          // dropped after the timed section.
          val dirP = java.nio.file.Files
            .createTempDirectory("graft_ivm_bkt")
          val tag = s"probe_${java.util.UUID.randomUUID.toString.take(8)}"
          try {
            val (bOld, bNeu) = operators.Round12Ops.ivmBucketedSnapshots(
              spark, old, neu, dirP.toString, tag)
            operators.Round12Ops.ivmState(bOld)
              .write.mode("overwrite").parquet(s"$dirP/state")
            val state = spark.read.parquet(s"$dirP/state")
            // timed: the zero-Exchange delta derivation + maintenance
            time(operators.Round12Ops.ivmMaintain(
              state, operators.Round12Ops.ivmDelta(bOld, bNeu)).count())
          } finally {
            Seq(s"graft_ivm_old_$tag", s"graft_ivm_new_$tag")
              .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
            sources.StoreRoot.deleteRecursively(dirP)
          }
        },
        (n: Int) => replicate(
          spark.read.parquet(s"$sfDir/orders.parquet"), n,
          Seq("o_orderkey"), 10000000L),
        spark.read.parquet(s"$sfDir/orders.parquet")),
      // D30 HITS: constant duplicate density keeps the containment
      // edge relation linear; 4 fixed rounds of edge⋈score joins on
      // the (tiny) graph — cost should track the LSH+containment
      // front end like the other pair-confined graph ops
      ("hits",
        (d: DataFrame) => time({
          val dd = d.select("doc_id", "text")
          val sh = dd.select(col("doc_id"),
            graft.functions.gf.shingle_md5_h32(col("text"), 3).as("sh"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val cand = operators.DedupOps.minhashPipeline(dd, 0.3)
            .select("id1", "id2")
          val s1 = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
          val s2 = sh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
          val cont = cand.join(s1, "id1").join(s2, "id2")
            .withColumn("ix",
              size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
            .withColumn("cont12", col("ix") / size(col("sh1")))
            .withColumn("cont21", col("ix") / size(col("sh2")))
            .filter(greatest(col("cont12"), col("cont21")) >= 0.9)
          val e = cont.filter(col("cont21") >= 0.9)
            .select(col("id1").as("src"), col("id2").as("dst"))
            .unionByName(cont.filter(col("cont12") >= 0.9)
              .select(col("id2").as("src"), col("id1").as("dst")))
            .distinct().localCheckpoint(true)
          val t = operators.Round10bOps.hitsPipeline(e, 4).count()
          sh.unpersist()
          t
        }),
        (n: Int) => replicateDocs(docs, n), docs))
    // GRAFT_PROBES=name1,name2 runs a subset (A/B iteration)
    val selected = sys.env.get("GRAFT_PROBES")
      .map(_.split(",").toSet)
      .map(want => probes.filter(p => want.contains(p._1)))
      .getOrElse(probes)
    // release operator-internal persists + checkpoint blocks between
    // runs: a ×100 probe's cached relations (e.g. the rule miner's
    // baskets) would otherwise occupy the heap into the NEXT probe —
    // the same leak class the round-9 prefix-join advisor finding
    // fixed, applied at the harness level (Bench does the same)
    def isolated(f: => Double): Double = {
      val t = f
      CacheHygiene.release(spark, blocking = true)
      t
    }
    selected.foreach { case (name, run, mk, base) =>
      val t1 = isolated(run(base))
      val scaled = factors.map(n => n -> isolated(run(mk(n))))
      val s = scaled.map { case (n, t) =>
        f"${n}x=$t%.2fs r=${t / t1}%.1f" }.mkString(" ")
      println(f"PROBE $name%-12s 1x=$t1%.2fs $s")
    }
    spark.stop()
  }
}
