package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Carry-vs-compact probe for the EPOCH-CAPPED ANN substrate (E31/G29
  * — the scheduling curve E32's `ann_epoch_compact` needs, the ANN
  * analogue of `graft.CompactionProbe`'s BandIndex table): as ingest
  * epochs accumulate, the standing rep union ∪_e R_e grows ≈ cap·E
  * per touched bucket, so every LATER batch's increment term
  * [batch × ∪_e R_e] scores more candidates — the price of CARRYING
  * the multi-epoch state. Compaction (E32) collapses the state back
  * to one epoch and resets that price, at the one-shot cost of a
  * fresh capped build.
  *
  * For each E in the sweep, over a ×replicas clustered corpus:
  *   - untimed: the E-epoch standing state (buckets, ∪_e R_e, the
  *     epoch-structured capped graph) — store artifacts at scale;
  *   - `incr_s`: ONE fixed arriving batch folded in (the E31
  *     increment [batch × (∪R_e ∪ R_new)] ∪ [standing × R_new] + the
  *     per-src re-rank merge) — grows with E via the rep union;
  *   - `compact_s`: E32's compactFrom over the same state (rep
  *     collapse + the linear members × R_compact rescoring) — ≈ flat
  *     in E.
  *
  * Reading the table: with per-epoch carry premium
  * δ = (incr(E) − incr(1)) / (E − 1) and compact cost C, deferring n
  * epochs costs δ·n²/2, so compact at n* ≈ √(2C/δ) — the same rule
  * CompactionProbe measured for the BandIndex, now parameterized for
  * the ANN store (recorded in SURVEY §5).
  *
  * Usage: runMain graft.AnnCompactProbe [sfDir] [replicas] [E...]
  *   defaults: /root/testdata/sf0.1, 10 replicas, E = 1 2 4 8 16 32 64
  */
object AnnCompactProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = if (args.length > 1) args(1).toInt else 10
    val es: Seq[Int] =
      if (args.length > 2) args.drop(2).toSeq.map(_.toInt)
      else Seq(1, 2, 4, 8, 16, 32, 64)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")

    import operators.{AnnOps, Round16Ops, Round17Ops, Round18Ops}
    val cap = Round17Ops.epochCap

    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val corpus = (0 until replicas).map { i =>
      raw.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
    }.reduce(_ unionByName _)
    val cemb = Round16Ops.clusteredEmbOver(corpus).localCheckpoint(true)
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    // the FIXED arriving batch (~1% of the corpus), identical at every E
    val batchPred = col("vec_id") % 100 === 44
    val standing = emb.filter(!batchPred).localCheckpoint(true)
    val standingB = AnnOps.signBucketsQ(standing, "vec_id", 4, 8)
      .localCheckpoint(true)
    val batchB = AnnOps.signBucketsQ(emb.filter(batchPred),
      "vec_id", 4, 8).localCheckpoint(true)
    val allB = standingB.unionByName(batchB).localCheckpoint(true)

    // NOTE: no CacheHygiene.release between points — the shared
    // inputs (cemb, buckets) are localCheckpoints reused across the
    // whole sweep, and a blanket release would sever them (the probe's
    // per-E relations are unpersisted explicitly below)
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    var lastInc: DataFrame = null
    println(f"${"epochs"}%8s ${"incr_s"}%8s ${"rebuild_s"}%10s ${"compact_s"}%10s")
    // warmup pass: both plan shapes' codegen/JIT paid before point 1
    // (the first measured E was otherwise the cold point)
    var warm = false
    (es.headOption.toSeq ++ es).foreach { e =>
      // UNTIMED: the E-epoch standing state (epoch 0 = the pre-stream
      // members, epochs 1..E-1 = earlier ingest batches)
      val eB = standingB.withColumn("epoch",
        when(col("vec_id") % 10 === 4,
          lit(1) + expr(s"(vec_id div 10) % ${math.max(e - 1, 1)}"))
          .otherwise(lit(0)))
      val repsE = Round17Ops.epochReps(
        if (e == 1) standingB.withColumn("epoch", lit(0)) else eB, cap)
        .localCheckpoint(true)
      val standingGraph = Round17Ops.top3(Round17Ops.scorePairs(
        standingB.select(col("table_id"), col("bucket"),
            col("vec_id").as("src"))
          .join(repsE, Seq("table_id", "bucket"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst")).distinct(), emb))
        .localCheckpoint(true)
      // TIMED: one more batch folded in against the E-epoch rep union
      val incrS = time {
        val bReps = Round17Ops.epochReps(
          batchB.withColumn("epoch", lit(e)), cap)
        val cand = batchB.select(col("table_id"), col("bucket"),
            col("vec_id").as("src"))
          .join(repsE.unionByName(bReps), Seq("table_id", "bucket"))
          .unionByName(standingB.select(col("table_id"), col("bucket"),
              col("vec_id").as("src"))
            .join(bReps, Seq("table_id", "bucket")))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst")).distinct()
        lastInc = Round17Ops.scorePairs(cand, emb).localCheckpoint(true)
        Round17Ops.mergeGraph(standingGraph, lastInc).count()
      }
      // TIMED: the multi-epoch candidate volume — anything that must
      // re-derive over the CARRIED state's candidate relation
      // (members × ∪_e R_e, the epoch-structured rebuild) pays ∝ E;
      // this is the term compaction resets
      val rebuildS = time {
        val bReps = Round17Ops.epochReps(
          batchB.withColumn("epoch", lit(e)), cap)
        val cand = allB.select(col("table_id"), col("bucket"),
            col("vec_id").as("src"))
          .join(repsE.unionByName(bReps), Seq("table_id", "bucket"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst")).distinct()
        Round17Ops.top3(Round17Ops.scorePairs(cand, emb)).count()
      }
      // TIMED: E32's compaction of the same state (all segments in)
      val compactS = time {
        val bReps = Round17Ops.epochReps(
          batchB.withColumn("epoch", lit(e)), cap)
        Round18Ops.compactFrom(emb, allB,
          repsE.unionByName(bReps)).count()
      }
      standingGraph.unpersist(); repsE.unpersist()
      // the increment edges checkpoint inside the timed region; drop
      // it here so later points don't inherit its BlockManager weight
      if (lastInc != null) { lastInc.unpersist(); lastInc = null }
      if (warm)
        println(f"$e%8d $incrS%8.2f $rebuildS%10.2f $compactS%10.2f")
      warm = true
    }
    spark.stop()
  }
}
