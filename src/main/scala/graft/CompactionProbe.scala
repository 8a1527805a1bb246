package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Compaction-scheduling probe for the `IndexStore` lifecycle
  * (SURVEY §2.H11): measures the full segment-count vs probe-latency
  * curve PLUS the compaction cost at each fan-out, which together are
  * the two inputs a compaction scheduler weighs.
  *
  * For each k in the sweep: build a k-segment `BandIndex` over the
  * (optionally ×N-replicated) corpus (untimed — once-per-corpus), time
  * the daily-batch probe twice (min — run 1 pays codegen), time
  * `compact()` once, and drop the store. Prints one table row per k:
  *
  *   k_segments  probe_s  compact_s
  *
  * Reading the table: probe overhead grows ≈ linearly in k (one
  * batch-side shuffle + SMJ per segment), compaction is a one-shot
  * rewrite of the standing data. With per-probe overhead
  * δ(k) = probe(k) − probe(1) and compact cost C(k), deferring
  * compaction for b more batches costs b·δ(k) — so compact when
  * b·δ(k) exceeds C(k), i.e. roughly every ⌈C/δ_per_segment⌉
  * batch-refreshes under a steady refresh cadence. The measured
  * curve (recorded in SURVEY §5) is what turns that formula into a
  * number for this corpus.
  *
  * Usage: runMain graft.CompactionProbe [sfDir] [replicas] [k...]
  *   defaults: /root/testdata/sf0.1, 5 replicas, k = 1 2 4 8 16
  */
object CompactionProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = if (args.length > 1) args(1).toInt else 5
    val ks: Seq[Int] =
      if (args.length > 2) args.drop(2).toSeq.map(_.toInt)
      else Seq(1, 2, 4, 8, 16)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")

    // same replication discipline as ScaleProbe: salt tokens per
    // replica so duplicate DENSITY stays constant as the corpus grows
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus: DataFrame = (0 until replicas).map { i =>
      val ids = docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
      if (i == 0) ids
      else ids.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1_" + i))
    }.reduce(_ unionByName _)

    val isNew = (col("doc_id") < 1000000L) &&
      (abs(hash(col("doc_id"))) % 10 === 0)
    val old = corpus.filter(!isNew).select("doc_id", "text")
    val batch = corpus.filter(isNew).select("doc_id", "text")
    batch.count(); old.count() // warmup scans

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println(f"${"k_segments"}%12s ${"probe_s"}%10s ${"compact_s"}%10s")
    ks.foreach { k =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_compact_k$k").toString
      val idx = new sources.BandIndex(spark, s"graft_probe_compact_k$k", dir)
      val seg = abs(hash(col("doc_id"))) % k
      idx.create(old.withColumn("seg", seg).filter(col("seg") === 0)
        .drop("seg"))
      (1 until k).foreach(s =>
        idx.refresh(old.withColumn("seg", seg).filter(col("seg") === s)
          .drop("seg")))
      val probe = (1 to 2).map(_ => time(idx.probe(batch).count())).min
      val compactS = time { idx.compact(); 0L }
      idx.drop()
      println(f"$k%12d $probe%10.2f $compactS%10.2f")
    }
    spark.stop()
  }
}
