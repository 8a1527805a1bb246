package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef

/** Round 19 — TOMBSTONE DELETES + delete-aware compaction for the
  * capped ANN substrate (E33 `ann_tombstone_compact`): the missing
  * lifecycle leg after ingest (E31/G29) and epoch merge (E32) — the
  * takedown story a 100 TB training-data store is legally required to
  * have. A delete set lands as a TOMBSTONE SEGMENT (the SegmentStore
  * atomic-append discipline — O(|deletes|), no standing state
  * rewritten); search EXCLUDES tombstoned vectors immediately (a
  * merge-time filter); and the scheduled compaction PHYSICALLY drops
  * them and REPAIRS the substrate — re-ranking exactly the buckets
  * that lost a representative and re-scoring exactly the members of
  * those buckets.
  *
  * The structural analysis (spec-executable in `Round19Spec`, both
  * directions):
  *  - E32's rep-containment lemma does NOT dualize to deletes: the
  *    post-delete top-`cap` of a bucket can PROMOTE a member that was
  *    never in any rep segment (it ranked cap+1 while the deleted rep
  *    lived), so delete compaction cannot rank within the rep
  *    segments alone — it must read the BUCKET segments (which carry
  *    every member). The spec REFUTES segment-locality with a
  *    concrete promoted rep.
  *  - Repair is still DELETE-LOCAL, bucket-granular: a bucket that
  *    lost no rep keeps its rep set verbatim (a deleted NON-rep
  *    ranked below the cap, and removing it promotes nothing), and a
  *    surviving src none of whose buckets changed keeps its standing
  *    top-3 verbatim — every standing edge's dst is a rep of a bucket
  *    shared with the src, so a deleted dst implies a changed bucket
  *    implies the src is re-scored (the kept-edges lemma, spec-pinned
  *    executable). Work ∝ members of rep-losing buckets, never the
  *    corpus.
  *
  * The emitted result is the layered search over the compacted
  * post-delete substrate; the oracle is E32's fresh single-epoch
  * capped rebuild + search chain over the SURVIVOR corpus (`WHERE
  * vec_id % 9 <> 2` at the source — the whole derivation chain is
  * per-vector deterministic, so filtering the source IS the
  * post-delete world). Hash equality proves
  * compact ∘ delete ≡ rebuild-minus.
  *
  * Scale: tombstone append O(|D|); immediate exclusion one
  * broadcast-sized anti-join at merge; compaction re-ranks only
  * changed buckets' survivors (one window over Σ|changed-bucket
  * members|) and re-scores affected × (≤ cap·tables reps) — linear in
  * delete-adjacent data at fixed cap, with the untouched standing
  * graph passing through by reference. Nothing is ever
  * cluster-quadratic.
  *
  * Reference provenance: the reference (WebScrap_DataPipeline) has no
  * vector index; the family is the standard public one (LSM/Lucene
  * tombstones + merge-time purge; FAISS remove_ids + rebuild-on-merge).
  */
object Round19Ops {

  // ---------------------------------------------------------------- E33
  /** The deterministic delete set: 1/9 of the corpus, including query
    * vector 2 (a deleted QUERY must vanish from the result, not just
    * from the candidate pool — the predicate is chosen to exercise
    * that arm). */
  private[graft] def tombstonePred: Column = col("vec_id") % 9 === 2

  private val survivorSrcSql =
    "(SELECT * FROM embeddings WHERE vec_id % 9 <> 2)"

  def annTombstoneCompact(spark: SparkSession,
      sfDir: String): DataFrame = {
    val dir = tombstoneDir(spark, sfDir)
    val cembS = Round16Ops.clusteredEmb(spark, sfDir)
      .filter(!tombstonePred)
    val edges = Round16Ops.symEdges(spark.read.parquet(s"$dir/standing"))
    val out = Round16Ops.layeredSearchOver(cembS, edges)
      .localCheckpoint(true)
    edges.unpersist()
    out
  }

  private val stagedTombstone =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Spec hook / staging guard: the POST-compaction store dir (fresh
    * buckets + reps segments, repaired standing graph, NO tombstone
    * family — compaction consumed it). Runs once per (JVM, corpus). */
  private[graft] def tombstoneDir(spark: SparkSession,
      sfDir: String): String =
    stagedTombstone.computeIfAbsent(sfDir,
      _ => runTombstoneLifecycle(spark, sfDir))

  /** ingest (G29, shared staging) → compact (E32) → DELETE lands as a
    * tombstone segment → delete-aware compaction → fresh store. Also
    * stages the PRE-compaction store (compacted substrate + live
    * tombstone segment) under `<dir>.pre` for the immediate-exclusion
    * spec hook. */
  private def runTombstoneLifecycle(spark: SparkSession,
      sfDir: String): String = {
    import graft.sources.SegmentStore
    val d0 = Round17Ops.capSegmentDir(spark, sfDir)
    val cemb = Round16Ops.clusteredEmb(spark, sfDir).localCheckpoint(true)
    val emb = cemb.select(col("vec_id"), col("v").as("embedding"))
    // E32's compaction collapses the ingest store to one epoch — the
    // standing state the delete arrives against
    val allB = SegmentStore.read(spark, s"$d0/buckets")
      .select(col("table_id"), col("bucket"), col("vec_id"))
      .localCheckpoint(true)
    val rc = Round18Ops.compactReps(SegmentStore.read(spark, s"$d0/reps"))
      .localCheckpoint(true)
    val standing = Round18Ops.compactFromReps(emb, allB, rc)
      .localCheckpoint(true)
    // the DELETE: one atomic tombstone segment against the live store
    val d1 = Round17Ops.tempSegmentDir("graft_tomb_live")
    SegmentStore.append(allB, s"$d1/buckets")
    SegmentStore.append(rc, s"$d1/reps")
    standing.write.parquet(s"$d1/standing")
    val tomb = cemb.filter(tombstonePred).select(col("vec_id"))
      .localCheckpoint(true)
    SegmentStore.append(tomb, s"$d1/tombstones")
    // delete-aware compaction → a fresh store, tombstones consumed
    val (bSurv, reps2, graph2) =
      tombstoneCompactState(emb, allB, rc, standing, tomb)
    val d2 = Round17Ops.tempSegmentDir("graft_tomb_compacted")
    SegmentStore.append(bSurv, s"$d2/buckets")
    SegmentStore.append(reps2, s"$d2/reps")
    graph2.write.parquet(s"$d2/standing")
    preTombstoneDirs.put(d2, d1)
    bSurv.unpersist(); reps2.unpersist(); graph2.unpersist()
    allB.unpersist(); rc.unpersist(); standing.unpersist()
    tomb.unpersist()
    cemb.unpersist() // r19 review: the largest checkpoint must not
    // outlive the once-per-JVM staging (its siblings above already
    // follow the discipline)
    d2
  }

  /** post-compaction dir → its live (pre-compaction) store dir. */
  private val preTombstoneDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Spec hook: the PRE-compaction store (standing substrate + live
    * tombstone segment) for the staged corpus. */
  private[graft] def liveTombstoneDir(spark: SparkSession,
      sfDir: String): String =
    preTombstoneDirs.get(tombstoneDir(spark, sfDir))

  /** The delete-aware compaction body: (surviving buckets, repaired
    * reps, repaired standing graph). Bucket-granular by construction —
    * see the object doc's two lemmas, both spec-pinned. */
  private[graft] def tombstoneCompactState(emb: DataFrame,
      allB: DataFrame, rc: DataFrame, standing: DataFrame,
      tomb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val bSurv = allB.join(tomb, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    // exactly the buckets that lost a REP re-rank; every other
    // bucket's rep set is provably unchanged (a deleted non-rep
    // ranked below the cap — removing it promotes nothing)
    val changedBk = rc
      .join(tomb.select(col("vec_id").as("dst")), Seq("dst"), "left_semi")
      .select(col("table_id"), col("bucket")).distinct()
      .localCheckpoint(true)
    val keepReps = rc.join(changedBk, Seq("table_id", "bucket"),
      "left_anti")
    // the re-rank reads the bucket MEMBERS (segment-locality is
    // refuted for deletes — the promoted rep was never in a rep
    // segment), but only the changed buckets' members: one window
    // over delete-adjacent rows, never the corpus
    val newReps = Round17Ops.epochReps(
      bSurv.join(changedBk, Seq("table_id", "bucket"), "left_semi")
        .withColumn("epoch", lit(0L)),
      Round17Ops.epochCap)
    val reps2 = keepReps.unionByName(newReps).localCheckpoint(true)
    // affected srcs = surviving members of a changed bucket. This
    // also covers every standing edge whose dst was deleted (the
    // kept-edges lemma: that dst was a rep of a bucket SHARED with
    // the src, so the bucket changed and the src lands here) — so
    // the pass-through below can never carry a deleted dst.
    val affected = bSurv
      .join(changedBk, Seq("table_id", "bucket"), "left_semi")
      .select(col("vec_id").as("src")).distinct()
      .localCheckpoint(true)
    val keep = standing
      .join(tomb.select(col("vec_id").as("src")), Seq("src"), "left_anti")
      .join(affected, Seq("src"), "left_anti")
    val cand = bSurv
      .join(affected.select(col("src").as("vec_id")), Seq("vec_id"),
        "left_semi")
      .select(col("table_id"), col("bucket"), col("vec_id").as("src"))
      .join(reps2, Seq("table_id", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    // materialize the repaired graph EAGERLY so the two intermediate
    // checkpoints can be released here instead of leaking for the
    // rest of the JVM (r19 review); the extra checkpoint is one pass
    // over a top-3-list-sized relation
    val graph2 = keep.unionByName(
      Round17Ops.top3(Round17Ops.scorePairs(cand, emb)))
      .localCheckpoint(true)
    changedBk.unpersist(); affected.unpersist()
    (bSurv, reps2, graph2)
  }

  /** Spec hook — IMMEDIATE exclusion, before any compaction runs: the
    * layered search over the LIVE store with tombstoned vectors
    * filtered at merge (one anti-join on each edge endpoint plus the
    * survivor corpus). The top-3 lists are left un-repaired (a list
    * that lost a tombstoned dst serves short until compaction) — the
    * guarantee is exclusion, which is exactly what the spec pins;
    * repair is the compaction's job. */
  private[graft] def searchWithLiveTombstones(spark: SparkSession,
      sfDir: String): DataFrame = {
    import graft.sources.SegmentStore
    val dir = liveTombstoneDir(spark, sfDir)
    val tomb = SegmentStore.read(spark, s"$dir/tombstones")
      .localCheckpoint(true)
    val cembS = Round16Ops.clusteredEmb(spark, sfDir)
      .filter(!tombstonePred)
    val g = spark.read.parquet(s"$dir/standing")
      .join(tomb.select(col("vec_id").as("src")), Seq("src"), "left_anti")
      .join(tomb.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
    val edges = Round16Ops.symEdges(g)
    val out = Round16Ops.layeredSearchOver(cembS, edges)
      .localCheckpoint(true)
    edges.unpersist()
    out
  }

  /** Spec reference: the in-engine rebuild-minus twin of the oracle —
    * fresh capped build + layered search over the survivor corpus. */
  private[graft] def rebuildMinusSearch(spark: SparkSession,
      sfDir: String): DataFrame = {
    val cembS = Round16Ops.clusteredEmb(spark, sfDir)
      .filter(!tombstonePred).localCheckpoint(true)
    val edges = Round16Ops.symEdges(Round16Ops.knnGraphBuildCapped(
      cembS.select(col("vec_id"), col("v").as("embedding")),
      Round17Ops.epochCap))
    val out = Round16Ops.layeredSearchOver(cembS, edges)
      .localCheckpoint(true)
    edges.unpersist()
    out
  }

  /** E33's oracle: E32's fresh single-epoch capped rebuild + E28's
    * search chain, over the survivor corpus — rebuild-minus. The ONLY
    * difference from E32's oracle is the source filter; that
    * difference IS the delete. */
  val annTombstoneCompactSql: String =
    s"""WITH ${Round16Ops.clusteredBaseCtesOver(survivorSrcSql)},
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

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ann_tombstone_compact", annTombstoneCompact,
      annTombstoneCompactSql))
}
