package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic standing-index store — the segmented, bucketed-table
  * lifecycle behind every "build once, probe per batch" pattern here
  * (the D13 dedup band index, the E9 inverted file, the E11
  * incremental vector ingest), factored out with the two operations
  * those ad-hoc builds lacked: REFRESH (append a new segment without
  * rewriting the standing data) and COMPACTION (merge segments back
  * to one).
  *
  * Layout: an LSM-flavored segment list. Each segment is a Spark
  * bucketed table (`bucketBy(buckets, keyCol)`, sorted by the key)
  * with its data under `<path>/seg_<k>`; the live segment set is the
  * current snapshot of the store's [[CommitLog]] (one segment id per
  * line). A writer claims its segment id by creating `seg_<k>` before
  * writing it, so no two writers ever write one segment, and commits
  * the new list as version base + 1 by put-if-absent: a reader never
  * observes a half-written list, the loser of two concurrent
  * refreshes gets [[CommitConflict]] and removes its own segment, and
  * a crashed refresh leaves at worst a claimed directory no snapshot
  * lists (never reused, never vacuumed — nothing tells it from a live
  * writer's).
  *
  * Probe semantics: a batch joins each live segment separately and
  * the per-segment results union. Each segment scan satisfies the
  * join's distribution from its bucketing (NO Exchange on the index
  * side — only the batch shuffles, once per segment). That makes the
  * refresh-vs-probe trade explicit and measurable: k segments = k
  * cheap probes of the small batch; compaction pays one rewrite of
  * the standing data to return probe fan-out to 1. `IndexStoreSpec`
  * pins both sides of the trade (Exchange counts per segment count,
  * and result equality across refresh/compact/rebuild).
  *
  * At 100 TB this is the metadata pattern of a table format: the
  * manifest is the snapshot pointer, segments are immutable data
  * files, refresh is an append commit, compaction is a rewrite
  * commit. The store keeps exactly the part Spark's catalog lacks
  * (atomic multi-table snapshots) and delegates storage to plain
  * bucketed parquet that any executor can scan.
  */
/** @param maxSegments auto-compaction bound: when a refresh leaves
  *   the store with ≥ this many live segments, `compact()` fires
  *   inside the refresh (0 = manual compaction only, the round-8
  *   behavior). The measured policy for this corpus is the
  *   `CompactionProbe` curve (SURVEY §5): probe overhead grows
  *   ≈ δ·k per segment to k ≈ 4 and knees hard at k ≈ 8-16, while
  *   compaction costs a one-time C ≈ 15-20 s — deferring n batches
  *   costs δ·n²/2, so the scheduler should compact at
  *   n* = √(2C/δ) ≈ 8 refreshes, BEFORE the fan-out knee. Passing
  *   `maxSegments = 8` makes refresh enforce exactly that rule; at
  *   100 TB the same two measured numbers (δ from a probe sample, C
  *   from segment bytes) parameterize the same bound. */
/** @param keepSnapshots TIME-TRAVEL retention (round 10): every
  *   commit is an immutable snapshot file `MANIFEST.v<k>`; the last
  *   `keepSnapshots` versions stay readable
  *   via [[IndexStore.probeAsOf]]/[[IndexStore.segmentsAsOf]]. Segment
  *   DATA is vacuumed only once no retained snapshot references it —
  *   so a compaction no longer destroys the pre-compaction view until
  *   it ages out, exactly a table format's snapshot-isolation +
  *   vacuum contract (the other half of the lakehouse story A27/A30
  *   started; `IndexStoreSpec` pins refresh-isolation: a snapshot's
  *   probe result is bit-stable under later refreshes and compactions
  *   while retained). */
final class IndexStore(
    spark: SparkSession,
    val name: String,
    val path: String,
    keyCol: String,
    buckets: Int = 8,
    maxSegments: Int = 0,
    keepSnapshots: Int = 4) {

  // the catalog name carries the store's location: a session-wide
  // catalog entry shared by two stores of one name at different roots
  // would leave the first store reading the second one's segments
  private val pathTag = Integer.toHexString(
    Paths.get(path).toAbsolutePath.normalize.toString.hashCode)

  private def tableName(seg: Int): String = s"${name}_${pathTag}_seg$seg"

  private val log = new CommitLog(Paths.get(path), keepSnapshots,
    body => segList(body).map(_.toString), s => dropSegment(s.toInt))

  private def segList(body: String): Seq[Int] =
    body.split("\n").toSeq.filter(_.nonEmpty).map(_.toInt)

  /** Live segment ids, oldest first (empty = store not created). */
  def segments: Seq[Int] = current._2

  /** Retained snapshot versions, oldest first. The last one is always
    * the current segment list. */
  def snapshots: Seq[Int] = log.versions

  /** The segment list as of a retained snapshot version. */
  def segmentsAsOf(version: Int): Seq[Int] = {
    val body = log.read(version)
    require(body.isDefined,
      s"snapshot v$version of $name is not retained (have: $snapshots)")
    segList(body.get)
  }

  /** Segment ids present on disk (live, retained or claimed). */
  private def segsOnDisk: Seq[Int] =
    StoreRoot.listNames(Paths.get(path)).flatMap(n =>
      "^seg_(\\d+)$".r.findFirstMatchIn(n).map(_.group(1).toInt)).sorted

  private def dropSegment(seg: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(seg)}")
    StoreRoot.deleteRecursively(Paths.get(path, s"seg_$seg"))
  }

  /** Claim a fresh segment id past every one on disk or in `base`, write
    * `df` as that segment and commit `segs(id)` over version `base`. A
    * failed write or a lost commit removes the segment again. */
  private def commitSegment(base: (Int, Seq[Int]), df: DataFrame)
      (segs: Int => Seq[Int]): Unit = {
    Files.createDirectories(Paths.get(path))
    val seg = Iterator.from((segsOnDisk ++ base._2 :+ -1).max + 1)
      .find(i => CommitLog.claim(Paths.get(path, s"seg_$i"))).get
    // the table lives one level down: an overwrite-mode table write
    // deletes and recreates its location, which must not reopen the
    // claim
    try df.write.bucketBy(buckets, keyCol).sortBy(keyCol)
      .option("path", s"$path/seg_$seg/data").mode("overwrite")
      .saveAsTable(tableName(seg))
    catch { case e: Throwable => dropSegment(seg); throw e }
    try log.commit(base._1, segs(seg).mkString("", "\n", "\n"))
    catch { case e: CommitConflict => dropSegment(seg); throw e }
  }

  /** The current (version, segment list). */
  private def current: (Int, Seq[Int]) = {
    val (v, body) = log.current
    (v, body.fold(Seq.empty[Int])(segList))
  }

  /** Create the store with its first segment (errors if it exists —
    * a standing index is created once, then refreshed). */
  def create(df: DataFrame): Unit = {
    val cur = current
    require(cur._2.isEmpty, s"index store $name already exists")
    commitSegment(cur, df)(Seq(_))
  }

  /** Append a new segment — O(batch) write, standing segments are
    * untouched (no read, no rewrite, no shuffle of old data). If the
    * append reaches the `maxSegments` bound, compaction fires here —
    * probe results are unaffected (compact() is result-neutral,
    * IndexStoreSpec), only the refresh pays the standing-data
    * rewrite, exactly when the √(2C/δ) rule says amortizing it beats
    * per-probe fan-out. Ids never reuse a retained-but-not-live
    * segment's (time travel) or a claimed one's. */
  def refresh(df: DataFrame): Unit = {
    val cur = current
    require(cur._2.nonEmpty, s"index store $name not created")
    commitSegment(cur, df)(cur._2 :+ _)
    if (maxSegments > 0 && segments.size >= maxSegments) compact()
  }

  /** Merge all live segments into one — pays one rewrite of the
    * standing data to return probe fan-out to a single join. The
    * replaced segments are NOT deleted here: retained snapshots may
    * still reference them (time travel); the commit's vacuum removes
    * each one once the last referencing snapshot expires. */
  def compact(): Unit = {
    val cur = current
    require(cur._2.nonEmpty, s"index store $name not created")
    if (cur._2.size == 1) return
    commitSegment(cur, cur._2.map(s => spark.table(tableName(s)))
      .reduce(_ unionByName _))(Seq(_))
  }

  /** All live segments as DataFrames (bucketed scans). */
  def segmentTables: Seq[DataFrame] =
    segments.map(s => spark.table(tableName(s)))

  /** Join `batch` against every live segment on `keyCol` and union:
    * the index side of each join reads its bucketing (Exchange-free);
    * only the batch shuffles, once per segment. `project` maps each
    * joined segment relation to the output columns (applied BEFORE
    * the union so segment schemas can evolve additively). */
  def probe(batch: DataFrame, project: DataFrame => DataFrame): DataFrame =
    probeSegs(segments, batch, project)

  /** [[probe]] against a RETAINED snapshot's segment list — the
    * time-travel read: bit-stable under any later refresh/compaction
    * while the snapshot is retained (spec-pinned). */
  def probeAsOf(version: Int, batch: DataFrame,
      project: DataFrame => DataFrame): DataFrame =
    probeSegs(segmentsAsOf(version), batch, project)

  /** Segments added between two retained snapshots (both inclusive of
    * retention) — the CHANGE FEED of the index: an incremental
    * consumer that processed vFrom needs to touch only these. The
    * contract is LIST-LEVEL: every segment in vTo not present in
    * vFrom, so a compaction's merged segment IS returned even though
    * it carries no new rows — exact data increments for refresh-only
    * histories, a conservative full re-read across compactions
    * (spec-pinned in IndexStoreSpec). */
  def segmentsAdded(vFrom: Int, vTo: Int): Seq[Int] = {
    val from = segmentsAsOf(vFrom).toSet
    segmentsAsOf(vTo).filterNot(from.contains)
  }

  /** [[probe]] only the segments added between two retained
    * snapshots — incremental consumption: for refresh-only histories
    * probe(vTo) ≡ probe(vFrom) ∪ probeDelta(vFrom, vTo)
    * (spec-pinned), so a consumer keeps pace at O(new batch) instead
    * of re-probing the standing data. */
  def probeDelta(vFrom: Int, vTo: Int, batch: DataFrame,
      project: DataFrame => DataFrame): DataFrame = {
    val added = segmentsAdded(vFrom, vTo)
    if (added.isEmpty) // nothing new: empty relation in probe shape
      probeSegs(segments.take(1), batch, project).limit(0)
    else probeSegs(added, batch, project)
  }

  private def probeSegs(segs: Seq[Int], batch: DataFrame,
      project: DataFrame => DataFrame): DataFrame =
    segs.map(s => project(batch.join(spark.table(tableName(s)), keyCol)))
      .reduce(_ unionByName _)

  /** Drop all segment tables and data (test cleanup) — including
    * segments only reachable from retained snapshots. */
  def drop(): Unit = {
    (segsOnDisk ++ segments).distinct
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${tableName(s)}"))
    StoreRoot.deleteRecursively(Paths.get(path))
  }
}
