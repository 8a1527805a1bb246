package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

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
  * MANIFEST file (one segment id per line), updated by atomic rename
  * — a reader never observes a half-written segment list, and a
  * crashed refresh leaves at worst an orphaned directory invisible to
  * the manifest.
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
  *   manifest write is also recorded as an immutable snapshot file
  *   `MANIFEST.v<k>`; the last `keepSnapshots` versions stay readable
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

  require(keepSnapshots >= 1, "must retain at least the current snapshot")

  private def manifest: Path = Paths.get(path, "MANIFEST")

  // the catalog name carries the store's location: a session-wide
  // catalog entry shared by two stores of one name at different roots
  // would leave the first store reading the second one's segments
  private val pathTag = Integer.toHexString(
    Paths.get(path).toAbsolutePath.normalize.toString.hashCode)

  private def tableName(seg: Int): String = s"${name}_${pathTag}_seg$seg"

  private def readSegList(p: Path): Seq[Int] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map(_.toInt)

  /** Live segment ids, oldest first (empty = store not created). */
  def segments: Seq[Int] =
    if (!Files.exists(manifest)) Seq.empty
    else readSegList(manifest)

  private def listNames: Seq[String] =
    if (!Files.exists(Paths.get(path))) Seq.empty
    else {
      val s = Files.list(Paths.get(path))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }

  /** Retained snapshot versions, oldest first. The last one is always
    * the current manifest's content. */
  def snapshots: Seq[Int] =
    listNames.flatMap(n =>
      "^MANIFEST\\.v(\\d+)$".r.findFirstMatchIn(n).map(_.group(1).toInt))
      .sorted

  /** The segment list as of a retained snapshot version. */
  def segmentsAsOf(version: Int): Seq[Int] = {
    val p = Paths.get(path, s"MANIFEST.v$version")
    require(Files.exists(p),
      s"snapshot v$version of $name is not retained (have: $snapshots)")
    readSegList(p)
  }

  /** Every segment id referenced by any retained snapshot or the
    * current manifest — the set vacuum must NOT touch. */
  private def referencedSegs: Set[Int] =
    (snapshots.flatMap(segmentsAsOf) ++ segments).toSet

  /** Segment ids present on disk (live + not-yet-vacuumed). */
  private def segsOnDisk: Seq[Int] =
    listNames.flatMap(n =>
      "^seg_(\\d+)$".r.findFirstMatchIn(n).map(_.group(1).toInt)).sorted

  private def writeManifest(segs: Seq[Int]): Unit = {
    Files.createDirectories(Paths.get(path))
    // 1. record the snapshot (immutable, atomically placed)
    val v = snapshots.lastOption.getOrElse(0) + 1
    val tmpV = Paths.get(path, s"MANIFEST.tmp_v${System.nanoTime()}")
    Files.writeString(tmpV, segs.mkString("", "\n", "\n"))
    Files.move(tmpV, Paths.get(path, s"MANIFEST.v$v"),
      StandardCopyOption.ATOMIC_MOVE)
    // 2. move the current pointer
    val tmp = Paths.get(path, s"MANIFEST.tmp${System.nanoTime()}")
    Files.writeString(tmp, segs.mkString("", "\n", "\n"))
    Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // 3. expire snapshots beyond the retention window...
    snapshots.dropRight(keepSnapshots)
      .foreach(old => Files.delete(Paths.get(path, s"MANIFEST.v$old")))
    // 4. ...then vacuum segment data no retained snapshot can reach
    val refs = referencedSegs
    segsOnDisk.filterNot(refs.contains).foreach { s =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(s)}")
      deleteRecursively(Paths.get(path, s"seg_$s"))
    }
  }

  private def writeSegment(df: DataFrame, seg: Int): Unit =
    df.write.bucketBy(buckets, keyCol).sortBy(keyCol)
      .option("path", s"$path/seg_$seg")
      .mode("overwrite")
      .saveAsTable(tableName(seg))

  /** Create the store with its first segment (errors if it exists —
    * a standing index is created once, then refreshed). */
  def create(df: DataFrame): Unit = {
    require(segments.isEmpty, s"index store $name already exists")
    writeSegment(df, 0)
    writeManifest(Seq(0))
  }

  /** Append a new segment — O(batch) write, standing segments are
    * untouched (no read, no rewrite, no shuffle of old data). If the
    * append reaches the `maxSegments` bound, compaction fires here —
    * probe results are unaffected (compact() is result-neutral,
    * IndexStoreSpec), only the refresh pays the standing-data
    * rewrite, exactly when the √(2C/δ) rule says amortizing it beats
    * per-probe fan-out. */
  def refresh(df: DataFrame): Unit = {
    val segs = segments
    require(segs.nonEmpty, s"index store $name not created")
    // ids never reuse a retained-but-not-live segment's (time travel)
    val next = (segsOnDisk ++ segs).max + 1
    writeSegment(df, next)
    writeManifest(segs :+ next)
    if (maxSegments > 0 && segments.size >= maxSegments) compact()
  }

  /** Merge all live segments into one — pays one rewrite of the
    * standing data to return probe fan-out to a single join. The
    * replaced segments are NOT deleted here: retained snapshots may
    * still reference them (time travel); writeManifest's vacuum
    * removes each one once the last referencing snapshot expires. */
  def compact(): Unit = {
    val segs = segments
    require(segs.nonEmpty, s"index store $name not created")
    if (segs.size == 1) return
    val next = (segsOnDisk ++ segs).max + 1
    writeSegment(segs.map(s => spark.table(tableName(s)))
      .reduce(_ unionByName _), next)
    writeManifest(Seq(next))
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
    // a compaction's merged segment carries no new data: it is the
    // union of from-segments it replaced — detect "replaces only"
    // by construction: refresh appends STRICTLY increasing ids and
    // compact writes one id greater than everything it merged, so a
    // segment in vTo is NEW DATA iff its id exceeds vFrom's max AND
    // it was written by refresh (single-segment append commits).
    // The store cannot distinguish the two after the fact from ids
    // alone, so the contract is list-level: every segment in vTo
    // not present in vFrom. Callers consuming data increments use
    // probeDelta, which is exact for refresh-only histories and
    // conservative (re-reads) across compactions.
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
    deleteRecursively(Paths.get(path))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
}
