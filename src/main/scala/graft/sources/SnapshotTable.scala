package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot-isolated warehouse TABLE — H18's manifest/time-travel/
  * vacuum contract applied to the A13 parquet sink (the table-format
  * half of the lakehouse story; IndexStore covers the index half).
  * Copy-on-write at hash-bucket granularity, the Iceberg/Delta CoW
  * shape:
  *
  *   - data files are immutable parquet directories, one per (commit,
  *     bucket); a row lives in bucket pmod(hash(key), buckets)
  *   - a snapshot is a manifest mapping bucket → data dir, committed
  *     through the store's [[CommitLog]]: an immutable `MANIFEST.v<k>`
  *     placed by put-if-absent, the newest one current. Every write
  *     (create, MERGE, COMPACT) is stage-then-publish: the Spark job
  *     writes under `staged/`, invisible to readers and vacuum; publish
  *     claims `data/c<k>` (k = base + 1) by creating it, moves the
  *     staged dirs in and commits `MANIFEST.v<k>`. A writer whose base
  *     is no longer current finds either taken and gets
  *     [[CommitConflict]] — never a silently dropped commit
  *   - MERGE (the A20b upsert) rewrites ONLY the buckets its keys
  *     touch; untouched buckets' files are SHARED between snapshots
  *     by reference — the pre-merge view stays readable at O(0) extra
  *     storage for the untouched fraction
  *   - COMPACT rewrites the live layout into one fresh commit;
  *     result-neutral by construction (spec-pinned), retained older
  *     snapshots keep reading the pre-compaction files
  *   - VACUUM (inside every commit) deletes the data dirs the expiring
  *     snapshots reference and no retained one does — reference
  *     counting at bucket-dir granularity, so a dir shared by five
  *     snapshots survives until the last one expires, and a concurrent
  *     writer's unpublished dirs are never touched
  *
  * Manifest format: one `<bucket> <data dir>` line per live bucket plus
  * one `schema <StructType json>` line, the table schema of that
  * snapshot (nullable, without the bucket column; a widening merge
  * appends the batch's new columns after the prior ones). Every read
  * passes that schema to the parquet reader, so planning a read opens
  * no data file and starts no Spark job — the table's metadata lives
  * in the storage layer, as in Dremel/Iceberg. A manifest with no
  * schema line (written before the line existed, e.g. under a
  * persistent store root) is read the old way, with one merged-footer
  * inference; its next commit writes the line.
  *
  * Clustered writes: a commit's rows are rebalanced on the bucket
  * column and sorted by (bucket, key) before the partitioned write, so
  * each bucket lands as one file rather than one per write task, a
  * commit's bytes depend only on its rows, and every row group carries
  * min/max statistics on the key. At 100 TB the rebalance is the usual
  * table-format write distribution: AQE splits a skewed bucket at the
  * advisory partition size and merges small ones, so file sizes stay
  * bounded either way.
  *
  * At 100 TB this is exactly a table format's metadata discipline:
  * commits are O(touched data) not O(table), readers are isolated
  * from concurrent rewrites by snapshot pinning, and storage is
  * bounded by the retention window. `WarehouseSpec` pins read
  * isolation across MERGE + compaction, file sharing, vacuum
  * exactness, and retention expiry. */
final class SnapshotTable(
    spark: SparkSession,
    val path: String,
    keyCol: String,
    buckets: Int = 4,
    keepSnapshots: Int = 3) {

  private val log = new CommitLog(Paths.get(path), keepSnapshots,
    body => parse(body).refs.values, dropRef)

  /** Retained snapshot versions, oldest first. */
  def snapshots: Seq[Int] = log.versions

  /** Current snapshot version (0 = not created). */
  def version: Int = log.version

  /** One parsed manifest: bucket → data-dir refs and its schema line.
    * A manifest written before that line existed has none; its schema
    * is then inferred once, by merging the data files' footers. */
  private case class Snap(refs: Map[Int, String], line: Option[StructType]) {
    lazy val schema: StructType = line.getOrElse(spark.read
      .option("mergeSchema", "true").parquet(dirsOf(refs): _*).schema)
    def body: String =
      (refs.toSeq.sortBy(_._1).map { case (b, d) => s"$b $d" } :+
        s"$SchemaTag${schema.json}").mkString("", "\n", "\n")
  }

  private val SchemaTag = "schema "

  private def parse(body: String): Snap = {
    val (s, r) = body.split("\n").toSeq.filter(_.nonEmpty)
      .partition(_.startsWith(SchemaTag))
    Snap(r.map { line =>
      val Array(b, dir) = line.split(" ", 2)
      b.toInt -> dir
    }.toMap, s.headOption.map(l =>
      DataType.fromJson(l.drop(SchemaTag.length)).asInstanceOf[StructType]))
  }

  /** (version, snapshot) of the current snapshot. */
  private def current: (Int, Snap) = {
    val (v, body) = log.current
    (v, body.fold(Snap(Map.empty, None))(parse))
  }

  private def snapAsOf(v: Int): Snap = {
    val body = log.read(v)
    require(body.isDefined,
      s"snapshot v$v of $path is not retained (have: $snapshots)")
    parse(body.get)
  }

  /** bucket → data-dir refs of the CURRENT snapshot (spec hook). */
  def refs: Map[Int, String] = current._2.refs

  /** bucket → data-dir refs as of a retained snapshot. */
  def refsAsOf(v: Int): Map[Int, String] = snapAsOf(v).refs

  /** Data dirs on disk, relative to `path` (spec hook for vacuum). */
  def dataDirsOnDisk: Set[String] = {
    val dataRoot = Paths.get(path, "data")
    StoreRoot.listNames(dataRoot).flatMap { commit =>
      StoreRoot.listNames(dataRoot.resolve(commit))
        .filter(_.startsWith("__b=")).map(b => s"data/$commit/$b")
    }.toSet
  }

  /** Vacuum one bucket dir, and its commit dir once no bucket is left. */
  private def dropRef(ref: String): Unit = {
    val dir = Paths.get(path, ref)
    StoreRoot.deleteRecursively(dir)
    if (!StoreRoot.listNames(dir.getParent).exists(_.startsWith("__b=")))
      StoreRoot.deleteRecursively(dir.getParent)
  }

  private def bucketed(df: DataFrame): DataFrame =
    df.withColumn("__b", pmod(hash(col(keyCol)), lit(buckets)))

  /** Write `df`'s per-bucket dirs under a fresh `staged/` dir,
    * clustered (see the class doc), as the next snapshot over `base`
    * carrying `carried`; only non-empty buckets get a dir. */
  private def stage(base: Int, carried: Map[Int, String], df: DataFrame,
      schema: StructType): StagedMerge = {
    val rel = s"staged/s${java.util.UUID.randomUUID}"
    bucketed(df).hint("rebalance", col("__b"))
      .sortWithinPartitions(col("__b"), col(keyCol))
      .write.partitionBy("__b").mode("errorifexists").parquet(s"$path/$rel")
    val staged = (0 until buckets).flatMap { b =>
      val d = s"$rel/__b=$b"
      if (Files.exists(Paths.get(path, d))) Some(b -> d) else None
    }.toMap
    new StagedMerge(base, carried, rel, staged, schema)
  }

  /** Publish `s`; on a conflict its staged write is discarded. */
  private def commit(s: StagedMerge): Unit =
    try s.publish()
    catch { case e: CommitConflict => s.discard(); throw e }

  /** Create the table (errors if it exists). */
  def create(df: DataFrame): Unit = {
    require(version == 0, s"snapshot table $path already exists")
    Files.createDirectories(Paths.get(path))
    commit(stage(0, Map.empty, df, nullable(df.schema)))
  }

  /** MERGE (A20b upsert): rows in `updates` replace current rows with
    * the same key; new keys insert. Copy-on-write at bucket
    * granularity — only buckets containing an update key are
    * rewritten; every other bucket's file is carried into the new
    * snapshot BY REFERENCE. O(touched buckets' data + batch), never
    * O(table). */
  def merge(updates: DataFrame): Unit = merge(updates, None)

  /** MERGE with a delete set (the `WHEN MATCHED DELETE` arm): rows in
    * `updates` upsert by key; keys in `deletes` (a one-column relation
    * of `keyCol` values) are REMOVED from the table — the operation an
    * IVM maintenance commit needs when a maintained group's count
    * reaches 0. A key in both sets lands as the update. Still
    * copy-on-write at bucket granularity: only buckets containing an
    * update OR delete key rewrite; a bucket whose rows all vanish gets
    * no data dir and drops out of the new manifest. A MERGE is
    * [[stageMerge]] then publish: if another commit lands after this
    * one read its base, it raises [[CommitConflict]] and leaves no
    * data behind. */
  def merge(updates: DataFrame, deletes: Option[DataFrame]): Unit =
    commit(stageMerge(updates, deletes))

  /** The current snapshot of a created table, with its version. */
  private def created: (Int, Snap) = {
    val cur = current
    require(cur._2.refs.nonEmpty, s"snapshot table $path not created")
    cur
  }

  /** The schema a merge of `updates` commits (H23): the prior schema,
    * then the batch's new columns in batch order. Widening is ONE-
    * directional: a batch missing a live column is refused — the
    * `allowMissingColumns` union below would otherwise silently
    * null-fill that column on every upserted key, destroying data the
    * caller never meant to touch (spec-pinned). Names compare under
    * Spark's resolution rule (case-insensitive unless
    * spark.sql.caseSensitive): a batch carrying `ID` against a live
    * `id` resolves fine in the union, so it is neither missing nor
    * new. The live schema comes from the manifest, so the guard reads
    * no footer and sees every handle's commits. */
  private def widened(prior: StructType, updates: DataFrame): StructType = {
    val batch = updates.columns.map(norm).toSet
    val missing = prior.fieldNames.filterNot(c => batch.contains(norm(c)))
    require(missing.isEmpty,
      s"snapshot table $path: update batch is missing live column(s) " +
        s"${missing.mkString(", ")} — merges are widening-only (H23); " +
        "a narrower batch would null-fill those columns on every " +
        "upserted key")
    val have = prior.fieldNames.map(norm).toSet
    nullable(StructType(prior ++
      updates.schema.filterNot(f => have.contains(norm(f.name)))))
  }

  private def nullable(s: StructType): StructType =
    StructType(s.map(_.copy(nullable = true)))

  private def norm(c: String): String =
    if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) c
    else c.toLowerCase(java.util.Locale.ROOT)

  /** The MERGE read plan against a given snapshot: the touched-bucket
    * set (metadata-sized, ≤ `buckets` ints, derived from the update +
    * delete batch alone — the standing table is not scanned for it)
    * and the upserted relation over ONLY the touched buckets' standing
    * data. */
  private def upsertPlan(cur: Snap, updates: DataFrame,
      deletes: Option[DataFrame],
      batchKeysHint: Option[DataFrame] = None): (Set[Int], DataFrame) = {
    // no `.distinct()` anywhere in this derivation (r19 optimization):
    // the two consumers are duplicate-insensitive — the left-anti join
    // below only tests existence, and the touched-bucket collect
    // dedupes driver-side via toSet — so the old distincts bought
    // nothing but a shuffle inside the metadata job and another inside
    // the staged write
    val batchKeys = (batchKeysHint, deletes) match {
      // a caller that already holds the batch's key relation
      // (checkpointed, covering updates ∪ deletes — the IVM commit's
      // `keys`) passes it through and the plan below never re-derives
      // it from the two consumer relations
      case (Some(k), _) => k.select(col(keyCol))
      case (None, Some(d)) => updates.select(col(keyCol))
        .unionByName(d.select(col(keyCol)))
      case (None, None) => updates.select(col(keyCol))
    }
    val touched = bucketed(batchKeys).select(col("__b"))
      .collect().map(_.getInt(0)).toSet
    val standing = cur.refs.filter { case (b, _) => touched(b) }
    val upserted =
      if (standing.isEmpty) updates
      else
        // allowMissingColumns = schema evolution (H23): an update
        // batch may carry NEW columns — carried standing rows null-
        // fill them, and untouched buckets' files stay as-is (the
        // manifest-schema read null-fills them, the A30 discipline
        // applied to the table format)
        updates.unionByName(
          readSnapDf(Snap(standing, Some(cur.schema)))
            .join(batchKeys, Seq(keyCol), "left_anti"),
          allowMissingColumns = true)
    (touched, upserted)
  }

  /** Stage a MERGE without publishing it — the write-audit-publish
    * (WAP) gate: the rewritten buckets land under `staged/` (outside
    * `data/`, so invisible to readers AND to vacuum), the table's
    * current snapshot is untouched, and the caller audits the
    * would-be table via [[StagedMerge.read]] before deciding. PUBLISH
    * moves the staged dirs into the data area and commits a new
    * manifest — but only if no other commit landed since the stage
    * (first-committer-wins, see the class doc; the loser gets
    * [[CommitConflict]]); ABORT deletes exactly the staged dirs and
    * nothing else. Either way the staged handle is single-use.
    *
    * At 100 TB this is how a pipeline runs data-quality checks on the
    * full post-merge view without ever exposing a bad batch: the
    * expensive bucket rewrite happens ONCE (at stage time), audit
    * reads it in place, and publish is a metadata-only rename +
    * manifest commit. */
  def stageMerge(updates: DataFrame): StagedMerge = stageMerge(updates, None)

  /** [[stageMerge]] with a delete set — see [[merge(updates,deletes)]]
    * for the delete semantics. The WAP arm an IVM maintenance commit
    * uses: stage the post-maintenance buckets, audit the would-be
    * table, publish or abort. */
  def stageMerge(updates: DataFrame,
      deletes: Option[DataFrame]): StagedMerge =
    stageMerge(updates, deletes, None)

  /** [[stageMerge]] with a precomputed batch-key relation: `batchKeys`
    * must contain `keyCol` and cover EXACTLY the keys of
    * updates ∪ deletes (duplicates fine — both consumers are
    * duplicate-insensitive). An IVM commit already holds this relation
    * checkpointed, so passing it spares the stage the join subtree
    * that re-derives it from `updates` and `deletes` (r19
    * optimization). */
  def stageMerge(updates: DataFrame, deletes: Option[DataFrame],
      batchKeysHint: Option[DataFrame]): StagedMerge = {
    val (base, cur) = created
    val schema = widened(cur.schema, updates)
    val (touched, upserted) = upsertPlan(cur, updates, deletes,
      batchKeysHint)
    stage(base, cur.refs -- touched, upserted, schema)
  }

  /** A staged, unpublished MERGE — see [[stageMerge]]. */
  final class StagedMerge private[SnapshotTable] (
      baseVersion: Int,
      carried: Map[Int, String],
      stagedRel: String,
      stagedRefs: Map[Int, String],
      schema: StructType) {

    private var consumed = false
    private def requireLive(): Unit =
      require(!consumed, "staged merge already published or aborted")

    /** The would-be table (base snapshot with touched buckets served
      * from the staged dirs) — the audit surface. */
    def read(): DataFrame = {
      requireLive()
      readSnapDf(Snap(carried ++ stagedRefs, Some(schema)))
    }

    /** Promote the staged write to the current snapshot: claim
      * `data/c<base + 1>`, move the staged dirs in, commit the
      * manifest. Raises [[CommitConflict]] if any commit landed after
      * the stage — the audited view would silently drop that commit's
      * buckets otherwise. A conflict at the claim leaves the staged
      * data intact for a re-stage decision. */
    def publish(): Unit = {
      requireLive()
      val c = baseVersion + 1
      val target = Paths.get(path, s"data/c$c")
      Files.createDirectories(target.getParent)
      if (!CommitLog.claim(target))
        throw new CommitConflict(s"snapshot table $path: concurrent " +
          s"commit detected (staged at v$baseVersion, but data/c$c " +
          "already exists: another commit, or a crashed one's " +
          "leftover): abort and re-stage against the new snapshot")
      val from = Paths.get(path, stagedRel)
      StoreRoot.listNames(from).foreach(n =>
        Files.move(from.resolve(n), target.resolve(n)))
      Files.delete(from)
      consumed = true
      val moved = stagedRefs.map { case (b, d) =>
        b -> d.replaceFirst(java.util.regex.Pattern.quote(stagedRel),
          s"data/c$c")
      }
      try log.commit(baseVersion, Snap(carried ++ moved, Some(schema)).body)
      catch {
        case e: CommitConflict =>
          StoreRoot.deleteRecursively(target)
          throw e
      }
    }

    /** Discard the staged write: deletes exactly the staged dirs. */
    def abort(): Unit = {
      requireLive()
      discard()
    }

    private[SnapshotTable] def discard(): Unit = {
      StoreRoot.deleteRecursively(Paths.get(path, stagedRel))
      consumed = true
    }
  }

  /** Rewrite the live layout into one fresh commit — result-neutral
    * (the data is byte-identical relationally); retained snapshots
    * keep reading the pre-compaction files until they expire. */
  def compact(): Unit = {
    val (base, cur) = created
    // the manifest-schema read, NOT a plain parquet read: after a
    // widening merge (H23) the live refs mix pre- and post-widening
    // files, and a plain read would infer the narrow schema from an
    // arbitrary footer and silently DROP the widened column's values
    // in the rewrite (caught by WarehouseSpec's post-compaction pin)
    commit(stage(base, Map.empty, readSnapDf(cur), cur.schema))
  }

  /** The current table. */
  def read(): DataFrame = readSnapDf(current._2)

  /** Time travel: the table as of a RETAINED snapshot — bit-stable
    * under any later merge/compaction while retained (spec-pinned);
    * raises once the snapshot has expired. */
  def readAsOf(v: Int): DataFrame = readSnapDf(snapAsOf(v))

  /** `snap`'s rows under its schema: pre-widening files null-fill the
    * columns they lack (H23), and a snapshot written entirely before
    * a widening keeps its old schema. */
  private def readSnapDf(snap: Snap): DataFrame = {
    require(snap.refs.nonEmpty, s"snapshot table $path has no data")
    spark.read.schema(snap.schema).parquet(dirsOf(snap.refs): _*)
  }

  private def dirsOf(r: Map[Int, String]): Seq[String] =
    r.values.toSeq.map(d => s"$path/$d")

  /** Drop everything (test cleanup). */
  def drop(): Unit = StoreRoot.deleteRecursively(Paths.get(path))
}
