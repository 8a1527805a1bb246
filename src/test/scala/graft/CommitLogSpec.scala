package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{CommitConflict, IndexStore, SnapshotTable}

/** The latches a paused writer's batch waits on. A spec pauses a
  * second writer after it has read its base (inside a Spark job of its
  * own batch), lands a first writer's commit, then releases the second
  * one. Static, so the local session's task threads see the spec's
  * latches. */
object CommitLatch {
  @volatile var entered = new CountDownLatch(1)
  @volatile var go = new CountDownLatch(1)

  def reset(): Unit = {
    entered = new CountDownLatch(1)
    go = new CountDownLatch(1)
  }

  def pass(x: Long): Long = {
    entered.countDown()
    go.await(300, TimeUnit.SECONDS)
    x
  }
}

/** Two committers on one store, and the crash states a writer can
  * leave on disk. The loser of a race gets [[CommitConflict]], never a
  * silently lost commit; a crash leaves the last committed snapshot
  * readable, and the next commit's vacuum brings the data on disk back
  * to what the retained snapshots reference. */
class CommitLogSpec extends SparkSuite {

  private val pause = udf((x: Long) => CommitLatch.pass(x))

  /** Start `second` on its own thread, wait until its batch is inside a
    * Spark job, run `first` to completion, then release `second` and
    * return its outcome. */
  private def interleave(second: => Unit)(first: => Unit)
      : Either[Throwable, Unit] = {
    CommitLatch.reset()
    @volatile var out: Either[Throwable, Unit] =
      Left(new IllegalStateException("the second writer never finished"))
    val t = new Thread(() => {
      out = try Right(second) catch { case e: Throwable => Left(e) }
    })
    t.start()
    try {
      assert(CommitLatch.entered.await(300, TimeUnit.SECONDS),
        "the second writer never reached its batch")
      first
    } finally CommitLatch.go.countDown()
    t.join(300000)
    out
  }

  private def assertConflict(out: Either[Throwable, Unit]): Unit =
    out match {
      case Left(_: CommitConflict) => ()
      case other => fail(s"the second writer must get CommitConflict, got $other")
    }

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix)

  private def names(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }

  private def kv(df: DataFrame): Seq[(Long, Long)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  private def reachable(t: SnapshotTable): Set[String] =
    t.snapshots.flatMap(v => t.refsAsOf(v).values).toSet

  private def table(root: Path, keep: Int = 3): SnapshotTable =
    new SnapshotTable(spark, root.resolve("t").toString, "id",
      buckets = 4, keepSnapshots = keep)

  private def batch(lo: Long, hi: Long, v: Long => Long): DataFrame = {
    import spark.implicits._
    (lo to hi).map(i => (i, v(i))).toDF("id", "v")
  }

  /** A one-partition batch whose key column goes through the latch UDF,
    * so the merge pauses in its first job (the touched-bucket collect),
    * after it has read its base snapshot, holding one task slot. */
  private def pausedBatch(lo: Long, hi: Long, v: Long): DataFrame =
    spark.range(lo, hi + 1, 1, 1).select(pause(col("id")).as("id"),
      lit(v).as("v"))

  test("merge x merge on one snapshot table: the merge that read the older base gets CommitConflict, the winner's rows all read back, and data/ holds exactly the retained refs") {
    val root = tempDir("graft_cl_mm")
    val a = table(root)
    val b = table(root)
    try {
      a.create(batch(1L, 40L, _ * 10L))
      val out = interleave(b.merge(pausedBatch(1L, 5L, -1L))) {
        a.merge(batch(1L, 40L, _ * 100L))
      }
      assertConflict(out)
      assert(a.version == 2)
      assert(kv(a.read()) == (1L to 40L).map(i => (i, i * 100L)),
        "the winning merge's rows did not all read back")
      assert(a.dataDirsOnDisk == reachable(a))
      assert(names(root.resolve("t/staged")).isEmpty,
        "the losing merge left its staged write behind")
    } finally a.drop()
  }

  test("stageMerge/publish x merge: a merge that read its base before a publish landed gets CommitConflict, and the published rows all read back") {
    val root = tempDir("graft_cl_pm")
    val a = table(root)
    val b = table(root)
    try {
      a.create(batch(1L, 40L, _ * 10L))
      val staged = a.stageMerge(batch(1L, 40L, _ * 100L))
      val out = interleave(b.merge(pausedBatch(1L, 5L, -1L))) {
        staged.publish()
      }
      assertConflict(out)
      assert(a.version == 2)
      assert(kv(a.read()) == (1L to 40L).map(i => (i, i * 100L)),
        "the published rows did not all read back")
      assert(a.dataDirsOnDisk == reachable(a))
    } finally a.drop()
  }

  private def segDirs(dir: Path): Set[String] =
    names(dir).filter(_.startsWith("seg_"))

  private def segReachable(s: IndexStore): Set[String] =
    s.snapshots.flatMap(s.segmentsAsOf).map(i => s"seg_$i").toSet

  private def keys(s: IndexStore): Seq[Long] =
    s.segmentTables.map(_.select("k")).reduce(_ unionByName _).collect()
      .map(_.getLong(0)).toSeq.sorted

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi + 1).select(col("id").as("k"), lit(0L).as("w"))

  test("refresh x refresh on one index store: the refresh that read the older base gets CommitConflict, the winner's rows all read back, and the seg_ dirs are exactly the retained snapshots' segments") {
    val dir = tempDir("graft_cl_rr").resolve("ix")
    val a = new IndexStore(spark, "graft_t_cl_rr", dir.toString, "k", buckets = 2)
    val b = new IndexStore(spark, "graft_t_cl_rr", dir.toString, "k", buckets = 2)
    try {
      a.create(rows(0L, 19L))
      val out = interleave {
        b.refresh(spark.range(100L, 110L, 1, 1)
          .select(pause(col("id")).as("k"), lit(1L).as("w")))
      } {
        a.refresh(rows(200L, 209L))
      }
      assertConflict(out)
      assert(keys(a) == (0L to 19L) ++ (200L to 209L),
        "the winning refresh's rows did not all read back")
      assert(segDirs(dir) == segReachable(a),
        s"seg dirs ${segDirs(dir)} vs reachable ${segReachable(a)}")
    } finally a.drop()
  }

  test("crash with an orphan staged write: a fresh handle reads the last commit, the next merge commits, and data/ holds exactly the retained refs") {
    val root = tempDir("graft_cl_orphan")
    val t = table(root)
    try {
      t.create(batch(1L, 40L, _ * 10L))
      t.merge(batch(1L, 3L, _ * 100L))
      val before = kv(t.read())
      // a writer that staged its merge and died before publishing
      t.stageMerge(batch(4L, 8L, _ * 100L))
      assert(names(root.resolve("t/staged")).size == 1)
      val fresh = table(root)
      assert(kv(fresh.read()) == before)
      fresh.merge(batch(9L, 9L, _ => 9L))
      assert(fresh.version == 3)
      assert(kv(fresh.read()) ==
        (before.filterNot(_._1 == 9L) :+ ((9L, 9L))).sortBy(_._1))
      assert(fresh.dataDirsOnDisk == reachable(fresh))
    } finally t.drop()
  }

  test("crash between a publish's data move and its snapshot file: the next commit raises CommitConflict naming the leftover dir and never overwrites it") {
    val root = tempDir("graft_cl_gap")
    val t = table(root)
    try {
      t.create(batch(1L, 20L, _ * 10L))
      val before = kv(t.read())
      val leftover = root.resolve("t/data/c2")
      Files.createDirectories(leftover)
      Files.writeString(leftover.resolve("_sentinel"), "kept")
      val err = intercept[CommitConflict](t.merge(batch(1L, 2L, _ => 0L)))
      assert(err.getMessage.contains("data/c2"), err.getMessage)
      assert(Files.exists(leftover.resolve("_sentinel")))
      assert(t.version == 1 && kv(t.read()) == before)
      assert(names(root.resolve("t/staged")).isEmpty)
    } finally t.drop()
  }

  test("crash before expiry and vacuum ran, and a half-finished vacuum: a fresh handle reads the last commit, the next merge commits, and its vacuum brings data/ back to the retained refs") {
    val root = tempDir("graft_cl_vac")
    val wide = table(root, keep = 6)
    try {
      wide.create(batch(1L, 40L, _ * 10L))
      (1L to 4L).foreach(i => wide.merge(batch(i * 8L, i * 8L + 1L, _ => i)))
      wide.compact()
      assert(wide.snapshots == (1 to 6))
      val before = kv(wide.read())
      // a handle retaining two snapshots finds four it should have
      // expired (their expiry and vacuum never ran)...
      val narrow = table(root, keep = 2)
      assert(kv(narrow.read()) == before)
      // ...and a vacuum that stopped half-way: some of the refs only
      // the expiring snapshots hold are already gone
      val keep = (narrow.refsAsOf(6).values ++ narrow.refsAsOf(5).values).toSet
      val dead = (1 to 4).flatMap(v => narrow.refsAsOf(v).values).toSet -- keep
      assert(dead.size >= 2)
      dead.take(dead.size / 2).foreach(d =>
        graft.sources.StoreRoot.deleteRecursively(root.resolve("t").resolve(d)))
      val fresh = table(root, keep = 2)
      assert(kv(fresh.read()) == before)
      fresh.merge(batch(1L, 1L, _ => 7L))
      assert(fresh.snapshots == Seq(6, 7))
      assert(fresh.dataDirsOnDisk == reachable(fresh),
        s"disk ${fresh.dataDirsOnDisk} vs reachable ${reachable(fresh)}")
      assert(kv(fresh.readAsOf(6)) == before)
    } finally wide.drop()
  }

  test("index store crash states: a claimed but uncommitted segment is never reused or overwritten, an unexpired history and a half-finished vacuum converge on the next refresh") {
    val dir = tempDir("graft_cl_ixcrash").resolve("ix")
    val wide = new IndexStore(spark, "graft_t_cl_ixc", dir.toString, "k",
      buckets = 2, keepSnapshots = 6)
    try {
      wide.create(rows(0L, 9L))
      wide.refresh(rows(10L, 19L))
      wide.refresh(rows(20L, 29L))
      wide.compact()
      assert(wide.snapshots == (1 to 4) && wide.segments == Seq(3))
      val before = keys(wide)
      // a refresh that claimed seg_4 and died before committing
      val claimed = dir.resolve("seg_4")
      Files.createDirectory(claimed)
      Files.writeString(claimed.resolve("_sentinel"), "kept")
      // a vacuum that stopped half-way through the segments only the
      // expiring snapshots hold (seg_0 gone, seg_1 and seg_2 left)
      graft.sources.StoreRoot.deleteRecursively(dir.resolve("seg_0"))
      val fresh = new IndexStore(spark, "graft_t_cl_ixc", dir.toString, "k",
        buckets = 2, keepSnapshots = 1)
      assert(keys(fresh) == before)
      fresh.refresh(rows(30L, 39L))
      assert(fresh.snapshots == Seq(5) && fresh.segments == Seq(3, 5))
      assert(keys(fresh) == before ++ (30L to 39L))
      assert(Files.exists(claimed.resolve("_sentinel")),
        "the claimed segment was overwritten")
      // the orphan claim stays (nothing tells a dead claim from a live
      // writer's), every other dir is exactly the retained segments
      assert(segDirs(dir) == segReachable(fresh) + "seg_4",
        s"seg dirs ${segDirs(dir)} vs reachable ${segReachable(fresh)}")
    } finally wide.drop()
  }
}
