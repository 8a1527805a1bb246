package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardOpenOption}

import scala.annotation.tailrec

/** A commit that lost to another writer: the version it would take
  * (or the data dir that version writes) already exists. Nothing of
  * the losing commit is visible; the caller re-reads and decides. */
final class CommitConflict(msg: String) extends RuntimeException(msg)

/** The snapshot history of one store directory — the commit protocol
  * [[SnapshotTable]] and [[IndexStore]] share.
  *
  *   - A snapshot is an immutable file `MANIFEST.v<k>` whose body the
  *     store defines. The retained snapshots are the files present;
  *     the current one is the newest.
  *   - [[commit]] places a body as version `base + 1` by put-if-absent:
  *     the body is written to a temp file, then hard-linked to its
  *     final name, which fails if the name exists. So a reader never
  *     sees half a body, and of two writers on one base exactly one
  *     wins; the other gets [[CommitConflict]] (first committer wins,
  *     the Iceberg/Delta rule). A base older than the current version
  *     conflicts before the link.
  *   - After a commit, snapshots beyond `keepSnapshots` expire. Vacuum
  *     drops exactly the refs the expiring snapshots hold and no
  *     retained one holds — never a dir no snapshot mentions, which may
  *     be a concurrent writer's uncommitted data. Refs go before the
  *     snapshot files, so a crash mid-vacuum leaves the expiring files
  *     for the next commit to finish.
  *
  * @param refsOf the data refs a snapshot body holds
  * @param drop   deletes one ref's data (idempotent) */
final class CommitLog(dir: Path, keepSnapshots: Int,
    refsOf: String => Iterable[String], drop: String => Unit) {

  require(keepSnapshots >= 1, "must retain at least the current snapshot")

  private def file(v: Int): Path = dir.resolve(s"MANIFEST.v$v")

  /** Retained snapshot versions, oldest first. */
  def versions: Seq[Int] =
    StoreRoot.listNames(dir).flatMap(n =>
      CommitLog.Snapshot.findFirstMatchIn(n).map(_.group(1).toInt)).sorted

  /** Current version (0 = nothing committed). */
  def version: Int = versions.lastOption.getOrElse(0)

  /** Body of snapshot `v`, if retained. */
  def read(v: Int): Option[String] =
    try Some(Files.readString(file(v)))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** (version, body) of the current snapshot, (0, None) before the
    * first commit. Re-lists if a concurrent commit expires the listed
    * snapshot before it is read. */
  @tailrec def current: (Int, Option[String]) = versions.lastOption match {
    case None => (0, None)
    case Some(v) => read(v) match {
      case None => current
      case body => (v, body)
    }
  }

  /** Commit `body` as version `base + 1`, then expire and vacuum;
    * returns the new version. */
  def commit(base: Int, body: String): Int = {
    val v = base + 1
    val now = version
    if (now != base)
      throw new CommitConflict(
        s"$dir: concurrent commit detected (read v$base, now v$now)")
    val tmp = dir.resolve(s"MANIFEST.tmp${java.util.UUID.randomUUID}")
    try {
      Files.writeString(tmp, body, StandardOpenOption.CREATE_NEW)
      try Files.createLink(file(v), tmp)
      catch {
        case _: FileAlreadyExistsException =>
          throw new CommitConflict(
            s"$dir: concurrent commit detected (v$v already exists)")
      }
    } finally Files.deleteIfExists(tmp)
    expire()
    v
  }

  private def expire(): Unit = {
    val vs = versions
    val (old, kept) = vs.splitAt(vs.size - keepSnapshots)
    if (old.nonEmpty) {
      def held(v: Int) = read(v).toSeq.flatMap(refsOf)
      val live = kept.flatMap(held).toSet
      old.flatMap(held).distinct.filterNot(live).foreach(drop)
      old.foreach(v => Files.deleteIfExists(file(v)))
    }
  }
}

object CommitLog {
  private val Snapshot = "^MANIFEST\\.v(\\d+)$".r

  /** Claim `dir` for one writer: true iff this call created it. */
  def claim(dir: Path): Boolean =
    try { Files.createDirectory(dir); true }
    catch { case _: FileAlreadyExistsException => false }
}
