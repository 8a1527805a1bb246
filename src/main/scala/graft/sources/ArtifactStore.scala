package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once store of written artifacts (trained models, ANN indexes,
  * dedup relations, the BPE trajectory) under one family dir of the
  * resolved `graft.store.root`: `<root>/<family>/<key>/<name>`. The
  * first access per (resolved dir, JVM) builds a key — or reuses a
  * complete copy another JVM published under a shared root (builds are
  * deterministic, so reuse ≡ rebuild) — and every access reads the
  * written parquet.
  *
  * Publication is atomic (temp dir, then rename): two JVMs that both
  * find an artifact missing race only on the rename, first committer
  * wins, and a reader never scans a half-written dir because
  * `_SUCCESS` is inside the temp dir when it moves. A crash leaves an
  * orphan temp dir no reader resolves, or a half-complete key that
  * the next access completes — spec-pinned torn-state recovery. */
final class ArtifactStore(family: String) {
  private val built = scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Test hook: forget which keys this JVM has built, simulating a
    * process restart against the same store root. */
  private[graft] def forgetBuilt(): Unit = built.clear()

  /** The artifacts `names` of `key`: on first access per JVM, `build`
    * runs (one relation per name) unless every name is already
    * complete on disk; names already published are kept. */
  def get(spark: SparkSession, key: String, names: Seq[String])
      (build: => Seq[DataFrame]): Seq[DataFrame] = {
    val dir = StoreRoot.resolve(spark, family).resolve(key)
    built.getOrElseUpdate(dir.toString, {
      ArtifactStore.sweepTrash(dir)
      val complete = names.forall(n =>
        Files.exists(dir.resolve(n).resolve("_SUCCESS")))
      if (!complete) {
        names.zip(build).foreach { case (n, df) =>
          ArtifactStore.publish(df, dir.resolve(n))
        }
      }
    })
    names.map { n =>
      val d = dir.resolve(n)
      ArtifactStore.awaitComplete(d)
      spark.read.parquet(d.toString)
    }
  }

  /** [[get]] for a key holding one artifact. */
  def get(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    get(spark, key, Seq("data"))(Seq(build)).head
}

object ArtifactStore {

  /** Age gate for the orphaned-`.trash` sweep: far above a heal's
    * two-rename flicker, far below a shared root's lifetime. */
  private val trashSweepAgeMs: Long = 10L * 60 * 1000

  /** Sweep `.trash` siblings a crashed heal left (see [[publish]]),
    * age-gated: a concurrent JVM's heal parks a COMPLETE artifact
    * under a .trash name for the instant between its two renames. Age
    * is judged by the store's clock (a probe file's mtime), not the
    * local one, so clock skew between machines sharing a root cannot
    * mis-age a parked heal. Stale `.clockprobe*` files ride the gate. */
  private def sweepTrash(dir: Path): Unit =
    if (Files.exists(dir)) {
      val storeNowMs: Long = {
        val probe = dir.resolve(s".clockprobe${System.nanoTime()}")
        try {
          Files.createFile(probe)
          Files.getLastModifiedTime(probe).toMillis
        } catch { case _: java.io.IOException => System.currentTimeMillis() }
        finally {
          try Files.deleteIfExists(probe)
          catch { case _: java.io.IOException => () }
          ()
        }
      }
      val cutoffMs = storeNowMs - trashSweepAgeMs
      val kids = Files.list(dir)
      try kids.filter { p =>
          val n = p.getFileName.toString
          n.contains(".trash") || n.startsWith(".clockprobe")
        }
        .filter { p =>
          (try Files.getLastModifiedTime(p).toMillis
           catch { case _: java.io.IOException => Long.MaxValue }) < cutoffMs
        }
        .forEach(p => StoreRoot.deleteRecursively(p))
      finally kids.close()
    }

  /** Publish one artifact: write a sibling temp dir, rename it into
    * place. The rename installs a COMPLETE dir or fails because a
    * concurrent writer installed its bit-identical copy first, and
    * ours is discarded (which also makes getOrElseUpdate's possible
    * double evaluation harmless). */
  private def publish(df: DataFrame, target: Path): Unit = {
    if (Files.exists(target.resolve("_SUCCESS"))) return // already won
    // a target WITHOUT the marker is torn garbage (a crashed
    // non-atomic writer) and must be healed, or the rename below fails
    // forever. The heal moves it aside instead of deleting in place: a
    // concurrent publish may have landed a COMPLETE artifact since the
    // check above, and if the moved dir turns out complete it is moved
    // straight back. A crash between the two renames leaves it under
    // the .trash name, and the next access rebuilds.
    if (Files.exists(target)) {
      val trash = target.resolveSibling(
        target.getFileName.toString + s".trash${System.nanoTime()}")
      try Files.move(target, trash, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException => () }
      if (Files.exists(trash.resolve("_SUCCESS"))) {
        try {
          Files.move(trash, target, StandardCopyOption.ATOMIC_MOVE)
          return // the concurrent publish was complete — reinstalled
        } catch {
          case _: java.nio.file.FileSystemException =>
            // yet another writer renamed in meanwhile; copies are
            // bit-identical, ours goes
            StoreRoot.deleteRecursively(trash)
            if (Files.exists(target.resolve("_SUCCESS"))) return
        }
      } else if (Files.exists(trash))
        StoreRoot.deleteRecursively(trash)
    }
    val tmp = target.resolveSibling(
      target.getFileName.toString + s".tmp${System.nanoTime()}")
    df.write.mode("errorifexists").parquet(tmp.toString)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        StoreRoot.deleteRecursively(tmp)
        // the rename legitimately fails only because a concurrent
        // publish landed first; anything else must surface
        if (!Files.exists(target.resolve("_SUCCESS"))) throw e
    }
  }

  /** Readers wait for `_SUCCESS`: under a shared root another JVM may
    * still be publishing, and the marker appears with the rename. */
  private def awaitComplete(d: Path): Unit = {
    val deadlineNs = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!Files.exists(d.resolve("_SUCCESS"))) {
      require(System.nanoTime() < deadlineNs,
        s"artifact $d incomplete after 120 s — no writer published it")
      Thread.sleep(100)
    }
  }
}
