package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Base path for every run-shared store (dedup pair/CC relations, ANN
  * indexes, the BPE trajectory, BM25/phrase IndexStore segments) —
  * resolved from the `graft.store.root` Spark conf so a cluster
  * deployment can point all standing artifacts at a shared
  * filesystem / object-store prefix with one setting. Unset, it falls
  * back to a per-JVM temp directory: exactly the previous
  * `Files.createTempDirectory` behavior (fresh per run, auto-isolated
  * between concurrent JVMs).
  *
  * Store caches must key on the RESOLVED root (not just the corpus):
  * changing the conf mid-JVM then re-building yields a store under
  * the new root rather than silently reusing the old one
  * (spec-pinned in `WarehouseSpec`). */
object StoreRoot {

  /** The conf knob. On local[*] the default is right; on a real
    * cluster set it to a path every executor and the driver share. */
  val confKey = "graft.store.root"

  private lazy val tmpDefault: Path =
    Files.createTempDirectory("graft-stores")

  /** `<base>/<prefix>`, created — `base` is the conf value if set,
    * else the per-JVM temp root. */
  def resolve(spark: SparkSession, prefix: String): Path = {
    val base = spark.conf.getOption(confKey)
      .map(Paths.get(_)).getOrElse(tmpDefault)
    val p = base.resolve(prefix)
    Files.createDirectories(p)
    p
  }

  /** The entry names of `dir` (none if it does not exist). */
  def listNames(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }

  /** Best-effort recursive delete, shared by the stores' vacuum and
    * cleanup and the harnesses' scratch dirs: a failed delete leaves
    * garbage behind, never a broken snapshot. */
  def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    } catch {
      // best-effort means IO failures are tolerated, NOT fatal VM
      // errors or a thread interrupt — swallowing those would eat a
      // bench harness's cancellation mid-cleanup
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }
}
