package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.EtlOps
import graft.sources.{SnapshotTable, Sources}

/** Seeded scrape generator for the ingest pipeline. `ingest_model.py`
  * implements the same generator to predict the store's contents, so
  * any change here must be mirrored there.
  *
  * 20 locations own 250 documents each. Batch 0 lists every location;
  * batch b ≥ 1 re-scrapes four of them. A scrape writes one
  * `{LOC}_{MMddyyyy_HH-mm-ss}.csv` file per location listing all its
  * documents with their current `n_chars`. In each scraped location, a
  * seeded share (0.4-1.2 %) of documents changes, one new document
  * appears, and a few documents are listed again in a second file half
  * an hour later with a newer value (latest scrape wins). */
final class ScrapeGen(seed: Long) {
  import ScrapeGen._

  val changeBp: Long = 40 + h(seed, 1) % 81
  private val cur = mutable.LongMap.empty[Long]
  private val keys = Array.tabulate(Locs)(l =>
    mutable.ArrayBuffer.tabulate(KeysPerLoc)(j => l.toLong * KeysPerLoc + j))
  keys.flatten.foreach(k => cur(k) = 100 + h(seed, 3, k) % 900)

  /** Writes batch `b`'s files (batches must come in order 0, 1, 2, …);
    * returns (rows, bytes) written. */
  def write(b: Int, dir: Path): (Long, Long) = {
    Files.createDirectories(dir)
    var rows = 0L
    var bytes = 0L
    def file(loc: Int, minutes: Int, ks: Seq[Long]): Unit = {
      val sb = new StringBuilder("doc_id|source|lang|n_chars\n")
      ks.foreach(k => sb.append(k).append('|').append(code(loc).toLowerCase)
        .append('|').append(Langs((k % 4).toInt)).append('|').append(cur(k))
        .append('\n'))
      val data = sb.toString.getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(s"${code(loc)}_${stamp(b, minutes)}.csv"), data)
      rows += ks.size
      bytes += data.length
    }
    scraped(b).foreach { loc =>
      if (b > 0) {
        (0 until NewPerScrape).map(t => newKey(b, loc, t)).foreach { k =>
          keys(loc) += k
          cur(k) = 100 + h(seed, 3, k) % 900
        }
        keys(loc).foreach { k =>
          if (h(seed, 6, b, k) % 10000 < changeBp) cur(k) = 100 + h(seed, 4, b, k) % 900
        }
      }
      file(loc, 0, keys(loc).toSeq)
      if (b > 0) {
        val again = keys(loc).filter(k => h(seed, 7, b, k) % 10000 < RescrapeBp)
        again.foreach(k => cur(k) = 100 + h(seed, 5, b, k) % 900)
        if (again.nonEmpty) file(loc, 30, again.toSeq)
      }
    }
    (rows, bytes)
  }

  def scraped(b: Int): Seq[Int] =
    if (b == 0) 0 until Locs
    else {
      val s = (h(seed, 2, b) % Locs).toInt
      (0 until ScrapedPerBatch).map(t => (s + t * Locs / ScrapedPerBatch) % Locs)
    }
}

object ScrapeGen {
  val Locs = 20
  val KeysPerLoc = 250
  val ScrapedPerBatch = 4
  val NewPerScrape = 1
  val RescrapeBp = 30L
  val Langs = Seq("en", "de", "fr", "es")

  def code(loc: Int): String = "LOC" + ('A' + loc).toChar

  def newKey(b: Int, loc: Int, t: Int): Long =
    Locs.toLong * KeysPerLoc + (b.toLong * Locs + loc) * NewPerScrape + t

  /** `MMddyyyy_HH-mm-ss` of 2024-01-01 00:00 + b hours + minutes. */
  def stamp(b: Int, minutes: Int): String =
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(b).plusMinutes(minutes)
      .format(java.time.format.DateTimeFormatter.ofPattern("MMddyyyy_HH-mm-ss"))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Non-negative seeded hash of a key tuple, < 2^62. */
  def h(xs: Long*): Long = xs.foldLeft(0L)((z, x) => mix(z ^ x)) >>> 2
}

/** The reference workflow for one batch directory, step by step, each
  * step in its own span. */
final class IngestPipeline(spark: SparkSession, root: Path, spans: Spans) {
  import IngestPipeline._

  val tablePath: Path = root.resolve("table")
  val table = new SnapshotTable(spark, tablePath.toString, "DOC_ID",
    buckets = Buckets, keepSnapshots = 3)
  private val logPath = root.resolve("ingest_log").toString
  private def statePath(b: Int) = root.resolve(s"state/b$b").toString

  /** Per-batch store figures, recorded by [[batch]]. */
  final case class StoreIo(bytesWritten: Long, filesWritten: Long,
      liveBytes: Long, storeBytes: Long, commits: Int)

  private def enriched(dir: Path, b: Int): DataFrame = {
    val raw = spans("sources.read") {
      Sources.readDelimited(spark, dir.toString, "|", Some(CsvSchema))
    }
    spans("operators.enrich") {
      val latest = EtlOps.scdCurrentFlag(raw, col("doc_id"), Seq(col("file_ts")))
        .filter(col("current_ind") === "Y")
      EtlOps.normalizeColumns(EtlOps.enrich(latest)).withColumn("BATCH", lit(b))
    }
  }

  /** Batch 0: create the table and the first state file. */
  def create(dir: Path): Unit = {
    val e = enriched(dir, 0)
    spans("sources.merge")(table.create(e))
    spans("sources.state_write")(writeState(0))
  }

  /** One batch; returns the current view's (rows, Σ N_CHARS), the
    * planning phases of that read, and the store figures. */
  def batch(dir: Path, b: Int): ((Long, Long), Map[String, Double], StoreIo) = {
    val e = enriched(dir, b)
    val changed = spans("operators.change_detect") {
      val state = Sources.readJsonState(spark, statePath(b - 1))
      val missing = EtlOps.changeMissing(e, state.select("DOC_ID"), "DOC_ID")
      val mismatched = EtlOps.changeMismatch(e, state, Seq("DOC_ID", "N_CHARS"))
      EtlOps.latestWins(EtlOps.mergeUnion(Seq(missing, mismatched)),
        col("DOC_ID"), Seq(col("N_CHARS"))).persist()
    }
    val before = table.version
    spans("sources.merge")(table.merge(changed))
    val io = storeIo(before)
    spans("sources.log_write") {
      Sources.writePartitioned(
        changed.groupBy("BATCH", "LOC_ID")
          .agg(count(lit(1)).as("DATA_AMT"), sum("N_CHARS").as("TOTAL_CHARS")),
        logPath, Seq("BATCH"))
    }
    spans("sources.state_write")(writeState(b))
    graft.sources.StoreRoot.deleteRecursively(java.nio.file.Paths.get(statePath(b - 1)))
    val current = table.read().agg(count(lit(1)), sum("N_CHARS"))
    val r = spans("sources.current_read")(current.collect().head)
    ((r.getLong(0), r.getLong(1)), Plans.of(current), io)
  }

  private def writeState(b: Int): Unit =
    Sources.writeJsonState(table.read().select("DOC_ID", "N_CHARS"), statePath(b))

  private def storeIo(before: Int): StoreIo = {
    val v = table.version
    val newDir = tablePath.resolve(s"data/c$v")
    val written = DataFiles.files(newDir)
    val live = table.refs.values.toSeq.distinct
      .map(d => DataFiles.bytes(tablePath.resolve(d))).sum
    StoreIo(written.map(Files.size).sum, written.size.toLong, live,
      DataFiles.bytes(tablePath), v - before)
  }

  /** Final current view and ingest log, for the output check. */
  def dump(dir: Path): Unit = {
    table.read().coalesce(1).write.parquet(dir.resolve("current").toString)
    spark.read.parquet(logPath).coalesce(1).write
      .parquet(dir.resolve("ingest_log").toString)
  }
}

object IngestPipeline {
  val Buckets = 16
  val CsvSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("lang", StringType), StructField("n_chars", LongType)))
}

/** Data files under a directory, skipping checksum and marker files. */
object DataFiles {
  import scala.jdk.CollectionConverters._

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toList
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum
}
