package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{CacheHygiene, SparkEntry}

/** What one op hands back: the output to check and the figures the
  * traced run reports for it. */
final case class OpOut(rowsIn: Long, rowsOut: Long, digest: String,
    plans: Map[String, Double], layers: Map[String, Double])

/** Per-session context a workload runs in. */
final case class Ctx(spark: SparkSession, spans: Spans, dataDir: String,
    work: Path, seed: Long)

trait Workload {
  def name: String
  /** Builds inputs and standing state in a fresh session (set-up). */
  def prepare(ctx: Ctx): Map[String, Double]
  /** Distinct ops, each run once untimed at the end of set-up. */
  def warmup: Seq[String]
  /** Ops per round: the loop ends on a round boundary. */
  def round: Int = 1
  /** Loop ops run even when they overrun `--seconds`. */
  def minOps: Int = 2
  /** The op run at position `i` of the closed loop. */
  def opAt(i: Int): String
  /** Untimed, just before op `op` starts: lands its inputs. */
  def stage(ctx: Ctx, op: String): Unit = ()
  def run(ctx: Ctx, op: String): OpOut
  /** Untimed, after the loop: writes what the output check reads. */
  def dump(ctx: Ctx, dir: Path): Unit
}

/** Multi-job loop rows over a standing store: an op builds one
  * `SparkEntry.queries` plan, collects it and releases what it pinned.
  * Its digest is an order-independent hash of the rows. */
final class IterativeLoops(seed: Long) extends Workload {
  import IterativeLoops._
  val name = "iterative_loops"

  def warmup: Seq[String] = Queries
  override def round: Int = Queries.size

  /** Seeded order: back-to-back seeded permutations of the queries. */
  def opAt(i: Int): String = {
    val round = i / Queries.size
    val order = new scala.util.Random(seed * 1000003L + round).shuffle(Queries)
    order(i % Queries.size)
  }

  /** The standing store knn_graph_incremental reads, built once per
    * set-up under the session's store root. */
  def prepare(ctx: Ctx): Map[String, Double] = {
    val t0 = System.nanoTime()
    ctx.spans("sources.store_build")(
      graft.operators.AnnOps.knnGraphPreBuild(ctx.spark, ctx.dataDir))
    CacheHygiene.release(ctx.spark, blocking = true)
    Map("knn_graph_pre_build" -> (System.nanoTime() - t0) / 1e9)
  }

  /** First successful result of each query, kept for the oracle check. */
  val firsts = mutable.LinkedHashMap.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]

  def run(ctx: Ctx, op: String): OpOut = {
    val spans = ctx.spans
    val fn = SparkEntry.queries(op)
    val sc = ctx.spark.sparkContext
    val df: DataFrame = spans("operators.build")(fn(ctx.spark, ctx.dataDir))
    val rows = spans("action")(df.collect())
    val persisted = sc.getPersistentRDDs.size
    spans("cache.release")(CacheHygiene.release(ctx.spark, blocking = true))
    if (!firsts.contains(op)) firsts(op) = (df.schema, rows)
    OpOut(0L, rows.length.toLong, Digest.rows(rows), Plans.of(df),
      Map("cache.persisted_rdds" -> persisted.toDouble))
  }

  def dump(ctx: Ctx, dir: Path): Unit = firsts.foreach { case (q, (schema, rows)) =>
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(dir.resolve(q).toString)
  }
}

object IterativeLoops {
  /** The multi-job loop rows that fit a run of a few seconds on a 4-core
    * 2.1 GHz host: two graph fixpoints and the incremental kNN-graph
    * maintenance over its standing pre-batch graph. Frozen here so that
    * the workload means the same thing from one commit to the next. */
  val Queries: Seq[String] = Seq(
    "graph_label_prop", "graph_shortest_paths", "knn_graph_incremental")
}

/** The reference ingest workflow as repeated batches (see
  * [[IngestPipeline]]). Op `batch<b>` runs batch `b`; batches 1 to
  * `WarmBatches` are the warm-up, so op `i` of the loop is batch
  * `WarmBatches + 1 + i`. */
final class IngestWorkload(seed: Long) extends Workload {
  import IngestWorkload._
  val name = "ingest_pipeline"

  private var gen: ScrapeGen = _
  private var pipe: IngestPipeline = _
  private var inputs: Path = _
  private var staged: (Int, Long, Long) = _
  /** CSV bytes written per batch, batch 0 first. */
  val batchBytes = mutable.ArrayBuffer.empty[Long]

  def prepare(ctx: Ctx): Map[String, Double] = {
    gen = new ScrapeGen(seed)
    inputs = ctx.work.resolve("scrapes")
    pipe = new IngestPipeline(ctx.spark, ctx.work.resolve("store"), ctx.spans)
    batchBytes.clear()
    batchBytes += gen.write(0, inputs.resolve("b0"))._2
    pipe.create(inputs.resolve("b0"))
    CacheHygiene.release(ctx.spark, blocking = true)
    Map.empty
  }

  def warmup: Seq[String] = (1 to WarmBatches).map(b => s"batch$b")
  def opAt(i: Int): String = s"batch${WarmBatches + 1 + i}"
  /** Every run reaches batch `SizeBatch`, where the store size is read. */
  override def minOps: Int = SizeBatch - WarmBatches

  override def stage(ctx: Ctx, op: String): Unit = {
    val b = op.stripPrefix("batch").toInt
    val (rows, bytes) = gen.write(b, inputs.resolve(s"b$b"))
    batchBytes += bytes
    staged = (b, rows, bytes)
  }

  def run(ctx: Ctx, op: String): OpOut = {
    val (b, rows, bytes) = staged
    val ((n, chars), plans, io) = pipe.batch(inputs.resolve(s"b$b"), b)
    val persisted = ctx.spark.sparkContext.getPersistentRDDs.size
    ctx.spans("cache.release")(CacheHygiene.release(ctx.spark, blocking = true))
    val inputBytes = batchBytes.sum.toDouble
    OpOut(rows, n, s"$b:$n:$chars", plans, Map(
      "sources.commits" -> io.commits.toDouble,
      "sources.bytes_written" -> io.bytesWritten.toDouble,
      "sources.files_written" -> io.filesWritten.toDouble,
      "sources.write_amp" -> io.bytesWritten.toDouble / bytes,
      "sources.live_bytes" -> io.liveBytes.toDouble,
      "sources.store_bytes" -> io.storeBytes.toDouble,
      "sources.input_bytes_total" -> inputBytes,
      "batch" -> b.toDouble,
      "cache.persisted_rdds" -> persisted.toDouble))
  }

  def dump(ctx: Ctx, dir: Path): Unit = pipe.dump(dir)
}

object IngestWorkload {
  /** Batches run untimed in set-up, after the table is created. */
  val WarmBatches = 1
  /** Batch after which the checker reads the store size per input byte:
    * table version 7, by which vacuum (3 snapshots kept) has expired
    * four snapshots. run.py's STORE_SIZE_BATCH must match. */
  val SizeBatch = 6
}

/** Planning phase times of a DataFrame's final query execution. */
object Plans {
  def of(df: DataFrame): Map[String, Double] = {
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(p =>
      phases.get(p).map(s => p -> s.durationMs.toDouble)).toMap
  }
}

/** Order-independent digest of collected rows: the sum of 64-bit hashes
  * of each row's canonical text. */
object Digest {
  def rows(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach(r => acc += hash(canon(r)))
    f"${rows.length}:$acc%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted
        .mkString("{", "\u0001", "}")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  private def hash(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x1b873593)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
}
