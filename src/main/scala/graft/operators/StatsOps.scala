package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.Tables

/** Round-6 statistical / stream-profiling operators.
  *
  * Scale notes:
  *   - `q_outliers_zscore` is the classic two-pass anomaly scan: pass
  *     1 reduces the fact table to one stats row per group (exact
  *     decimal power sums, map-side combinable), pass 2 re-scans with
  *     the tiny stats relation broadcast — no sort, no window, no
  *     state proportional to data.
  *   - `event_transitions` shuffles once on user_id for the lead()
  *     window; the transition matrix it emits is |event_types|² rows,
  *     so the second aggregation is negligible at any scale.
  *   - `text_pmi` reuses the zip_with bigram kernel (O(tokens) per
  *     row — see TextOps.textNgramFreq for why not transform/index),
  *     and joins bigram counts against the two unigram marginals;
  *     at scale the unigram side is Zipf-small and broadcastable.
  *   - `sketch_heavy_hitters` builds a count-min sketch as data: the
  *     sketch is D×W = 128 cells REGARDLESS of input size (the whole
  *     point — at 100 TB the sketch still fits in a broadcast), built
  *     in one map-side-combinable aggregation over the 4-way hash
  *     expansion. The probe joins candidate keys to the broadcast
  *     sketch and takes the min over the D rows. Estimates are
  *     biased high, never low; the oracle replays the identical
  *     integer hash kernel in SQL (same portable-kernel technique as
  *     the MinHash/SimHash oracles).
  */
object StatsOps {

  // --------------------------------------------------------------- B48
  /** Per-event-type z-score outliers: |z| > 2 events flagged against
    * group mean/stddev derived from exact decimal power sums (the
    * distributed-moments discipline of q_stats_moments), so the float
    * math runs once per GROUP and the flagging is partition-order
    * independent. */
  def qOutliersZscore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val v = $"value".cast(DecimalType(14, 2))
    val stats = Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(v).cast("double").as("sv"),
        sum(v * v).cast("double").as("svv"))
      // zero-dispersion guard, applied BEFORE the sqrt/divide so both
      // engines take the same branch: n=1 (no sample stddev) or a
      // constant group (m2=0) would otherwise produce NaN/Inf in Spark
      // but NULL in DuckDB, silently diverging the |z|>2 gate. Groups
      // with no dispersion have no z-outliers by definition — drop them
      // with plain integer/double comparisons (never compare a NaN).
      .select($"event_type", $"n", ($"sv" / $"n").as("mean"),
        ($"svv" - $"sv" * $"sv" / $"n").as("m2"))
      .filter($"n" > 1 && $"m2" > 0)
      .select($"event_type", $"mean",
        sqrt($"m2" / ($"n" - 1)).as("std"))
    Tables.events(spark, sfDir)
      .join(broadcast(stats), "event_type")
      .select($"event_id", $"event_type", $"value",
        round(($"value" - $"mean") / $"std", 6).as("zscore"))
      .filter(abs($"zscore") > 2.0)
  }

  val qOutliersZscoreSql: String =
    """WITH sums AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sv,
      |    CAST(sum(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS svv
      |  FROM events GROUP BY 1),
      |stats AS (
      |  SELECT event_type, n, sv / n AS mean, svv - sv * sv / n AS m2
      |  FROM sums WHERE n > 1 AND svv - sv * sv / n > 0),
      |scored AS (
      |  SELECT event_id, e.event_type, value,
      |    round((value - mean) / sqrt(m2 / (n - 1)), 6) AS zscore
      |  FROM events e JOIN stats s ON e.event_type = s.event_type)
      |SELECT * FROM scored WHERE abs(zscore) > 2.0""".stripMargin

  // --------------------------------------------------------------- B49
  /** First-order Markov transition matrix over each user's event
    * sequence: count and conditional probability of every
    * (from_event → to_event) step. lead() over (ts, event_id) — the
    * unique tiebreak keeps rank order identical across engines. */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val steps = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_event", lead($"event_type", 1).over(w))
      .filter($"to_event".isNotNull)
    val wf = Window.partitionBy($"from_event")
    steps.groupBy($"event_type".as("from_event"), $"to_event")
      .agg(count(lit(1)).as("n"))
      .withColumn("prob", round($"n" / sum($"n").over(wf), 6))
  }

  val eventTransitionsSql: String =
    """WITH steps AS (
      |  SELECT event_type AS from_event,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_event
      |  FROM events),
      |counts AS (
      |  SELECT from_event, to_event, CAST(count(*) AS BIGINT) AS n
      |  FROM steps WHERE to_event IS NOT NULL GROUP BY 1, 2)
      |SELECT from_event, to_event, n,
      |  round(n / CAST(sum(n) OVER (PARTITION BY from_event) AS BIGINT), 6) AS prob
      |FROM counts""".stripMargin

  // --------------------------------------------------------------- C15
  /** Collocation mining: pointwise mutual information of corpus
    * bigrams — PMI = ln(p(xy) / (p(x)·p(y))) with bigram and unigram
    * probabilities over their own totals. Top 50, count ≥ 5. The
    * float expression keeps every operand near 1 (divide-first) so
    * no count product overflows double exactness at scale. */
  def textPmi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split(trim($"text"), "\\s+")
    val n1 = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => concat_ws(" ", a, b))
    val docs = Tables.documents(spark, sfDir)
    // both count relations are vocab-sized but have 2-3 consumers each
    // (marginal joins + totals); persisted so the corpus explodes once
    // per relation instead of once per consumer (5 corpus scans were
    // visible in the unpersisted physical plan)
    val bg = docs.select(explode(bigrams).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n_xy"))
      .withColumn("w1", substring_index($"bigram", " ", 1))
      .withColumn("w2", substring_index($"bigram", " ", -1))
      .persist()
    val uni = docs.select(explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .persist()
    val totals = bg.agg(sum($"n_xy").as("nb"))
      .crossJoin(uni.agg(sum($"c").as("nu")))
    bg.join(broadcast(uni.select($"tok".as("w1"), $"c".as("c1"))), "w1")
      .join(broadcast(uni.select($"tok".as("w2"), $"c".as("c2"))), "w2")
      .crossJoin(broadcast(totals))
      .filter($"n_xy" >= 5)
      .select($"bigram", $"n_xy",
        round(log(($"n_xy" / $"nb") / (($"c1" / $"nu") * ($"c2" / $"nu"))), 6)
          .as("pmi"))
      .orderBy($"pmi".desc, $"bigram")
      .limit(50)
  }

  val textPmiSql: String =
    """WITH bg AS (
      |  SELECT l[g] || ' ' || l[g+1] AS bigram, l[g] AS w1, l[g+1] AS w2
      |  FROM (SELECT string_split_regex(trim(text), '\s+') AS l FROM documents) t,
      |       unnest(range(1, len(t.l))) AS u(g)),
      |bgc AS (
      |  SELECT bigram, any_value(w1) AS w1, any_value(w2) AS w2,
      |    CAST(count(*) AS BIGINT) AS n_xy
      |  FROM bg GROUP BY bigram),
      |uni AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
      |        FROM documents)
      |  GROUP BY tok),
      |totals AS (
      |  SELECT (SELECT CAST(sum(n_xy) AS BIGINT) FROM bgc) AS nb,
      |         (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS nu)
      |SELECT bigram, n_xy,
      |  round(ln((n_xy / nb) / ((u1.c / nu) * (u2.c / nu))), 6) AS pmi
      |FROM bgc
      |JOIN uni u1 ON bgc.w1 = u1.tok
      |JOIN uni u2 ON bgc.w2 = u2.tok
      |CROSS JOIN totals
      |WHERE n_xy >= 5
      |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- I4
  /** Count-min-sketch heavy hitters over the event stream's user_id:
    * D=4 portable integer hash rows × W=32 buckets; estimate(k) =
    * min over rows of the bucket count. Top 20 estimated-heaviest
    * users, with the exact count alongside (CMS overestimates under
    * collision, never underestimates — visible in the output). */
  private[graft] val cmsP = 2147483647L // 2^31 - 1 (prime)
  private[graft] val cmsW = 32
  private[graft] val cmsHashes: Seq[(Int, Long, Long)] = Seq(
    (0, 1000003L, 12345L), (1, 1000033L, 54321L),
    (2, 1000037L, 7L), (3, 1000039L, 99991L))

  /** The D×W hash-cell expansion of a user_id column — shared by the
    * batch sketch, its probe, and the streaming twin (the sketch IS
    * this aggregation's state: 128 cells at any input size). */
  private[graft] def cmsCellArray(key: org.apache.spark.sql.Column) = {
    def bucket(a: Long, b: Long) =
      (key * lit(a) + lit(b)) % lit(cmsP) % lit(cmsW)
    array(cmsHashes.map { case (i, a, b) =>
      struct(lit(i).as("h"), bucket(a, b).as("bucket"))
    }: _*)
  }

  def sketchHeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    heavyHittersPipeline(Tables.events(spark, sfDir))

  /** The CMS build+probe on an arbitrary events relation (needs
    * user_id); separated so ScaleProbe can drive it on replicas. */
  def heavyHittersPipeline(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val hashCells = cmsCellArray($"user_id")
    // build: 4-way expand → 128-cell sketch (fixed size at any SF)
    val sketch = events.select(explode(hashCells).as("hb"))
      .groupBy($"hb.h".as("h"), $"hb.bucket".as("bucket"))
      .agg(count(lit(1)).as("cell"))
    // probe: distinct keys (with exact counts for comparison) against
    // the broadcast sketch; estimate = min cell over the 4 rows
    val keys = events.groupBy($"user_id").agg(count(lit(1)).as("exact"))
    keys.select($"user_id", $"exact", explode(hashCells).as("hb"))
      .join(broadcast(sketch),
        $"hb.h" === $"h" && $"hb.bucket" === $"bucket")
      .groupBy($"user_id", $"exact")
      .agg(min($"cell").as("est"))
      .select($"user_id", $"est", $"exact")
      .orderBy($"est".desc, $"user_id")
      .limit(20)
  }

  val sketchHeavyHittersSql: String = {
    val hashValues = cmsHashes
      .map { case (i, a, b) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH hashes(i, a, b) AS (VALUES $hashValues),
       |cells AS (
       |  SELECT i, ((user_id * a + b) % $cmsP) % $cmsW AS bucket,
       |    CAST(count(*) AS BIGINT) AS cell
       |  FROM events CROSS JOIN hashes GROUP BY 1, 2),
       |exact AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS exact
       |  FROM events GROUP BY 1)
       |SELECT user_id, CAST(min(cell) AS BIGINT) AS est, exact
       |FROM exact CROSS JOIN hashes
       |JOIN cells ON cells.i = hashes.i
       |  AND cells.bucket = ((user_id * a + b) % $cmsP) % $cmsW
       |GROUP BY user_id, exact
       |ORDER BY est DESC, user_id LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------- B54
  /** Robust (median/MAD) outlier scan — the heavy-tail-safe complement
    * to q_outliers_zscore: modified z = 0.6745·(x − med)/MAD, flag
    * |M| > 2. Two sequential aggregations (median pass, then median
    * of absolute deviations), each map-side reducible to one row per
    * group; the tiny stats relation broadcasts into the final scan.
    * Exact `percentile` here for the oracle (it matches DuckDB's
    * quantile_cont interpolation); at 100 TB swap in
    * approx_percentile — same plan shape, sketch-sized state. */
  def qMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
    val med = events.groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = events.join(broadcast(med), "event_type")
      .groupBy($"event_type", $"med")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      // zero-dispersion guard: a group where >50% of values equal the
      // median has MAD=0 — Spark's x/0.0 is ±Inf (kept by |z|>2) while
      // DuckDB may yield NULL (dropped), so gate the divisor the same
      // way in both engines. MAD=0 ⇒ the robust z is undefined; the
      // group has no robust outliers to report.
      .filter($"mad" > 0)
    events.join(broadcast(mad), "event_type")
      .select($"event_id", $"event_type", $"value",
        round(lit(0.6745) * ($"value" - $"med") / $"mad", 6).as("robust_z"))
      .filter(abs($"robust_z") > 2.0)
  }

  val qMadOutliersSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |mad AS (
      |  SELECT event_type, med, mad FROM (
      |    SELECT e.event_type, med,
      |      quantile_cont(abs(value - med), 0.5) AS mad
      |    FROM events e JOIN med USING (event_type) GROUP BY 1, 2)
      |  WHERE mad > 0),
      |scored AS (
      |  SELECT event_id, e.event_type, value,
      |    round(0.6745 * (value - med) / mad, 6) AS robust_z
      |  FROM events e JOIN mad ON e.event_type = mad.event_type)
      |SELECT * FROM scored WHERE abs(robust_z) > 2.0""".stripMargin

  // --------------------------------------------------------------- B55
  /** Event-type co-occurrence mining: for every unordered pair of
    * event types, how many users exhibit BOTH, with support and lift
    * vs independence. The fact table reduces to DISTINCT (user, type)
    * FIRST (one shuffle; ≤ |users|·|types| rows), so the per-user
    * self-join fans out at most |types|² per user and the marginals
    * are |types|-sized broadcasts. */
  def eventCooccurrence(spark: SparkSession, sfDir: String): DataFrame =
    cooccurrencePipeline(Tables.events(spark, sfDir))

  /** Pair mining on an arbitrary events relation (needs user_id,
    * event_type); separated so ScaleProbe can drive it on replicas. */
  def cooccurrencePipeline(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    // ut has four consumers (both self-join sides, marginal, nu);
    // persist so the fact-table scan + distinct shuffle runs ONCE —
    // the cached relation is ≤ |users|·|types| rows, far smaller than
    // the events it reduces (verified: no ReusedExchange otherwise)
    val ut = events
      .select($"user_id", $"event_type").distinct().persist()
    val nUsers = ut.select($"user_id").distinct()
      .agg(count(lit(1)).as("nu"))
    val marginal = ut.groupBy($"event_type").agg(count(lit(1)).as("c"))
    val pairs = ut.as("x")
      .join(ut.as("y"), Seq("user_id"))
      .filter($"x.event_type" < $"y.event_type")
      .groupBy($"x.event_type".as("type_a"), $"y.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_users"))
    pairs
      .join(broadcast(marginal.select($"event_type".as("type_a"), $"c".as("ca"))), "type_a")
      .join(broadcast(marginal.select($"event_type".as("type_b"), $"c".as("cb"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select($"type_a", $"type_b", $"n_users",
        round($"n_users" / $"nu", 6).as("support"),
        round(($"n_users" / $"nu") / (($"ca" / $"nu") * ($"cb" / $"nu")), 6)
          .as("lift"))
      .orderBy($"n_users".desc, $"type_a", $"type_b")
  }

  val eventCooccurrenceSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events),
      |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM events),
      |marginal AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY 1),
      |pairs AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS n_users
      |  FROM ut x JOIN ut y ON x.user_id = y.user_id
      |    AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_users,
      |  round(n_users / nu, 6) AS support,
      |  round((n_users / nu) / ((ma.c / nu) * (mb.c / nu)), 6) AS lift
      |FROM pairs
      |JOIN marginal ma ON ma.event_type = type_a
      |JOIN marginal mb ON mb.event_type = type_b
      |CROSS JOIN nu
      |ORDER BY n_users DESC, type_a, type_b""".stripMargin

  // --------------------------------------------------------------- B57
  /** Inter-arrival statistics: gaps between consecutive events of the
    * same user (unique-key tiebroken ordering), aggregated per the
    * later event's type — the latency/engagement profile behind
    * session-gap tuning. One user_id shuffle for the lag window;
    * gap sums stay integer milliseconds (exact, merge-order-
    * independent) with the float division once per group. */
  def qInterarrival(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("gap_ms", unix_millis($"ts") - unix_millis(lag($"ts", 1).over(w)))
      .filter($"gap_ms".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(sum($"gap_ms") / count(lit(1)) / 1000.0, 6).as("mean_gap_s"),
        max($"gap_ms").as("max_gap_ms"))
      .orderBy($"event_type")
  }

  val qInterarrivalSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_ms(ts) - epoch_ms(lag(ts) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |  round(CAST(sum(gap_ms) AS BIGINT) / count(*) / 1000.0, 6) AS mean_gap_s,
      |  CAST(max(gap_ms) AS BIGINT) AS max_gap_ms
      |FROM g WHERE gap_ms IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- I5
  /** Mergeable log-histogram quantile sketch: per event_type, counts
    * in power-of-two value buckets, plus the approximate median read
    * back off the histogram. State is ≤64 buckets per group REGARDLESS
    * of input size (the quantile analogue of the CMS), and the bucket
    * index is computed with INTEGER-ONLY arithmetic —
    * length(bin(floor(value·100))) − 1, i.e. the bit length of the
    * centi-value — so unlike a float log2 there is no boundary ulp and
    * the oracle replays it bit-exactly. Merge = cell-wise add (the agg
    * is an ordinary map-side-combinable count). */
  /** Integer-only power-of-two bucket index of a value (bit length of
    * the centi-value) — shared by the histogram sketch and the fused
    * profile pass. */
  private[graft] def histBucket(value: org.apache.spark.sql.Column) = {
    val iv = floor(value * 100).cast("long")
    when(iv <= 0, lit(-1L)).otherwise(length(bin(iv)).cast("long") - 1)
  }

  def sketchLogHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, sfDir)
      .select($"event_type", histBucket($"value").as("bucket"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"))
    // approx median: smallest bucket whose cumulative count reaches
    // half the group total; its lower bound 2^b/100 is the estimate
    val w = Window.partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy($"event_type")
    cells
      .withColumn("cum", sum($"n").over(w))
      .withColumn("half", (sum($"n").over(tot) + 1) / 2)
      .withColumn("is_median_bucket",
        when($"cum" >= $"half" && $"cum" - $"n" < $"half", "Y").otherwise("N"))
      .select($"event_type", $"bucket", $"n", $"is_median_bucket",
        when($"bucket" < 0, 0.0)
          .otherwise(pow(lit(2.0), $"bucket") / 100.0).as("bucket_lo"))
      .orderBy($"event_type", $"bucket")
  }

  val sketchLogHistogramSql: String =
    """WITH cells AS (
      |  SELECT event_type,
      |    CASE WHEN CAST(floor(value * 100) AS BIGINT) <= 0 THEN -1
      |         ELSE length(bin(CAST(floor(value * 100) AS BIGINT))) - 1
      |    END AS bucket,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |c2 AS (
      |  SELECT event_type, bucket, n,
      |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    (CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) + 1) / 2 AS half
      |  FROM cells)
      |SELECT event_type, CAST(bucket AS BIGINT) AS bucket, n,
      |  CASE WHEN cum >= half AND cum - n < half THEN 'Y' ELSE 'N' END
      |    AS is_median_bucket,
      |  CASE WHEN bucket < 0 THEN 0.0 ELSE pow(2.0, bucket) / 100.0 END
      |    AS bucket_lo
      |FROM c2 ORDER BY event_type, bucket""".stripMargin

  // --------------------------------------------------------------- B59
  /** Population-stability-index drift monitor: the event_type
    * distribution of the month's first half vs its second, with the
    * per-type PSI contribution — THE production gate for "has this
    * feed's shape shifted" (PSI > 0.2 = investigate), and the
    * distributional complement to A25's lateness profile. Laplace-(+1)
    * smoothing keeps a type absent from one half finite in BOTH
    * engines. Shares and psi_term are ONE float expression tree over
    * exact integer counts (identical tree both engines — the
    * portable-float discipline), so the hashes match bit-for-bit.
    * Cost: one scan, one |types|-row agg, a 1-row totals cross. */
  def qPsiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val half = lit(java.sql.Date.valueOf("2024-01-15"))
    val counts = Tables.events(spark, sfDir)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type")
      .agg(count(when($"day" <= half, 1)).as("n_a"),
        count(when($"day" > half, 1)).as("n_b"))
    val tot = counts.agg(sum($"n_a").as("ta"), sum($"n_b").as("tb"),
      count(lit(1)).as("k"))
    val sa = ($"n_a" + lit(1.0)) / ($"ta" + $"k")
    val sb = ($"n_b" + lit(1.0)) / ($"tb" + $"k")
    counts.crossJoin(broadcast(tot))
      .select($"event_type", $"n_a", $"n_b",
        round(sa, 6).as("share_a"), round(sb, 6).as("share_b"),
        round((sa - sb) * log(sa / sb), 6).as("psi_term"))
      .orderBy($"event_type")
  }

  val qPsiDriftSql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    CAST(count(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
      |      THEN 1 END) AS BIGINT) AS n_a,
      |    CAST(count(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
      |      THEN 1 END) AS BIGINT) AS n_b
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
      |             CAST(sum(n_b) AS BIGINT) AS tb,
      |             CAST(count(*) AS BIGINT) AS k FROM c)
      |SELECT event_type, n_a, n_b,
      |  round((n_a + 1.0) / (ta + k), 6) AS share_a,
      |  round((n_b + 1.0) / (tb + k), 6) AS share_b,
      |  round(((n_a + 1.0) / (ta + k) - (n_b + 1.0) / (tb + k))
      |    * ln(((n_a + 1.0) / (ta + k)) / ((n_b + 1.0) / (tb + k))), 6)
      |    AS psi_term
      |FROM c CROSS JOIN t ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- B62
  /** Lag-k autocorrelation of the per-type daily event series (k = 1
    * and 7 — day-over-day persistence and weekly seasonality, the two
    * diagnostics a forecasting/monitoring stage reads first). One
    * count agg collapses the fact table to |types|·|days| rows;
    * the lag windows are partitioned per type over that tiny daily
    * relation (never over raw events). Pearson r is computed from
    * integer power sums — counts and their products are exact BIGINTs
    * in both engines, so the only float ops are the final sqrt/divide
    * (round 6 bridges libm ulp). Gap days are absent from the daily
    * relation, so "lag 1" means "previous OBSERVED day" — documented,
    * and identical in both engines. */
  def qAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val lagged = daily.select($"event_type", $"cnt",
      lag($"cnt", 1).over(w).as("l1"), lag($"cnt", 7).over(w).as("l7"))
    def r(n: Column, sx: Column, sy: Column, sxy: Column,
          sxx: Column, syy: Column): Column =
      round((n * sxy - sx * sy).cast("double")
        / (sqrt((n * sxx - sx * sx).cast("double"))
           * sqrt((n * syy - sy * sy).cast("double"))), 6)
    def sums(l: Column): Seq[Column] = Seq(
      count(l), sum(when(l.isNotNull, $"cnt")), sum(l),
      sum($"cnt" * l), sum(when(l.isNotNull, $"cnt" * $"cnt")), sum(l * l))
    val agg1 = sums($"l1"); val agg7 = sums($"l7")
    lagged.groupBy($"event_type")
      .agg(agg1(0).as("n1"), agg1(1).as("sx1"), agg1(2).as("sy1"),
        agg1(3).as("sxy1"), agg1(4).as("sxx1"), agg1(5).as("syy1"),
        agg7(0).as("n7"), agg7(1).as("sx7"), agg7(2).as("sy7"),
        agg7(3).as("sxy7"), agg7(4).as("sxx7"), agg7(5).as("syy7"))
      .select($"event_type", $"n1", $"n7",
        r($"n1", $"sx1", $"sy1", $"sxy1", $"sxx1", $"syy1").as("ac1"),
        r($"n7", $"sx7", $"sy7", $"sxy7", $"sxx7", $"syy7").as("ac7"))
  }

  val qAutocorrSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, cnt,
      |    lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
      |    lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7
      |  FROM daily),
      |s AS (
      |  SELECT event_type,
      |    count(l1) AS n1, sum(CASE WHEN l1 IS NOT NULL THEN cnt END) AS sx1,
      |    sum(l1) AS sy1, sum(cnt * l1) AS sxy1,
      |    sum(CASE WHEN l1 IS NOT NULL THEN cnt * cnt END) AS sxx1,
      |    sum(l1 * l1) AS syy1,
      |    count(l7) AS n7, sum(CASE WHEN l7 IS NOT NULL THEN cnt END) AS sx7,
      |    sum(l7) AS sy7, sum(cnt * l7) AS sxy7,
      |    sum(CASE WHEN l7 IS NOT NULL THEN cnt * cnt END) AS sxx7,
      |    sum(l7 * l7) AS syy7
      |  FROM lagged GROUP BY 1)
      |SELECT event_type, n1, n7,
      |  round(CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE)
      |    / (sqrt(CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE))
      |       * sqrt(CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE))), 6) AS ac1,
      |  round(CAST(n7 * sxy7 - sx7 * sy7 AS DOUBLE)
      |    / (sqrt(CAST(n7 * sxx7 - sx7 * sx7 AS DOUBLE))
      |       * sqrt(CAST(n7 * syy7 - sy7 * sy7 AS DOUBLE))), 6) AS ac7
      |FROM s""".stripMargin

  // --------------------------------------------------------------- B63
  /** Exponentially time-decayed engagement features per (user, type) —
    * the recency-weighted aggregate a feature store materializes
    * (half-life 7 days, anchored at the corpus max timestamp so the
    * result is deterministic). Weights are computed from exact
    * integer microsecond deltas (`unix_micros` / `epoch_us` — no
    * truncation skew between engines); ln 2 is a pinned double
    * literal so both engines evaluate the identical expression tree.
    * One scalar (broadcast) + one groupBy — map-side combinable, no
    * window, no state beyond the running sums. */
  def qDecayAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val anchor = ev.agg(max(unix_micros($"ts")).as("max_us"))
    val ln2 = 0.6931471805599453
    val w = exp(lit(-ln2) * (($"max_us" - unix_micros($"ts")).cast("double")
      / lit(86400e6)) / lit(7.0))
    ev.crossJoin(broadcast(anchor))
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(w), 6).as("decayed_count"),
        round(sum($"value" * w), 6).as("decayed_value"))
  }

  val qDecayAggSql: String =
    """WITH anchor AS (SELECT max(epoch_us(ts)) AS max_us FROM events)
      |SELECT user_id, event_type, count(*) AS n_events,
      |  round(sum(exp(-0.6931471805599453
      |    * (CAST(max_us - epoch_us(ts) AS DOUBLE) / 86400e6) / 7.0)), 6)
      |    AS decayed_count,
      |  round(sum(value * exp(-0.6931471805599453
      |    * (CAST(max_us - epoch_us(ts) AS DOUBLE) / 86400e6) / 7.0)), 6)
      |    AS decayed_value
      |FROM events CROSS JOIN anchor
      |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- B64
  /** Weekly cohort-retention matrix: users bucketed by first-active
    * ISO week, per (cohort, week-offset) distinct active users and
    * retention share — the standard product-analytics triangle (the
    * matrix form of B27's per-cohort revenue view). Facts collapse to
    * the distinct (user, week) relation in one shuffle; cohorts are a
    * per-user min over that; the matrix agg and the broadcast
    * cohort-size join all operate on |users|-bounded relations. Pure
    * integer date arithmetic (datediff div 7) until the one final
    * division (round 6). Both engines truncate weeks to ISO Monday. */
  def qRetentionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val weekly = Tables.events(spark, sfDir)
      .select($"user_id", to_date(date_trunc("week", $"ts")).as("week"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cohort = weekly.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    val sizes = cohort.groupBy($"cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    weekly.join(cohort, "user_id")
      .groupBy($"cohort_week",
        expr("datediff(week, cohort_week) div 7").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select($"cohort_week", $"week_offset", $"n_active", $"cohort_size",
        round($"n_active" / $"cohort_size", 6).as("retention"))
  }

  val qRetentionMatrixSql: String =
    """WITH weekly AS MATERIALIZED (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |cohort AS MATERIALIZED (
      |  SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY 1),
      |sizes AS (
      |  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY 1),
      |m AS (
      |  SELECT c.cohort_week,
      |    date_diff('day', c.cohort_week, w.week) // 7 AS week_offset,
      |    count(DISTINCT w.user_id) AS n_active
      |  FROM weekly w JOIN cohort c USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT m.cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
      |  CAST(n_active AS BIGINT) AS n_active,
      |  CAST(cohort_size AS BIGINT) AS cohort_size,
      |  round(n_active / cohort_size, 6) AS retention
      |FROM m JOIN sizes USING (cohort_week)""".stripMargin

  // --------------------------------------------------------------- B65
  /** Two-proportion z-test between hash-assigned experiment arms —
    * the experimentation readout every event pipeline ends in:
    * variant = portable id-hash mod 2 (gf.h32, the same kernel the
    * dedup splits use — NEVER rand(), which re-rolls per task retry),
    * conversion = the user's purchase count exceeds the corpus mean —
    * tested as the INTEGER cross-product compare c·|users| > total
    * (exact at any SF; every absolute threshold either saturates or
    * starves as event density scales, and a "reached purchase once"
    * flag saturates to p̂ = 1 here, putting 0 under the z
    * denominator) — z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with
    * the pooled p̂. Facts collapse to per-user purchase counts in one
    * shuffle; the z arithmetic runs on four exact BIGINT counts in
    * ONE final float expression tree mirrored in the oracle
    * (power-sum discipline — no float accumulates across rows). */
  def qAbtestZtest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(count(when($"event_type" === "purchase", 1)).as("purchases"))
    val totals = perUser.agg(sum($"purchases").as("tp"),
      count(lit(1)).as("tu"))
    val users = perUser.crossJoin(broadcast(totals))
      .withColumn("converted",
        when($"purchases" * $"tu" > $"tp", 1).otherwise(0))
      .withColumn("variant",
        graft.functions.gf.h32($"user_id".cast("string")) % 2)
    val counts = users.agg(
      count(when($"variant" === 0, 1)).as("n_a"),
      count(when($"variant" === 0 && $"converted" === 1, 1)).as("conv_a"),
      count(when($"variant" === 1, 1)).as("n_b"),
      count(when($"variant" === 1 && $"converted" === 1, 1)).as("conv_b"))
    val pa = $"conv_a" / $"n_a"
    val pb = $"conv_b" / $"n_b"
    val pooled = ($"conv_a" + $"conv_b") / ($"n_a" + $"n_b")
    counts.select($"n_a", $"conv_a", $"n_b", $"conv_b",
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round((pa - pb) / sqrt(pooled * (lit(1.0) - pooled)
        * (lit(1.0) / $"n_a" + lit(1.0) / $"n_b")), 6).as("z"))
  }

  val qAbtestZtestSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
      |  FROM events GROUP BY user_id),
      |t AS (SELECT sum(purchases) AS tp, count(*) AS tu FROM pu),
      |u AS (
      |  SELECT user_id,
      |    CASE WHEN purchases * tu > tp THEN 1 ELSE 0 END AS converted,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
      |      AS variant
      |  FROM pu CROSS JOIN t),
      |c AS (
      |  SELECT
      |    count(CASE WHEN variant = 0 THEN 1 END) AS n_a,
      |    count(CASE WHEN variant = 0 AND converted = 1 THEN 1 END) AS conv_a,
      |    count(CASE WHEN variant = 1 THEN 1 END) AS n_b,
      |    count(CASE WHEN variant = 1 AND converted = 1 THEN 1 END) AS conv_b
      |  FROM u)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  round(conv_a / n_a, 6) AS p_a,
      |  round(conv_b / n_b, 6) AS p_b,
      |  round((conv_a / n_a - conv_b / n_b)
      |    / sqrt((conv_a + conv_b) / (n_a + n_b)
      |           * (1.0 - (conv_a + conv_b) / (n_a + n_b))
      |           * (1.0 / n_a + 1.0 / n_b)), 6) AS z
      |FROM c""".stripMargin

  // ---------------------------------------------------------------- B67
  /** Day-of-week seasonality index per event type — the calendar
    * profile read before capacity planning, anomaly baselines, and
    * A25's watermark sizing: for each (event_type, weekday) cell its
    * count and the seasonal lift (cell share of its type) / (weekday
    * share of everything); 1.0 = flat, >1 = that type concentrates on
    * that weekday.
    *
    * Weekday is pure integer arithmetic on epoch days ((days+4) % 7,
    * 0=Monday — portable; both engines' native dow functions disagree
    * on week start), so the whole table is exact integers and the
    * lift is ONE float expression over them (B59's discipline). Plan:
    * one scan → |types|×7 hash agg; weekday totals and the grand
    * total re-aggregate FROM the same cells (rollup-sized relations,
    * broadcast-joined). No window, no second scan. */
  def qSeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, sfDir)
      .select($"event_type",
        ((datediff(to_date($"ts"), lit("1970-01-01").cast("date")) + 3) % 7)
          .cast("long").as("dow"))
      .groupBy($"event_type", $"dow").agg(count(lit(1)).as("c"))
    val byType = cells.groupBy($"event_type").agg(sum($"c").as("type_total"))
    val byDow = cells.groupBy($"dow").agg(sum($"c").as("dow_total"))
    val grand = cells.agg(sum($"c").as("grand_total"))
    cells.join(broadcast(byType), "event_type")
      .join(broadcast(byDow), "dow")
      .crossJoin(broadcast(grand))
      .select($"event_type", $"dow", $"c",
        round(($"c" / $"type_total") / ($"dow_total" / $"grand_total"), 6)
          .as("seasonal_lift"))
      .orderBy($"event_type", $"dow")
  }

  val qSeasonalitySql: String =
    """WITH cells AS (
      |  SELECT event_type,
      |    CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7
      |      AS BIGINT) AS dow,
      |    count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |by_type AS (
      |  SELECT event_type, CAST(sum(c) AS BIGINT) AS type_total
      |  FROM cells GROUP BY 1),
      |by_dow AS (
      |  SELECT dow, CAST(sum(c) AS BIGINT) AS dow_total FROM cells GROUP BY 1),
      |grand AS (SELECT CAST(sum(c) AS BIGINT) AS grand_total FROM cells)
      |SELECT c.event_type, c.dow, c.c,
      |  round((c.c / t.type_total) / (d.dow_total / g.grand_total), 6)
      |    AS seasonal_lift
      |FROM cells c
      |JOIN by_type t ON c.event_type = t.event_type
      |JOIN by_dow d ON c.dow = d.dow, grand g
      |ORDER BY c.event_type, c.dow""".stripMargin

  // ---------------------------------------------------------------- B68
  /** Path mining — the top user journeys, the multi-step complement
    * to B49's one-step transition matrix (B49 answers "what follows
    * X", this answers "which 3-step JOURNEYS dominate" — the raw
    * material funnel design and B60's conversion windows start from):
    * every consecutive 3-event path per user, counted corpus-wide,
    * top 20 with the share of all 3-paths.
    *
    * One user-partitioned window (two lead()s over the SAME frame —
    * one shuffle, one sort) → path-key hash agg → TakeOrdered top-20
    * (count DESC, path — never a global-sort window). The share
    * denominator re-aggregates from the path counts (1 row,
    * broadcast). */
  def qEventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val paths = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .filter($"e3".isNotNull)
      .select(concat_ws(" > ", $"event_type", $"e2", $"e3").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n"))
    val total = paths.agg(sum($"n").as("total"))
    paths.crossJoin(broadcast(total))
      .select($"path", $"n", round($"n" / $"total", 6).as("share"))
      .orderBy($"n".desc, $"path")
      .limit(20)
  }

  val qEventPathsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |paths AS (
      |  SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM seq WHERE e3 IS NOT NULL GROUP BY 1),
      |total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM paths)
      |SELECT path, n, round(n / total, 6) AS share
      |FROM paths, total
      |ORDER BY n DESC, path LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- B69
  /** Shuffle-key skew profile — the diagnostic read BEFORE choosing
    * B11's salting factor or trusting AQE's skew split (B32): for
    * each prospective join/agg key of the fact table, its
    * cardinality, heaviest-key mass, skew factor (max/mean — 1.0 =
    * perfectly uniform), and how many keys exceed 10× the mean with
    * their mass share. Near-1 skew says shuffle as-is (the verdict on
    * this uniform TPC-H feed — itself actionable); tens says salt.
    *
    * One melt scan over the three candidate keys → ONE map-side-
    * combinable (key_name, key_val) count agg (the profile costs what
    * the workload's lightest agg costs) → per-key-name 1-row stats
    * over the |keys| relation. The heavy test is the INTEGER
    * cross-product compare c·n_keys > 10·n_rows (exact at any SF —
    * a float mean would ulp-flip near the boundary), the J/B65
    * threshold discipline. */
  def qSkewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val melted = Tables.lineitem(spark, sfDir).select(expr(
      """stack(3,
        |'l_suppkey', CAST(l_suppkey AS STRING),
        |'l_partkey', CAST(l_partkey AS STRING),
        |'l_returnflag', l_returnflag) AS (key_name, key_val)""".stripMargin))
    val counts = melted.groupBy($"key_name", $"key_val")
      .agg(count(lit(1)).as("c"))
    val stats = counts.groupBy($"key_name").agg(
      count(lit(1)).as("n_keys"), sum($"c").as("n_rows"), max($"c").as("max_c"))
    counts.join(broadcast(stats), "key_name")
      .groupBy($"key_name").agg(
        max($"n_keys").as("n_keys"),
        max($"n_rows").as("n_rows"),
        max($"max_c").as("max_key_rows"),
        sum(when($"c" * $"n_keys" > $"n_rows" * 10, 1L).otherwise(0L))
          .as("heavy_keys"),
        sum(when($"c" * $"n_keys" > $"n_rows" * 10, $"c").otherwise(0L))
          .as("heavy_rows"))
      .select($"key_name", $"n_keys", $"n_rows", $"max_key_rows",
        round($"max_key_rows" * $"n_keys" / $"n_rows", 6).as("skew_factor"),
        $"heavy_keys", round($"heavy_rows" / $"n_rows", 6).as("heavy_share"))
      .orderBy($"key_name")
  }

  val qSkewProfileSql: String =
    """WITH melted AS (
      |  SELECT 'l_suppkey' AS key_name, CAST(l_suppkey AS VARCHAR) AS key_val
      |  FROM lineitem
      |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
      |  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem),
      |counts AS (
      |  SELECT key_name, key_val, count(*) AS c
      |  FROM melted GROUP BY 1, 2),
      |stats AS (
      |  SELECT key_name, count(*) AS n_keys,
      |    CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_c
      |  FROM counts GROUP BY 1)
      |SELECT c.key_name,
      |  max(n_keys) AS n_keys, max(n_rows) AS n_rows,
      |  max(max_c) AS max_key_rows,
      |  round(max(max_c) * max(n_keys) / max(n_rows), 6) AS skew_factor,
      |  CAST(sum(CASE WHEN c * n_keys > n_rows * 10 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS heavy_keys,
      |  round(CAST(sum(CASE WHEN c * n_keys > n_rows * 10 THEN c ELSE 0 END)
      |    AS BIGINT) / max(n_rows), 6) AS heavy_share
      |FROM counts c JOIN stats s ON c.key_name = s.key_name
      |GROUP BY c.key_name ORDER BY c.key_name""".stripMargin

  // --------------------------------------------------------------- B70
  /** Chi-square test of independence between order priority and order
    * status — the categorical-association cousin of B59's PSI drift
    * monitor: "does fulfillment status depend on priority class, or is
    * the mix homogeneous?" The production use is feed auditing (a
    * scraper whose error status concentrates in one source/priority is
    * broken, not unlucky).
    *
    * All arithmetic is exact integer on counts. The classic
    * Σ (O−E)²/E statistic factors as (O−E)²/E = [d/(r·c)]·[d/N] with
    * d = N·n − r·c, so each cell is evaluated as the product of two
    * STAGED milli-unit floor-divisions,
    *   contrib_e6 = (|d|·10³ div (r·c)) · (|d|·10³ div N)
    * — |d| keeps both divisions on non-negative operands (Spark `div`
    * truncates toward zero, DuckDB `//` floors: they agree only on
    * non-negatives; the statistic squares d, so the sign is free to
    * drop) and, critically, NOTHING of magnitude d² ever materializes:
    * the round-8 form squared d ≤ N² first and its d²·10⁶ ≈ 5·10³⁸
    * blew past BOTH decimal(38,0) (Spark silently nulls) and DuckDB
    * HUGEINT (errors) at SF ≈ 100. Staged, every operand is bounded by
    * 10³·N² — exact to N ≈ 3·10¹⁷ rows, comfortably past 100 TB — and
    * each factor is ≤ 10³·N, so the product fits BIGINT. The milli
    * quantization (each factor floored at 10⁻³ before multiplying) is
    * part of the statistic's definition and identical in both engines.
    * Scale: one map-side-combinable groupBy reduces the fact
    * table to |prio|×|status| cells; marginals and the dof scalar
    * derive from that tiny relation (broadcast joins, no second scan).
    */
  def qChisqIndependence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.orders(spark, sfDir)
      .groupBy($"o_orderpriority".as("prio"), $"o_orderstatus".as("status"))
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy($"prio").agg(sum($"n").as("r_tot"))
    val colTot = cells.groupBy($"status").agg(sum($"n").as("c_tot"))
    val tot = cells.agg(sum($"n").as("n_tot"),
      countDistinct($"prio").as("n_prio"),
      countDistinct($"status").as("n_status"))
    cells
      .join(broadcast(rowTot), "prio")
      .join(broadcast(colTot), "status")
      .crossJoin(broadcast(tot))
      .withColumn("ad",
        abs($"n_tot" * $"n" - $"r_tot" * $"c_tot").cast(DecimalType(38, 0)))
      .select($"prio", $"status", $"n", $"r_tot", $"c_tot",
        expr("CAST((ad * 1000 div (r_tot * c_tot)) * (ad * 1000 div n_tot) AS BIGINT)")
          .as("chisq_contrib_e6"),
        (($"n_prio" - 1) * ($"n_status" - 1)).cast("long").as("dof"))
      .orderBy($"prio", $"status")
  }

  val qChisqIndependenceSql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority AS prio, o_orderstatus AS status,
      |    count(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT prio, CAST(sum(n) AS BIGINT) AS r_tot
      |  FROM cells GROUP BY 1),
      |ct AS (SELECT status, CAST(sum(n) AS BIGINT) AS c_tot
      |  FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
      |    count(DISTINCT prio) AS n_prio,
      |    count(DISTINCT status) AS n_status
      |  FROM cells)
      |SELECT prio, status, n, r_tot, c_tot,
      |  CAST((abs(n_tot::HUGEINT * n - r_tot::HUGEINT * c_tot) * 1000
      |          // (r_tot::HUGEINT * c_tot))
      |     * (abs(n_tot::HUGEINT * n - r_tot::HUGEINT * c_tot) * 1000
      |          // n_tot) AS BIGINT)
      |    AS chisq_contrib_e6,
      |  CAST((n_prio - 1) * (n_status - 1) AS BIGINT) AS dof
      |FROM cells JOIN rt USING (prio) JOIN ct USING (status), tot
      |ORDER BY prio, status""".stripMargin

  // --------------------------------------------------------------- B71
  /** Benford first-digit audit of extended prices — the classic
    * anomalous-feed detector (fabricated or truncated numeric columns
    * diverge from the log-uniform leading-digit law; natural
    * multiplicative data follows it). Emits, per digit 1-9: the
    * observed count, observed share in ppm (exact integer division),
    * Benford's expected share as a pinned ppm literal (log10(1+1/d)
    * pre-rounded — NOT computed in-engine, so no cross-engine libm
    * drift), the signed deviation, and an exact integer-scaled
    * chi-square contribution (decimal-widened square, division last).
    *
    * The digit is extracted from integer cents via the engines' shared
    * integer-to-string rendering — never from float formatting, which
    * differs across engines. Scale: one scan → 9 rows (map-side
    * combinable groupBy); everything after is constant-size.
    */
  def qBenford(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val expected = Seq(
      (1, 301030L), (2, 176091L), (3, 124939L), (4, 96910L),
      (5, 79181L), (6, 66947L), (7, 57992L), (8, 51153L), (9, 45757L))
      .toDF("digit", "expected_ppm")
    val digits = Tables.lineitem(spark, sfDir)
      .select(floor($"l_extendedprice" * 100).cast("long").as("cents"))
      .select(substring($"cents".cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum($"n").as("n_tot"))
    digits.join(broadcast(expected), "digit")
      .crossJoin(broadcast(tot))
      .withColumn("diff",
        ($"n" * lit(1000000L) - $"n_tot" * $"expected_ppm")
          .cast(DecimalType(38, 0)))
      .select($"digit", $"n", $"expected_ppm",
        expr("n * 1000000 div n_tot").as("observed_ppm"),
        expr("n * 1000000 div n_tot - expected_ppm").as("dev_ppm"),
        expr("CAST(diff * diff div (n_tot * expected_ppm) AS BIGINT)")
          .as("chisq_contrib_e6"))
      .orderBy($"digit")
  }

  val qBenfordSql: String =
    """WITH expected AS (
      |  SELECT * FROM (VALUES
      |    (1, 301030), (2, 176091), (3, 124939), (4, 96910),
      |    (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
      |    AS t(digit, expected_ppm)),
      |digits AS (
      |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS INT) AS digit,
      |    count(*) AS n
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM digits)
      |SELECT digit, n, CAST(expected_ppm AS BIGINT) AS expected_ppm,
      |  n * 1000000 // n_tot AS observed_ppm,
      |  n * 1000000 // n_tot - expected_ppm AS dev_ppm,
      |  CAST((n * 1000000 - n_tot * expected_ppm)::HUGEINT
      |     * (n * 1000000 - n_tot * expected_ppm)
      |     // (n_tot * expected_ppm) AS BIGINT) AS chisq_contrib_e6
      |FROM digits JOIN expected USING (digit), tot
      |ORDER BY digit""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_chisq_independence", qChisqIndependence, qChisqIndependenceSql),
    QueryDef("q_benford", qBenford, qBenfordSql),
    QueryDef("q_skew_profile", qSkewProfile, qSkewProfileSql),
    QueryDef("q_event_paths", qEventPaths, qEventPathsSql),
    QueryDef("q_seasonality", qSeasonality, qSeasonalitySql),
    QueryDef("q_abtest_ztest", qAbtestZtest, qAbtestZtestSql),
    QueryDef("q_retention_matrix", qRetentionMatrix, qRetentionMatrixSql),
    QueryDef("q_autocorr", qAutocorr, qAutocorrSql),
    QueryDef("q_decay_agg", qDecayAgg, qDecayAggSql),
    QueryDef("q_psi_drift", qPsiDrift, qPsiDriftSql),
    QueryDef("sketch_log_histogram", sketchLogHistogram, sketchLogHistogramSql),
    QueryDef("q_interarrival", qInterarrival, qInterarrivalSql),
    QueryDef("q_outliers_zscore", qOutliersZscore, qOutliersZscoreSql),
    QueryDef("event_transitions", eventTransitions, eventTransitionsSql),
    QueryDef("text_pmi", textPmi, textPmiSql),
    QueryDef("sketch_heavy_hitters", sketchHeavyHitters, sketchHeavyHittersSql),
    QueryDef("q_mad_outliers", qMadOutliers, qMadOutliersSql),
    QueryDef("event_cooccurrence", eventCooccurrence, eventCooccurrenceSql))
}
