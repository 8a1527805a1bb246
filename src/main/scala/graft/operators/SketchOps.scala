package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftshim.Bridge

import graft.QueryDef
import graft.Tables
import graft.functions.{gf, MinHashAgg}

/** Sketch-based operators (SURVEY.md §2.I): group-level MinHash
  * signatures via the custom TypedImperativeAggregate, and explicit
  * bloom-filter semi-join pre-filtering — the two sketches that keep
  * 100 TB set-similarity and selective joins cheap.
  */
object SketchOps {

  // ---------------------------------------------------------------- I1
  /** Per-source MinHash signature (64 perms) aggregated from document
    * content hashes, then pairwise source-level Jaccard estimates.
    * The aggregate's merge is an elementwise unsigned min —
    * associative/commutative, so map-side partial aggregation is exact
    * under any partitioning. 20 sources here → all pairs; at scale the
    * signatures would feed the same LSH banding as document dedup. */
  def sketchSourceSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sigs = docs
      .select(col("source"), gf.h32(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(MinHashAgg.minhash_agg_mod(col("h"), 64).as("sig"))
    val a = sigs.select(col("source").as("src1"), col("sig").as("sig1"))
    val b = sigs.select(col("source").as("src2"), col("sig").as("sig2"))
    a.join(b, col("src1") < col("src2"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
          v => v)) / lit(64.0))
      .select(col("src1"), col("src2"), col("est_jaccard"))
  }

  /** DuckDB mirror of the portable group-MinHash: same md5-derived
    * 32-bit element hashes, same mod-(2^61-1) permutation family. */
  val sketchSourceSimilaritySql: String =
    """WITH h AS (
      |  SELECT source, ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
      |  FROM documents),
      |perm AS (
      |  SELECT j, 1 + ((j+1) * 2654435761) % 1073741824 AS a,
      |         ((j+1) * 1099511628211) % 2305843009213693951 AS b
      |  FROM range(64) t(j)),
      |mh AS (
      |  SELECT source, j, min((a * h + b) % 2305843009213693951) AS m
      |  FROM h, perm GROUP BY source, j)
      |SELECT m1.source AS src1, m2.source AS src2,
      |  CAST(sum(CASE WHEN m1.m = m2.m THEN 1 ELSE 0 END) AS DOUBLE) / 64
      |    AS est_jaccard
      |FROM mh m1 JOIN mh m2 ON m1.j = m2.j AND m1.source < m2.source
      |GROUP BY m1.source, m2.source""".stripMargin

  // ---------------------------------------------------------------- I2
  private def bloomAgg(c: Column, items: Long, bits: Long): Column =
    Bridge.column(new BloomFilterAggregate(Bridge.expression(c),
      Literal(items), Literal(bits)).toAggregateExpression())

  private def mightContain(bloom: Column, c: Column): Column =
    Bridge.column(BloomFilterMightContain(Bridge.expression(bloom),
      Bridge.expression(c)))

  /** Explicit bloom-filter semi-join pre-filter: build a bloom over
    * open-order customer keys (order-independent bit OR → result is
    * deterministic) as a scalar subquery (`might_contain` requires a
    * constant/subquery sketch), pre-filter the probe side before any
    * shuffle, then run the exact semi-join over the survivors. This is
    * the runtime-filter pattern Spark injects automatically for
    * selective joins (spark.sql.optimizer.runtime.bloomFilter) made
    * explicit and composable. No false negatives (bloom property) and
    * no false positives (exact join) ⇒ the result is exactly the
    * semi-join, which is what the DuckDB oracle checks — while the
    * bloom keeps the pre-shuffle row count small at scale. */
  def bloomPrefilter(spark: SparkSession, sfDir: String): DataFrame = {
    val open = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "O")
    val openKeys = open
      .agg(bloomAgg(xxhash64(col("o_custkey")), 2000L, 16000L).as("bf"))
    val bloomSub = org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      openKeys.queryExecution.analyzed)
    Tables.customer(spark, sfDir)
      .filter(Bridge.column(BloomFilterMightContain(bloomSub,
        Bridge.expression(xxhash64(col("c_custkey"))))))
      .join(open.select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  val bloomPrefilterSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin

  // ---------------------------------------------------------------- I6
  /** HLL-style distinct-count sketch AS DATA (completes the sketch
    * triad: CMS = frequency, log-histogram = quantiles, this =
    * cardinality): per group, m=32 max-rank registers materialized as
    * columns, plus the estimate read off them and the exact count
    * alongside.
    *
    * Portable kernel (same discipline as the MinHash/CMS oracles): the
    * element hash is md5 split into two 32-bit halves — hex 1-8 mod m
    * is the register index, hex 9-16's leading-zero rank
    * (33 − bit-length, integer-only — no float log) feeds the
    * register max. Register state is INTEGER and merge = elementwise
    * max (associative/commutative ⇒ map-side combinable, and two
    * sketches over disjoint data merge into the union's sketch —
    * property-pinned in SketchSpec). The float estimator runs once per
    * group from exact integers: the power sum Σ 2^(40−M[j]) is itself
    * a BIGINT (2^40 scaling keeps every addend integral), so
    * raw = α·m²·2^40 / S and the small-range linear-counting branch
    * m·ln(m/V) are bit-replayable in DuckDB.
    *
    * m=32 keeps the oracle readable (±1.04/√32 ≈ 18% standard error);
    * at 100 TB the same plan runs with m=2^14 registers — state is
    * STILL one ~16 KB row per group, the whole point of sketch-as-data:
    * a nightly job materializes per-(source, day) sketches once, and
    * any later rollup (per-source, per-month, global) is a register-max
    * re-aggregation of sketch rows, never a re-scan of the corpus. */
  private[graft] val hllM = 32

  /** HLL register index / leading-zero rank of a key (md5-split
    * portable kernel) — shared by the batch sketch, the streaming
    * twin, and the fused profile pass. */
  private[graft] def hllIdx(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % hllM

  private[graft] def hllRank(key: Column): Column = {
    val lo = conv(substring(md5(key.cast("string").cast("binary")), 9, 8),
      16, 10).cast("long")
    when(lo === 0, lit(33L))
      .otherwise(lit(33L) - length(bin(lo)).cast("long"))
  }

  /** (group, idx, m): max leading-zero rank per register — the sketch
    * in its mergeable form. */
  private[graft] def hllRegisters(rows: DataFrame, group: Column, key: Column): DataFrame =
    rows.select(group.as("g"), hllIdx(key).as("idx"), hllRank(key).as("rank"))
      .groupBy(col("g"), col("idx"))
      .agg(max(col("rank")).as("m"))

  /** Registers → one sketch row per group: zero-filled register
    * vector, zero-register count V, exact integer power sum S, and the
    * HLL estimate (linear counting below 2.5m when V>0). */
  private[graft] def hllSketch(regsIn: DataFrame): DataFrame = {
    val spark = regsIn.sparkSession
    // regs feeds two consumers (the group grid and the zero-fill join);
    // without the persist the whole upstream — including the fact-table
    // scan — re-executes per consumer (diamond rule, SURVEY §5). The
    // cached relation is |groups|·32 rows.
    val regs = regsIn.persist()
    // zero-fill absent registers: groups × range(m) is |groups|·32 rows
    val grid = regs.select(col("g")).distinct()
      .crossJoin(broadcast(spark.range(hllM).select(col("id").as("idx"))))
    grid.join(regs, Seq("g", "idx"), "left")
      .select(col("g"), col("idx"), coalesce(col("m"), lit(0L)).as("m"))
      .groupBy(col("g"))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("idx"), col("m")))),
          x => x.getField("m").cast("string")), ",").as("registers"),
        sum(when(col("m") === 0, 1L).otherwise(0L)).as("v_zero"),
        sum(pow(lit(2.0), lit(40L) - col("m")).cast("long")).as("s_pow"))
      // α_32·m²·2^40 and the 2.5m cutoff, written identically in the
      // oracle so both engines evaluate the same double expression
      .withColumn("raw", lit(0.697 * 1024 * 1099511627776.0) / col("s_pow"))
      .withColumn("est_distinct",
        round(when(col("v_zero") > 0 && col("raw") <= 80.0,
          lit(32.0) * log(lit(32.0) / col("v_zero")))
          .otherwise(col("raw")), 4))
      .drop("raw")
  }

  def sketchHllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val exact = events.groupBy(col("event_type").as("g"))
      .agg(countDistinct(col("user_id")).as("exact"))
    hllSketch(hllRegisters(events, col("event_type"), col("user_id")))
      .join(exact, "g")
      .select(col("g").as("event_type"), col("registers"), col("v_zero"),
        col("s_pow"), col("est_distinct"), col("exact"))
      .orderBy(col("event_type"))
  }

  val sketchHllDistinctSql: String =
    """WITH h AS (
      |  SELECT event_type AS g,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS idx,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT AS lo
      |  FROM events),
      |regs AS (
      |  SELECT g, idx,
      |    max(CASE WHEN lo = 0 THEN 33 ELSE 33 - length(bin(lo)) END) AS m
      |  FROM h GROUP BY 1, 2),
      |grid AS (
      |  SELECT gs.g, r.idx
      |  FROM (SELECT DISTINCT g FROM regs) gs,
      |       (SELECT unnest(range(0, 32)) AS idx) r),
      |filled AS (
      |  SELECT grid.g, grid.idx, coalesce(regs.m, 0) AS m
      |  FROM grid LEFT JOIN regs ON grid.g = regs.g AND grid.idx = regs.idx),
      |sk AS (
      |  SELECT g,
      |    array_to_string(list(CAST(m AS VARCHAR) ORDER BY idx), ',') AS registers,
      |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
      |    CAST(sum(CAST(pow(2.0, 40 - m) AS BIGINT)) AS BIGINT) AS s_pow
      |  FROM filled GROUP BY 1),
      |ex AS (
      |  SELECT event_type AS g, CAST(count(DISTINCT user_id) AS BIGINT) AS exact
      |  FROM events GROUP BY 1)
      |SELECT sk.g AS event_type, registers, v_zero, s_pow,
      |  round(CASE WHEN v_zero > 0
      |      AND CAST(0.697 AS DOUBLE) * 1024 * 1099511627776.0 / s_pow <= 80.0
      |    THEN 32.0 * ln(32.0 / v_zero)
      |    ELSE CAST(0.697 AS DOUBLE) * 1024 * 1099511627776.0 / s_pow END, 4) AS est_distinct,
      |  exact
      |FROM sk JOIN ex USING (g)
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- I7
  /** KMV (k-minimum-values) sketch for SET-OPERATION cardinalities —
    * the estimate HLL registers can't give: per source, the k=64
    * smallest distinct shingle hashes; any pair's union/intersection/
    * Jaccard cardinality then comes from the two 64-value sketches
    * alone. The sketch counterpart of D11 (`source_overlap`, the exact
    * forensics): D11 self-joins the full distinct (source, shingle)
    * relation — shuffle proportional to the corpus vocabulary — while
    * this plan reduces each source to 64 longs once and every pairwise
    * estimate is array arithmetic on broadcastable rows. At 100 TB:
    * nightly per-(source, day) KMV rows; any later "how much does feed
    * X syndicate feed Y" is a sketch-row join, never a corpus re-scan.
    *
    * Estimator (Beyer et al., "On Synopses for Distinct-Value
    * Estimation Under Multiset Operations", SIGMOD 2007): with U the k
    * smallest of sketch(A) ∪ sketch(B) and K its k-th value scaled to
    * the 2^32 hash space, D_union ≈ (k−1)·2^32/K; the fraction c/k of
    * U's values present in BOTH sketches estimates Jaccard, and
    * D_inter ≈ (c/k)·D_union. When both sources carry ≤ k distinct
    * values the sketches are exhaustive and the counts are exact —
    * both engines take that branch on the same integer comparison.
    * Everything is integer selection (distinct → k smallest → array
    * intersections); floats appear once per pair, bit-replayed by the
    * oracle. */
  private val kmvK = 64

  def sketchKmvSetops(spark: SparkSession, sfDir: String): DataFrame =
    kmvPipeline(Tables.documents(spark, sfDir))

  /** The KMV pipeline on an arbitrary documents relation (needs
    * source, text); separated so ScaleProbe can drive it on replicas. */
  def kmvPipeline(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col("source"), explode(gf.shingle_md5_h32(col("text"), 3)).as("h"))
      .distinct()
    val w = Window.partitionBy(col("source")).orderBy(col("h"))
    // one shuffle on source: total distinct count + the k smallest
    // hashes per source, in the same pass
    // persisted: the sketch relation feeds BOTH sides of the pair join
    // (diamond rule, SURVEY §5) — without it the corpus shingle
    // pipeline executes twice. |sources| rows of 64 longs.
    val kmv = d
      .withColumn("rn", row_number().over(w))
      .withColumn("n_tot", count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("rn") <= kmvK)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("h"))).as("sk"),
        max(col("n_tot")).as("n_tot"))
      .persist()
    val a = kmv.select(col("source").as("src1"), col("sk").as("ska"),
      col("n_tot").as("na"))
    val b = kmv.select(col("source").as("src2"), col("sk").as("skb"),
      col("n_tot").as("nb"))
    a.join(b, col("src1") < col("src2"))
      .withColumn("u_all", array_sort(array_union(col("ska"), col("skb"))))
      .withColumn("ku", least(lit(kmvK), size(col("u_all"))).cast("long"))
      .withColumn("u", slice(col("u_all"), lit(1), col("ku").cast("int")))
      .withColumn("c", size(array_intersect(
        array_intersect(col("u"), col("ska")), col("skb"))).cast("long"))
      .withColumn("kth", expr("element_at(u, cast(ku as int))"))
      // exhaustive ⟺ both sources have ≤ k distinct values: the
      // sketches ARE the full sets, so intersect them directly (c is
      // only counted within the k smallest UNION values and undercounts
      // when |A∪B| > k — round-7 advisor finding); union/inter/jaccard
      // are then genuinely exact
      .withColumn("exhaustive", col("na") <= kmvK && col("nb") <= kmvK)
      .withColumn("c_full",
        size(array_intersect(col("ska"), col("skb"))).cast("long"))
      .withColumn("est_union", round(
        when(col("exhaustive"), size(col("u_all")).cast("double"))
          .otherwise(lit((kmvK - 1) * 4294967296.0) / col("kth")), 4))
      .withColumn("est_jaccard", round(
        when(col("exhaustive"), col("c_full") / size(col("u_all")))
          .otherwise(col("c") / col("ku")), 6))
      .withColumn("est_inter", round(
        when(col("exhaustive"), col("c_full").cast("double"))
          .otherwise(col("c") / col("ku")
            * (lit((kmvK - 1) * 4294967296.0) / col("kth"))), 4))
      .select(col("src1"), col("src2"), col("est_union"), col("est_inter"),
        col("est_jaccard"))
      .orderBy(col("src1"), col("src2"))
  }

  val sketchKmvSetopsSql: String =
    """WITH tok AS (
      |  SELECT source, string_split_regex(trim(text), '\s+') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT source,
      |    CASE WHEN len(l) < 3 THEN array_to_string(l, ' ')
      |         ELSE l[g] || ' ' || l[g+1] || ' ' || l[g+2] END AS s
      |  FROM tok, unnest(range(1, greatest(len(l) - 2, 1) + 1)) AS u(g)),
      |d AS (
      |  SELECT DISTINCT source, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      |  FROM sh),
      |ranked AS (
      |  SELECT source, h,
      |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n_tot
      |  FROM d),
      |sk AS (
      |  SELECT source, list(h ORDER BY h) AS sk, max(n_tot) AS n_tot
      |  FROM ranked WHERE rn <= 64 GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS src1, b.source AS src2,
      |    a.sk AS ska, b.sk AS skb, a.n_tot AS na, b.n_tot AS nb
      |  FROM sk a JOIN sk b ON a.source < b.source),
      |c1 AS (
      |  SELECT src1, src2, ska, skb, na, nb,
      |    list_sort(list_distinct(list_concat(ska, skb))) AS u_all
      |  FROM pairs),
      |c2 AS (
      |  SELECT src1, src2, ska, skb, na, nb, u_all,
      |    least(64, len(u_all)) AS ku,
      |    u_all[1:least(64, len(u_all))] AS u
      |  FROM c1),
      |c3 AS (
      |  SELECT src1, src2, na, nb, u_all, ku,
      |    len(list_filter(u, x -> list_contains(ska, x)
      |      AND list_contains(skb, x))) AS c,
      |    len(list_filter(ska, x -> list_contains(skb, x))) AS c_full,
      |    u[ku] AS kth,
      |    (na <= 64 AND nb <= 64) AS exhaustive
      |  FROM c2)
      |SELECT src1, src2,
      |  round(CASE WHEN exhaustive THEN CAST(len(u_all) AS DOUBLE)
      |    ELSE 63 * 4294967296.0 / kth END, 4) AS est_union,
      |  round(CASE WHEN exhaustive THEN CAST(c_full AS DOUBLE)
      |    ELSE c / ku * (63 * 4294967296.0 / kth) END, 4) AS est_inter,
      |  round(CASE WHEN exhaustive THEN c_full / len(u_all)
      |    ELSE c / ku END, 6) AS est_jaccard
      |FROM c3 ORDER BY src1, src2""".stripMargin

  // ---------------------------------------------------------------- I8
  /** Fused sketch-profiling pass — the nightly "profile everything"
    * job done right: ONE scan of the fact table and ONE shuffle emit
    * all three sketch families per group in long format
    * (kind ∈ {cms, hll, hist} × cell index × cell value), instead of
    * three jobs × three scans × three shuffles. Each event explodes
    * into its 6 sketch entries (4 CMS hash cells + 1 HLL register +
    * 1 histogram bucket); the single aggregation is map-side
    * combinable for every kind at once (counts for cms/hist, max for
    * hll — both partial-aggregable), so shuffle traffic is bounded by
    * the combined sketch sizes, not the data. At 100 TB this is the
    * difference between one pass over the corpus per night and one
    * pass per sketch. Kernels are shared verbatim with I4/I5/I6, so
    * the long-format output is exactly those operators' cells stacked
    * (the oracle is their three kernels UNION ALL'd). */
  def sketchProfileFused(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      // row-parallelism for the ~34-cell-per-event struct explode
      // below (r20; guide §2.5): the single-row-group corpus runs it
      // in one scan task otherwise (measured 1.4-1.7 s 1-task job =
      // the row's cost); the grouped cells are tiny after partial agg
      .repartition(spark.sparkContext.defaultParallelism, $"event_id")
    val cmsEntries = transform(StatsOps.cmsCellArray($"user_id"), c =>
      struct(lit("cms").as("kind"),
        (c.getField("h").cast("long") * 32 + c.getField("bucket")).as("idx"),
        lit(0L).as("rank")))
    val entries = concat(cmsEntries, array(
      struct(lit("hll").as("kind"), hllIdx($"user_id").as("idx"),
        hllRank($"user_id").as("rank")),
      struct(lit("hist").as("kind"), StatsOps.histBucket($"value").as("idx"),
        lit(0L).as("rank"))))
    ev.select($"event_type", explode(entries).as("e"))
      .groupBy($"event_type", $"e.kind".as("kind"), $"e.idx".as("idx"))
      .agg(count(lit(1)).as("cnt"), max($"e.rank").as("mx"))
      .select($"event_type", $"kind", $"idx",
        when($"kind" === "hll", $"mx").otherwise($"cnt").as("cell"))
      .orderBy($"event_type", $"kind", $"idx")
  }

  val sketchProfileFusedSql: String = {
    val hashValues = StatsOps.cmsHashes
      .map { case (i, a, b) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH hashes(i, a, b) AS (VALUES $hashValues),
       |cms AS (
       |  SELECT event_type, 'cms' AS kind,
       |    CAST(i AS BIGINT) * 32
       |      + ((user_id * a + b) % ${StatsOps.cmsP}) % ${StatsOps.cmsW} AS idx,
       |    CAST(count(*) AS BIGINT) AS cell
       |  FROM events CROSS JOIN hashes GROUP BY 1, 2, 3),
       |hll AS (
       |  SELECT event_type, 'hll' AS kind,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS idx,
       |    CAST(max(CASE WHEN lo = 0 THEN 33 ELSE 33 - length(bin(lo)) END)
       |      AS BIGINT) AS cell
       |  FROM (
       |    SELECT event_type, user_id,
       |      ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT AS lo
       |    FROM events)
       |  GROUP BY 1, 2, 3),
       |hist AS (
       |  SELECT event_type, 'hist' AS kind,
       |    CAST(CASE WHEN CAST(floor(value * 100) AS BIGINT) <= 0 THEN -1
       |      ELSE length(bin(CAST(floor(value * 100) AS BIGINT))) - 1
       |    END AS BIGINT) AS idx,
       |    CAST(count(*) AS BIGINT) AS cell
       |  FROM events GROUP BY 1, 2, 3)
       |SELECT * FROM cms
       |UNION ALL SELECT * FROM hll
       |UNION ALL SELECT * FROM hist
       |ORDER BY event_type, kind, idx""".stripMargin
  }

  // ---------------------------------------------------------------- I9
  /** AMS (Alon-Matias-Szegedy) F₂ sketch: 8 independent ±1-sign
    * estimators of Σ f_u² over the user_id frequency vector — the
    * SELF-JOIN SIZE of events on user_id, the quantity an optimizer's
    * join-cardinality estimate needs and the fourth frequency-moment
    * axis of the sketch family (I4 point frequencies, I5 quantiles,
    * I6 distinct = F₀, this = F₂). Each estimator is ONE running sum
    * of md5-parity signs (8 longs of state TOTAL at any scale,
    * map-side combinable); est = z², unbiased with variance bounded
    * by 2·F₂²/8. The exact F₂ rides along per row so the table IS
    * the accuracy report; everything integer until the one rel_err
    * division. */
  def sketchAmsF2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select($"user_id")
    val z = ev.select(posexplode(array((0 until 8).map { r =>
        (lit(1) - lit(2) *
          (gf.h32(concat(lit(s"$r:"), $"user_id".cast("string"))) % 2))
          .cast("long")
      }: _*)))
      .withColumnRenamed("pos", "r").withColumnRenamed("col", "s")
      .groupBy($"r").agg(sum($"s").as("z"))
    val exact = ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
      .agg(sum($"n" * $"n").as("exact_f2"))
    z.crossJoin(broadcast(exact))
      .select($"r", $"z", ($"z" * $"z").as("est"), $"exact_f2",
        round(abs($"z" * $"z" - $"exact_f2").cast("double") / $"exact_f2", 6)
          .as("rel_err"))
      .orderBy($"r")
  }

  val sketchAmsF2Sql: String =
    """WITH s AS (
      |  SELECT r.r,
      |    CASE WHEN ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
      |      || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
      |    THEN 1 ELSE -1 END AS sgn
      |  FROM events, range(8) r(r)),
      |z AS (
      |  SELECT CAST(r AS INT) AS r, CAST(sum(sgn) AS BIGINT) AS z
      |  FROM s GROUP BY 1),
      |x AS (
      |  SELECT CAST(sum(n * n) AS BIGINT) AS exact_f2
      |  FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n
      |        FROM events GROUP BY 1))
      |SELECT r, z, z * z AS est, exact_f2,
      |  round(CAST(abs(z * z - exact_f2) AS DOUBLE) / exact_f2, 6)
      |    AS rel_err
      |FROM z CROSS JOIN x ORDER BY r""".stripMargin

  // ---------------------------------------------------------------- I10
  /** HLL error calibration — the I-family's D12/E10: the sketch's
    * relative error measured ACROSS cardinality magnitudes on the
    * actual key distribution, the table read before trusting I6's
    * estimates in a rollup (theory says ±1.04/√m ≈ 18% at m=32 for
    * the raw branch; linear counting covers the small end — this
    * measures where the handoff actually lands on this feed).
    *
    * The cardinality ladder is deterministic subsets of event_id:
    * level k keeps ids divisible by 2^k (k = 2,4,6,8,10 → ~n/4 down
    * to ~n/1024 distinct), so one explode+filter scan (< 2× row
    * expansion, Σ2⁻ᵏ) feeds the I6 register kernel VERBATIM (shared
    * defs, same discipline as I8) with the level as the group. Exact
    * counts ride the same relation. Output: level, exact, estimate,
    * branch taken, relative error. */
  def sketchHllCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val lvls = Tables.events(spark, sfDir)
      .select(explode(array(Seq(2, 4, 6, 8, 10).map(lit): _*)).as("k"),
        col("event_id"))
      .filter(pmod(col("event_id"), expr("shiftleft(1L, k)")) === 0)
      .select(concat(lit("mod_"), lpad(col("k").cast("string"), 2, "0"))
        .as("lvl"), col("event_id"))
    val exact = lvls.groupBy(col("lvl").as("g"))
      .agg(countDistinct(col("event_id")).as("exact"))
    hllSketch(hllRegisters(lvls, col("lvl"), col("event_id")))
      .join(exact, "g")
      .select(col("g").as("lvl"), col("exact"), col("est_distinct"),
        col("v_zero"),
        when(col("v_zero") > 0
          && lit(0.697 * 1024 * 1099511627776.0) / col("s_pow") <= 80.0,
          "linear_counting").otherwise("raw").as("branch"),
        round((col("est_distinct") - col("exact")) / col("exact"), 4)
          .as("rel_err"))
      .orderBy(col("lvl"))
  }

  /** DuckDB mirror: the I6 register/estimate CTEs with the ladder
    * level as the group key. */
  val sketchHllCalibrationSql: String =
    """WITH lvls AS (
      |  SELECT 'mod_' || lpad(CAST(k AS VARCHAR), 2, '0') AS g, event_id
      |  FROM (SELECT unnest([2, 4, 6, 8, 10]) AS k) ks, events
      |  WHERE event_id % (1::BIGINT << k) = 0),
      |h AS (
      |  SELECT g,
      |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 32
      |      AS idx,
      |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 9, 8))::BIGINT AS lo
      |  FROM lvls),
      |regs AS (
      |  SELECT g, idx,
      |    max(CASE WHEN lo = 0 THEN 33 ELSE 33 - length(bin(lo)) END) AS m
      |  FROM h GROUP BY 1, 2),
      |grid AS (
      |  SELECT gs.g, r.idx
      |  FROM (SELECT DISTINCT g FROM regs) gs,
      |       (SELECT unnest(range(0, 32)) AS idx) r),
      |filled AS (
      |  SELECT grid.g, grid.idx, coalesce(regs.m, 0) AS m
      |  FROM grid LEFT JOIN regs ON grid.g = regs.g AND grid.idx = regs.idx),
      |sk AS (
      |  SELECT g,
      |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
      |    CAST(sum(CAST(pow(2.0, 40 - m) AS BIGINT)) AS BIGINT) AS s_pow
      |  FROM filled GROUP BY 1),
      |est AS (
      |  SELECT g, v_zero, s_pow,
      |    round(CASE WHEN v_zero > 0
      |        AND CAST(0.697 AS DOUBLE) * 1024 * 1099511627776.0 / s_pow <= 80.0
      |      THEN 32.0 * ln(32.0 / v_zero)
      |      ELSE CAST(0.697 AS DOUBLE) * 1024 * 1099511627776.0 / s_pow END, 4)
      |      AS est_distinct
      |  FROM sk),
      |ex AS (
      |  SELECT g, CAST(count(DISTINCT event_id) AS BIGINT) AS exact
      |  FROM lvls GROUP BY 1)
      |SELECT est.g AS lvl, exact, est_distinct, v_zero,
      |  CASE WHEN v_zero > 0
      |      AND CAST(0.697 AS DOUBLE) * 1024 * 1099511627776.0 / s_pow <= 80.0
      |    THEN 'linear_counting' ELSE 'raw' END AS branch,
      |  round((est_distinct - exact) / exact, 4) AS rel_err
      |FROM est JOIN ex ON est.g = ex.g ORDER BY est.g""".stripMargin

  // ---------------------------------------------------------------- I11
  /** q-digest quantile sketch (Shrivastava et al. 2004) over the
    * extended-price distribution — the sketch family's quantile axis
    * beside frequency (I4), cardinality (I6), and moments (I9). The
    * dyadic-tree compression runs bottom-up over a 2^20 integer
    * universe (cents÷16): at each level, nodes holding ≥ T = n/1024
    * mass are emitted into the digest, lighter nodes merge into their
    * parent — a pure multiset function (no insertion-order or
    * partition dependence; each round is ONE map-side-combinable
    * aggregation of a relation that shrinks geometrically), which is
    * exactly what makes it oracle-replayable AND distribution-mergeable
    * at 100 TB (re-compress after adding partial digests; every
    * executor builds the same tree). The digest holds ≤ ~1k nodes
    * regardless of input size; quantile queries walk it by upper
    * bound. Emitted: the {1,5,25,50,75,95,99}-percentile estimates
    * with target ranks, digest size, and the compression threshold —
    * rank error is bounded by straddling-ancestor mass (≤ 2T per
    * level; CurationSpec asserts the bound against exact ranks). */
  def sketchQdigest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val leaves = Tables.lineitem(spark, sfDir)
      .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT) div 16")
        .as("id"))
      .groupBy($"id").agg(count(lit(1)).as("c"))
    qdigestFromLeaves(leaves)
  }

  /** The 20-round compression + quantile probe from a (id, c) leaf
    * relation — shared verbatim by the batch query (I11) and the
    * streaming merge twin (G17): because the construction is a pure
    * multiset function and leaf counts merge by addition, compressing
    * merged per-batch partials ≡ compressing the whole corpus, which
    * is exactly what the twin's shared oracle hash-checks. */
  def qdigestFromLeaves(leaves: DataFrame): DataFrame = {
    val spark = leaves.sparkSession
    import spark.implicits._
    val LEVELS = 20
    val K = 1024L
    // each carry level truncates its lineage (eager localCheckpoint —
    // the CC/pointer-jumping discipline): the per-level emit branches
    // and the next round then read a materialized relation instead of
    // replaying the chain below, and the union's plan stays shallow
    // (a chained-cache formulation here nested 20 levels of
    // InMemoryRelation plan strings and OOM'd the driver on explain).
    // CacheHygiene releases the checkpoint blocks post-query.
    // Leaves materialize exactly ONCE: n/t, the universe probe, and
    // round 0 all read this relation (the first cut of this change
    // recomputed the upstream leaf aggregation three times).
    val leavesCk = leaves.localCheckpoint(true)
    // Universe probe (round-8 judge #2): running all 20 rounds is the
    // 2^20 worst case, and the measured cost sits in the EARLY rounds
    // over large carry relations that emit nothing — with t = n/1024
    // and fine-grained leaves, no node reaches the threshold until
    // its dyadic span covers ~n/1024 mass (level 10 on the sf0.1
    // price distribution: 10 large-relation rounds, zero emissions).
    // One Expand pass over the materialized leaves computes max and
    // total node mass at every 4th level. Max node mass is MONOTONE
    // in the level (a parent's total covers each child's), and total
    // ≡ carry wherever nothing below can have been emitted — so the
    // largest probed level with maxmass < t is a provably safe jump
    // target (every level at or below it is sub-threshold at every
    // node, hence emission-free, hence the jump aggregation
    // id div 2^L reproduces exactly the carry the unrolled rounds
    // would reach; at most 3 conservative rounds remain vs the exact
    // first-emit level). Probing level stride 4 quarters the Expand
    // volume; the probe relation is UNIVERSE-bounded regardless
    // (≤ 2^20 leaf rows × 6 levels), so its cost is data-independent
    // at any SF. Like the CC loop's edge count, the 6-row profile is
    // a driver-side structural read (it picks the 2^L divisor).
    // SketchSpec pins jump equivalence vs the full unroll on
    // multisets with first-emit levels ∈ {0, 1, 3, 11}.
    val profile = leavesCk
      .select(col("id"), col("c"),
        explode(sequence(lit(0), lit(LEVELS), lit(4))).as("l"))
      .groupBy(col("l"), expr("shiftright(id, l)").as("nid"))
      .agg(sum(col("c")).as("m"))
      .groupBy(col("l")).agg(max(col("m")).as("mm"), sum(col("m")).as("tot"))
      .head(LEVELS + 1).map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val nScalar = profile.get(0).map(_._2).getOrElse(0L)
    val tScalar = math.max(1L, nScalar / K)
    val lJump = (0 to LEVELS by 4)
      .filter(l => profile.get(l).exists(_._1 < tScalar))
      .lastOption.getOrElse(0)
    val withNt = leavesCk
      .select(col("id"), col("c"), lit(nScalar).as("n"), lit(tScalar).as("t"))
    var cur =
      if (lJump == 0) withNt.localCheckpoint(true)
      else withNt
        .select(expr(s"id div ${1L << lJump}").as("id"), col("c"),
          col("n"), col("t"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("c"), max(col("n")).as("n"),
          max(col("t")).as("t"))
        .localCheckpoint(true)
    var emitted = List.empty[DataFrame]
    // Drain exit: the carry usually empties (or collapses to one
    // node) a round or two after emission starts. Both tails are
    // decided without running the remaining rounds, provably
    // value-neutral (SketchSpec pins equivalence vs the full unroll):
    //   - EMPTY carry: every later round filters/aggregates an empty
    //     relation and emits nothing; the root is empty. Skip.
    //   - ONE carried node (mass m, threshold t fixed): if m ≥ t the
    //     unrolled loop emits it at exactly the CURRENT level (first
    //     round where the c ≥ t test passes — c never changes again,
    //     there are no siblings left to merge); if m < t it passes
    //     every test and surfaces as the root with its level-LEVELS
    //     ancestor id. Emit that row directly.
    // Post-jump the carry is near-digest-sized, so the per-round
    // count is a cheap scan of the relation the eager checkpoint
    // just materialized (the CC loop's discipline) and only a
    // handful of rounds ever run it.
    var l = lJump
    var curCount = 2L // sentinel ≥ 2: enter the loop
    while (l < LEVELS && curCount > 1) {
      emitted ::= cur.filter($"c" >= $"t")
        .select(lit(l).as("lvl"), $"id", $"c",
          (($"id" + 1) * lit(1L << l) - 1).as("ub"))
      cur = cur.filter($"c" < $"t")
        .select(expr("id div 2").as("id"), $"c", $"n", $"t")
        .groupBy($"id")
        .agg(sum($"c").as("c"), max($"n").as("n"), max($"t").as("t"))
        .localCheckpoint(true)
      l += 1
      curCount = cur.count()
    }
    val lExit = l
    val root =
      if (lExit >= LEVELS)
        cur.filter($"c" > 0)
          .select(lit(LEVELS).as("lvl"), $"id", $"c",
            (($"id" + 1) * lit(1L << LEVELS) - 1).as("ub"))
      else {
        // ≤1 carried node at level lExit: emit at lExit if c ≥ t,
        // else as the root (id lifted to its level-LEVELS ancestor)
        val atLevel = cur.filter($"c" >= $"t")
          .select(lit(lExit).as("lvl"), $"id", $"c",
            (($"id" + 1) * lit(1L << lExit) - 1).as("ub"))
        val asRoot = cur.filter($"c" < $"t" && $"c" > 0)
          .select(lit(LEVELS).as("lvl"),
            expr(s"id div ${1L << (LEVELS - lExit)}").as("id"), $"c",
            ((expr(s"id div ${1L << (LEVELS - lExit)}") + 1)
              * lit(1L << LEVELS) - 1).as("ub"))
        atLevel.unionByName(asRoot)
      }
    // coalesce(1): the digest is ≤ K+levels rows by construction, but
    // the union's lineage fans out ~32 partitions per emit branch —
    // without the narrow merge every downstream job (cum window, rank
    // probe, node count) schedules ~100 empty-ish tasks
    val digest = (root :: emitted).reverse.reduce(_ unionByName _)
      .coalesce(1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // postorder walk = cumulative mass by (ub, lvl); the digest is
    // ≤ K + LEVELS rows, so the single-partition window is k-bounded
    // (PlanHygieneSpec allowlists it with that bound)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"ub", $"lvl")
    val cum = digest.withColumn("cum", sum($"c").over(w))
    val nNodes = digest.agg(count(lit(1)).as("n_nodes"))
    // n and t are driver scalars from the universe probe — target
    // ranks are literal integer arithmetic, no 1-row crossJoin needed
    val targets = Seq(1, 5, 25, 50, 75, 95, 99).toDF("p")
      .select($"p", expr(s"(p * ${nScalar}L + 99) div 100").as("target_rank"),
        lit(tScalar).as("t"))
    targets.join(cum, $"cum" >= $"target_rank")
      .groupBy($"p", $"target_rank", $"t")
      .agg(min($"ub").as("ub_sel"))
      .crossJoin(broadcast(nNodes))
      .select($"p", $"target_rank",
        ($"ub_sel" * 16 + 15).as("est_cents"), $"n_nodes", $"t")
      .orderBy($"p")
  }

  /** The identical 20-round compression as chained CTEs (each curN is
    * multi-referenced → MATERIALIZED; relations shrink geometrically). */
  val sketchQdigestSql: String = {
    val rounds = (0 until 20).map { l =>
      s"""em$l AS (
         |  SELECT $l AS lvl, id, c, (id + 1) * ${1L << l} - 1 AS ub
         |  FROM cur$l, nt WHERE c >= t),
         |cur${l + 1} AS MATERIALIZED (
         |  SELECT id // 2 AS id, CAST(sum(c) AS BIGINT) AS c
         |  FROM cur$l, nt WHERE c < t GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val unions = (0 until 20).map(l => s"SELECT * FROM em$l")
      .mkString(" UNION ALL ")
    s"""WITH leaves AS (
       |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) // 16 AS id,
       |    count(*) AS c
       |  FROM lineitem GROUP BY 1),
       |nt AS MATERIALIZED (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |    greatest(1, CAST(sum(c) AS BIGINT) // 1024) AS t
       |  FROM leaves),
       |cur0 AS MATERIALIZED (SELECT id, c FROM leaves),
       |$rounds,
       |root AS (
       |  SELECT 20 AS lvl, id, c, (id + 1) * ${1L << 20} - 1 AS ub
       |  FROM cur20 WHERE c > 0),
       |digest AS MATERIALIZED (
       |  $unions UNION ALL SELECT * FROM root),
       |cum AS MATERIALIZED (
       |  SELECT lvl, id, c, ub,
       |    CAST(sum(c) OVER (ORDER BY ub, lvl) AS BIGINT) AS cum
       |  FROM digest),
       |nn AS (SELECT count(*) AS n_nodes FROM digest),
       |tgt AS (
       |  SELECT p, (p * n + 99) // 100 AS target_rank, t
       |  FROM (VALUES (1), (5), (25), (50), (75), (95), (99)) v(p), nt)
       |SELECT g.p, CAST(g.target_rank AS BIGINT) AS target_rank,
       |  CAST(min(cum.ub) * 16 + 15 AS BIGINT) AS est_cents,
       |  CAST(max(nn.n_nodes) AS BIGINT) AS n_nodes,
       |  CAST(max(g.t) AS BIGINT) AS t
       |FROM tgt g JOIN cum ON cum.cum >= g.target_rank
       |CROSS JOIN nn
       |GROUP BY g.p, g.target_rank
       |ORDER BY g.p""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sketch_qdigest", sketchQdigest, sketchQdigestSql),
    QueryDef("sketch_hll_calibration", sketchHllCalibration,
      sketchHllCalibrationSql),
    QueryDef("sketch_ams_f2", sketchAmsF2, sketchAmsF2Sql),
    QueryDef("sketch_source_similarity", sketchSourceSimilarity,
      sketchSourceSimilaritySql),
    QueryDef("sketch_bloom_prefilter", bloomPrefilter, bloomPrefilterSql),
    QueryDef("sketch_hll_distinct", sketchHllDistinct, sketchHllDistinctSql),
    QueryDef("sketch_kmv_setops", sketchKmvSetops, sketchKmvSetopsSql),
    QueryDef("sketch_profile_fused", sketchProfileFused, sketchProfileFusedSql))
}
