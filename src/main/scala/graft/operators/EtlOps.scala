package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.Tables

/** ETL core (SURVEY.md §2.A) — the reference pipeline's own data
  * operations, re-expressed as declarative Spark plans.
  *
  * Provenance map (reference = TheCardist/WebScrap_DataPipeline):
  *   - enrich           ← src/process_files.py:34-59 (create_modified_files)
  *   - normalizeColumns ← src/process_files.py:54,73-79 (column cleanup)
  *   - filename ts      ← src/utils.py:66-81 (extract_datetime)
  *   - change detection ← src/utils.py:117-194 (missing/mismatch/combined)
  *   - SCD current flag ← src/gcp_processes.py:29-47 (remove_current_ind)
  *   - log summary      ← src/process_files.py:85-124 (create_log_dataframe)
  *   - merge/union      ← src/process_files.py:62-82 (create_rate_rule_dataframe)
  *   - latest-wins dedup← src/utils.py:190 (drop_duplicates)
  *   - validation gate  ← src/utils.py:96-114 (validate_file_download)
  *   - retry ledger     ← src/web_scrape.py:149-178 (retry decorator)
  *
  * Scale notes: enrich/normalize/filename-ts are narrow (zero-shuffle,
  * fully codegen'd — they run at scan speed on 100 TB). Change
  * detection is anti-join on keys (state side broadcastable when small).
  * SCD/dedup/retry are single-shuffle window plans partitioned by the
  * business key — no global sort. Log summary and validation are
  * partial-aggregated groupBys.
  */
object EtlOps {

  /** Naive-timestamp cast: parquet written by Spark as TIMESTAMP_NTZ is
    * read back identically by DuckDB (no UTC-adjust flag), so oracle
    * comparisons see the same wall-clock values. */
  private def ntz(c: Column): Column = c.cast("timestamp_ntz")

  // ---------------------------------------------------------------- A1
  /** Reference adds LOC_ID / CURRENT_IND / SRC_FILENAME / LST_UPDT_TS to
    * every downloaded file (process_files.py:49-52). Spark form: a
    * narrow projection — constants and derived columns computed at scan
    * time, no shuffle. */
  def enrich(docs: DataFrame): DataFrame = {
    docs.select(
      upper(col("source")).as("loc_id"),
      col("doc_id"),
      col("lang"),
      col("n_chars"),
      lit("Y").as("current_ind"),
      concat(col("source"), lit("_modified.csv")).as("src_filename"),
      ntz(expr("timestampadd(MINUTE, cast(doc_id as int), timestamp'2024-01-01 00:00:00')"))
        .as("lst_updt_ts"))
  }

  def etlEnrich(spark: SparkSession, sfDir: String): DataFrame =
    enrich(Tables.documents(spark, sfDir))

  val etlEnrichSql: String =
    """SELECT upper(source) AS loc_id, doc_id, lang, n_chars,
      |  'Y' AS current_ind,
      |  source || '_modified.csv' AS src_filename,
      |  TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS lst_updt_ts
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- A2
  /** Reference uppercases headers and strips spaces/punctuation
    * (process_files.py:54,73-79). Pure metadata rename — zero-cost at
    * any scale (no data movement, plan-level only). */
  def normalizeColumns(df: DataFrame): DataFrame = {
    val renamed = df.columns.map { c =>
      val cleaned = c.trim
        .replaceAll("[^\\w\\s]", "")
        .replaceAll("\\s+", "_")
        .toUpperCase
      col(c).as(cleaned)
    }
    df.select(renamed.toIndexedSeq: _*)
  }

  def etlNormalizeCols(spark: SparkSession, sfDir: String): DataFrame =
    normalizeColumns(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority")))

  val etlNormalizeColsSql: String =
    """SELECT o_orderkey AS O_ORDERKEY, o_custkey AS O_CUSTKEY,
      |  o_orderstatus AS O_ORDERSTATUS, o_totalprice AS O_TOTALPRICE,
      |  o_orderpriority AS O_ORDERPRIORITY
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- A3
  /** Reference parses `MMddyyyy_HH-mm-ss` out of each downloaded
    * filename (utils.py:66-81). Here filenames are synthesized
    * deterministically per row, then the regex + timestamp parse runs
    * exactly as the reference's — all codegen'd string ops. */
  def etlFilenameTs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val fname = format_string(
      "%s_%02d%02d2024_%02d-%02d-%02d.csv",
      upper(col("source")),
      (col("doc_id") % 12 + 1).cast("int"),
      (col("doc_id") % 28 + 1).cast("int"),
      (col("doc_id") % 24).cast("int"),
      (col("doc_id") % 60).cast("int"),
      ((col("doc_id") * 7) % 60).cast("int"))
    docs.select(col("doc_id"), fname.as("src_filename"))
      .withColumn("ts_raw",
        regexp_extract(col("src_filename"), "\\d{8}_\\d{2}-\\d{2}-\\d{2}", 0))
      .withColumn("file_ts", ntz(to_timestamp(col("ts_raw"), "MMddyyyy_HH-mm-ss")))
      .select(col("doc_id"), col("src_filename"), col("file_ts"))
  }

  val etlFilenameTsSql: String =
    """WITH named AS (
      |  SELECT doc_id,
      |    printf('%s_%02d%02d2024_%02d-%02d-%02d.csv',
      |      upper(source),
      |      CAST(doc_id % 12 + 1 AS INT), CAST(doc_id % 28 + 1 AS INT),
      |      CAST(doc_id % 24 AS INT), CAST(doc_id % 60 AS INT),
      |      CAST((doc_id * 7) % 60 AS INT)) AS src_filename
      |  FROM documents)
      |SELECT doc_id, src_filename,
      |  strptime(regexp_extract(src_filename,
      |    '\d{8}_\d{2}-\d{2}-\d{2}', 0), '%m%d%Y_%H-%M-%S') AS file_ts
      |FROM named""".stripMargin

  // ---------------------------------------------------------------- A4
  /** Reference: hotels on the site but absent from the state JSON are
    * new and need processing (utils.py:117-143, left-only merge).
    * Spark form: left_anti join — at scale the state side is the small
    * one and broadcasts; no shuffle of the big side. */
  def changeMissing(live: DataFrame, state: DataFrame, key: String): DataFrame =
    live.join(broadcast(state), Seq(key), "left_anti")

  /** Live side = all customers with any order; state side = customers
    * known before 1996 (a stale state file) — later-arriving customers
    * are "missing from state" and selected for processing. */
  def etlChangeMissing(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables.customer(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val live = customer.select(col("c_custkey"), col("c_name"))
      .join(orders.select(col("o_custkey").as("c_custkey")).distinct(), Seq("c_custkey"), "left_semi")
    val state = orders.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_custkey").as("c_custkey")).distinct()
    changeMissing(live, state, "c_custkey")
  }

  val etlChangeMissingSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')""".stripMargin

  // ---------------------------------------------------------------- A5
  /** Reference: hotels whose lst_optimization in the DB differs from
    * the state JSON (utils.py:145-165, outer-merge left_only). Spark
    * form: anti join on the composite (key, version-ts). */
  def changeMismatch(live: DataFrame, state: DataFrame, keys: Seq[String]): DataFrame =
    live.join(state, keys, "left_anti")

  /** live = latest order date per customer; state = same snapshot
    * restricted to orders before 1997 (simulating a stale state file). */
  def etlChangeMismatch(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val live = orders.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("lst_optimization"))
    val state = orders.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("lst_optimization"))
    changeMismatch(live, state, Seq("o_custkey", "lst_optimization"))
      .select(col("o_custkey"), ntz(col("lst_optimization")).as("lst_optimization"))
  }

  val etlChangeMismatchSql: String =
    """WITH live AS (
      |  SELECT o_custkey, max(o_orderdate) AS lst_optimization
      |  FROM orders GROUP BY o_custkey),
      |state AS (
      |  SELECT o_custkey, max(o_orderdate) AS lst_optimization
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY o_custkey)
      |SELECT l.o_custkey, l.lst_optimization FROM live l
      |WHERE NOT EXISTS (SELECT 1 FROM state s
      |  WHERE s.o_custkey = l.o_custkey
      |    AND s.lst_optimization = l.lst_optimization)""".stripMargin

  // ---------------------------------------------------------------- A6
  /** Reference combines missing + mismatched hotels, dropping duplicate
    * keys (utils.py:168-194). Spark: union of the two anti-joins then
    * key-dedup; dedup is a single shuffle on the key. */
  def etlChangeCombined(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val live = orders.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("lst_optimization"))
    val state = orders
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("lst_optimization"))
    val missing = live.join(state, Seq("o_custkey"), "left_anti")
    val mismatched = live.join(state, Seq("o_custkey", "lst_optimization"), "left_anti")
    missing.unionByName(mismatched)
      .select(col("o_custkey"), ntz(col("lst_optimization")).as("lst_optimization"))
      .dropDuplicates("o_custkey")
      // dropDuplicates keeps an arbitrary row; here both branches carry
      // identical lst_optimization per key, so the result is still
      // deterministic — but keep a canonical form anyway:
      .groupBy(col("o_custkey")).agg(max(col("lst_optimization")).as("lst_optimization"))
  }

  val etlChangeCombinedSql: String =
    """WITH live AS (
      |  SELECT o_custkey, max(o_orderdate) AS lst_optimization
      |  FROM orders GROUP BY o_custkey),
      |state AS (
      |  SELECT o_custkey, max(o_orderdate) AS lst_optimization
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY o_custkey),
      |missing AS (
      |  SELECT l.* FROM live l WHERE NOT EXISTS
      |    (SELECT 1 FROM state s WHERE s.o_custkey = l.o_custkey)),
      |mismatched AS (
      |  SELECT l.* FROM live l WHERE NOT EXISTS
      |    (SELECT 1 FROM state s WHERE s.o_custkey = l.o_custkey
      |       AND s.lst_optimization = l.lst_optimization))
      |SELECT o_custkey, max(lst_optimization) AS lst_optimization
      |FROM (SELECT * FROM missing UNION ALL SELECT * FROM mismatched)
      |GROUP BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- A7
  /** Reference clears CURRENT_IND='Y' for re-loaded hotels then appends
    * fresh rows flagged 'Y' (gcp_processes.py:29-47) — i.e. latest
    * record per key is current. Spark form: row_number window per key
    * (one shuffle on the key, no global sort), flag rn=1. */
  def scdCurrentFlag(df: DataFrame, key: Column, version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(version.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("current_ind", when(col("__rn") === 1, lit("Y")).otherwise(lit(null).cast("string")))
      .drop("__rn")
  }

  def etlScdCurrent(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    scdCurrentFlag(orders, col("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))
      .select(col("o_orderkey"), col("o_custkey"),
        ntz(col("o_orderdate")).as("o_orderdate"), col("current_ind"))
  }

  val etlScdCurrentSql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate,
      |  CASE WHEN row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
      |  THEN 'Y' ELSE NULL END AS current_ind
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- A8
  /** Reference builds a per-file ingest log: LOC_ID, DATA_AMT, filename,
    * timestamps (process_files.py:85-124). Spark: groupBy source with
    * partial aggregation — one shuffle on the (small) source key. */
  def etlLogSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.groupBy(upper(col("source")).as("loc_id"))
      .agg(
        count(lit(1)).as("data_amt"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("first_doc_id"),
        max(col("doc_id")).as("last_doc_id"))
      .withColumn("creat_ts", ntz(lit("2024-06-01 00:00:00").cast("timestamp")))
  }

  val etlLogSummarySql: String =
    """SELECT upper(source) AS loc_id, count(*) AS data_amt,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id,
      |  TIMESTAMP '2024-06-01 00:00:00' AS creat_ts
      |FROM documents GROUP BY upper(source)""".stripMargin

  // ---------------------------------------------------------------- A9
  /** Reference concats per-hotel frames into one (process_files.py:62-82,
    * pd.concat). Spark: unionByName with missing-column fill — schema
    * alignment is plan-level, the union itself is zero-shuffle. */
  def mergeUnion(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  def etlMergeUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val a = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val b = orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"))
    mergeUnion(Seq(a, b))
  }

  val etlMergeUnionSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(NULL AS VARCHAR) AS o_orderstatus
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
      |  o_orderstatus
      |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin

  // ---------------------------------------------------------------- A10
  /** Reference drop_duplicates(subset=['hotel_cd']) keeps one row per
    * key (utils.py:190). Spark's deterministic form: explicit
    * latest-wins via row_number (arbitrary-row dropDuplicates is not
    * reproducible across cluster runs — a correctness bug at scale). */
  def latestWins(df: DataFrame, key: Column, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  def etlDedupKey(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    latestWins(orders, col("o_custkey"), Seq(col("o_totalprice"), col("o_orderkey")))
  }

  val etlDedupKeySql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- A11
  /** Reference validates downloads before processing (utils.py:96-114).
    * Spark form: a one-pass data-quality gate — conditional aggregates,
    * all map-side until the final single-row combine. */
  def etlValidate(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    orders.agg(
      count(lit(1)).as("rows_total"),
      count(col("o_custkey")).as("custkey_nonnull"),
      sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L).otherwise(1L))
        .as("bad_status_rows"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpositive_price_rows"),
      countDistinct(col("o_orderkey")).as("distinct_orderkeys"))
  }

  val etlValidateSql: String =
    """SELECT count(*) AS rows_total,
      |  count(o_custkey) AS custkey_nonnull,
      |  CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT) AS bad_status_rows,
      |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price_rows,
      |  count(DISTINCT o_orderkey) AS distinct_orderkeys
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- A15
  /** Reference retries failed downloads up to 2 extra times
    * (web_scrape.py:149-178 @retry). Spark form: an attempt ledger —
    * first 3 'error' events per user ranked by time; single shuffle on
    * the user key. */
  def etlRetryLedger(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events.filter(col("event_type") === "error")
      .withColumn("attempt_no", row_number().over(w))
      .filter(col("attempt_no") <= 3)
      .select(col("user_id"), col("attempt_no"), ntz(col("ts")).as("ts"),
        col("event_id"))
  }

  val etlRetryLedgerSql: String =
    """SELECT user_id, attempt_no, ts, event_id FROM (
      |  SELECT user_id, ts, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS attempt_no
      |  FROM events WHERE event_type = 'error')
      |WHERE attempt_no <= 3""".stripMargin

  // ---------------------------------------------------------------- A17
  /** SCD type-2 history: the full-history generalization of the
    * reference's CURRENT_IND flag (gcp_processes.py:29-47) — every
    * version of a key gets [valid_from, valid_to) bounds via lead()
    * over the version timestamp; the open version has valid_to NULL
    * and current_ind 'Y'. One shuffle on the key. */
  def scd2History(df: DataFrame, key: Column, version: Column, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(version, tiebreak)
    df.withColumn("valid_from", version)
      .withColumn("valid_to", lead(version, 1).over(w))
      .withColumn("current_ind",
        when(col("valid_to").isNull, lit("Y")).otherwise(lit(null).cast("string")))
  }

  def etlScd2History(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    scd2History(orders, col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        ntz(col("valid_from")).as("valid_from"),
        ntz(col("valid_to")).as("valid_to"),
        col("current_ind"))
  }

  val etlScd2HistorySql: String =
    """SELECT o_orderkey, o_custkey,
      |  o_orderdate AS valid_from,
      |  lead(o_orderdate) OVER w AS valid_to,
      |  CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 'Y' END AS current_ind
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  // ---------------------------------------------------------------- A18
  /** First/last-touch attribution: for each user's purchases, the
    * first and most recent preceding non-purchase event — windowed
    * carry-forward, single shuffle on the user key. */
  def etlAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    events
      .withColumn("last_touch",
        last(touch, ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("first_touch",
        first(touch, ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), ntz(col("ts")).as("ts"),
        col("first_touch"), col("last_touch"), col("value"))
  }

  val etlAttributionSql: String =
    """SELECT event_id, user_id, ts, first_touch, last_touch, value FROM (
      |  SELECT event_id, user_id, ts, event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
      |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch
      |  FROM events)
      |WHERE event_type = 'purchase'""".stripMargin

  // ---------------------------------------------------------------- A19
  /** The reference's whole main() flow (main.py:30-112) as ONE fused
    * lazy plan: enrich → quality gate → latest-wins per location →
    * per-location ingest log joined with the surviving record.
    * No materialization boundaries — Catalyst optimizes across all
    * four stages (the per-file/pandas version runs them as separate
    * materialized passes). */
  def etlPipelineComposite(spark: SparkSession, sfDir: String): DataFrame = {
    val enriched = enrich(Tables.documents(spark, sfDir))
    val qualified = enriched.filter(col("n_chars") >= 100)
    val current = latestWins(qualified, col("loc_id"),
      Seq(col("lst_updt_ts"), col("doc_id")))
      .select(col("loc_id"), col("doc_id").as("current_doc_id"),
        ntz(col("lst_updt_ts")).as("current_ts"))
    val log = qualified.groupBy(col("loc_id"))
      .agg(count(lit(1)).as("data_amt"), sum(col("n_chars")).as("total_chars"))
    log.join(current, "loc_id").orderBy(col("loc_id"))
  }

  val etlPipelineCompositeSql: String =
    """WITH enriched AS (
      |  SELECT upper(source) AS loc_id, doc_id, n_chars,
      |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS lst_updt_ts
      |  FROM documents),
      |qualified AS (SELECT * FROM enriched WHERE n_chars >= 100),
      |current AS (
      |  SELECT loc_id, doc_id AS current_doc_id, lst_updt_ts AS current_ts
      |  FROM (SELECT *, row_number() OVER (PARTITION BY loc_id
      |          ORDER BY lst_updt_ts DESC, doc_id DESC) AS rn
      |        FROM qualified) WHERE rn = 1),
      |log AS (
      |  SELECT loc_id, count(*) AS data_amt,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars
      |  FROM qualified GROUP BY loc_id)
      |SELECT l.loc_id, l.data_amt, l.total_chars, c.current_doc_id, c.current_ts
      |FROM log l JOIN current c ON l.loc_id = c.loc_id
      |ORDER BY l.loc_id""".stripMargin

  // --------------------------------------------------------------- A20
  /** Column profiler — the standard pre-ingest data-quality report:
    * per column of orders, null count, distinct count, min and max
    * (string-normalized). ONE pass over the table: all per-column
    * aggregates ride a single map-side-combinable aggregation, then a
    * stack() unpivots the 1-row result — no per-column rescans. Exact
    * distinct counts here because the oracle needs them; the 100 TB
    * path swaps approx_count_distinct into the same plan. */
  def etlProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, sfDir)
    def s(c: org.apache.spark.sql.Column) = c.cast("string")
    // Nulls/min/max ride ONE pass of the 5 columns; each EXACT
    // distinct count is its own single-COLUMN subtree — a pruned
    // 1-column scan with partial (map-side) distinct — instead of one
    // aggregation with 5 countDistincts, whose Expand would multiply
    // every row 5x before the shuffle (measured 2.5s → 1.1s at
    // sf0.1). The 100 TB path swaps approx_count_distinct into the
    // one-pass form: no Expand, no extra scans, sketch-sized state.
    val base = ord.agg(
      count(lit(1)).as("n_rows"),
      sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("nn_orderkey"),
      s(min($"o_orderkey")).as("mn_orderkey"), s(max($"o_orderkey")).as("mx_orderkey"),
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("nn_custkey"),
      s(min($"o_custkey")).as("mn_custkey"), s(max($"o_custkey")).as("mx_custkey"),
      sum(when($"o_orderstatus".isNull, 1L).otherwise(0L)).as("nn_status"),
      min($"o_orderstatus").as("mn_status"), max($"o_orderstatus").as("mx_status"),
      sum(when($"o_totalprice".isNull, 1L).otherwise(0L)).as("nn_price"),
      s(round(min($"o_totalprice"), 2)).as("mn_price"),
      s(round(max($"o_totalprice"), 2)).as("mx_price"),
      sum(when($"o_orderdate".isNull, 1L).otherwise(0L)).as("nn_date"),
      date_format(min($"o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("mn_date"),
      date_format(max($"o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("mx_date"))
    def nd(col: String, as: String) =
      ord.agg(countDistinct(org.apache.spark.sql.functions.col(col)).as(as))
    val one = base
      .crossJoin(nd("o_orderkey", "nd_orderkey"))
      .crossJoin(nd("o_custkey", "nd_custkey"))
      .crossJoin(nd("o_orderstatus", "nd_status"))
      .crossJoin(nd("o_totalprice", "nd_price"))
      .crossJoin(nd("o_orderdate", "nd_date"))
    one.select($"n_rows", expr(
      """stack(5,
        |'o_orderkey', nn_orderkey, nd_orderkey, mn_orderkey, mx_orderkey,
        |'o_custkey', nn_custkey, nd_custkey, mn_custkey, mx_custkey,
        |'o_orderstatus', nn_status, nd_status, mn_status, mx_status,
        |'o_totalprice', nn_price, nd_price, mn_price, mx_price,
        |'o_orderdate', nn_date, nd_date, mn_date, mx_date)
        |AS (col_name, n_null, n_distinct, min_val, max_val)""".stripMargin))
      .select($"col_name", $"n_rows", $"n_null", $"n_distinct",
        $"min_val", $"max_val")
      .orderBy($"col_name")
  }

  val etlProfileSql: String =
    """WITH s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_orderkey,
      |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_orderkey,
      |    CAST(min(o_orderkey) AS VARCHAR) AS mn_orderkey,
      |    CAST(max(o_orderkey) AS VARCHAR) AS mx_orderkey,
      |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_custkey,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_custkey,
      |    CAST(min(o_custkey) AS VARCHAR) AS mn_custkey,
      |    CAST(max(o_custkey) AS VARCHAR) AS mx_custkey,
      |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_status,
      |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
      |    min(o_orderstatus) AS mn_status, max(o_orderstatus) AS mx_status,
      |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_price,
      |    CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd_price,
      |    CAST(round(min(o_totalprice), 2) AS VARCHAR) AS mn_price,
      |    CAST(round(max(o_totalprice), 2) AS VARCHAR) AS mx_price,
      |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_date,
      |    CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd_date,
      |    strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn_date,
      |    strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx_date
      |  FROM orders)
      |SELECT u.col_name, s.n_rows, u.n_null, u.n_distinct, u.min_val, u.max_val
      |FROM s, (
      |  SELECT 'o_orderkey' AS col_name, nn_orderkey AS n_null,
      |    nd_orderkey AS n_distinct, mn_orderkey AS min_val, mx_orderkey AS max_val FROM s
      |  UNION ALL SELECT 'o_custkey', nn_custkey, nd_custkey, mn_custkey, mx_custkey FROM s
      |  UNION ALL SELECT 'o_orderstatus', nn_status, nd_status, mn_status, mx_status FROM s
      |  UNION ALL SELECT 'o_totalprice', nn_price, nd_price, mn_price, mx_price FROM s
      |  UNION ALL SELECT 'o_orderdate', nn_date, nd_date, mn_date, mx_date FROM s) u
      |ORDER BY u.col_name""".stripMargin

  // ---------------------------------------------------------------- A22
  /** Column-type inference over string-staged data — the step a
    * scraper pipeline runs between "every CSV cell is a string" and a
    * typed warehouse load (the reference's tables arrive exactly this
    * way): per column, the fraction of non-null values parseable as
    * integer / numeric, and the recommended type (strictest that fits
    * ALL values). The staged relation casts each column to string, so
    * the inferencer sees the scraped world; classification is pure
    * regex (identical semantics both engines — no locale-dependent
    * parsing), melted via one `stack` so the whole report is ONE scan
    * + one |columns|-row agg at any SF. */
  def etlTypeInfer(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val staged = Tables.orders(spark, sfDir).select(
      $"o_orderkey".cast("string").as("o_orderkey"),
      $"o_custkey".cast("string").as("o_custkey"),
      $"o_orderstatus".cast("string").as("o_orderstatus"),
      $"o_totalprice".cast("string").as("o_totalprice"),
      $"o_orderpriority".cast("string").as("o_orderpriority"))
    val melted = staged.select(expr(
      """stack(5,
        |'o_orderkey', o_orderkey,
        |'o_custkey', o_custkey,
        |'o_orderstatus', o_orderstatus,
        |'o_totalprice', o_totalprice,
        |'o_orderpriority', o_orderpriority) AS (col_name, val)""".stripMargin))
    melted.groupBy($"col_name").agg(
      count(lit(1)).as("n"),
      sum(when($"val".isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when($"val".rlike("^-?\\d+$"), 1L).otherwise(0L)).as("n_int"),
      sum(when($"val".rlike("^-?\\d+(\\.\\d+)?$"), 1L).otherwise(0L))
        .as("n_num"))
      .select($"col_name", $"n", $"n_null",
        round($"n_int" / ($"n" - $"n_null"), 6).as("frac_int"),
        round($"n_num" / ($"n" - $"n_null"), 6).as("frac_num"),
        when($"n_int" === $"n" - $"n_null", "BIGINT")
          .when($"n_num" === $"n" - $"n_null", "DOUBLE")
          .otherwise("VARCHAR").as("recommended"))
      .orderBy($"col_name")
  }

  val etlTypeInferSql: String =
    """WITH staged AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
      |    CAST(o_custkey AS VARCHAR) AS o_custkey,
      |    CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
      |    CAST(o_totalprice AS VARCHAR) AS o_totalprice,
      |    CAST(o_orderpriority AS VARCHAR) AS o_orderpriority
      |  FROM orders),
      |melted AS (
      |  SELECT 'o_orderkey' AS col_name, o_orderkey AS val FROM staged
      |  UNION ALL SELECT 'o_custkey', o_custkey FROM staged
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM staged
      |  UNION ALL SELECT 'o_totalprice', o_totalprice FROM staged
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM staged)
      |SELECT col_name, count(*) AS n,
      |  CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  round(sum(CASE WHEN regexp_matches(val, '^-?\d+$')
      |    THEN 1 ELSE 0 END)
      |    / (count(*) - sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)), 6)
      |    AS frac_int,
      |  round(sum(CASE WHEN regexp_matches(val, '^-?\d+(\.\d+)?$')
      |    THEN 1 ELSE 0 END)
      |    / (count(*) - sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)), 6)
      |    AS frac_num,
      |  CASE
      |    WHEN sum(CASE WHEN regexp_matches(val, '^-?\d+$') THEN 1 ELSE 0 END)
      |      = count(*) - sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)
      |      THEN 'BIGINT'
      |    WHEN sum(CASE WHEN regexp_matches(val, '^-?\d+(\.\d+)?$')
      |        THEN 1 ELSE 0 END)
      |      = count(*) - sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)
      |      THEN 'DOUBLE'
      |    ELSE 'VARCHAR' END AS recommended
      |FROM melted GROUP BY col_name ORDER BY col_name""".stripMargin

  // ---------------------------------------------------------------- A26
  /** Schema/domain drift between scrape batches — the alert a feed
    * pipeline fires when "the same" source starts sending different
    * data (the reference re-scrapes the same tables on a schedule and
    * assumes the shape holds; this is the check that assumption
    * deserves). Two string-staged batches (early/late order-date
    * halves) are profiled per column — A22's recommended type, the
    * distinct-value count, and the DOMINANT value with its share —
    * and compared: `type_drift` when the inferred type changed,
    * `domain_drift` when a MEANINGFULLY dominant value (share ≥ 0.05
    * in both halves — without the gate every unique-key column fires
    * on its min value) changed or its share moved by more than 0.1.
    *
    * The test feed's late batch stages totalprice with a COMMA
    * decimal separator — the injected stand-in (A25's convention:
    * deterministic, documented) for the classic scraper failure where
    * an upstream locale flip silently turns a numeric column into
    * strings; in production the staged text arrives that way and the
    * projection drops out. The report catches it as DOUBLE → VARCHAR.
    *
    * Scale shape: one melt scan + two hash aggs. The dominant value
    * is a `min(struct(-c, val))` two-phase agg — map-side combinable,
    * NO per-column window/sort, so a billion-distinct column costs
    * one shuffle of its (col, val) partial counts, never a
    * single-partition sort. The oracle replays the same selection
    * with a window (single-node DuckDB can afford it; tie-break
    * (c DESC, val) ≡ min(struct(-c, val))). */
  def etlSchemaDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val late = $"o_orderdate" >= lit("1998-01-01").cast("date")
    val staged = Tables.orders(spark, sfDir).select(
      when(late, "late").otherwise("early").as("batch"),
      $"o_orderkey".cast("string").as("o_orderkey"),
      $"o_orderstatus".cast("string").as("o_orderstatus"),
      when(late, regexp_replace($"o_totalprice".cast("string"), "\\.", ","))
        .otherwise($"o_totalprice".cast("string")).as("o_totalprice"),
      $"o_orderpriority".cast("string").as("o_orderpriority"))
    val melted = staged.select($"batch", expr(
      """stack(4,
        |'o_orderkey', o_orderkey,
        |'o_orderstatus', o_orderstatus,
        |'o_totalprice', o_totalprice,
        |'o_orderpriority', o_orderpriority) AS (col_name, val)""".stripMargin))
    val totals = melted.groupBy($"batch", $"col_name").agg(
      count(lit(1)).as("n"),
      sum(when($"val".isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when($"val".rlike("^-?\\d+$"), 1L).otherwise(0L)).as("n_int"),
      sum(when($"val".rlike("^-?\\d+(\\.\\d+)?$"), 1L).otherwise(0L))
        .as("n_num"))
      .select($"batch", $"col_name", $"n",
        when($"n_int" === $"n" - $"n_null", "BIGINT")
          .when($"n_num" === $"n" - $"n_null", "DOUBLE")
          .otherwise("VARCHAR").as("rec"))
    val tf = melted.filter($"val".isNotNull)
      .groupBy($"batch", $"col_name", $"val").agg(count(lit(1)).as("c"))
    val dom = tf.groupBy($"batch", $"col_name").agg(
      count(lit(1)).as("n_distinct"),
      sum($"c").as("n_vals"),
      min(struct((-$"c").as("nc"), $"val".as("v"))).as("top"))
      .select($"batch", $"col_name", $"n_distinct",
        $"top.v".as("top_val"),
        round((-$"top.nc") / $"n_vals", 6).as("top_share"))
    def pick(b: String, c: org.apache.spark.sql.Column) =
      max(when($"batch" === b, c))
    totals.join(dom, Seq("batch", "col_name"))
      .groupBy($"col_name").agg(
        pick("early", $"rec").as("rec_early"),
        pick("late", $"rec").as("rec_late"),
        pick("early", $"n_distinct").as("distinct_early"),
        pick("late", $"n_distinct").as("distinct_late"),
        pick("early", $"top_val").as("top_early"),
        pick("late", $"top_val").as("top_late"),
        pick("early", $"top_share").as("top_share_early"),
        pick("late", $"top_share").as("top_share_late"))
      .select($"col_name", $"rec_early", $"rec_late",
        $"distinct_early", $"distinct_late",
        $"top_early", $"top_late", $"top_share_early", $"top_share_late",
        when($"rec_early" =!= $"rec_late", 1L).otherwise(0L)
          .as("type_drift"),
        when($"top_share_early" >= 0.05 && $"top_share_late" >= 0.05
          && ($"top_early" =!= $"top_late"
            || abs($"top_share_early" - $"top_share_late") > 0.1), 1L)
          .otherwise(0L).as("domain_drift"))
      .orderBy($"col_name")
  }

  val etlSchemaDriftSql: String =
    """WITH staged AS (
      |  SELECT CASE WHEN o_orderdate >= DATE '1998-01-01'
      |    THEN 'late' ELSE 'early' END AS batch,
      |    CAST(o_orderkey AS VARCHAR) AS o_orderkey,
      |    CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
      |    CASE WHEN o_orderdate >= DATE '1998-01-01'
      |      THEN replace(CAST(o_totalprice AS VARCHAR), '.', ',')
      |      ELSE CAST(o_totalprice AS VARCHAR) END AS o_totalprice,
      |    CAST(o_orderpriority AS VARCHAR) AS o_orderpriority
      |  FROM orders),
      |melted AS (
      |  SELECT batch, 'o_orderkey' AS col_name, o_orderkey AS val FROM staged
      |  UNION ALL SELECT batch, 'o_orderstatus', o_orderstatus FROM staged
      |  UNION ALL SELECT batch, 'o_totalprice', o_totalprice FROM staged
      |  UNION ALL SELECT batch, 'o_orderpriority', o_orderpriority FROM staged),
      |totals AS (
      |  SELECT batch, col_name,
      |    CASE
      |      WHEN sum(CASE WHEN regexp_matches(val, '^-?\d+$')
      |          THEN 1 ELSE 0 END)
      |        = count(*) - sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)
      |        THEN 'BIGINT'
      |      WHEN sum(CASE WHEN regexp_matches(val, '^-?\d+(\.\d+)?$')
      |          THEN 1 ELSE 0 END)
      |        = count(*) - sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)
      |        THEN 'DOUBLE'
      |      ELSE 'VARCHAR' END AS rec
      |  FROM melted GROUP BY batch, col_name),
      |tf AS (
      |  SELECT batch, col_name, val, count(*) AS c
      |  FROM melted WHERE val IS NOT NULL GROUP BY batch, col_name, val),
      |ranked AS (
      |  SELECT batch, col_name, val, c,
      |    ROW_NUMBER() OVER (PARTITION BY batch, col_name
      |      ORDER BY c DESC, val) AS r
      |  FROM tf),
      |dom AS (
      |  SELECT batch, col_name, count(*) AS n_distinct,
      |    max(CASE WHEN r = 1 THEN val END) AS top_val,
      |    round(max(CASE WHEN r = 1 THEN c END) / CAST(sum(c) AS BIGINT), 6)
      |      AS top_share
      |  FROM ranked GROUP BY batch, col_name),
      |per AS (
      |  SELECT t.batch, t.col_name, t.rec, d.n_distinct, d.top_val,
      |    d.top_share
      |  FROM totals t JOIN dom d
      |    ON t.batch = d.batch AND t.col_name = d.col_name),
      |piv AS (
      |  SELECT col_name,
      |    max(CASE WHEN batch = 'early' THEN rec END) AS rec_early,
      |    max(CASE WHEN batch = 'late' THEN rec END) AS rec_late,
      |    max(CASE WHEN batch = 'early' THEN n_distinct END) AS distinct_early,
      |    max(CASE WHEN batch = 'late' THEN n_distinct END) AS distinct_late,
      |    max(CASE WHEN batch = 'early' THEN top_val END) AS top_early,
      |    max(CASE WHEN batch = 'late' THEN top_val END) AS top_late,
      |    max(CASE WHEN batch = 'early' THEN top_share END) AS top_share_early,
      |    max(CASE WHEN batch = 'late' THEN top_share END) AS top_share_late
      |  FROM per GROUP BY col_name)
      |SELECT col_name, rec_early, rec_late, distinct_early, distinct_late,
      |  top_early, top_late, top_share_early, top_share_late,
      |  CAST(CASE WHEN rec_early <> rec_late THEN 1 ELSE 0 END AS BIGINT)
      |    AS type_drift,
      |  CAST(CASE WHEN top_share_early >= 0.05 AND top_share_late >= 0.05
      |    AND (top_early <> top_late
      |      OR abs(top_share_early - top_share_late) > 0.1)
      |    THEN 1 ELSE 0 END AS BIGINT) AS domain_drift
      |FROM piv ORDER BY col_name""".stripMargin

  // ----------------------------------------------------------------
  val defs: Seq[QueryDef] = Seq(
    QueryDef("etl_schema_drift", etlSchemaDrift, etlSchemaDriftSql),
    QueryDef("etl_type_infer", etlTypeInfer, etlTypeInferSql),
    QueryDef("etl_profile", etlProfile, etlProfileSql),
    QueryDef("etl_pipeline_composite", etlPipelineComposite,
      etlPipelineCompositeSql),
    QueryDef("etl_scd2_history", etlScd2History, etlScd2HistorySql),
    QueryDef("etl_attribution", etlAttribution, etlAttributionSql),
    QueryDef("etl_enrich", etlEnrich, etlEnrichSql),
    QueryDef("etl_normalize_cols", etlNormalizeCols, etlNormalizeColsSql),
    QueryDef("etl_filename_ts", etlFilenameTs, etlFilenameTsSql),
    QueryDef("etl_change_missing", etlChangeMissing, etlChangeMissingSql),
    QueryDef("etl_change_mismatch", etlChangeMismatch, etlChangeMismatchSql),
    QueryDef("etl_change_combined", etlChangeCombined, etlChangeCombinedSql),
    QueryDef("etl_scd_current", etlScdCurrent, etlScdCurrentSql),
    QueryDef("etl_log_summary", etlLogSummary, etlLogSummarySql),
    QueryDef("etl_merge_union", etlMergeUnion, etlMergeUnionSql),
    QueryDef("etl_dedup_key", etlDedupKey, etlDedupKeySql),
    QueryDef("etl_validate", etlValidate, etlValidateSql),
    QueryDef("etl_retry_ledger", etlRetryLedger, etlRetryLedgerSql))
}
