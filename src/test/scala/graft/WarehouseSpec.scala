package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{DedupMore, DedupOps, WarehouseOps}

/** Property tests for the round-8 warehouse-engineering operators
  * (SURVEY §2: A23/A24, B58, D16, H9, J12) — each asserts the
  * operator's defining invariant against an independently computed
  * ground truth, not just row counts. */
class WarehouseSpec extends SparkSuite {

  test("gapfill: every user covers its full day span, fills carry forward") {
    import spark.implicits._
    val out = WarehouseOps.etlResampleGapfill(spark, sf)
      .select($"user_id", $"day", $"n_events", $"value_filled", $"is_gap")
      .collect()
    // span completeness: per user, rows == (max day - min day + 1),
    // days contiguous and unique
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val days = rows.map(_.getDate(1).toLocalDate).sortBy(_.toEpochDay)
      assert(days.distinct.length == days.length)
      assert(days.last.toEpochDay - days.head.toEpochDay + 1 == days.length)
      // first day of a span is by construction observed, never a gap
      val first = rows.minBy(_.getDate(1).toLocalDate.toEpochDay)
      assert(first.getString(4) == "N")
    }
    // gap rows: zero events, value carried from a PRIOR observed day
    val gaps = out.filter(_.getString(4) == "Y")
    assert(gaps.forall(_.getLong(2) == 0L))
    assert(out.forall(!_.isNullAt(3)), "value_filled must never be null")
  }

  test("fk audit: intact star schema has zero orphans on every edge") {
    val rows = WarehouseOps.etlFkAudit(spark, sf).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getLong(3) == 0L, s"${r.getString(0)} has orphan rows")
      assert(r.getLong(4) == 0L, s"${r.getString(0)} has orphan keys")
      assert(r.getLong(1) >= r.getLong(2)) // rows >= distinct keys
    }
  }

  test("pareto frontier matches the NOT EXISTS dominance definition") {
    import spark.implicits._
    val parts = graft.Tables.part(spark, sf)
      .select($"p_brand", $"p_partkey", $"p_retailprice", $"p_size")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val expected = parts.filter { case (b, _, price, size) =>
      !parts.exists { case (b2, _, p2, s2) =>
        b2 == b && p2 <= price && s2 >= size && (p2 < price || s2 > size)
      }
    }.map(t => (t._1, t._2)).toSet
    val got = WarehouseOps.qParetoFrontier(spark, sf)
      .select($"p_brand", $"p_partkey").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("triangle census matches brute force on the same pair graph") {
    import spark.implicits._
    val pairs = DedupOps.minhashPipeline(
        DedupOps.corpus(graft.Tables.documents(spark, sf)), 0.5)
      .select($"id1", $"id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = pairs.toSet
    val adj = (pairs.map(p => (p._1, p._2)) ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    // per-edge closing-vertex count (NOT a for/yield over the adjacency
    // Set — Set.map would dedup the yielded values and undercount)
    val bruteTriangles = edgeSet.iterator.map { case (a, b) =>
      (adj(a) intersect adj(b)).count(_ > b)
    }.sum
    val bruteWedges = nodes.map { v =>
      val d = adj(v).size.toLong; d * (d - 1) / 2
    }.sum
    val r = DedupMore.dedupTriangles(spark, sf).collect().head
    assert(r.getLong(0) == nodes.length.toLong, "n_nodes")
    assert(r.getLong(1) == edgeSet.size.toLong, "n_edges")
    assert(r.getLong(2) == bruteWedges, "n_wedges")
    assert(r.getLong(3) == bruteTriangles.toLong, "n_triangles")
    CacheHygiene.release(spark)
  }

  test("z-order layout: rectangle query covers few buckets with full recall") {
    import spark.implicits._
    val report = WarehouseOps.qZorderLayout(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5)))).toMap // bucket -> (minUx, maxUx, minTx, maxTx)
    // tile rectangle ux ∈ [4,7] × tx ∈ [2,5]; candidate buckets from the
    // report's min/max spans — exactly the row-group pruning a reader does
    val (uLo, uHi, tLo, tHi) = (4, 7, 2, 5)
    val cand = report.filter { case (_, (mu, xu, mt, xt)) =>
      xu >= uLo && mu <= uHi && xt >= tLo && mt <= tHi
    }.keySet
    // Z-order locality: the 4×4 rectangle touches a minority of the 16
    // buckets (a 1-D layout would leave one dimension unpruned)
    assert(cand.size <= 6, s"rectangle covers ${cand.size} of 16 buckets")
    // full recall: every matching event's bucket is in the candidate set
    val zc = WarehouseOps.zInterleaveSql("ux", "tx")
    val hits = graft.Tables.events(spark, sf)
      .select($"user_id", to_date($"ts").as("day"))
      .selectExpr("CAST(user_id % 16 AS INT) AS ux",
        "CAST(datediff(day, DATE '2024-01-01') % 16 AS INT) AS tx")
      .filter($"ux".between(uLo, uHi) && $"tx".between(tLo, tHi))
      .selectExpr(s"CAST(($zc) div 16 AS INT) AS z_bucket")
      .distinct().collect().map(_.getInt(0)).toSet
    assert(hits.subsetOf(cand), s"recall gap: ${hits -- cand}")
  }

  test("hamming ANN: banded candidates are exact for near ties, recall ≥ 0.5 overall") {
    import spark.implicits._
    val sigs = DedupOps.corpus(graft.Tables.documents(spark, sf))
      .select($"doc_id", graft.functions.gf.simhash_md5($"text").as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // exact top-3 per query by (hamming, doc_id)
    val exact = sigs.keys.filter(_ < 10).map { q =>
      q -> sigs.toSeq.filter(_._1 != q)
        .map { case (id, s) => (ham(sigs(q), s), id) }.sorted.take(3)
    }.toMap
    val got = graft.operators.DedupMore.annHamming(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getInt(3), r.getLong(2))))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSeq.sorted }
    // pigeonhole: any exact neighbor at hamming <= 3 MUST be retrieved
    exact.foreach { case (q, top) =>
      top.filter(_._1 <= 3).foreach { n =>
        assert(got.getOrElse(q, Seq()).contains(n),
          s"query $q lost guaranteed neighbor $n")
      }
    }
    // overall recall of the banded candidate set vs exact top-3
    val hits = exact.map { case (q, top) =>
      top.count(got.getOrElse(q, Seq()).contains(_))
    }.sum
    val total = exact.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.5, s"recall $hits/$total")
    CacheHygiene.release(spark)
  }

  test("shard assignment: 8 shards, exact doc partition, bounded imbalance") {
    import spark.implicits._
    val shards = WarehouseOps.sampleShardAssign(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(shards.map(_._1).toSeq == (0 until 8))
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(shards.map(_._2).sum == nDocs)
    // round-robin over the size-descending order telescopes the
    // max-min token imbalance to at most one document's tokens
    val totals = shards.map(_._3)
    val maxDocTokens = shards.map(_._4).max
    assert(totals.max - totals.min <= maxDocTokens,
      s"imbalance ${totals.max - totals.min} > max doc $maxDocTokens")
  }

  test("A27 compaction plan EXECUTES: per-bin rewrite conserves rows/bytes and lands one file per bin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compact_exec").toString
    // the "small files" input: one source's documents, written one
    // row-group-ish file per doc via repartition on doc ranges
    val src = graft.Tables.documents(spark, sf)
      .filter($"source" === "src0")
      .select($"source", $"doc_id", $"n_chars", $"text")
    val plan = WarehouseOps.etlCompactionPlan(spark, sf)
      .filter($"source" === "src0")
      .select($"bin_id", $"first_doc", $"last_doc", $"n_files", $"bin_bytes")
      .collect()
    // execute: write each doc to its planned bin via a range join on
    // the broadcast plan (bins are k-bounded per source), partitioned
    // by bin_id — ONE output dir per bin, exactly what OPTIMIZE does
    val binOf = src.join(
      broadcast(plan.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("bin_id", "first_doc", "last_doc")),
      $"doc_id" >= $"first_doc" && $"doc_id" <= $"last_doc")
    binOf.repartition($"bin_id").write.partitionBy("bin_id")
      .mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // conservation: every row lands in exactly one bin, bytes match
    assert(back.count() == src.count())
    // partition-column read-back infers INT — normalize to long
    val gotBins = back.groupBy($"bin_id".cast("long").as("bin_id"))
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("b")).collect()
      .map(r => (r.getAs[Long]("bin_id"), r.getAs[Long]("n"), r.getAs[Long]("b")))
      .sortBy(_._1)
    val wantBins = plan.map(r => (r.getLong(0), r.getAs[Long]("n_files"),
      r.getAs[Long]("bin_bytes"))).sortBy(_._1)
    assert(gotBins.toSeq == wantBins.toSeq,
      s"executed bins diverge from the plan")
    // layout: one parquet data file per bin directory
    plan.foreach { r =>
      val files = new java.io.File(s"$dir/bin_id=${r.getLong(0)}")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"bin ${r.getLong(0)}: ${files.length} files")
    }
  }

  test("schema evolution: mergeSchema unifies widened batches, null-fills, and pruning still reaches the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_schema_evo").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/batch=0")
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "extra")
      .write.parquet(s"$dir/batch=1")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.sorted.toSeq == Seq("batch", "extra", "id", "v"))
    // old batch null-fills the widened column
    val rows = df.orderBy($"id").collect()
    assert(rows.length == 4)
    assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("extra"))))
    assert(rows.drop(2).map(_.getAs[Long]("extra")).toSeq == Seq(30L, 40L))
    // column pruning + filter pushdown survive the merged schema
    val q = df.filter($"id" === 3L).select($"extra")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("IsNotNull(id)")
      || scan.contains("EqualTo(id,3)"), scan)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(30L))
  }

  test("snapshot table (H19): MERGE + compaction preserve retained reads; files shared by reference; vacuum exact; expiry raises") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_snap_tbl").toString
    val t = new SnapshotTable(spark, s"$root/t", "id",
      buckets = 4, keepSnapshots = 3)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select("id", "name", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    try {
      // v1: 40 keys spread over all 4 hash buckets
      val base = (1L to 40L).map(i => (i, s"n$i", i * 10L))
      t.create(base.toDF("id", "name", "v"))
      assert(t.version == 1)
      val v1Rows = rows(t.read())
      assert(v1Rows == base.toSet.map((x: (Long, String, Long)) => x))

      // v2: MERGE — update keys 1..3, insert 41..42
      val batch = Seq((1L, "u1", 111L), (2L, "u2", 222L),
        (3L, "u3", 333L), (41L, "n41", 410L), (42L, "n42", 420L))
      t.merge(batch.toDF("id", "name", "v"))
      assert(t.version == 2)
      val expectV2 = base.filterNot(r => Set(1L, 2L, 3L)(r._1)).toSet ++
        batch.toSet
      assert(rows(t.read()) == expectV2, "merge result wrong")
      // READ ISOLATION: the pre-merge snapshot is bit-stable
      assert(rows(t.readAsOf(1)) == v1Rows, "v1 changed under merge")
      // COPY-ON-WRITE SHARING: some v1 bucket dirs are carried into
      // v2 by reference (5 keys cannot touch all 4 buckets... they
      // can; assert at least the REWRITTEN set is a proper commit:
      // shared refs = v2 refs that literally equal v1 refs)
      val shared = t.refsAsOf(2).toSet.intersect(t.refsAsOf(1).toSet)
      val rewritten = t.refsAsOf(2).toSet -- t.refsAsOf(1).toSet
      assert(rewritten.nonEmpty, "merge rewrote nothing")
      assert(shared.nonEmpty,
        s"no file sharing: v1=${t.refsAsOf(1)} v2=${t.refsAsOf(2)}")

      // v3: compaction — result-neutral, older snapshots intact
      t.compact()
      assert(t.version == 3)
      assert(rows(t.read()) == expectV2, "compaction changed data")
      assert(rows(t.readAsOf(1)) == v1Rows, "v1 changed under compaction")
      assert(rows(t.readAsOf(2)) == expectV2)

      // v4: one more merge expires v1 (keepSnapshots = 3 → retain 2,3,4)
      t.merge(Seq((5L, "u5", 555L)).toDF("id", "name", "v"))
      assert(t.snapshots == Seq(2, 3, 4))
      intercept[IllegalArgumentException] { t.readAsOf(1) }
      // VACUUM EXACTNESS: on-disk data dirs ≡ union of retained refs —
      // nothing reachable deleted, nothing unreachable left behind
      val reachable = t.snapshots.flatMap(v => t.refsAsOf(v).values).toSet
      assert(t.dataDirsOnDisk == reachable,
        s"vacuum drifted: disk=${t.dataDirsOnDisk} refs=$reachable")
      // retained reads still exact after vacuum
      assert(rows(t.readAsOf(2)) == expectV2)
      assert(rows(t.read()) ==
        expectV2.filterNot(_._1 == 5L) + ((5L, "u5", 555L)))
    } finally t.drop()
  }

  test("snapshot table WAP (H21): staged merge invisible until publish; audit-fail abort leaves no trace; concurrent commit blocks publish") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_snap_wap").toString
    val t = new SnapshotTable(spark, s"$root/t", "id",
      buckets = 4, keepSnapshots = 3)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select("id", "name", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def stagedDirs(): Long = {
      val p = java.nio.file.Paths.get(s"$root/t/staged")
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.list(p)
        try s.count() finally s.close()
      }
    }

    try {
      val base = (1L to 40L).map(i => (i, s"n$i", i * 10L))
      t.create(base.toDF("id", "name", "v"))
      val v1Rows = rows(t.read())
      val disk1 = t.dataDirsOnDisk

      // STAGE: table, version, and the data area are all untouched
      val s1 = t.stageMerge(
        Seq((1L, "u1", 111L), (41L, "n41", 410L)).toDF("id", "name", "v"))
      assert(t.version == 1, "staging must not commit")
      assert(rows(t.read()) == v1Rows, "staging changed the table")
      assert(t.dataDirsOnDisk == disk1, "staged write leaked into data/")
      // AUDIT surface: the would-be table, served from staged dirs
      val expect = base.filterNot(_._1 == 1L).toSet +
        ((1L, "u1", 111L)) + ((41L, "n41", 410L))
      assert(rows(s1.read()) == expect)

      // PUBLISH: metadata-only promotion; time travel to the
      // pre-publish snapshot intact; the handle is single-use
      s1.publish()
      assert(t.version == 2)
      assert(rows(t.read()) == expect)
      assert(rows(t.readAsOf(1)) == v1Rows)
      assert(stagedDirs() == 0L, "published staged dir left behind")
      intercept[IllegalArgumentException] { s1.publish() }

      // AUDIT FAILS → ABORT: the bad batch never becomes visible and
      // abort deletes exactly the staged dirs
      val disk2 = t.dataDirsOnDisk
      val s2 = t.stageMerge(Seq((2L, "bad", -5L)).toDF("id", "name", "v"))
      assert(s2.read().filter($"v" < 0).count() == 1L,
        "audit must see the bad row in the staged view")
      s2.abort()
      assert(rows(t.read()) == expect, "aborted stage mutated the table")
      assert(t.dataDirsOnDisk == disk2)
      assert(stagedDirs() == 0L, "abort left staged dirs behind")
      intercept[IllegalArgumentException] { s2.read() }

      // OPTIMISTIC CONCURRENCY: a commit lands between stage and
      // publish → publish refuses (the audited view predates it);
      // abort still cleans up
      val s3 = t.stageMerge(Seq((3L, "u3", 333L)).toDF("id", "name", "v"))
      t.merge(Seq((4L, "u4", 444L)).toDF("id", "name", "v"))
      intercept[graft.sources.CommitConflict] { s3.publish() }
      s3.abort()
      assert(rows(t.read()).contains((4L, "u4", 444L)),
        "the concurrent commit must survive")
      assert(!rows(t.read()).contains((3L, "u3", 333L)),
        "the refused stage must not surface")
    } finally t.drop()
  }

  test("store root (H20): graft.store.root redirects shared-store builds; default root still serves after restore") {
    import graft.sources.StoreRoot
    val conf = java.nio.file.Files
      .createTempDirectory("graft_conf_root").toString
    val before = spark.conf.getOption(StoreRoot.confKey)
    try {
      spark.conf.set(StoreRoot.confKey, conf)
      // a real end-to-end build: the run-shared BPE trajectory must
      // land under the configured root (cache keys on the resolved
      // dir, so this builds fresh rather than reusing a default-root
      // store built by an earlier suite)
      val (merges, _) = graft.operators.Round10Ops.bpeShared(spark, sf)
      assert(merges.count() > 0)
      val under = java.nio.file.Paths.get(conf, "graft-bpe")
      assert(java.nio.file.Files.exists(under),
        s"store did not land under the configured root $conf")
      val stored = {
        val w = java.nio.file.Files.walk(under)
        try {
          val it = w.iterator()
          var n = 0
          while (it.hasNext) { if (it.next().toString.endsWith(".parquet")) n += 1 }
          n
        } finally w.close()
      }
      assert(stored > 0, "no parquet written under the configured root")
    } finally {
      before match {
        case Some(v) => spark.conf.set(StoreRoot.confKey, v)
        case None => spark.conf.unset(StoreRoot.confKey)
      }
    }
    // restored: resolution falls back to the per-JVM default and the
    // sweep still answers (builds or reuses the default-root store)
    val sweep = graft.operators.Round10Ops.textBpeSweep(spark, sf)
    assert(sweep.count() == 3)
  }

  test("store root (H20, round 14): ModelStore and IvmStateStore key on the resolved root — a fresh root forces a genuine cold rebuild under it") {
    import graft.sources.StoreRoot
    val conf = java.nio.file.Files
      .createTempDirectory("graft_conf_root_m").toString
    val before = spark.conf.getOption(StoreRoot.confKey)
    try {
      spark.conf.set(StoreRoot.confKey, conf)
      // the trained-model store: the B91 row must land (and serve)
      // under the configured root — this is what makes the Bench
      // gbt_model_build fresh-root A/B a genuine cold rebuild
      val model = graft.operators.ModelStore.gbtFull(spark, sf)
      assert(model.count() == 1)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(conf, "graft-models")),
        s"ModelStore did not land under the configured root $conf")
      // the standing IVM state tables: same discipline
      val state = graft.operators.Round12Ops.IvmStateStore
        .a33(spark, sf).read()
      assert(state.count() > 0)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(conf, "graft-ivm-state")),
        s"IvmStateStore did not land under the configured root $conf")
    } finally {
      before match {
        case Some(v) => spark.conf.set(StoreRoot.confKey, v)
        case None => spark.conf.unset(StoreRoot.confKey)
      }
    }
    // restored: the default-root artifacts still serve the queries
    assert(graft.operators.Round13Ops.qGbtEval(spark, sf).count() > 0)
  }

  test("IVM x snapshot table (H22): maintenance commits are WAP-gated — a mid-maintenance reader sees only the pre-batch epoch, emptied groups leave via the delete arm, epochs time-travel, and the conservation audit aborts a corrupt batch unpublished") {
    import spark.implicits._
    import graft.operators.Round12Ops
    def snap(rows: Seq[(Long, String, String, String)],
        renamed: Boolean): org.apache.spark.sql.DataFrame = {
      val df = rows.toDF("key", "s", "p", "pr")
        .select($"key", $"s", $"p", $"pr".cast("decimal(12,2)").as("price"))
      if (renamed) df.select($"key", $"s".as("st2"), $"p".as("prio2"),
        $"price".as("price2"))
      else df.select($"key", $"s".as("st"), $"p".as("prio"), $"price")
    }
    // OLD: groups A|P (keys 1,2), B|Q (3,4), C|Q (6)
    val old = snap(Seq((1L, "A", "P", "10.50"), (2L, "A", "P", "5.25"),
      (3L, "B", "Q", "7.00"), (4L, "B", "Q", "1.00"),
      (6L, "C", "Q", "3.00")), renamed = false)
    // NEW: key1 price bump, keys 2+4 deleted, key3 moves B|Q → C|Q,
    // key5 inserts into A|P — group B|Q EMPTIES (the delete arm)
    val neu = snap(Seq((1L, "A", "P", "12.00"), (3L, "C", "Q", "7.00"),
      (5L, "A", "P", "2.00"), (6L, "C", "Q", "3.00")), renamed = true)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivm_wap").toString
    val tbl = Round12Ops.ivmTable(spark, s"$root/t")
    def viewRows(df: org.apache.spark.sql.DataFrame) =
      df.select("st", "prio", "n_orders", "total").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDecimal(3).toPlainString)).toSet
    try {
      tbl.create(Round12Ops.ivmWithKey(Round12Ops.ivmState(old)))
      val preRows = viewRows(tbl.read())
      val batch = Round12Ops.ivmDelta(old, neu)

      // 1. WAP isolation: a reader between stage and publish sees the
      // pre-batch epoch only
      val staged = Round12Ops.ivmStage(tbl, batch)
      assert(viewRows(tbl.read()) == preRows,
        "mid-maintenance reader saw staged state")
      assert(tbl.version == 1)
      staged.abort()

      // 2. the published commit equals the full recompute over NEW —
      // including group B|Q leaving the table via the delete arm
      Round12Ops.ivmSnapshotStep(tbl, batch)
      assert(tbl.version == 2)
      val expect = viewRows(Round12Ops.ivmState(
        neu.select($"key", $"st2".as("st"), $"prio2".as("prio"),
          $"price2".as("price"))))
      assert(viewRows(tbl.read()) == expect, "maintenance != recompute")
      assert(!viewRows(tbl.read()).exists(r => r._1 == "B"),
        "emptied group B|Q must leave the table")
      // the pre-batch epoch stays time-travelable
      assert(viewRows(tbl.readAsOf(1)) == preRows)

      // 3. conservation-audit abort: retracting C|Q's only rows twice
      // — the second application finds nothing to retract, so the
      // staged table misses the expected count drop and must abort
      // with the current snapshot unchanged
      val neu2 = snap(Seq((1L, "A", "P", "12.00"),
        (5L, "A", "P", "2.00")), renamed = true)
      val delBatch = Round12Ops.ivmDelta(
        neu.select($"key", $"st2".as("st"), $"prio2".as("prio"),
          $"price2".as("price")), neu2)
      Round12Ops.ivmSnapshotStep(tbl, delBatch) // first apply: fine
      assert(tbl.version == 3)
      val v3Rows = viewRows(tbl.read())
      val err = intercept[RuntimeException] {
        Round12Ops.ivmSnapshotStep(tbl, delBatch) // double apply
      }
      assert(err.getMessage.contains("audit failed"))
      assert(tbl.version == 3, "aborted batch must not commit")
      assert(viewRows(tbl.read()) == v3Rows,
        "aborted batch must leave the table unchanged")
    } finally tbl.drop()
  }

  test("snapshot table schema evolution (H23): a widening merge null-fills carried rows; untouched buckets reconcile at read; pre-widening snapshots keep the old schema; compaction unifies") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_snap_evo").toString
    val t = new SnapshotTable(spark, s"$root/t", "id",
      buckets = 4, keepSnapshots = 3)
    try {
      t.create((1L to 20L).map(i => (i, i * 10L)).toDF("id", "v"))
      assert(t.read().columns.sorted.toSeq == Seq("id", "v"))
      // widening merge: update key 1, insert 21, with a NEW column
      t.merge(Seq((1L, 111L, "x1"), (21L, 210L, "x21"))
        .toDF("id", "v", "extra"))
      val cur = t.read()
      assert(cur.columns.contains("extra"),
        "widened column missing from the merged-schema read")
      val byId = cur.select("id", "v", "extra").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), if (r.isNullAt(2)) null else r.getString(2))))
        .toMap
      assert(byId(1L) == ((111L, "x1")) && byId(21L) == ((210L, "x21")))
      // carried rows in TOUCHED buckets were rewritten with nulls;
      // rows in untouched buckets reconcile via the merged read —
      // either way every pre-widening row reads (old v, null extra)
      (2L to 20L).foreach(i => assert(byId(i) == ((i * 10L, null)),
        s"row $i changed under the widening merge"))
      assert(byId.size == 21)
      // the pre-widening snapshot keeps its OLD schema
      assert(!t.readAsOf(1).columns.contains("extra"),
        "time travel must not see the widened schema")
      // compaction rewrites the live layout under the widened schema —
      // and must NOT drop the widened values (a plain parquet read in
      // compact() inferred the narrow schema from an arbitrary footer
      // and lost them; caught by this pin, fixed via the merged read)
      t.compact()
      val compacted = t.read()
      assert(compacted.columns.contains("extra"))
      assert(compacted.count() == 21)
      val postById = compacted.select("id", "extra").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(postById(1L) == "x1" && postById(21L) == "x21",
        "compaction dropped widened values")
      // evolution is ONE-directional (round-14 advisor item): a batch
      // NARROWER than the live schema must fail fast — accepted, it
      // would silently null-fill the missing live column on every
      // upserted key (data loss on a malformed caller)
      val narrow = Seq((2L, "x2")).toDF("id", "extra")
      val err = intercept[IllegalArgumentException] { t.merge(narrow) }
      assert(err.getMessage.contains("widening-only"),
        s"narrower merge rejected for the wrong reason: ${err.getMessage}")
      val errStaged = intercept[IllegalArgumentException] {
        t.stageMerge(narrow)
      }
      assert(errStaged.getMessage.contains("widening-only"))
      assert(t.read().count() == 21,
        "the rejected narrow batch must leave the table untouched")
      // the guard compares under Spark's resolution semantics
      // (round-14 advisor item): a batch spelling live columns in a
      // different CASE is not "missing" them — here only `extra` is
      // genuinely absent, so the error names exactly it
      val mixedNarrow = Seq((3L, 30L)).toDF("ID", "V")
      val errMixed = intercept[IllegalArgumentException] {
        t.merge(mixedNarrow)
      }
      assert(errMixed.getMessage.contains("missing live column(s) extra —"),
        s"case-varied spellings misreported: ${errMixed.getMessage}")
      // a FRESH handle on the existing table reads the live schema
      // from the manifest and enforces the same guard
      val t2 = new SnapshotTable(spark, s"$root/t", "id",
        buckets = 4, keepSnapshots = 3)
      val errFresh = intercept[IllegalArgumentException] { t2.merge(narrow) }
      assert(errFresh.getMessage.contains("widening-only"))
      // an OLDER handle must see ANOTHER handle's widening: widen
      // through t, then a t2 batch missing the new column must still
      // be rejected — the guard reads the live schema from the
      // current manifest on every merge; no handle keeps a copy
      t.merge(Seq((4L, 40L, "x4", "w4"))
        .toDF("id", "v", "extra", "extra2"))
      val errStale = intercept[IllegalArgumentException] {
        t2.merge(Seq((5L, 50L, "x5")).toDF("id", "v", "extra"))
      }
      assert(errStale.getMessage.contains("extra2"),
        s"stale handle served a pre-widening cache: ${errStale.getMessage}")
    } finally t.drop()
  }

  test("snapshot table manifest schema: reads after create, merge, staged publish and compaction start no job before their action, their schema equals a merged-footer read, and every commit writes one file per bucket") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_snap_schema").toString
    val t = new SnapshotTable(spark, s"$root/t", "id",
      buckets = 4, keepSnapshots = 5)
    def fields(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType).toSet
    // the read plans with no job, and its schema is the one a
    // merged-footer read of the same dirs infers
    def planned(read: => org.apache.spark.sql.DataFrame,
        refs: Map[Int, String]): org.apache.spark.sql.DataFrame = {
      val (df, jobs) = withJobCount(read)
      assert(jobs == 0, s"planning the read started $jobs job(s)")
      val inferred = spark.read.option("mergeSchema", "true")
        .parquet(refs.values.toSeq.map(d => s"$root/t/$d"): _*)
      assert(fields(df) == fields(inferred))
      df
    }
    def parquetFiles(dir: String): Int = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/t/$dir"))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    try {
      // several write tasks per commit, so a per-task write would
      // leave several files in a bucket dir
      t.create((1L to 40L).map(i => (i, s"n$i", i * 10L))
        .toDF("id", "name", "v").repartition(4))
      assert(planned(t.read(), t.refs).count() == 40)
      // a widening merge: the new column follows the prior ones
      t.merge(Seq((1L, "u1", 111L, "x1"), (41L, "n41", 410L, "x41"))
        .toDF("id", "name", "v", "extra").repartition(2))
      assert(planned(t.read(), t.refs).columns.toSeq ==
        Seq("id", "name", "v", "extra"))
      assert(planned(t.readAsOf(1), t.refsAsOf(1)).columns.toSeq ==
        Seq("id", "name", "v"))
      val staged = t.stageMerge(Seq((2L, "u2", 222L, "x2"))
        .toDF("id", "name", "v", "extra"))
      val (audit, auditJobs) = withJobCount(staged.read())
      assert(auditJobs == 0 && audit.count() == 41)
      staged.publish()
      assert(planned(t.read(), t.refs).count() == 41)
      t.compact()
      val cur = planned(t.read(), t.refs)
      assert(cur.columns.toSeq == Seq("id", "name", "v", "extra"))
      assert(cur.filter($"extra".isNotNull).count() == 3)
      assert(planned(t.readAsOf(2), t.refsAsOf(2)).count() == 41)
      val dirs = t.snapshots.flatMap(v => t.refsAsOf(v).values).distinct
      assert(dirs.nonEmpty)
      dirs.foreach(d => assert(parquetFiles(d) == 1, s"$d: not one file"))
    } finally t.drop()
  }

  test("snapshot table manifest schema: one handle's guard sees another handle's widening without a footer read; a manifest with no schema line still reads and merges") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_snap_handles").toString
    val a = new SnapshotTable(spark, s"$root/t", "id",
      buckets = 4, keepSnapshots = 3)
    val b = new SnapshotTable(spark, s"$root/t", "id",
      buckets = 4, keepSnapshots = 3)
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
      df.select("id", "v", "extra").collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))).toMap
    try {
      a.create((1L to 20L).map(i => (i, i * 10L)).toDF("id", "v"))
      a.merge(Seq((1L, 11L)).toDF("id", "v"))
      b.merge(Seq((2L, 22L, "x2")).toDF("id", "v", "extra"))
      // a's guard rejects a batch without b's new column, reading no
      // data file to find out
      val (err, jobs) = withJobCount(intercept[IllegalArgumentException] {
        a.merge(Seq((3L, 33L)).toDF("id", "v"))
      })
      assert(jobs == 0, s"the guard started $jobs job(s)")
      assert(err.getMessage.contains("missing live column(s) extra —"))
      a.merge(Seq((3L, 33L, "x3")).toDF("id", "v", "extra"))
      assert(byId(b.read())(3L) == ((33L, "x3")))

      // strip the schema line, as a manifest written before it existed
      val dir = java.nio.file.Paths.get(s"$root/t")
      val manifests = {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.toSeq finally s.close()
      }.filter(_.getFileName.toString.startsWith("MANIFEST"))
      manifests.foreach { m =>
        val lines = java.nio.file.Files.readAllLines(m).asScala
        assert(lines.exists(_.startsWith("schema ")), s"$m has no schema line")
        java.nio.file.Files.write(m,
          lines.filterNot(_.startsWith("schema ")).asJava)
      }
      val old = new SnapshotTable(spark, s"$root/t", "id",
        buckets = 4, keepSnapshots = 3)
      val rows = byId(old.read())
      assert(rows.size == 20 && rows(2L) == ((22L, "x2")) &&
        rows(4L) == ((40L, null)))
      intercept[IllegalArgumentException] {
        old.merge(Seq((4L, 44L)).toDF("id", "v"))
      }
      old.merge(Seq((4L, 44L, "x4"), (21L, 210L, "x21"))
        .toDF("id", "v", "extra"))
      assert(byId(a.read()) ==
        rows + (4L -> ((44L, "x4"))) + (21L -> ((210L, "x21"))))
      assert(java.nio.file.Files.readAllLines(
        dir.resolve(s"MANIFEST.v${old.version}"))
        .asScala.exists(_.startsWith("schema ")),
        "the first commit on an old manifest must write the schema line")
    } finally a.drop()
  }

  test("ModelStore torn-state recovery (round 15): a writer crash between the gbt pair's publishes leaves a half-complete key — the next access rebuilds ONLY the missing artifact, keeps the published one untouched, and serves bit-identical content") {
    import graft.sources.StoreRoot
    import graft.operators.ModelStore
    val conf = java.nio.file.Files
      .createTempDirectory("graft_torn_root").toString
    val before = spark.conf.getOption(StoreRoot.confKey)
    try {
      spark.conf.set(StoreRoot.confKey, conf)
      val stumps0 = ModelStore.gbtStumps(spark, sf).collect()
        .map(_.toSeq).toSet
      val models = java.nio.file.Paths.get(conf, "graft-models")
      val keyDir = {
        val s = java.nio.file.Files.list(models)
        try s.iterator().next() finally s.close()
      }
      assert(keyDir.getFileName.toString.startsWith("gbt_"))
      // simulate the crash: model published, stumps never landed
      StoreRoot.deleteRecursively(keyDir.resolve("stumps"))
      // sentinel inside the surviving artifact (underscore-prefixed,
      // so Spark readers ignore it): recovery must KEEP the dir
      java.nio.file.Files.writeString(
        keyDir.resolve("model").resolve("_sentinel"), "kept")
      // simulate a process restart against the same shared root
      ModelStore.forgetBuiltForTests()
      val stumps1 = ModelStore.gbtStumps(spark, sf).collect()
        .map(_.toSeq).toSet
      assert(stumps1 == stumps0,
        "recovered stumps differ from the originals — training is " +
          "deterministic, so the rebuild must be bit-identical")
      assert(java.nio.file.Files.exists(
        keyDir.resolve("model").resolve("_sentinel")),
        "the already-published artifact was rewritten — recovery must " +
          "keep it (first-committer-wins)")
      assert(java.nio.file.Files.exists(
        keyDir.resolve("stumps").resolve("_SUCCESS")),
        "the missing artifact did not land complete")
      assert(ModelStore.gbtFull(spark, sf).count() == 1)
      // torn DIR (r15 review): an artifact dir that exists WITHOUT
      // its _SUCCESS (a crashed non-atomic writer, e.g. a pre-atomic
      // build) must be healed — deleted and republished — not brick
      // the key with a rename-onto-nonempty failure forever
      java.nio.file.Files.delete(
        keyDir.resolve("stumps").resolve("_SUCCESS"))
      ModelStore.forgetBuiltForTests()
      val stumps2 = ModelStore.gbtStumps(spark, sf).collect()
        .map(_.toSeq).toSet
      assert(stumps2 == stumps0, "torn-dir recovery diverged")
      assert(java.nio.file.Files.exists(
        keyDir.resolve("stumps").resolve("_SUCCESS")),
        "the healed artifact did not land complete")
    } finally {
      ModelStore.forgetBuiltForTests()
      before match {
        case Some(v) => spark.conf.set(StoreRoot.confKey, v)
        case None => spark.conf.unset(StoreRoot.confKey)
      }
    }
  }

  test("IVM-distinct x snapshot table (H22): the support-state WAP step maintains the count-DISTINCT view exactly across chained commits") {
    import spark.implicits._
    import graft.operators.Round12bOps
    def snap(rows: Seq[(Long, String, Long)],
        renamed: Boolean): org.apache.spark.sql.DataFrame =
      if (renamed) rows.toDF("key", "st2", "cust2")
      else rows.toDF("key", "st", "cust")
    // OLD: group A has custs {1,1,2}, group B {2}
    val old = snap(Seq((1L, "A", 1L), (2L, "A", 1L), (3L, "A", 2L),
      (4L, "B", 2L)), renamed = false)
    // NEW: key2 moves to group B, key3 deleted (A loses cust 2's last
    // copy), key5 inserts cust 3 into A
    val neu = snap(Seq((1L, "A", 1L), (2L, "B", 1L), (4L, "B", 2L),
      (5L, "A", 3L)), renamed = true)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivmd_wap").toString
    val tbl = Round12bOps.ivmdTable(spark, s"$root/t")
    def view(df: org.apache.spark.sql.DataFrame) =
      Round12bOps.ivmdView(df.select("st", "cust", "cnt")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    try {
      tbl.create(Round12bOps.ivmdWithKey(Round12bOps.ivmdSupport(old)))
      val pre = view(tbl.read())
      assert(pre == Set(("A", 2L, 3L), ("B", 1L, 1L)))
      val batch = Round12bOps.ivmdDelta(old, neu)
      // mid-maintenance isolation for the support table too
      val staged = Round12bOps.ivmdStage(tbl, batch)
      assert(view(tbl.read()) == pre)
      staged.abort()
      Round12bOps.ivmdSnapshotStep(tbl, batch)
      // NEW view: A has custs {1,3} over 2 orders; B has {1,2} over 2
      assert(view(tbl.read()) == Set(("A", 2L, 2L), ("B", 2L, 2L)),
        "support maintenance != recompute")
      assert(view(tbl.readAsOf(1)) == pre)
    } finally tbl.drop()
  }
}
