package graft

import org.apache.spark.sql.functions._
import graft.operators.EtlOps
import graft.sources.Sources

/** Per-key attempt counters for the fake fetcher (same-JVM in local
  * mode, so the closure sees this shared map). */
object FetchCounters {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

/** Wall-clock request timestamps for the rate-limit spec (same-JVM). */
object FetchTimes {
  val times = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
}

class EtlSpec extends SparkSuite {

  test("enrich adds the four reference metadata columns") {
    val out = EtlOps.etlEnrich(spark, sf)
    assert(out.columns.toSet ==
      Set("loc_id", "doc_id", "lang", "n_chars", "current_ind", "src_filename", "lst_updt_ts"))
    val r = out.filter(col("doc_id") === 7).collect().head
    assert(r.getAs[String]("loc_id") == "SRC7")
    assert(r.getAs[String]("current_ind") == "Y")
    assert(r.getAs[String]("src_filename") == "src7_modified.csv")
  }

  test("normalizeColumns matches the reference's header cleanup") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("Rate Rule (USD)", "loc-id")
    assert(EtlOps.normalizeColumns(df).columns.toSeq == Seq("RATE_RULE_USD", "LOCID"))
  }

  test("filename ts parses MMddyyyy_HH-mm-ss like the reference") {
    val r = EtlOps.etlFilenameTs(spark, sf).filter(col("doc_id") === 0).collect().head
    // doc_id 0 -> month 1, day 1, 00:00:00
    assert(r.getAs[java.time.LocalDateTime]("file_ts").toString == "2024-01-01T00:00")
  }

  test("scd current flag marks exactly one current row per key") {
    val out = EtlOps.etlScdCurrent(spark, sf)
    val perKey = out.filter(col("current_ind") === "Y")
      .groupBy("o_custkey").count().filter(col("count") =!= 1).count()
    assert(perKey == 0)
  }

  test("change detection: mismatch rows are customers with post-1997 activity") {
    val out = EtlOps.etlChangeMismatch(spark, sf)
    val bad = out.filter(col("lst_optimization") < lit("1997-01-01").cast("timestamp_ntz")).count()
    assert(bad == 0)
  }

  test("latest-wins dedup keeps one row per key, highest order value") {
    val out = EtlOps.etlDedupKey(spark, sf)
    assert(out.groupBy("o_custkey").count().filter(col("count") > 1).count() == 0)
  }

  test("pipe csv source captures filename metadata at scan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "HOTELA_06152024_10-30-00.csv")
    val w = new java.io.PrintWriter(f)
    w.println("rate|room"); w.println("100.5|STD"); w.println("88.0|DLX"); w.close()
    val df = Sources.readDelimited(spark, dir.getAbsolutePath)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("loc_id") == "HOTELA"))
    assert(rows.forall(_.getAs[String]("src_filename") == "HOTELA_06152024_10-30-00.csv"))
    assert(df.filter(col("file_ts") === lit("2024-06-15 10:30:00").cast("timestamp")).count() == 2)
  }

  test("partitioned parquet sink round-trips with partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toFile.getAbsolutePath
    val docs = Tables.documents(spark, sf).limit(100)
    Sources.writePartitioned(EtlOps.enrich(docs), dir, Seq("loc_id"), mode = "overwrite")
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    // partition filter must prune at the scan (PartitionFilters), not
    // post-scan — the 100 TB difference between reading one directory
    // and reading everything
    val one = back.filter(col("loc_id") === "SRC1")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(loc_id"), scan)
    assert(one.count() > 0)
  }

  test("orc sink/source round-trips with predicate pushdown") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toFile.getAbsolutePath
    val docs = Tables.documents(spark, sf).limit(200)
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 200)
    val filtered = back.filter(col("n_chars") > 300).select("doc_id", "n_chars")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("n_chars"), scan)
    assert(filtered.count() ==
      docs.filter(col("n_chars") > 300).count())
  }

  test("json state round-trip (optimizations.json analog)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toFile.getAbsolutePath + "/state"
    val state = Seq(("HOTELA", "2024-01-01 10:00"), ("HOTELB", "2024-02-02 11:00"))
      .toDF("hotel_cd", "lst_optimization")
    Sources.writeJsonState(state, dir)
    val back = Sources.readJsonState(spark, dir)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("hotel_cd", "lst_optimization"))
  }

  test("json state written by graft reads back with its own schema and no inference job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_json3").toFile.getAbsolutePath + "/state"
    val state = Seq(("HOTELA", 12, 99.5), ("HOTELB", 3, 120.0)).toDF("hotel_cd", "n_rooms", "avg_rate")
    Sources.writeJsonState(state, dir)
    val (back, jobs) = withJobCount(Sources.readJsonState(spark, dir))
    assert(jobs == 0)
    assert(back.schema.map(f => f.name -> f.dataType) == state.schema.map(f => f.name -> f.dataType))
    assert(back.collect().toSet == state.collect().toSet)
  }

  test("json state reads the reference's pretty-printed array layout") {
    val f = java.nio.file.Files.createTempDirectory("graft_json2").resolve("optimizations.json")
    java.nio.file.Files.writeString(f,
      """[
        |  {"hotel_cd": "SAMPLE", "lst_optimization": "2024-01-0112:00"},
        |  {"hotel_cd": "OTHER", "lst_optimization": "2024-02-0209:30"}
        |]""".stripMargin)
    val back = Sources.readJsonState(spark, f.toString, multiLine = true)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("hotel_cd", "lst_optimization"))
  }

  test("distributed fetch: retries flaky keys, ledgers permanent failures") {
    import spark.implicits._
    import graft.sources.ScrapeOps
    val keys = (1 to 100).map(i => s"HOTEL$i").toDS().repartition(4)
    // deterministic fake fetcher: every 5th key fails on attempt 1
    // (recoverable), every 10th key always fails (permanent)
    val fetcher: String => Array[Byte] = { key =>
      val n = key.stripPrefix("HOTEL").toInt
      if (n % 10 == 0) throw new IllegalStateException("site down")
      val attempt: Int = FetchCounters.counts.merge(key, 1,
        (a: Integer, b: Integer) => Integer.valueOf(a + b))
      if (n % 5 == 0 && attempt == 1) throw new RuntimeException("timeout")
      s"payload:$key".getBytes("UTF-8")
    }
    val out = ScrapeOps.fetchAll(keys, fetcher, maxAttempts = 3).collect()
    assert(out.length == 100)
    val byKey = out.map(r => r.key -> r).toMap
    assert(byKey("HOTEL7").ok && byKey("HOTEL7").attempts == 1)
    assert(byKey("HOTEL15").ok && byKey("HOTEL15").attempts == 2) // flaky, recovered
    assert(!byKey("HOTEL20").ok && byKey("HOTEL20").attempts == 3) // permanent
    assert(byKey("HOTEL20").error.contains("site down"))
    assert(new String(byKey("HOTEL3").payload, "UTF-8") == "payload:HOTEL3")
    val failed = out.filter(!_.ok).map(_.key).toSet
    assert(failed == (10 to 100 by 10).map(i => s"HOTEL$i").toSet)
  }

  test("distributed fetch: rate limit spaces EVERY request, not just retries") {
    import spark.implicits._
    import graft.sources.ScrapeOps
    // 4 keys in ONE partition; record each request's wall-clock time.
    val keys = (1 to 4).map(i => s"RATE$i").toDS().coalesce(1)
    FetchTimes.times.clear()
    val fetcher: String => Array[Byte] = { key =>
      FetchTimes.times.add(System.currentTimeMillis())
      s"ok:$key".getBytes("UTF-8")
    }
    val delayMs = 120L
    val out = ScrapeOps.fetchAll(keys, fetcher, maxAttempts = 1, delayMs = delayMs).collect()
    assert(out.length == 4 && out.forall(_.ok))
    val ts = {
      val a = new java.util.ArrayList(FetchTimes.times)
      java.util.Collections.sort(a)
      (0 until a.size).map(a.get(_).longValue())
    }
    assert(ts.size == 4)
    // every consecutive pair of first-attempt requests >= delayMs apart
    // (small tolerance for Thread.sleep/currentTimeMillis granularity)
    ts.zip(ts.tail).foreach { case (a, b) =>
      assert(b - a >= delayMs - 20,
        s"requests only ${b - a}ms apart; politeness budget is ${delayMs}ms")
    }
  }

  test("retry ledger caps attempts at 3 per user, time-ordered") {
    val out = EtlOps.etlRetryLedger(spark, sf).collect()
    val byUser = out.groupBy(_.getAs[Long]("user_id"))
    assert(byUser.values.forall(_.length <= 3))
    byUser.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("attempt_no"))
      val ts = sorted.map(_.getAs[java.time.LocalDateTime]("ts"))
      assert(ts.zip(ts.tail).forall { case (a, b) => !a.isAfter(b) })
    }
  }
}
