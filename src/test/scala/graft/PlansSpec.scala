package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.plans.{AsOf, GraftExtensions}

class AsOfSpec extends SparkSuite {
  import spark.implicits._

  test("as-of join picks the latest right row at or before the left time") {
    val trades = Seq(
      ("A", 10L, "t1"), ("A", 20L, "t2"), ("A", 5L, "t0"), ("B", 7L, "t3"))
      .toDF("sym", "t_ts", "trade")
    val quotes = Seq(
      ("A", 8L, 100.0), ("A", 15L, 101.0), ("B", 9L, 50.0))
      .toDF("q_sym", "q_ts", "px")
    val out = AsOf.join(trades, quotes, "sym", "q_sym", "t_ts", "q_ts")
      .select($"trade", $"px").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("t0").isEmpty)          // before any quote
    assert(out("t1").contains(100.0))  // quote@8 <= 10
    assert(out("t2").contains(101.0))  // quote@15 <= 20
    assert(out("t3").isEmpty)          // B's only quote is after 7
  }

  test("as-of join is inclusive on equal timestamps") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 10L, "hit")).toDF("rk", "rts", "v")
    val out = AsOf.join(l, r, "k", "rk", "ts", "rts").collect()
    assert(out.head.getAs[String]("v") == "hit")
  }
}

class AsOfExecSpec extends SparkSuite {
  import spark.implicits._
  import graft.plans.AsOfExec

  test("custom exec result equals the window lowering on real tables") {
    val events = Tables.events(spark, sf).select($"event_id", $"user_id", $"ts")
    val orders = Tables.orders(spark, sf)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(org.apache.spark.sql.functions.max($"o_orderkey").as("o_orderkey"))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
    val a = AsOfExec.join(events, orders, "user_id", "o_custkey", "ts", "o_orderdate")
      .select($"event_id", $"o_orderkey").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val b = graft.plans.AsOf.join(events, orders, "user_id", "o_custkey", "ts", "o_orderdate")
      .select($"event_id", $"o_orderkey").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("physical plan uses AsOfJoinExec with one exchange+sort per side") {
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c")).toDF("k", "t", "v")
    val r = Seq((1L, 8L, 100.0), (1L, 15L, 101.0)).toDF("rk", "rt", "px")
    val df = AsOfExec.join(l, r, "k", "rk", "t", "rt")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix; AQE prints the final
    // and initial plans — count exchanges in the final section only
    val finalSection = plan.split("== Initial Plan ==").head
    assert(finalSection.contains("AsOfJoin"), plan)
    assert(!finalSection.contains("Window"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(finalSection).length == 2, plan)
  }

  test("edge cases: equal timestamps inclusive, unmatched keys null, " +
    "many keys across partitions") {
    val n = 500
    val l = (1 to n).map(i => (i.toLong % 37, i.toLong * 10, i.toLong)).toDF("k", "t", "lid")
    val r = (1 to n / 2).map(i => (i.toLong % 37, i.toLong * 20, i.toLong)).toDF("rk", "rt", "rid")
    val exec = AsOfExec.join(l.repartition(7), r.repartition(3), "k", "rk", "t", "rt")
      .select($"lid", $"rid").collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    val window = graft.plans.AsOf.join(l, r, "k", "rk", "t", "rt")
      .select($"lid", $"rid").collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(exec == window)
    // inclusive-equality case
    val eq = AsOfExec.join(
      Seq((1L, 10L)).toDF("k", "t"), Seq((1L, 10L, "hit")).toDF("rk", "rt", "v"),
      "k", "rk", "t", "rt").collect().head
    assert(eq.getAs[String]("v") == "hit")
  }
}

class ExtensionsSpec extends SparkSuite {

  private lazy val extSpark: SparkSession = {
    // build a sibling session (shared SparkContext) with the graft
    // extensions installed. Initialize the shared base session FIRST:
    // otherwise its lazy getOrCreate could resolve to the extensions
    // session we are about to create (default-session capture).
    val base = SparkSuite.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(SparkSuite.session)
    SparkSession.setActiveSession(SparkSuite.session)
    s
  }

  test("extension-injected SQL functions resolve and compute") {
    val r = extSpark.sql(
      """SELECT graft_hamming64(graft_simhash64('the quick brown fox'),
        |                       graft_simhash64('the quick brown fox')) AS d,
        |       graft_rolling_hash64('abc') AS h,
        |       size(graft_shingle_hashes('a b c d', 2)) AS n""".stripMargin)
      .collect().head
    assert(r.getAs[Int]("d") == 0)
    assert(r.getAs[Long]("h") == graft.functions.GraftHash.rolling64(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    assert(r.getAs[Int]("n") == 3)
  }

  // parquet-backed column: non-foldable input, so only the injected
  // rule can collapse the self-comparison
  private def selfHamming(s: SparkSession) =
    Tables.documents(s, sf)
      .select(gf.hamming64(gf.rolling_hash64(col("text")),
        gf.rolling_hash64(col("text"))).as("d"))

  test("SimplifySelfSimilarity folds hamming(x,x) to a literal 0") {
    val df = selfHamming(extSpark)
    val optimized = df.queryExecution.optimizedPlan.toString
    // nullable input folds to If(IsNull(...), null, 0) — hamming gone
    assert(!optimized.contains("graft_hamming64"), optimized)
    assert(df.collect().forall(_.getInt(0) == 0))
  }

  test("ApproxDistinctRewrite swaps count(DISTINCT) for HLL++ only when enabled") {
    def q = Tables.orders(extSpark, sf)
      .groupBy(col("o_orderstatus"))
      .agg(count_distinct(col("o_custkey")).as("nd"))
    val key = "spark.graft.approxDistinct.enabled"
    try {
      extSpark.conf.set(key, "false")
      val exactPlan = q.queryExecution.optimizedPlan.toString
      assert(!exactPlan.contains("approx_count_distinct"), exactPlan)
      val exact = q.collect().map(r =>
        r.getAs[String]("o_orderstatus") -> r.getAs[Long]("nd")).toMap
      extSpark.conf.set(key, "true")
      val approxPlan = q.queryExecution.optimizedPlan.toString
      assert(approxPlan.contains("approx_count_distinct"), approxPlan)
      val approx = q.collect().map(r =>
        r.getAs[String]("o_orderstatus") -> r.getAs[Long]("nd")).toMap
      // HLL++ at the default 5% rsd stays within 10% of exact here
      assert(approx.keySet == exact.keySet)
      approx.foreach { case (k, a) =>
        val e = exact(k)
        assert(math.abs(a - e) <= math.max(2L, (0.1 * e).toLong),
          s"$k: approx $a vs exact $e")
      }
    } finally extSpark.conf.unset(key)
  }

  test("extension session plans AsOfJoinNode without imperative registration") {
    import extSpark.implicits._
    // no AsOfExec.ensureStrategy call: the injected planner strategy
    // must resolve the custom node on its own
    val l = Seq((1L, 10L, "x")).toDF("k", "t", "v")
    val r = Seq((1L, 5L, 9.0)).toDF("rk", "rt", "px")
    val node = graft.plans.AsOfJoinNode(
      org.apache.spark.sql.graftshim.Bridge.planOf(l),
      org.apache.spark.sql.graftshim.Bridge.planOf(r),
      org.apache.spark.sql.graftshim.Bridge.planOf(l).output.head,
      org.apache.spark.sql.graftshim.Bridge.planOf(r).output.head,
      org.apache.spark.sql.graftshim.Bridge.planOf(l).output(1),
      org.apache.spark.sql.graftshim.Bridge.planOf(r).output(1))
    val out = org.apache.spark.sql.graftshim.Bridge.ofRows(extSpark, node).collect()
    assert(out.length == 1 && out.head.getDouble(5) == 9.0)
  }

  test("rule does not fire without the extension installed") {
    val optimized = selfHamming(spark).queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_hamming64"), optimized)
  }

  test("H16: marked affine projection executes COLUMNAR over the parquet scan, bit-equal to the row twin") {
    import graft.plans.GraftColumnarAffineExec
    val docs = Tables.documents(extSpark, sf)
    val q = docs.select(col("doc_id"),
      (col("n_chars") * 3L + 7L).as("graft_vscore"))
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val plan = q.queryExecution.executedPlan
    val nodes = plan.collect { case g: GraftColumnarAffineExec => g }
    assert(nodes.nonEmpty, s"columnar rule did not fire:\n$plan")
    // the path genuinely ran batch-wise: metrics counted batches/rows
    assert(nodes.head.metrics("numBatches").value > 0, "no batches processed")
    assert(nodes.head.metrics("numRows").value == docs.count())
    // the row transition sits ABOVE our node (arithmetic stayed columnar)
    assert(plan.toString.contains("ColumnarToRow"), plan.toString)
    // unmarked twin takes the ordinary row/codegen path...
    val twinDf = docs.select(col("doc_id"),
      (col("n_chars") * 3L + 7L).as("vscore"))
    assert(twinDf.queryExecution.executedPlan.collect {
      case g: GraftColumnarAffineExec => g }.isEmpty, "rule overreached")
    // ...and agrees bit-for-bit
    val twin = twinDf.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(twin))
    // base session (no extension): rule absent there too
    assert(Tables.documents(spark, sf)
      .select((col("n_chars") * 3L + 7L).as("graft_vscore"))
      .queryExecution.executedPlan.collect {
        case g: GraftColumnarAffineExec => g }.isEmpty)
  }

  test("H16: the affine lane follows the expression's eval mode — an ANSI overflow raises the row path's error class; try_add/try_multiply stay on the row path and return null") {
    import graft.plans.GraftColumnarAffineExec
    import org.apache.spark.SparkThrowable
    val dir = java.nio.file.Files.createTempDirectory("graft_affine_mode")
      .resolve("t").toString
    // x * 3 + 7 overflows a long for every row
    extSpark.range(0, 8).select((col("id") + Long.MaxValue / 2).as("x"))
      .write.parquet(dir)
    def columnar(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collect {
        case g: GraftColumnarAffineExec => g }.nonEmpty
    // the error class of the first ArithmeticException behind a failed
    // collect ("none" if it succeeded, "plain" if it carries none)
    def overflowClass(df: org.apache.spark.sql.DataFrame): String =
      try { df.collect(); "none" }
      catch {
        case e: Throwable =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .collectFirst { case a: ArithmeticException => a } match {
            case Some(t: SparkThrowable) => String.valueOf(t.getCondition)
            case Some(_) => "plain"
            case None => throw e
          }
      }
    val key = "spark.sql.ansi.enabled"
    val before = extSpark.conf.getOption(key)
    try {
      extSpark.conf.set(key, "true")
      val x = extSpark.read.parquet(dir)
      val lane = x.select((col("x") * 3L + 7L).as("graft_vscore"))
      val row = x.select((col("x") * 3L + 7L).as("vscore"))
      assert(columnar(lane) && !columnar(row))
      val rowClass = overflowClass(row)
      assert(rowClass == "ARITHMETIC_OVERFLOW", rowClass)
      assert(overflowClass(lane) == rowClass,
        "the columnar lane must fail an ANSI overflow like the row path")
      // TRY semantics are the row path's: the rule leaves them alone
      val tried = x.select(try_add(try_multiply(col("x"), lit(3L)), lit(7L))
        .as("graft_vscore"))
      assert(!columnar(tried), tried.queryExecution.executedPlan.toString)
      assert(tried.collect().forall(_.isNullAt(0)))
    } finally before match {
      case Some(v) => extSpark.conf.set(key, v)
      case None => extSpark.conf.unset(key)
    }
  }

  test("H16: vectorized string-hash lane computes the rolling hash batch-wise, bit-equal to the codegen row path") {
    import graft.plans.GraftColumnarAffineExec
    val docs = Tables.documents(extSpark, sf)
    val q = docs.select(col("doc_id"),
      gf.rolling_hash64(col("text")).as("graft_vhash"))
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val nodes = q.queryExecution.executedPlan.collect {
      case g: GraftColumnarAffineExec => g }
    assert(nodes.nonEmpty, q.queryExecution.executedPlan.toString)
    assert(nodes.head.metrics("numBatches").value > 0)
    // unmarked alias -> the ordinary whole-stage-codegen row path
    val twinDf = docs.select(col("doc_id"),
      gf.rolling_hash64(col("text")).as("h"))
    assert(twinDf.queryExecution.executedPlan.collect {
      case g: GraftColumnarAffineExec => g }.isEmpty)
    val twin = twinDf.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(twin))
  }
}
