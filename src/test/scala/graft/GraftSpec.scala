package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all graft specs: one local session per suite. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it started on this thread:
    * the jobs run under a fresh job group, then a fence job in a second
    * group marks the end of their events on the listener bus. */
  protected def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft_jobs_${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .map(p => String.valueOf(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(s"$group-fence") && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(seen.contains(s"$group-fence"), "fence job never reported")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class EntrySpec extends SparkSuite {
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has a runnable plan at sf0.001") {
    val sweep = QuerySweep(spark, sf).get
    assert(sweep.errors.isEmpty, s"plans that failed to run: ${sweep.errors}")
    SparkEntry.queries.keys.foreach { name =>
      assert(sweep.columns.getOrElse(name, 0) > 0, s"$name has no columns")
    }
  }
}

class AnalyticsSpec extends SparkSuite {
  import graft.operators.Analytics
  import org.apache.spark.sql.functions._

  test("q1 pricing summary: groups and totals") {
    val rows = Analytics.q1PricingSummary(spark, sf).collect()
    assert(rows.length >= 4) // 2 flags x 2 statuses at least
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total > 0 && total <= 6000)
    // exact decimal aggregation: sum_qty must be an exact multiple of 0.01
    rows.foreach { r =>
      val sq = r.getAs[Double]("sum_qty")
      assert((sq * 100).round / 100.0 == sq)
    }
  }

  test("B12: approx_count_distinct within 5% of exact") {
    val li = Tables.lineitem(spark, sf)
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).collect().head
    val exact = r.getAs[Long]("exact").toDouble
    val approx = r.getAs[Long]("approx").toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("salted aggregation equals plain aggregation") {
    val li = Tables.lineitem(spark, sf)
    val plain = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Analytics.qSkewSalted(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("n_lines")).toMap
    assert(plain == salted)
  }

  test("sessionization: no within-session gap exceeds 30 min") {
    val sess = Analytics.qEventsSessionize(spark, sf)
    // every session's span / (n_events-1) can exceed 30min only across
    // events; verify via recomputing gaps would duplicate the plan —
    // instead check structural invariants:
    val bad = sess.filter(col("session_end") < col("session_start")).count()
    assert(bad == 0)
    assert(sess.groupBy("user_id", "session_seq").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("approx_percentile tracks exact percentile within 2%") {
    val li = Tables.lineitem(spark, sf)
    val r = li.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx"))
      .collect().head
    val exact = r.getDouble(0); val approx = r.getDouble(1)
    assert(math.abs(approx - exact) / exact < 0.02, s"approx=$approx exact=$exact")
  }

  test("top-k per group emits at most 3 rows per brand, rank-ordered") {
    val out = Analytics.qTopkPerGroup(spark, sf)
    assert(out.groupBy("p_brand").count().filter(col("count") > 3).count() == 0)
    assert(out.filter(col("price_rank") > 3).count() == 0)
  }
}
