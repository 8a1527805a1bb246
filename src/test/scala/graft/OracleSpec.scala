package graft

import org.apache.spark.sql.functions.expr

/** The oracle gate inside tier-1: Verify's dump of every query at
  * sf0.001, hash-compared against DuckDB by `tools/check.py` (read from
  * the shared `QuerySweep`), plus the failure path every gate must take
  * when a query throws. */
class OracleSpec extends SparkSuite {

  private def passCount(lines: Seq[String]): Int = {
    val summary = """== (\d+) pass, (\d+) fail ==""".r
    lines.collectFirst { case summary(p, _) => p.toInt }
      .getOrElse(fail(s"no check.py summary in:\n${lines.takeRight(5).mkString("\n")}"))
  }

  test("every oracle query passes Verify + check.py at sf0.001") {
    val sweep = QuerySweep(spark, sf).get
    assert(sweep.errors.isEmpty, s"Verify.run failures: ${sweep.errors}")
    assert(sweep.checkExit == 0,
      sweep.checkLines.filter(_.startsWith("FAIL")).mkString("\n"))
    assert(passCount(sweep.checkLines) == SparkEntry.oracleSql.size)
  }

  test("a throwing query fails Harness.run, Verify.run and check.py") {
    val name = "oracle_spec_throws"
    val throwing: Harness.Plan = (s, _) =>
      s.range(1).toDF().filter(expr("assert_true(id < 0, 'injected failure') IS NULL"))
    Harness.run(spark, sf, Harness.Query(name, throwing)) match {
      case Harness.Failed(_, msg) => assert(msg.contains("injected failure"))
      case ok => fail(s"expected a failure, got $ok")
    }
    QuerySweep.inTempDirs(spark) { out =>
      val errors = Verify.run(spark, Map(name -> throwing), sf,
        out.toString, Some(Set(name)))
      assert(errors.map(_._1) == Seq(name))
      val (code, lines) = QuerySweep.check(sf, out)
      assert(code == 1)
      assert(lines.contains(s"FAIL $name: no output"))
    }
  }

  test("a cold build row leaves the shared store its readers probe intact") {
    for (q <- Seq("bm25_standing", "phrase_standing")) {
      val before = SparkEntry.queries(q)(spark, sf).count()
      val build = Harness.buildRows.find(_.readers(q)).get
      assert(Harness.run(spark, sf, build).isInstanceOf[Harness.Ok])
      assert(SparkEntry.queries(q)(spark, sf).count() == before && before > 0, q)
    }
  }

  test("build-row registry: unique names, every reader is a query") {
    val names = Harness.buildRows.map(_.name)
    assert(names.distinct == names)
    assert((names.toSet & SparkEntry.queries.keySet).isEmpty)
    val unknown = Harness.buildRows
      .flatMap(b => b.readers -- SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"build-row readers that are not queries: $unknown")
  }
}
