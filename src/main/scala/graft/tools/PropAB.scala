package graft.tools

import graft.Harness

/** Generic per-commit A/B harness: times ONE row in ONE JVM with a
  * named per-JVM property set to "on" (= the shipped path) vs "off"
  * (the pre-change form an operator keeps behind the switch while the
  * change is measured), interleaved A/B/A/B so ambient drift hits both
  * arms equally. This is the only trustworthy before/after on a
  * machine whose ambient level moves 10-30% between JVMs (SURVEY §5).
  *
  *   sbt "runMain graft.tools.PropAB <property> q_cv_auc 8"
  *
  * Build rows rebuild cold under a fresh store root per rep
  * (Harness.run), so arms compare build cost, not cache hits.
  */
object PropAB {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: PropAB <property> [row] [reps]")
      sys.exit(2)
    }
    val prop = args(0)
    val name = args.lift(1).getOrElse("q_cv_auc")
    val reps = args.lift(2).map(_.toInt).getOrElse(8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    val row = Harness.row(name)

    def rep(form: String): Double = {
      sys.props(prop) = form
      Harness.run(spark, sfDir, row) match {
        case Harness.Ok(sec) => sec
        case f: Harness.Failed => sys.error(s"$name ($prop=$form) failed: $f")
      }
    }
    val out =
      try {
        // warm both plan shapes' codegen
        rep("on"); rep("off")
        (1 to reps).map(_ => (rep("on"), rep("off")))
      } finally sys.props.remove(prop)
    println(s"""{"prop":"$prop","query":"$name","sf":"$sfDir","reps":[""" +
      out.map { case (a, b) =>
        f"""{"on":$a%.3f,"off":$b%.3f}""" }.mkString(",") +
      s"""],"floor_on":${f"${out.map(_._1).min}%.3f"}""" +
      s""","floor_off":${f"${out.map(_._2).min}%.3f"}}""")
    spark.stop()
  }
}
