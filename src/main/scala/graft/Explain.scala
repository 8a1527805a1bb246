package graft

/** Plan-review utility: prints the formatted physical plan for the
  * named queries (or all). Used to audit pushdown/broadcast/shuffle
  * per SURVEY.md §5. Usage: runMain graft.Explain [sfDir] [name...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
