package graft

/** Dev tool: print the formatted physical plan for registry queries.
  *
  * Usage (CP = target/scala-2.13/classes plus the /opt/spark jars):
  *   java -cp "$CP" graft.ShowPlan <sfDir> <substr> [substr ...]
  *
  * Every `.explain("formatted")` quoted in PLANS.md should be
  * reproducible through this main, so plan evidence never depends on
  * an ad-hoc scratch file. Runs on [[LocalSession]], the session
  * Verify and Bench run on, so the printed plan is the one they would
  * execute.
  */
object ShowPlan {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.ShowPlan <sfDir> <querySubstring> [more...]")
    val sfDir = args.head
    val spark = LocalSession(defaultCpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = args.tail
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.exists(n.contains))
    if (names.isEmpty)
      System.err.println(s"no registry query matches: ${wanted.mkString(", ")}")
    for (n <- names) {
      println(s"===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // format AFTER AQE-independent planning; "formatted" shows
      // PushedFilters / ReadSchema / WholeStageCodegen spans
      df.explain("formatted")
    }
    spark.stop()
  }
}
