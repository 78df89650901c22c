package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of the tool mains (Verify, Bench, ShowPlan,
  * LshBuildCost, SnapshotGen), so a plan or timing taken through any of
  * them is the one the others run: `local[cpus]` with `cpus` shuffle
  * partitions, UTC, no UI, a 2g driver result ceiling and
  * [[graft.plans.GraftExtensions]]. `cpus` is `SPARK_GRAFT_CPUS` when set,
  * else the calling main's default. Logs at WARN. */
object LocalSession {
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
