package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * full `sbt test` run fast). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        graft.TmpDirs.create("graft-wh"))
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the session confs `kvs` set, and unsets them after. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Runs `df` and returns the physical plan it ran: AQE's final plan. */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  /** Number of Spark jobs `body` launches, counted through a job group
    * named `group` (use a name unique to the test). */
  def jobsFor(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    // job-start events land on the status store asynchronously — poll
    // until the count is stable, never a bare sleep
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime + 5L * 1000 * 1000 * 1000
    var last = tracker.getJobIdsForGroup(group).length
    var stable = 0
    while (System.nanoTime < deadline && stable < 5) {
      Thread.sleep(50)
      val cur = tracker.getJobIdsForGroup(group).length
      if (cur == last) stable += 1 else { last = cur; stable = 0 }
    }
    last
  }
}
