package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** [[graft.plans.SortInPlace]]: a global sort over a small materialized
  * stage runs in place (no range-sampling job, no extra shuffle stage),
  * with the rows and row order of the plan Spark runs without AQE; every
  * shape where AQE would not read the sort's input as one partition keeps
  * its range exchange. */
class SortInPlaceSpec extends SparkSpec {
  private def aqeOff(df: => DataFrame): Seq[Row] =
    withConf("spark.sql.adaptive.enabled" -> "false")(df.collect().toSeq)

  /** Job counts, through [[Bench.sink]], of the five llm_pipeline queries:
    * the shuffle stage(s) below the sort plus the result job. */
  private val expectedJobs = Seq("d1_exact_dedup" -> 2, "g1_gopher_quality" -> 2,
    "e4_knn_lsh" -> 3, "e13_hard_negatives" -> 3, "ir3_phrase_query" -> 3)

  for ((name, jobs) <- expectedJobs) test(s"$name sorts in place in $jobs jobs") {
    val fn = SparkEntry.queries(name)
    fn(spark, sf).collect()   // warm any driver-side index cache
    val got = jobsFor(s"sort-in-place-$name")(Bench.sink(fn(spark, sf)))
    assert(got == jobs, s"$name ran $got jobs")
    val df = fn(spark, sf)
    assert(!finalPlan(df).contains("rangepartitioning"))
    assert(df.collect().toSeq == aqeOff(fn(spark, sf)))
  }

  private def keyed: DataFrame = keyed(4)

  private def keyed(splits: Int): DataFrame = spark.range(0, 400, 1, splits)
    .select((col("id") % 37).as("k"), col("id").as("v"))

  /** 37 per-key sums: one small aggregate stage. */
  private def sums: DataFrame =
    keyed.groupBy(col("k")).agg(sum(col("v")).as("s"))

  test("a Spread.by-pinned stage keeps its range exchange and its 4 tasks") {
    // one input split: only the stages that read the pinned barrier run
    // 4 tasks
    def pinned = Spread.by(keyed(1), col("k")).orderBy(col("v").desc)
    assert(finalPlan(pinned).contains("rangepartitioning"))
    val group = "sort-in-place-pinned"
    jobsFor(group)(Bench.sink(pinned))
    val tracker = spark.sparkContext.statusTracker
    val tasks = tracker.getJobIdsForGroup(group).toSeq
      .flatMap(j => tracker.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq))
      .flatMap(s => tracker.getStageInfo(s).map(_.numTasks))
    assert(tasks.contains(4), s"stage task counts $tasks")
    assert(pinned.collect().map(_.getLong(1)).toSeq == (0L until 400L).reverse)
  }

  test("repartitionByRange is left to its range exchange") {
    val df = sums.repartitionByRange(4, col("k"))
    assert(finalPlan(df).contains("rangepartitioning"))
    assert(df.rdd.getNumPartitions == 4)
  }

  test("an explode above the last stage keeps the range exchange") {
    val df = keyed.groupBy(col("k")).agg(collect_list(col("v")).as("vs"))
      .select(col("k"), explode(col("vs")).as("v"))
      .orderBy(col("v"))
    assert(finalPlan(df).contains("rangepartitioning"))
    assert(df.collect().map(_.getLong(1)).toSeq == (0L until 400L))
  }

  test("a stage above the one-partition size keeps the range exchange") {
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64") {
      val df = sums.orderBy(col("s"))
      assert(finalPlan(df).contains("rangepartitioning"))
      val got = df.collect().map(_.getLong(1)).toSeq
      assert(got == got.sorted && got.size == 37)
    }
  }

  test("coalescePartitions disabled keeps the range exchange") {
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      assert(finalPlan(sums.orderBy(col("s"))).contains("rangepartitioning"))
    }
  }

  test("the same small aggregate without a barrier sorts in place") {
    val df = sums.orderBy(col("s"))
    assert(!finalPlan(df).contains("rangepartitioning"))
    assert(df.collect().toSeq == aqeOff(sums.orderBy(col("s"))))
  }
}
