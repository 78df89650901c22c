package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Pins the loud-failure contract of the driver artifacts (VERDICT r8 #6):
  * a query that throws must surface as a RED row in CORRECTNESS (sentinel
  * error parquet, never an absent dir) and as -1 in BENCH (never its
  * time-to-exception). */
class ArtifactGuardSpec extends SparkSpec {

  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException("deliberately broken query")

  test("Verify.dumpOne writes a sentinel error parquet when a query throws") {
    val out = graft.TmpDirs.create("verify_guard")
    val ok = Verify.dumpOne(spark, "broken_query", boom, "/nonexistent", out)
    assert(!ok)
    val sentinel = spark.read.parquet(s"$out/broken_query")
    assert(sentinel.columns.toSeq == Seq("error"))
    val msg = sentinel.collect().map(_.getString(0)).mkString
    assert(msg.contains("QUERY FAILED") && msg.contains("deliberately broken"))
  }

  test("Verify.dumpOne writes the real result when the query succeeds") {
    val out = graft.TmpDirs.create("verify_guard")
    val good: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq((1L, "a")).toDF("k", "v") }
    assert(Verify.dumpOne(spark, "fine_query", good, "/nonexistent", out))
    assert(spark.read.parquet(s"$out/fine_query").count() == 1)
  }

  test("Bench.bestTime records -1 when every attempt throws") {
    assert(Bench.bestTime(3, "boom")(() => sys.error("no")) == -1.0)
  }

  test("Bench records -1 for a query whose projected column throws") {
    spark.udf.register("artifact_guard_fail", (x: Long) => {
      if (x >= 0) throw new IllegalStateException("projected column failed")
      x
    })
    val broken = spark.range(10).selectExpr("id", "artifact_guard_fail(id) AS broken")
    // count() prunes the throwing column out of its plan and succeeds …
    assert(broken.count() == 10)
    // … the timed sink evaluates it, so the failure is recorded
    assert(Bench.bestTime(1, "projected")(() => Bench.sink(broken)) == -1.0)
    assert(Bench.bestTime(1, "fine")(
      () => Bench.sink(spark.range(10).toDF())) >= 0.0)
  }

  test("Bench.bestTime records a nonnegative duration when any attempt works") {
    var first = true
    val t = Bench.bestTime(2, "flaky") { () =>
      if (first) { first = false; sys.error("cold start") }
    }
    assert(t >= 0.0)
  }

  test("Bench records a sorted query's jobs and -1 jobs for a failed query") {
    val counter = new Bench.JobCounter(spark)
    try {
      val sorted = spark.range(100).groupBy((col("id") % 7).as("k")).count()
        .orderBy(col("k"))
      val (t, jobs) = Bench.timeAndJobs(counter, 1, "sorted")(
        () => Bench.sink(sorted))
      assert(t >= 0.0 && jobs >= 1, s"t=$t jobs=$jobs")
      assert(Bench.timeAndJobs(counter, 2, "broken")(
        () => sys.error("no")) == ((-1.0, -1)))
    } finally counter.close()
  }
}
