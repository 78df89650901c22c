package perfbench

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Self-check of the timing sink, run by `perfbench/test_perfbench.py`.
  *
  * A query whose projected column throws must fail under the harness's
  * sink. Under `count()` Catalyst prunes the column and the same query
  * "succeeds", which is how a `count()`-timed benchmark records a broken
  * query as a fast one. Prints one `name=true|false` line per probe.
  */
object SinkCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    spark.udf.register("must_fail", (x: Long) => {
      if (x >= 0) throw new IllegalStateException("projected column failed")
      x
    })
    val df = spark.range(10).selectExpr("id", "must_fail(id) AS broken")
    println(s"count_succeeds=${Try(df.count()).isSuccess}")
    println(s"sink_succeeds=${Try(Harness.sink(df)).isSuccess}")
    println(s"sink_succeeds_on_good=${Try(Harness.sink(spark.range(10).toDF())).isSuccess}")
    spark.stop()
  }
}
