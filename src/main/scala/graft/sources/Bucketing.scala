package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed (pre-partitioned) tables for shuffle-free co-located joins —
  * the 100 TB answer to "this join shuffles the fact table every run".
  * Writing both sides bucketed+sorted on the join key lets Catalyst's
  * SortMergeJoin consume the bucket layout directly: zero Exchange in the
  * plan, verified by BucketingSpec. The reference has no analogue (its
  * single-node storage never shuffles); this is Spark-native physical
  * design (SURVEY §7 "bucketing for co-located joins").
  */
object Bucketing {

  /** Persists `df` as a bucketed, per-bucket-sorted table in the session
    * catalog. Re-running overwrites. */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    buckets: Int): Unit = {
    // managed-table overwrite refuses a leftover location (e.g. from a
    // previous session) — clear both metadata and directory first
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = df.sparkSession.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = java.nio.file.Paths.get(warehouse, table)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(loc))(
        _.iterator.asScala.toVector).reverse
        .foreach(java.nio.file.Files.delete)
    }
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Join two tables bucketed on the same key with the same bucket count:
    * planned as an exchange-free SortMergeJoin. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    keyCol: String): DataFrame =
    read(spark, left).join(read(spark, right), keyCol)
}
