package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType,
  TimestampType}

/** The one parquet schema memo ([[ParquetSchemas]]): a re-read runs no
  * Spark job, and a rewritten path or a flipped inference conf never
  * serves a stale schema. */
class ParquetSchemasSpec extends SparkSpec {

  /** `df` written as ONE parquet file at `target` (replacing any file
    * there), the single-file layout of the scale-factor tables. */
  private def writeFile(df: org.apache.spark.sql.DataFrame,
                        target: java.nio.file.Path): Unit = {
    val staging = graft.TmpDirs.create("pq_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = scala.util.Using.resource(Files.list(Paths.get(staging)))(
      _.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")))
    Files.move(part.get, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("building a registry query a second time runs no Spark job") {
    for (q <- Seq("d1_exact_dedup", "e4_knn_lsh", "e13_hard_negatives",
        "ir3_phrase_query", "g1_gopher_quality")) {
      val fn = SparkEntry.queries(q)
      fn(spark, sf)
      val jobs = jobsFor(s"rebuild-$q") { fn(spark, sf) }
      assert(jobs == 0, s"$q: the second build ran $jobs jobs")
    }
  }

  test("the memoized read has the inferred types of every registry table") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { n =>
      val memoized = Tables.load(spark, sf, n).schema
      // Tables.load has set the reader confs inference runs under
      assert(memoized == spark.read.parquet(s"$sf/$n.parquet").schema, n)
    }
    assert(Set[Any](LongType, TimestampType)(
      Tables.load(spark, sf, "events").schema("ts").dataType))
  }

  test("a parquet file rewritten at the same path serves its new schema") {
    import spark.implicits._
    val file = Paths.get(graft.TmpDirs.create("pq_file"), "t.parquet")
    writeFile(Seq(1L, 2L).toDF("k"), file)
    assert(ParquetSchemas.read(spark, file.toString).schema("k").dataType ==
      LongType)
    writeFile(Seq(("a", 7L)).toDF("k", "v"), file)
    val again = ParquetSchemas.read(spark, file.toString)
    assert(again.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(again.schema("k").dataType == StringType)
    assert(again.as[(String, Long)].collect().toSeq == Seq(("a", 7L)))
  }

  test("a directory rewritten with mode(overwrite) serves its new schema") {
    import spark.implicits._
    val dir = graft.TmpDirs.create("pq_dir") + "/idx"
    Seq(1L).toDF("k").write.mode("overwrite").parquet(dir)
    assert(ParquetSchemas.schema(spark, dir).fieldNames.toSeq == Seq("k"))
    assert(jobsFor("pq-dir-hit") { ParquetSchemas.read(spark, dir) } == 0)
    Seq(("x", 2L)).toDF("term", "df").write.mode("overwrite").parquet(dir)
    assert(ParquetSchemas.schema(spark, dir).fieldNames.toSeq ==
      Seq("term", "df"))
  }

  test("flipping inferTimestampNTZ between two loads changes the schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    // a naive TIMESTAMP(MICROS) column with no Spark schema in the footer,
    // as DuckDB and pyarrow write it (Spark's own files carry their type)
    val file = Paths.get(graft.TmpDirs.create("pq_ntz"), "ts.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toString))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("t", 0L))
    finally w.close()
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(conf)
    def loaded(ntz: Boolean) = {
      spark.conf.set(conf, ntz.toString)
      ParquetSchemas.read(spark, file.toString).schema("t").dataType
    }
    try {
      assert(loaded(ntz = true) == TimestampNTZType)
      assert(loaded(ntz = false) == TimestampType)
      assert(loaded(ntz = true) == TimestampNTZType)
    } finally before.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("a missing path fails as a plain parquet read does") {
    val missing = graft.TmpDirs.create("pq_missing") + "/absent.parquet"
    val e = intercept[org.apache.spark.sql.AnalysisException](
      ParquetSchemas.read(spark, missing))
    assert(e.getMessage.contains("absent.parquet"))
  }
}
