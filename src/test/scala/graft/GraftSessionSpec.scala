package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.GraftSession

/** Mirrors the reference's dynamic-schema + DML integration tests
  * (integration/cpp/test/test_sql_features.cpp dynamic_schema_* suite,
  * test_returning.cpp). */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  private def freshSession(): GraftSession =
    GraftSession(spark, graft.TmpDirs.create("graft"))

  test("dynamic schema basic flow: columns appear per insert") {
    val g = freshSession()
    g.createDynamicTable("t")
    g.insert("t", Seq(("id1", 1L, "x")).toDF("_id", "a", "b"))
    g.insert("t", Seq(("id2", 2L, "y", 3.14)).toDF("_id", "a", "b", "c"))
    g.insert("t", Seq(("id3", 100L)).toDF("_id", "alpha"))
    val out = g.table("t").orderBy("_id").collect()
    assert(g.table("t").columns.toSeq == Seq("_id", "a", "b", "c", "alpha"))
    assert(out.length == 3)
    assert(out(0).getAs[Any]("c") == null) // earlier rows read NULL
    assert(out(2).getAs[Long]("alpha") == 100L)
  }

  test("type evolution multistep: int -> long -> string, old data preserved") {
    val g = freshSession()
    g.createDynamicTable("t")
    g.insert("t", Seq((1, 10)).toDF("_id", "v"))
    g.insert("t", Seq((2, 20L)).toDF("_id", "v"))
    g.insert("t", Seq((3, "thirty")).toDF("_id", "v"))
    val out = g.table("t").orderBy("_id").collect()
    assert(g.table("t").schema("v").dataType == StringType)
    assert(out.map(_.getString(1)).toSeq == Seq("10", "20", "thirty"))
  }

  test("drop then re-add preserves old data (tombstone semantics)") {
    val g = freshSession()
    g.createDynamicTable("t")
    g.insert("t", Seq((1, "keep")).toDF("_id", "x"))
    g.dropColumn("t", "x")
    assert(g.table("t").columns.toSeq == Seq("_id"))
    g.addColumn("t", "x", StringType)
    val out = g.table("t").collect()
    assert(out.head.getString(1) == "keep")
  }

  test("rename column serves old physical data under the new name") {
    val g = freshSession()
    g.createDynamicTable("t")
    g.insert("t", Seq((1, 5L)).toDF("_id", "old"))
    g.renameColumn("t", "old", "neu")
    assert(g.table("t").columns.toSeq == Seq("_id", "neu"))
    assert(g.table("t").select("neu").as[Long].head() == 5L)
  }

  test("fixed table rejects unknown columns") {
    val g = freshSession()
    g.createTable("f", StructType(Seq(StructField("a", LongType))))
    intercept[IllegalArgumentException] {
      g.insert("f", Seq((1L, 2L)).toDF("a", "zzz"))
    }
  }

  test("update with RETURNING") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("id", LongType),
      StructField("v", LongType))))
    g.insert("t", Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    val ret = g.update("t", Map("v" -> (col("v") + 1)), col("id") >= 2)
    assert(ret.select("v").as[Long].collect().sorted.toSeq == Seq(21L, 31L))
    assert(g.table("t").agg(sum("v")).as[Long].head() == 10 + 21 + 31)
  }

  test("delete with RETURNING") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("id", LongType))))
    g.insert("t", (1L to 10L).toDF("id"))
    val ret = g.delete("t", col("id") > 7)
    assert(ret.count() == 3)
    assert(g.table("t").count() == 7)
  }

  test("update from a joined source (UPDATE ... FROM)") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("id", LongType),
      StructField("v", LongType))))
    g.insert("t", Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    val adj = Seq((1L, 100L), (3L, 300L)).toDF("a_id", "bonus")
    val ret = g.updateFrom("t", adj, col("id") === col("a_id"),
      Map("v" -> (col("v") + col("bonus"))))
    assert(ret.count() == 2)
    assert(g.table("t").orderBy("id").select("v").as[Long].collect().toSeq
      == Seq(110L, 20L, 330L))
  }

  test("compact merges batches and drops tombstoned columns physically") {
    val g = freshSession()
    g.createDynamicTable("t")
    g.insert("t", Seq((1, "a")).toDF("_id", "x"))
    g.insert("t", Seq((2, "b", 5.0)).toDF("_id", "x", "y"))
    g.dropColumn("t", "y")
    g.compact("t")
    val out = g.table("t").orderBy("_id").collect()
    assert(out.length == 2 && g.table("t").columns.toSeq == Seq("_id", "x"))
    // re-adding y after compact does NOT resurrect data (physically gone)
    g.addColumn("t", "y", DoubleType)
    assert(g.table("t").filter(col("y").isNotNull).count() == 0)
  }

  test("views and matviews with refresh") {
    val g = freshSession()
    g.createTable("base", StructType(Seq(StructField("v", LongType))))
    g.insert("base", Seq(1L, 2L, 3L).toDF("v"))
    g.createView("doubled", "SELECT v * 2 AS d FROM base")
    assert(g.sql("SELECT sum(d) AS s FROM doubled").as[Long].head() == 12L)
    g.createMatView("mv", "SELECT sum(v) AS s FROM base")
    assert(g.table("mv").as[Long].head() == 6L)
    g.insert("base", Seq(10L).toDF("v"))
    assert(g.table("mv").as[Long].head() == 6L) // stale until refresh
    g.refreshMatView("mv")
    assert(g.table("mv").as[Long].head() == 16L)
  }

  test("sequences are monotonic and persistent") {
    val g = freshSession()
    assert(g.nextSequence("s") == 1L)
    assert(g.nextSequence("s") == 2L)
    assert(g.nextSequence("other") == 1L)
  }

  test("metadata survives a fresh session over the same root") {
    val root = graft.TmpDirs.create("graft")
    val g1 = GraftSession(spark, root)
    g1.createDynamicTable("t")
    g1.insert("t", Seq((1, "a")).toDF("_id", "x"))
    g1.dropColumn("t", "x")
    val g2 = GraftSession(spark, root)
    assert(g2.table("t").columns.toSeq == Seq("_id"))
  }

  test("compactSmall folds only the small-batch tail") {
    import scala.jdk.CollectionConverters._
    val root = graft.TmpDirs.create("graft")
    val g = GraftSession(spark, root)
    g.createTable("ct", StructType(Seq(StructField("k", LongType))))
    g.insert("ct", spark.range(5000).select(col("id").as("k"))) // large
    g.insert("ct", Seq(9001L).toDF("k"))                        // small
    g.insert("ct", Seq(9002L, 9003L).toDF("k"))                 // small
    val dataDir = java.nio.file.Paths.get(root, "ct", "data")
    def dirs() = Files.list(dataDir).iterator.asScala
      .map(_.getFileName.toString).toSeq.sorted
    val before = dirs()
    assert(before.size == 3)
    g.compactSmall("ct", smallBytes = 10000L)
    val after = dirs()
    assert(after.contains(before(0)), "large batch must stay in place")
    assert(!after.contains(before(1)) && !after.contains(before(2)),
      "small batches must fold into one new batch")
    assert(after.size == 2)
    assert(g.table("ct").count() == 5003)
    assert(g.table("ct").filter(col("k") >= 9001L).count() == 3)
    // a second pass with only one small batch left is a no-op
    val stable = dirs()
    g.compactSmall("ct", smallBytes = 10000L)
    assert(dirs() == stable)
  }

  test("insert auto-compacts above the batch-count threshold") {
    import scala.jdk.CollectionConverters._
    val root = graft.TmpDirs.create("graft")
    val g = GraftSession(spark, root)
    g.autoCompactThreshold = 8
    g.createTable("ac", StructType(Seq(StructField("k", LongType))))
    (1L to 100L).foreach(i => g.insert("ac", Seq(i).toDF("k")))
    val dataDir = java.nio.file.Paths.get(root, "ac", "data")
    val n = Files.list(dataDir).iterator.asScala.size
    assert(n <= 8, s"batch count $n exceeds the 8-batch policy ceiling")
    // nothing lost or duplicated by the repeated folds
    assert(g.table("ac").count() == 100)
    assert(g.table("ac").agg(sum(col("k"))).head().getLong(0) == 5050L)
    // plan width is bounded too: at most one scan per surviving batch dir
    val arms = g.table("ac").queryExecution.optimizedPlan.collectLeaves().size
    assert(arms <= 8, s"$arms plan leaves for an 8-batch ceiling")
  }

  test("re-reading an unchanged table infers no batch schema again") {
    val g = freshSession()
    g.createTable("rr", StructType(Seq(StructField("k", LongType))))
    (1L to 3L).foreach(i => g.insert("rr", Seq(i).toDF("k")))
    g.table("rr").schema // the first read infers each batch's schema
    // parquet schema inference is one Spark job per batch dir; a re-read
    // of the same three dirs must reuse the inferred schemas
    val jobs = jobsFor("rr-reread") { g.table("rr").schema }
    assert(jobs == 0, s"re-reading 3 unchanged batches ran $jobs jobs")
    assert(g.table("rr").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("DROP + CREATE with a new column type serves the new type") {
    val root = graft.TmpDirs.create("graft")
    val g = GraftSession(spark, root)
    val batch0 = java.nio.file.Paths.get(root, "dc", "data", "batch_00000000")
    g.execute("CREATE TABLE dc (k BIGINT, v BIGINT)")
    g.execute("INSERT INTO dc VALUES (1, 10)")
    assert(g.table("dc").schema("v").dataType == LongType)
    assert(Files.isDirectory(batch0))
    g.execute("DROP TABLE dc")
    g.execute("CREATE TABLE dc (k BIGINT, v STRING)")
    g.execute("INSERT INTO dc VALUES (2, 'twenty')")
    // the re-created table reuses the dir name batch_00000000
    assert(Files.isDirectory(batch0))
    val t = g.table("dc")
    assert(t.schema("v").dataType == StringType)
    assert(t.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "twenty")))
  }

  test("memoized batch schemas track the live batch dirs") {
    import scala.jdk.CollectionConverters._
    val root = graft.TmpDirs.create("graft")
    val g = GraftSession(spark, root)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    g.createTable("ms", schema)
    g.createTable("other", schema)
    (1L to 3L).foreach(i => g.insert("ms", Seq((i, i * 10)).toDF("k", "v")))
    g.insert("other", Seq((1L, 1L)).toDF("k", "v"))
    g.table("other").schema
    def live() = Files.list(java.nio.file.Paths.get(root, "ms", "data"))
      .iterator.asScala.size
    g.table("ms").schema
    assert(g.batchSchemaCount == 3 + 1)
    // pruned UPDATE replaces the one matching batch with a new one
    g.update("ms", Map("v" -> lit(99L)), col("k") === 2L)
    g.table("ms").schema
    assert(live() == 3 && g.batchSchemaCount == live() + 1)
    // compactSmall folds all three small batches into one
    g.compactSmall("ms")
    assert(g.table("ms").orderBy("k").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 99L), (3L, 30L)))
    assert(live() == 1 && g.batchSchemaCount == live() + 1)
    g.truncateTable("ms")
    assert(g.batchSchemaCount == 1)
    g.dropTable("other")
    assert(g.batchSchemaCount == 0)
  }

  /** Parquet scan nodes in the physical plan of `df`. */
  private def scans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size

  test("same-schema batches are read through one parquet scan") {
    val g = freshSession()
    g.createTable("one", StructType(Seq(StructField("k", LongType))))
    (1L to 3L).foreach(i => g.insert("one", Seq(i).toDF("k")))
    val t = g.table("one")
    assert(scans(t) == 1, s"3 same-schema batches planned ${scans(t)} scans")
    assert(t.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("a dynamic table plans one scan per physical schema") {
    val g = freshSession()
    g.createDynamicTable("dyn")
    g.insert("dyn", Seq((1L, 10L)).toDF("_id", "a"))
    g.insert("dyn", Seq((2L, 20L, "x")).toDF("_id", "a", "b"))
    g.insert("dyn", Seq((3L, 30L)).toDF("_id", "a"))
    val t = g.table("dyn")
    assert(scans(t) == 2, s"2 physical schemas planned ${scans(t)} scans")
    assert(t.orderBy("_id").as[(Long, Long, String)].collect().toSeq ==
      Seq((1L, 10L, null), (2L, 20L, "x"), (3L, 30L, null)))
  }

  test("a RENAME splits equal physical schemas into their own scans") {
    val g = freshSession()
    g.createDynamicTable("rn")
    g.insert("rn", Seq((1L, "old")).toDF("_id", "x"))
    g.renameColumn("rn", "x", "y")
    g.addColumn("rn", "x", StringType)
    // same physical schema (_id, x) as the first batch, but its `x` is the
    // re-added column, not the renamed one's history
    g.insert("rn", Seq((2L, "new")).toDF("_id", "x"))
    val t = g.table("rn")
    assert(t.columns.toSeq == Seq("_id", "y", "x"))
    assert(scans(t) == 2, s"pre- and post-RENAME batches planned ${scans(t)} scans")
    assert(t.orderBy("_id").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "old", null), (2L, null, "new")))
  }

  test("pruned UPDATE across schema groups rewrites only the matched batch") {
    import scala.jdk.CollectionConverters._
    val root = graft.TmpDirs.create("graft")
    val g = GraftSession(spark, root)
    g.createDynamicTable("pu")
    g.insert("pu", Seq((1L, 10L)).toDF("_id", "a"))
    g.insert("pu", Seq((2L, 20L)).toDF("_id", "a"))
    g.insert("pu", Seq((3L, 30L, "x")).toDF("_id", "a", "b"))
    val data = java.nio.file.Paths.get(root, "pu", "data")
    def snapshot(): Map[String, Seq[(String, Seq[Byte])]] =
      Files.list(data).iterator.asScala.toSeq.map { d =>
        d.getFileName.toString -> Files.list(d).iterator.asScala.toSeq
          .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
          .sortBy(_._1)
      }.toMap
    val before = snapshot()
    assert(before.size == 3)
    g.update("pu", Map("a" -> lit(99L)), col("_id") === 2L)
    val after = snapshot()
    // batch_00000001 (the match) is replaced by one new batch; the other
    // two dirs, one from each schema group, are untouched
    assert(after.keySet == Set("batch_00000000", "batch_00000002",
      "batch_00000003"))
    Seq("batch_00000000", "batch_00000002").foreach { b =>
      assert(after(b) == before(b), s"$b was rewritten")
    }
    assert(g.table("pu").orderBy("_id").as[(Long, Long, String)].collect()
      .toSeq == Seq((1L, 10L, null), (2L, 99L, null), (3L, 30L, "x")))
  }

  test("UPDATE ... FROM ... RETURNING a source column rewrites only the matched batch") {
    import scala.jdk.CollectionConverters._
    val root = graft.TmpDirs.create("graft")
    val g = GraftSession(spark, root)
    g.execute("CREATE TABLE uf (k BIGINT, v BIGINT)")
    g.execute("INSERT INTO uf VALUES (1, 10), (2, 20)") // batch 0
    g.execute("INSERT INTO uf VALUES (3, 30), (4, 40)") // batch 1
    g.execute("INSERT INTO uf VALUES (5, 50), (6, 60)") // batch 2
    g.execute("CREATE TABLE ufsrc (s_k BIGINT, note STRING)")
    g.execute("INSERT INTO ufsrc VALUES (4, 'four')")
    val data = java.nio.file.Paths.get(root, "uf", "data")
    def snapshot(): Map[String, Seq[(String, Seq[Byte])]] =
      Files.list(data).iterator.asScala.toSeq.map { d =>
        d.getFileName.toString -> Files.list(d).iterator.asScala.toSeq
          .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
          .sortBy(_._1)
      }.toMap
    val before = snapshot()
    val ret = g.execute("""UPDATE uf SET v = v + 1 FROM ufsrc
      WHERE uf.k = ufsrc.s_k RETURNING k, v, note""")
    assert(ret.as[(Long, Long, String)].collect().toSeq == Seq((4L, 41L, "four")))
    val after = snapshot()
    assert(after.keySet == Set("batch_00000000", "batch_00000002",
      "batch_00000003"), s"unexpected batch dirs ${after.keySet}")
    Seq("batch_00000000", "batch_00000002").foreach { b =>
      assert(after(b) == before(b), s"$b was rewritten")
    }
    assert(g.table("uf").orderBy("k").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 41L), (5L, 50L), (6L, 60L)))
  }

  test("a multi-row VALUES insert lands as one part file") {
    import scala.jdk.CollectionConverters._
    val root = graft.TmpDirs.create("graft")
    val g = GraftSession(spark, root)
    g.execute("CREATE TABLE vi (k BIGINT, s STRING)")
    g.execute("INSERT INTO vi VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e')")
    val batch = java.nio.file.Paths.get(root, "vi", "data", "batch_00000000")
    val parts = Files.list(batch).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
    assert(parts.size == 1, s"5 VALUES rows wrote ${parts.size} part files " +
      s"at parallelism ${spark.sparkContext.defaultParallelism}")
    assert(g.table("vi").count() == 5)
  }

  test("reading a table holds no file descriptor open") {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val g = freshSession()
    g.createTable("fd", StructType(Seq(StructField("k", LongType))))
    (1L to 3L).foreach(i => g.insert("fd", Seq(i).toDF("k")))
    g.table("fd").schema // first read: schema inference, lazy JVM state
    val before = os.getOpenFileDescriptorCount
    (1 to 200).foreach(_ => g.table("fd"))
    val grown = os.getOpenFileDescriptorCount - before
    assert(grown < 50, s"200 table reads left $grown more descriptors open")
  }

  test("3-level view chain registers topologically, adverse names included") {
    val g = freshSession()
    g.createTable("vt", StructType(Seq(StructField("k", LongType))))
    g.insert("vt", Seq(1L, 2L, 3L).toDF("k"))
    // alphabetical order (a_top, b_mid, c_base) is the REVERSE of the
    // dependency order — only a real topological sort registers these in
    // one pass
    g.createView("c_base", "SELECT k FROM vt WHERE k > 1")
    g.createView("b_mid", "SELECT k + 10 AS k FROM c_base")
    g.createView("a_top", "SELECT sum(k) AS s FROM b_mid")
    assert(g.sql("SELECT s FROM a_top").as[Long].head() == 25L)
  }

  test("a referenced view's real analysis error surfaces, not 'not found'") {
    val g = freshSession()
    g.createTable("et", StructType(Seq(StructField("k", LongType))))
    g.insert("et", Seq(1L).toDF("k"))
    g.createView("ev", "SELECT missing_col FROM et")
    val e = intercept[IllegalStateException] { g.sql("SELECT * FROM ev") }
    assert(e.getMessage.contains("ev"))
    assert(e.getMessage.toLowerCase.contains("missing_col"))
  }

  test("sql registers only the relations the statement references") {
    val g = freshSession()
    val schema = StructType(Seq(StructField("k", LongType)))
    (1 to 50).foreach(i => g.createTable(s"lzreg_t$i", schema))
    g.insert("lzreg_t1", Seq(1L, 2L).toDF("k"))
    g.insert("lzreg_t2", Seq(2L, 3L).toDF("k"))
    val out = g.sql(
      "SELECT a.k FROM lzreg_t1 a JOIN lzreg_t2 b ON a.k = b.k")
    assert(out.as[Long].collect().toSeq == Seq(2L))
    assert(spark.catalog.tableExists("lzreg_t1"))
    assert(spark.catalog.tableExists("lzreg_t2"))
    // the other 48 were never materialized as temp views
    (3 to 50).foreach(i => assert(!spark.catalog.tableExists(s"lzreg_t$i"),
      s"lzreg_t$i should not have been registered"))
  }

  test("sql pulls view dependencies in transitively (view over view)") {
    val g = freshSession()
    g.createTable("lzv_base", StructType(Seq(StructField("v", LongType))))
    g.insert("lzv_base", Seq(1L, 2L, 3L).toDF("v"))
    g.createView("lzv_inner", "SELECT v * 2 AS d FROM lzv_base")
    g.createView("lzv_outer", "SELECT sum(d) AS s FROM lzv_inner")
    // referencing only the OUTER view must register base + inner too
    assert(g.sql("SELECT s FROM lzv_outer").as[Long].head() == 12L)
  }
}
