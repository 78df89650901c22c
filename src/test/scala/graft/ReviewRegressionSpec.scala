package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.GraftSession
import graft.operators.TimeJoins

/** Regression pins for the round-1 self-review findings. */
class ReviewRegressionSpec extends SparkSpec {
  import spark.implicits._

  private def freshSession(): GraftSession =
    GraftSession(spark, graft.TmpDirs.create("graft"))

  test("UPDATE evaluates WHERE and SET against the pre-update row") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("a", LongType),
      StructField("b", LongType))))
    g.insert("t", Seq((1L, 10L), (2L, 20L)).toDF("a", "b"))
    // swap semantics: SET a=b, b=a must use original values
    val ret = g.update("t", Map("a" -> col("b"), "b" -> col("a")),
      col("b") > 15)
    assert(ret.select("a", "b").as[(Long, Long)].collect().toSeq
      == Seq((20L, 2L)))
    assert(g.table("t").orderBy("b").select("a", "b").as[(Long, Long)]
      .collect().toSeq == Seq((20L, 2L), (1L, 10L)))
    // RETURNING must be non-empty even when SET falsifies the WHERE
    val ret2 = g.update("t", Map("b" -> lit(0L)), col("b") === 10L)
    assert(ret2.count() == 1)
  }

  test("UPDATE...FROM refuses multi-matching source rows") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("id", LongType),
      StructField("v", LongType))))
    g.insert("t", Seq((1L, 1L)).toDF("id", "v"))
    val dupSource = Seq((1L, 5L), (1L, 7L)).toDF("a_id", "bonus")
    intercept[IllegalArgumentException] {
      g.updateFrom("t", dupSource, col("id") === col("a_id"),
        Map("v" -> col("bonus")))
    }
    assert(g.table("t").count() == 1) // unchanged
  }

  test("inserts after renameColumn keep their data") {
    val g = freshSession()
    g.createDynamicTable("t")
    g.insert("t", Seq((1, 5L)).toDF("_id", "old"))
    g.renameColumn("t", "old", "neu")
    g.insert("t", Seq((2, 7L)).toDF("_id", "neu"))
    assert(g.table("t").orderBy("_id").select("neu").as[Long]
      .collect().toSeq == Seq(5L, 7L))
  }

  test("as-of join keeps genuine NULL payload fields row-consistent") {
    val left = Seq((1L, 6L, "probe")).toDF("k", "lt", "tag")
    val right = Seq((1L, 3L, Some(1.0), Some(9.0)),
      (1L, 5L, None, Some(2.0))).toDF("k", "rt", "x", "y")
    val out = TimeJoins.asOfJoin(left, right, "k", "lt", "rt")
      .select("x", "y").collect()(0)
    assert(out.isNullAt(0), "x must be the t=5 row's genuine NULL")
    assert(out.getDouble(1) == 2.0)
  }

  test("native vector exprs match HOF semantics on null/mismatched arrays") {
    val df = Seq(
      (Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f)),
      (Array[java.lang.Float](1.0f, null), Array[java.lang.Float](1.0f, 2.0f)))
      .toDF("a", "b")
    val rows = df.select(
      call_function("graft_dot", col("a"), col("b")).as("native"),
      Declarative.dot(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1),
        s"both must be NULL, got $r")
    }
  }

  test("constraints survive a fresh session over the same root") {
    val root = graft.TmpDirs.create("graft")
    val g1 = GraftSession(spark, root)
    g1.createTable("p", StructType(Seq(StructField("id", LongType))))
    g1.createTable("c", StructType(Seq(StructField("id", LongType),
      StructField("pid", LongType))))
    g1.addCheckConstraint("c", "pos", "id > 0")
    g1.addForeignKey("c", "pid", "p", "id", g1.Cascade)
    g1.insert("p", Seq(1L).toDF("id"))
    val g2 = GraftSession(spark, root)
    intercept[IllegalStateException] {
      g2.insert("c", Seq((-1L, 1L)).toDF("id", "pid")) // CHECK still on
    }
    intercept[IllegalStateException] {
      g2.insert("c", Seq((5L, 99L)).toDF("id", "pid")) // FK still on
    }
    g2.insert("c", Seq((5L, 1L)).toDF("id", "pid"))
    g2.delete("p", col("id") === 1L) // cascade still wired
    assert(g2.table("c").count() == 0)
  }

  test("views survive a fresh session over the same root") {
    val root = graft.TmpDirs.create("graft")
    val g1 = GraftSession(spark, root)
    g1.createTable("b", StructType(Seq(StructField("v", LongType))))
    g1.insert("b", Seq(1L, 2L).toDF("v"))
    g1.createView("dbl", "SELECT v * 2 AS d FROM b")
    val g2 = GraftSession(spark, root)
    assert(g2.sql("SELECT sum(d) AS s FROM dbl").as[Long].head() == 6L)
  }

  test("execute() parses SET clauses containing commas") {
    val g = freshSession()
    g.execute("CREATE TABLE t (a BIGINT, b BIGINT)")
    g.execute("INSERT INTO t (a, b) VALUES (1, 10)")
    g.execute("UPDATE t SET a = greatest(a, b), b = least(a, b) WHERE a = 1")
    assert(g.execute("SELECT a, b FROM t").as[(Long, Long)].head()
      == ((10L, 1L)))
  }

  test("UPDATE...FROM: SET on the join key still returns matched rows") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("k", LongType))))
    g.insert("t", Seq(1L, 2L).toDF("k"))
    val src = Seq(1L).toDF("src_k")
    val ret = g.updateFrom("t", src, col("k") === col("src_k"),
      Map("k" -> (col("k") + 100)))
    assert(ret.as[Long].collect().toSeq == Seq(101L))
    assert(g.table("t").as[Long].collect().sorted.toSeq == Seq(2L, 101L))
  }

  test("UPDATE rejects unknown SET columns; resolves case-insensitively") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("qty", LongType))))
    g.insert("t", Seq(1L).toDF("qty"))
    intercept[IllegalArgumentException] {
      g.update("t", Map("nope" -> lit(0L)), lit(true))
    }
    g.update("t", Map("QTY" -> lit(5L)), lit(true))
    assert(g.table("t").as[Long].head() == 5L)
  }

  test("macro names do not fire inside longer identifiers") {
    val g = freshSession()
    g.createMacro("price", Seq("p"), "p * 0.9")
    Seq((1.0, 2.0)).toDF("net_price", "v").createOrReplaceTempView("mt")
    // net_price must survive; bare price(v) must expand
    val out = g.sql("SELECT net_price, price(v) AS pv FROM mt").head()
    assert(out.getDouble(0) == 1.0 && out.getDouble(1) == 1.8)
    // an embedded occurrence BEFORE the real call must not mask it
    val out2 = g.sql("SELECT net_price + price(v) AS s FROM mt").head()
    assert(out2.getDouble(0) == 1.0 + 1.8)
  }

  test("macro spellings inside literals and comments stay data") {
    val g = freshSession()
    g.createMacro("price", Seq("p"), "p * 0.9")
    Seq((1.0, 2.0)).toDF("net_price", "v").createOrReplaceTempView("mt")
    // a macro-call spelling in a string literal must not expand
    val s = g.sql("SELECT 'price(9)' AS lit, price(v) AS pv FROM mt").head()
    assert(s.getString(0) == "price(9)" && s.getDouble(1) == 1.8)
    // nor in a comment (and the comment's apostrophe must stay inert)
    val c = g.sql("SELECT price(v) AS pv -- don't price(1)\nFROM mt").head()
    assert(c.getDouble(0) == 1.8)
  }

  test("macros expand in DML statements") {
    val g = freshSession()
    g.execute("CREATE TABLE md (id BIGINT, a BIGINT)")
    g.execute("INSERT INTO md (id, a) VALUES (1, 1), (2, 2)")
    g.execute("CREATE MACRO bump(x) AS x + 100")
    g.execute("UPDATE md SET a = bump(a) WHERE id = 1")
    g.execute("INSERT INTO md (id, a) VALUES (3, bump(3))")
    // a macro's own name in CREATE MACRO is its definition, not a call
    g.execute("CREATE MACRO bump(x) AS x + 1000")
    g.execute("DELETE FROM md WHERE a = bump(2) - 1000")
    assert(g.table("md").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 101L), (3L, 103L)))
  }

  test("macros expand in view bodies") {
    val g = freshSession()
    g.execute("CREATE TABLE mb (id BIGINT, a BIGINT)")
    g.execute("INSERT INTO mb (id, a) VALUES (1, 1), (2, 2)")
    g.execute("CREATE MACRO bump(x) AS x + 100")
    g.execute("CREATE VIEW mbv AS SELECT id, bump(a) AS b FROM mb")
    assert(g.execute("SELECT b FROM mbv ORDER BY id").as[Long].collect()
      .toSeq == Seq(101L, 102L))
    g.createView("mbw", "SELECT bump(b) AS c FROM mbv")
    assert(g.sql("SELECT c FROM mbw ORDER BY c").as[Long].collect()
      .toSeq == Seq(201L, 202L))
  }

  test("db-qualifier stripping skips comments (apostrophes inert)") {
    val g = freshSession()
    g.execute("CREATE DATABASE bench")
    g.execute("CREATE TABLE bench.ev (k BIGINT)")
    g.execute("INSERT INTO bench.ev VALUES (7)")
    // the comment's apostrophe must not mis-pair; bench.ev in the comment
    // stays text while the real reference is stripped and resolved
    val out = g.sql(
      "SELECT k -- can't touch 'bench.ev' here\nFROM bench.ev").head()
    assert(out.getLong(0) == 7L)
  }

  test("UPDATE...FROM with a null-safe condition leaves unmatched NULLs alone") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("k", LongType),
      StructField("v", LongType))))
    g.insert("t", Seq((Some(1L), Some(1L)), (None, Some(2L)))
      .toDF("k", "v"))
    val src = Seq(1L).toDF("src_k")
    val ret = g.updateFrom("t", src, col("k") <=> col("src_k"),
      Map("v" -> lit(99L)))
    assert(ret.count() == 1) // only the k=1 row, never the NULL-key row
    assert(g.table("t").filter(col("k").isNull).select("v").as[Long]
      .head() == 2L)
  }

  test("dropping a parent table clears referencing FKs") {
    val g = freshSession()
    g.createTable("p", StructType(Seq(StructField("id", LongType))))
    g.createTable("c", StructType(Seq(StructField("pid", LongType))))
    g.addForeignKey("c", "pid", "p", "id")
    g.insert("p", Seq(1L).toDF("id"))
    g.dropTable("p")
    g.insert("c", Seq(42L).toDF("pid")) // must not validate against dead p
    assert(g.table("c").count() == 1)
  }

  test("case-colliding SET keys are an error, not last-one-wins") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("qty", LongType))))
    g.insert("t", Seq(1L).toDF("qty"))
    intercept[IllegalArgumentException] {
      g.update("t", Map("qty" -> lit(1L), "QTY" -> lit(2L)), lit(true))
    }
  }

  test("rename versioning: re-added old name does not shadow the renamed column") {
    val g = freshSession()
    g.createDynamicTable("t")
    g.insert("t", Seq((1, 10L)).toDF("_id", "a"))
    g.renameColumn("t", "a", "b")
    g.addColumn("t", "a", LongType)
    g.insert("t", Seq((2, 20L, 777L)).toDF("_id", "b", "a"))
    val rows = g.table("t").orderBy("_id").collect()
    assert(rows(0).getAs[Long]("b") == 10L) // pre-rename batch via old name
    assert(rows(0).getAs[Any]("a") == null) // new column absent back then
    assert(rows(1).getAs[Long]("b") == 20L)
    assert(rows(1).getAs[Long]("a") == 777L) // NOT shadowed into b
  }

  test("dropTable clears constraints, renames, and stored view bodies") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("v", LongType))))
    g.addCheckConstraint("t", "pos", "v > 0")
    g.dropTable("t")
    g.createTable("t", StructType(Seq(StructField("v", LongType))))
    g.insert("t", Seq(-5L).toDF("v")) // old CHECK must not fire
    assert(g.table("t").count() == 1)
  }

  test("execute(): WHERE inside a string literal does not split UPDATE") {
    val g = freshSession()
    g.createTable("t", StructType(Seq(StructField("id", LongType),
      StructField("note", StringType))))
    g.execute("INSERT INTO t (id, note) VALUES (1, 'x'), (2, 'y')")
    g.execute("UPDATE t SET note = 'checked where needed' WHERE id = 1")
    assert(g.table("t").filter(col("note").contains("where")).count() == 1)
  }

  test("graft_minhash yields NULL for empty shingle arrays") {
    val df = Seq((Seq.empty[String], Seq("a", "b"))).toDF("empty", "full")
    val r = df.select(
      call_function("graft_minhash", col("empty"), lit(4)),
      call_function("graft_minhash", col("full"), lit(4))).head()
    assert(r.isNullAt(0) && !r.isNullAt(1))
  }

  test("native vector exprs compile with non-nullable literal arrays") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d)) AS d").head()
    assert(r.isNullAt(0)) // length mismatch → NULL, and codegen compiles
  }

  test("bare string-literal minus passes the rewriter untouched") {
    import graft.functions.Jsonb
    val q = "SELECT CAST(t AS TIMESTAMP) - INTERVAL '1 hour' AS p FROM x"
    assert(Jsonb.rewrite(q) == q)
  }
  // ---- round-8 self-review pins ----

  test("topKFrequent keeps numeric key types and numeric tie order") {
    // regression: pass 1 sketches string images; the output must come
    // back in the input type with ties ordered numerically (2 before 10,
    // not the string order "10" < "2")
    val df = (Seq.fill(3)(2L) ++ Seq.fill(3)(10L) ++ Seq(7L))
      .toDF("user_id")
    val out = graft.operators.Sketches.topKFrequent(df, "user_id", k = 2)
    assert(out.schema("user_id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(2L, 10L))
  }

  test("pageRankInt refuses iteration counts that overflow Long scaling") {
    val nodes = Seq(1L).toDF("node")
    val edges = Seq((1L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      graft.operators.Graphs.pageRankInt(nodes, edges, iters = 13)
    }
    // the boundary case still runs
    assert(graft.operators.Graphs.pageRankInt(nodes, edges, iters = 12)
      .count() == 1)
  }

  // ---- round-17 pins ----

  test("IndexCache.path: one directory per corpus and prefix") {
    val ic = queries.IndexCache
    val a = ic.path("graft_pathtest_index", sf)
    assert(ic.path("graft_pathtest_index", sf) == a)
    assert(ic.path("graft_pathtest_index",
      new java.io.File(sf).getAbsolutePath) == a, "keyed by resolved path")
    val other = graft.TmpDirs.create("graft_pathtest_corpus")
    assert(ic.path("graft_pathtest_index", other) != a)
    assert(ic.path("graft_pathtest_other", sf) != a)
    assert(new java.io.File(a).getName.startsWith("graft_pathtest_index"))
  }

  test("TmpDirs dead-pid sweep removes crash remnants, keeps the rest") {
    // a kill -9 strands scratch dirs with the exit hook never run; the
    // _gtmp_p<pid>_ marker lets the NEXT JVM sweep them. Live-pid and
    // marker-less names must never be touched.
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val me = ProcessHandle.current().pid()
    def mk(name: String): java.io.File = {
      val d = new java.io.File(tmp, name)
      d.mkdirs()
      Files.write(d.toPath.resolve("f"), Array[Byte](1))
      d
    }
    val dead = mk("swt2_gtmp_p999999996_x")
    val mine = mk(s"swt2_gtmp_p${me}_x")
    val unmarked = mk("swt2_p999999996_x")
    try {
      graft.TmpDirs.sweepDeadNow()
      assert(!dead.exists(), "dead-pid marker dir must be swept")
      assert(mine.exists(), "this JVM's marker dir must survive")
      assert(unmarked.exists(), "marker-less names must never be touched")
      val p = graft.TmpDirs.createPath("swt2live")
      assert(p.getFileName.toString.contains(s"_gtmp_p${me}_"))
    } finally Seq(dead, mine, unmarked).foreach { d =>
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(_.delete()); d.delete()
    }
  }

  // ---- round-18 pins ----

  test("deleteRec unlinks symlinks without following them") {
    // ADVICE r17 (medium): the dead-pid sweep deletes shared-/tmp dirs
    // this process did not create; a planted symlink inside one must be
    // removed as an ENTRY — its target's contents must survive.
    val tmp = Files.createTempDirectory("swt3").toFile
    val target = new java.io.File(tmp, "target"); target.mkdirs()
    val precious = new java.io.File(target, "precious.txt")
    Files.write(precious.toPath, Array[Byte](42))
    val victim = new java.io.File(tmp, "victim_gtmp_p999999995_x")
    victim.mkdirs()
    Files.createSymbolicLink(
      victim.toPath.resolve("link"), target.toPath)
    try {
      graft.TmpDirs.deleteRec(victim)
      assert(!victim.exists(), "marker dir (and its link entry) removed")
      assert(precious.exists(), "symlink target contents must survive")
    } finally graft.TmpDirs.deleteRec(tmp)
  }

  test("deleteRec removes dangling symlink entries") {
    // ADVICE r18: the old exists()-gated retry skipped entries whose
    // target is gone (File.exists follows the link); the walkFileTree
    // sweep unlinks them via visitFile/visitFileFailed.
    val tmp = Files.createTempDirectory("swt4").toFile
    val victim = new java.io.File(tmp, "victim_gtmp_p999999994_x")
    victim.mkdirs()
    Files.createSymbolicLink(victim.toPath.resolve("dangling"),
      tmp.toPath.resolve("no-such-target"))
    try {
      graft.TmpDirs.deleteRec(victim)
      assert(!Files.exists(victim.toPath,
        java.nio.file.LinkOption.NOFOLLOW_LINKS),
        "dir containing a dangling link must still be removed")
    } finally graft.TmpDirs.deleteRec(tmp)
  }

  test("graph kernels: 17 rounds truncate themselves, rows unchanged") {
    // the kernels materialize their iterate every 8th round, with no
    // conf: past 16 rounds they still run, and the rows match results
    // computed without truncation
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 5L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L))
    val ids = 1L to 8L
    val nodes = ids.toDF("node")
    val edges = pairs.toDF("src", "dst")
    val wedges = edges.select(col("src"), col("dst"),
      (col("src") + col("dst")).as("w"))
    val und = (pairs ++ pairs.map(_.swap)).toDF("v", "w")
    def truncatedPlan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.collectLeaves()
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    // min-plus: 8 nodes, so every shortest path has ≤ 7 edges and the
    // 7-round (untruncated) result is already final
    val seeds = nodes.filter(col("node") <= 2L)
    val mp17 = graft.operators.Graphs.minPlusDistances(seeds, wedges, 17)
    val mp7 = graft.operators.Graphs.minPlusDistances(seeds, wedges, 7)
    assert(truncatedPlan(mp17) && !truncatedPlan(mp7))
    assert(mp17.orderBy("seed", "node").collect().toSeq ==
      mp7.orderBy("seed", "node").collect().toSeq)
    // label propagation against a driver-side synchronous run: most
    // frequent neighbor label, ties to the smallest
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    var want = ids.map(n => n -> n).toMap
    for (_ <- 0 until 17) want = want.map { case (n, l) =>
      n -> adj.get(n).fold(l)(ws => ws.groupBy(want).toSeq
        .map { case (lab, xs) => (-xs.size, lab) }.min._2)
    }
    val lp = graft.operators.Graphs.labelPropagation(nodes, und, 17)
    assert(truncatedPlan(lp))
    assert(lp.as[(Long, Long)].collect().toMap == want)
    // pagerank: 9 iterations cross the round-8 truncation; the driver
    // run is the same BIGINT recurrence
    val outdeg = pairs.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var p = ids.map(_ -> 1024L).toMap
    for (i <- 0 until 9) {
      val tele = 3L * BigInt(20).pow(i).toLong * 1024L
      p = ids.map(v => v -> (tele + 17L * pairs.collect {
        case (u, `v`) => p(u) / outdeg(u) }.sum)).toMap
    }
    val pr = graft.operators.Graphs.pageRankInt(nodes, edges, iters = 9)
    assert(truncatedPlan(pr))
    assert(pr.as[(Long, Long)].collect().toMap == p)
  }

  // ---- round-19 pins ----

  test("micro-unit BIGINT presentation fails loudly past the ceiling") {
    // VERDICT r18 Next #3 / ADVICE: the ds37/ds38/ds39/e9 convention
    // presents money as BIGINT micro-units, documented to hold to ~SF1k;
    // past it, non-ANSI CAST(decimal AS BIGINT) silently NULLs while
    // DuckDB aborts — wrong rows here, loud abort there. Present
    // .bigintExact must (a) present in-range values exactly, (b) raise
    // with the remedy REGARDLESS of the ANSI conf.
    val over = java.math.BigDecimal.valueOf(Long.MaxValue)
      .add(java.math.BigDecimal.ONE) // 2^63, one past the ceiling
    val inRange = Seq(Long.MaxValue.toString, "-42", null)
      .toDF("v").select(col("v").cast("decimal(38,0)").as("d"))
    assert(inRange
      .select(graft.queries.Present.bigintExact(col("d"), "spec").as("b"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .toSet == Set(Some(Long.MaxValue), Some(-42L), None))
    val overDf = Seq(over.toPlainString).toDF("v")
      .select(col("v").cast("decimal(38,0)").as("d"))
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        // the trap being closed: under non-ANSI, the plain cast
        // silently WRAPS the over-range value (2^63 -> Long.MinValue)
        if (ansi == "false") {
          val r = overDf.select(col("d").cast("bigint")).collect().head
          assert(r.isNullAt(0) || r.getLong(0) == Long.MinValue,
            "expected the silent non-ANSI wrap/NULL this guard closes")
        }
        val e = intercept[Throwable] {
          overDf.select(graft.queries.Present
            .bigintExact(col("d"), "spec.site").as("b")).collect()
        }
        assert(msgChain(e).contains("micro-unit presentation"),
          s"ansi=$ansi: expected the guard's remedy message, " +
            s"got: ${msgChain(e)}")
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("pageRankInt rejects iteration counts past its Long budget") {
    // VERDICT r18 Next #5 asked for an iters cap on pageRankInt; the
    // cap has existed since r8 (iters <= 12, overflow-driven — tighter
    // than the plan-growth bound, since this iterate's plan grows
    // LINEARLY per round). Pin it so it can't silently disappear.
    val nodes = (1L to 3L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Graphs.pageRankInt(nodes, edges, iters = 13)
    }
    assert(e.getMessage.contains("max 12"))
    assert(graft.operators.Graphs.pageRankInt(nodes, edges, iters = 0)
      .count() == 3)
  }

  test("resampleFill tolerates source columns named like struct fields") {
    // regression: the per-bucket struct used the raw value-field name
    // "v", so an ORD column literally named "v" produced duplicate
    // struct fields and an ambiguous getField("v")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 5.0, 9L))
      .toDF("k", "t", "x", "v")
    val out = TimeJoins.resampleFill(df, "k", "t",
      valCol = "x", ordCol = "v").collect()
    assert(out.length == 1 && out.head.getDouble(2) == 5.0)
  }
}

