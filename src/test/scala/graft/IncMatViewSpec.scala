package graft

import org.apache.spark.sql.functions._
import graft.api.GraftSession

/** Incremental aggregate matviews: refresh folds only appended batches
  * (O(delta)); rewritten history falls back to a full rebuild. */
class IncMatViewSpec extends SparkSpec {
  import spark.implicits._

  private def g = GraftSession(spark,
    graft.TmpDirs.create("graft_inc"))

  private def docs(s: GraftSession): Seq[(String, Long, Long)] =
    s.table("mv").orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("incremental refresh folds only new batches and matches full agg") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 10), ('en', 20), ('de', 5)")
    s.createIncrementalMatView("mv", "base", Seq("lang"),
      Seq(("count", "*", "n"), ("sum", "n_chars", "chars")))
    assert(docs(s) == Seq(("de", 1L, 5L), ("en", 2L, 30L)))

    // no new batches → noop
    assert(s.refreshIncrementalMatView("mv") == "noop")

    // two appends → exactly 2 delta batches folded
    s.execute("INSERT INTO base VALUES ('en', 1), ('fr', 7)")
    s.execute("INSERT INTO base VALUES ('de', 2)")
    assert(s.refreshIncrementalMatView("mv") == "incremental(2)")
    assert(docs(s) ==
      Seq(("de", 2L, 7L), ("en", 3L, 31L), ("fr", 1L, 7L)))
  }

  test("a refresh that fails validation keeps the pre-refresh rows") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 10), ('de', 5)")
    s.createIncrementalMatView("mv", "base", Seq("lang"),
      Seq(("count", "*", "n"), ("sum", "n_chars", "chars")))
    s.addCheckConstraint("mv", "small", "chars < 100")
    s.execute("INSERT INTO base VALUES ('en', 500)")
    intercept[IllegalStateException] {
      s.execute("REFRESH MATERIALIZED VIEW mv")
    }
    assert(docs(s) == Seq(("de", 1L, 5L), ("en", 1L, 10L)),
      "a failed incremental refresh must leave the matview as it was")
    // the full-rebuild mode validates before its swap too
    s.update("base", Map("n_chars" -> lit(1L)), col("lang") === "de")
    intercept[IllegalStateException] { s.refreshIncrementalMatView("mv") }
    assert(docs(s) == Seq(("de", 1L, 5L), ("en", 1L, 10L)))
  }

  test("a refresh that drops a key fires the FKs referencing the matview") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 10), ('de', 5), ('fr', 7)")
    s.createIncrementalMatView("mv", "base", Seq("lang"),
      Seq(("count", "*", "n"), ("sum", "n_chars", "chars")))
    s.createMatView("langs", "SELECT DISTINCT lang FROM base")
    s.execute("CREATE TABLE keep (lang STRING)")
    s.execute("INSERT INTO keep VALUES ('de')")
    s.addForeignKey("keep", "lang", "mv", "lang")
    s.execute("CREATE TABLE pin (lang STRING, tag STRING)")
    s.execute("INSERT INTO pin VALUES ('de', 'x'), ('en', 'y')")
    s.addForeignKey("pin", "lang", "langs", "lang", s.Cascade)
    s.execute("DELETE FROM base WHERE lang = 'de'")
    // incremental matview (full-rebuild mode): RESTRICT refuses the
    // refresh before its swap
    val e = intercept[IllegalStateException] { s.refreshMatView("mv") }
    assert(e.getMessage.contains("keep"))
    assert(docs(s) == Seq(("de", 1L, 5L), ("en", 1L, 10L), ("fr", 1L, 7L)))
    s.execute("DELETE FROM keep WHERE lang = 'de'")
    s.refreshMatView("mv")
    assert(docs(s) == Seq(("en", 1L, 10L), ("fr", 1L, 7L)))
    // plain matview: CASCADE removes the rows of the dropped key only
    s.refreshMatView("langs")
    assert(s.table("langs").as[String].collect().sorted.toSeq == Seq("en", "fr"))
    assert(s.table("pin").as[(String, String)].collect().toSeq ==
      Seq(("en", "y")))
  }

  test("min/max merge correctly across delta refreshes") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 10), ('en', 20)")
    s.createIncrementalMatView("mv2", "base", Seq("lang"),
      Seq(("min", "n_chars", "mn"), ("max", "n_chars", "mx")))
    s.execute("INSERT INTO base VALUES ('en', 3), ('en', 99)")
    assert(s.refreshIncrementalMatView("mv2").startsWith("incremental"))
    val r = s.table("mv2").collect().head
    assert((r.getLong(1), r.getLong(2)) == (3L, 99L))
  }

  test("approx_distinct: HLL sketches merge incrementally, estimate tracks exact") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, user_id BIGINT)")
    s.execute("INSERT INTO base SELECT 'en' AS lang, " +
      "CAST(id % 40 AS BIGINT) AS user_id FROM range(200)")
    // DDL surface parses approx_distinct; stored column is the sketch
    s.execute("CREATE INCREMENTAL MATERIALIZED VIEW mvh AS " +
      "SELECT lang, approx_distinct(user_id) AS nd FROM base " +
      "GROUP BY lang")
    def estimate(lang: String): Long =
      s.execute("SELECT lang, hll_sketch_estimate(nd) AS n FROM mvh " +
          s"WHERE lang = '$lang'")
        .collect().head.getLong(1)
    assert(estimate("en") == 40L) // sparse-mode HLL is exact this small

    // appends refresh INCREMENTALLY (sketch union, not rebuild): new
    // users overlap old ones — a plain count could never merge this
    s.execute("INSERT INTO base SELECT 'en' AS lang, " +
      "CAST(id % 60 AS BIGINT) AS user_id FROM range(120)")
    s.execute("INSERT INTO base SELECT 'fr' AS lang, " +
      "CAST(id AS BIGINT) AS user_id FROM range(25)")
    assert(s.refreshIncrementalMatView("mvh") == "incremental(2)")
    assert(estimate("en") == 60L) // union of overlapping sets, not 100
    assert(estimate("fr") == 25L)

    // and the merged sketch agrees with a from-scratch aggregation
    val fresh = s.execute(
      "SELECT hll_sketch_estimate(hll_sketch_agg(user_id)) AS n " +
        "FROM base WHERE lang = 'en'").collect().head.getLong(0)
    assert(estimate("en") == fresh)
  }

  test("rewritten history (UPDATE) falls back to a full rebuild") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 10), ('de', 5)")
    s.createIncrementalMatView("mv", "base", Seq("lang"),
      Seq(("count", "*", "n"), ("sum", "n_chars", "chars")))
    s.execute("UPDATE base SET n_chars = n_chars + 100 WHERE lang = 'en'")
    assert(s.refreshIncrementalMatView("mv") == "full")
    assert(docs(s) == Seq(("de", 1L, 5L), ("en", 1L, 110L)))
  }

  test("SQL surface: CREATE INCREMENTAL MATERIALIZED VIEW + REFRESH") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 10), ('en', 20), ('de', 5)")
    s.execute("""CREATE INCREMENTAL MATERIALIZED VIEW mv AS
      SELECT lang, count(*) AS n, sum(n_chars) AS chars
      FROM base GROUP BY lang""")
    s.execute("INSERT INTO base VALUES ('fr', 7)")
    s.execute("REFRESH MATERIALIZED VIEW mv")
    val rows = s.execute("SELECT lang, n, chars FROM mv ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq ==
      Seq(("de", 1L, 5L), ("en", 2L, 30L), ("fr", 1L, 7L)))

    intercept[IllegalArgumentException] {
      s.execute("""CREATE INCREMENTAL MATERIALIZED VIEW bad AS
        SELECT lang, avg(n_chars) AS a FROM base GROUP BY lang""")
    }
  }

  test("auto-compaction does not downgrade refresh to a full rebuild") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 1)")
    s.createIncrementalMatView("mv", "base", Seq("lang"),
      Seq(("count", "*", "n"), ("sum", "n_chars", "chars")))
    // 40 sequential inserts cross autoCompactThreshold (32) at least
    // once — compaction folds the small-batch tail, and refreshing
    // dependents before the fold must keep every refresh incremental/noop
    var total = 1L
    (1 to 40).foreach { i =>
      s.execute(s"INSERT INTO base VALUES ('en', $i)")
      total += i
      val mode = s.refreshIncrementalMatView("mv")
      assert(mode == "noop" || mode.startsWith("incremental"),
        s"insert $i downgraded refresh to $mode")
    }
    assert(docs(s) == Seq(("en", 41L, total)))
    // explicit full compaction hands the fold product on: still no rebuild
    s.execute("INSERT INTO base VALUES ('de', 5)")
    s.compact("base")
    val afterCompact = s.refreshIncrementalMatView("mv")
    assert(afterCompact == "noop" || afterCompact.startsWith("incremental"),
      s"compact downgraded refresh to $afterCompact")
    assert(docs(s) == Seq(("de", 1L, 5L), ("en", 41L, total)))
    // a genuine rewrite still falls back to full
    s.execute("UPDATE base SET n_chars = n_chars + 1 WHERE lang = 'de'")
    assert(s.refreshIncrementalMatView("mv") == "full")
    assert(docs(s) == Seq(("de", 1L, 6L), ("en", 41L, total)))
  }

  test("seen set persists through a fold: refresh stays incremental across restart") {
    val root = graft.TmpDirs.create("graft_inc_rs")
    val s1 = GraftSession(spark, root)
    s1.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s1.execute("INSERT INTO base VALUES ('en', 1)")
    s1.createIncrementalMatView("mv", "base", Seq("lang"),
      Seq(("count", "*", "n"), ("sum", "n_chars", "chars")))
    s1.execute("INSERT INTO base VALUES ('en', 2)")
    s1.execute("INSERT INTO base VALUES ('en', 3)")
    s1.compactSmall("base", smallBytes = Long.MaxValue) // folds all three
    // a FRESH session must read the fold product as seen from the
    // matview's record — not fall back to a full rebuild
    val s2 = GraftSession(spark, root)
    val mode = s2.refreshIncrementalMatView("mv")
    assert(mode == "noop" || mode.startsWith("incremental"),
      s"restart downgraded refresh to $mode")
    val r = s2.table("mv").collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2)) == ("en", 3L, 6L))
  }

  test("COUNT(col) skips NULLs (SQL semantics), COUNT(*) counts rows") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 10), ('en', NULL), ('de', 5)")
    s.createIncrementalMatView("mv", "base", Seq("lang"),
      Seq(("count", "*", "n_rows"), ("count", "n_chars", "n_vals")))
    val rows = s.table("mv").orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("de", 1L, 1L), ("en", 2L, 1L)))
    // the split survives an incremental fold
    s.execute("INSERT INTO base VALUES ('en', NULL), ('en', 3)")
    assert(s.refreshIncrementalMatView("mv").startsWith("incremental"))
    val rows2 = s.table("mv").orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows2 == Seq(("de", 1L, 1L), ("en", 4L, 2L)))
  }

  test("GROUP BY list must match the bare select columns") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, src STRING, n BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 'web', 1)")
    val e = intercept[IllegalArgumentException] {
      s.execute("""CREATE INCREMENTAL MATERIALIZED VIEW bad AS
        SELECT lang, count(*) AS n FROM base GROUP BY src""")
    }
    assert(e.getMessage.contains("GROUP BY"))
    // matching list (case-insensitive) is accepted
    s.execute("""CREATE INCREMENTAL MATERIALIZED VIEW ok AS
      SELECT lang, count(*) AS n FROM base GROUP BY LANG""")
    assert(s.table("ok").count() == 1)
    // grouping is order-insensitive: GROUP BY src, lang is the same
    // grouping as the select order lang, src
    s.execute("""CREATE INCREMENTAL MATERIALIZED VIEW ok2 AS
      SELECT lang, src, count(*) AS n FROM base GROUP BY src, lang""")
    assert(s.table("ok2").count() == 1)
  }

  test("non-algebraic aggregate is rejected with a clear error") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 1)")
    val e = intercept[IllegalArgumentException] {
      s.createIncrementalMatView("mv", "base", Seq("lang"),
        Seq(("avg", "n_chars", "a")))
    }
    assert(e.getMessage.contains("avg"))
  }

  test("DROP TABLE of an incremental matview forgets it") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 10), ('de', 5)")
    s.execute("""CREATE INCREMENTAL MATERIALIZED VIEW mv AS
      SELECT lang, count(*) AS n, sum(n_chars) AS chars
      FROM base GROUP BY lang""")
    s.execute("DROP TABLE mv")
    // compaction refreshes the dependents of base first: the dropped
    // matview must not be one of them
    s.execute("INSERT INTO base VALUES ('fr', 7)")
    s.compact("base")
    // so must INSERT's auto-compaction, after its rows have landed
    s.autoCompactThreshold = 2
    (1 to 3).foreach(i => s.execute(s"INSERT INTO base VALUES ('en', $i)"))
    assert(s.table("base").count() == 6)
    intercept[IllegalArgumentException] { s.refreshIncrementalMatView("mv") }
    // the name is free again, for a plain table
    s.execute("CREATE TABLE mv (x BIGINT)")
    assert(s.execute("SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap.get("mv") == Some("r"))
  }

  test("DROP TABLE of a base drops the incremental matviews over it") {
    val s = g
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('en', 1)")
    s.execute("""CREATE INCREMENTAL MATERIALIZED VIEW mv AS
      SELECT lang, count(*) AS n, sum(n_chars) AS chars
      FROM base GROUP BY lang""")
    def rels = s.execute("SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(rels == Map("base" -> "r", "mv" -> "m"))
    s.execute("DROP TABLE base")
    assert(rels.isEmpty)
    intercept[IllegalArgumentException] {
      s.execute("REFRESH MATERIALIZED VIEW mv")
    }
    // a re-created base restarts its batch names at batch_00000000; a
    // surviving matview would take them for batches it had already seen
    s.execute("CREATE TABLE base (lang STRING, n_chars BIGINT)")
    s.execute("INSERT INTO base VALUES ('de', 2), ('de', 3)")
    s.execute("""CREATE INCREMENTAL MATERIALIZED VIEW mv AS
      SELECT lang, count(*) AS n, sum(n_chars) AS chars
      FROM base GROUP BY lang""")
    assert(docs(s) == Seq(("de", 2L, 5L)))
  }
}
