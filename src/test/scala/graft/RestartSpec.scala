package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.api.GraftSession

/** Catalog durability: a NEW GraftSession over the same root directory
  * sees everything the old one recorded — tables (schema, tombstones,
  * renames, data), CHECKs and FKs, views, plain and incremental matviews
  * (refresh stays incremental across restarts), enum and composite
  * types, macros, indexes, sequences and databases. The reference keeps
  * this in its disk catalog + WAL; here the contract is the directory
  * layout plus one JSON record per object (`<table>/_table.json`,
  * `_catalog/<kind>/<name>.json`), no in-memory state required. */
class RestartSpec extends SparkSpec {
  import spark.implicits._

  test("tables, views, sequences and inc matviews survive a restart") {
    val root = graft.TmpDirs.create("graft_restart")
    val s1 = GraftSession(spark, root)
    s1.execute("CREATE TABLE t (id BIGINT, lang STRING)")
    s1.execute("INSERT INTO t VALUES (1, 'en'), (2, 'de'), (3, 'en')")
    s1.execute("CREATE VIEW v AS SELECT lang, count(*) AS n FROM t GROUP BY lang")
    s1.execute("CREATE SEQUENCE sq START 10")
    s1.execute("""CREATE INCREMENTAL MATERIALIZED VIEW mv AS
      SELECT lang, count(*) AS n, sum(id) AS ids FROM t GROUP BY lang""")

    // fresh session object, same root — nothing shared in memory
    val s2 = GraftSession(spark, root)
    assert(s2.execute("SELECT count(*) AS n FROM t").as[Long].head() == 3)
    assert(s2.execute("SELECT n FROM v WHERE lang = 'en'")
      .as[Long].head() == 2)
    // sequence resumes after the last issued value
    assert(s2.execute("INSERT INTO t VALUES (nextval('sq'), 'fr')")
      .count() == 0)
    assert(s2.execute("SELECT max(id) AS m FROM t").as[Long].head() == 10)

    // incremental matview: spec reloads from disk, refresh stays O(delta)
    s2.execute("INSERT INTO t VALUES (50, 'de')")
    assert(s2.refreshIncrementalMatView("mv").startsWith("incremental"))
    val rows = s2.execute("SELECT lang, n, ids FROM mv ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.contains(("de", 2L, 52L)))
  }

  private def rels(s: GraftSession): Map[String, String] =
    s.execute("SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap

  test("a database outlives its session, and DROP DATABASE forgets it") {
    val root = graft.TmpDirs.create("graft_restart_db")
    val s1 = GraftSession(spark, root)
    s1.execute("CREATE DATABASE bench")
    s1.createDatabase("lake") // the API records the same qualifier
    s1.execute("CREATE TABLE bench.events (kind STRING)")
    s1.execute("INSERT INTO bench.events VALUES ('commit'), ('like')")
    val s2 = GraftSession(spark, root)
    assert(s2.execute("SELECT count(*) FROM bench.events").as[Long].head() == 2)
    assert(s2.execute("SELECT count(*) FROM lake.events").as[Long].head() == 2)
    s2.execute("DROP DATABASE bench")
    val s3 = GraftSession(spark, root)
    intercept[org.apache.spark.sql.AnalysisException] {
      s3.execute("SELECT count(*) FROM bench.events").collect()
    }
    assert(s3.execute("SELECT count(*) FROM events").as[Long].head() == 2)
  }

  test("a fresh session enforces every constraint it did not write") {
    val root = graft.TmpDirs.create("graft_restart_cons")
    val s1 = GraftSession(spark, root)
    s1.execute("CREATE TYPE mood AS ENUM ('ok', 'sad')")
    s1.execute("CREATE TABLE t (v BIGINT, m mood)")
    s1.addCheckConstraint("t", "v_band", "v > 0\n AND v < 10")
    s1.execute("CREATE TABLE p (id BIGINT)")
    s1.execute("CREATE TABLE c1 (pid BIGINT)")
    s1.execute("CREATE TABLE c2 (pid BIGINT, tag STRING)")
    s1.execute("INSERT INTO p VALUES (1), (2)")
    s1.execute("INSERT INTO c1 VALUES (1), (2)")
    s1.execute("INSERT INTO c2 VALUES (1, 'a'), (2, 'b')")
    s1.addForeignKey("c1", "pid", "p", "id", s1.Cascade)
    s1.addForeignKey("c2", "pid", "p", "id", s1.SetNull)

    val s2 = GraftSession(spark, root)
    // the first statement deletes from the parent: the FKs live in the
    // records of children this session has not read yet
    s2.execute("DELETE FROM p WHERE id = 1")
    assert(s2.table("c1").as[Long].collect().toSeq == Seq(2L))
    assert(s2.execute("SELECT tag FROM c2 WHERE pid IS NULL")
      .as[String].collect().toSeq == Seq("a"))
    // the multi-line CHECK keeps both of its lines
    intercept[IllegalStateException] {
      s2.execute("INSERT INTO t VALUES (20, 'ok')")
    }
    intercept[IllegalStateException] {
      s2.execute("INSERT INTO t VALUES (5, 'bogus')")
    }
    s2.execute("INSERT INTO t VALUES (5, 'sad')")
    assert(s2.table("t").count() == 1)
    // a table created after the restart still resolves the enum type
    s2.execute("CREATE TABLE t2 (m mood)")
    intercept[IllegalStateException] {
      s2.execute("INSERT INTO t2 VALUES ('bogus')")
    }
  }

  test("a fresh session returns every catalog object kind") {
    val root = graft.TmpDirs.create("graft_restart_all")
    val s1 = GraftSession(spark, root)
    s1.execute("CREATE TYPE pt AS (x INT, y INT)")
    s1.execute("CREATE MACRO twice(a) AS a * 2")
    s1.execute("CREATE TABLE t (id BIGINT, a BIGINT, b STRING)")
    s1.execute("INSERT INTO t VALUES (1, 10, 'x'), (2, 20, 'y')")
    s1.execute("CREATE INDEX t_ab ON t (id, a)")
    s1.execute("ALTER TABLE t RENAME COLUMN a TO a2")
    s1.execute("ALTER TABLE t DROP COLUMN b")
    s1.execute("CREATE DYNAMIC TABLE d")
    s1.insert("d", Seq((1L, "u")).toDF("k", "s"))
    s1.execute("CREATE SEQUENCE sq START 5 INCREMENT 5")
    s1.execute("CREATE MATERIALIZED VIEW big AS SELECT id FROM t WHERE a2 > 15")
    s1.execute("""CREATE INCREMENTAL MATERIALIZED VIEW sums AS
      SELECT id, sum(a2) AS s FROM t GROUP BY id""")

    val s2 = GraftSession(spark, root)
    assert(rels(s2) == Map("t" -> "r", "d" -> "g", "big" -> "m", "sums" -> "m"))
    assert(s2.compositeType("pt").map(_.fieldNames.toSeq) == Some(Seq("x", "y")))
    assert(s2.execute("SELECT twice(21)").as[Int].head() == 42)
    assert(s2.listIndexes == Map("t_ab" -> ("t", Seq("id", "a"))))
    // the rename and the tombstone: old rows read under the new name
    assert(s2.table("t").columns.toSeq == Seq("id", "a2"))
    assert(s2.execute("SELECT sum(a2) FROM t").as[Long].head() == 30)
    assert(s2.table("d").columns.toSeq == Seq("k", "s"))
    s2.execute("INSERT INTO t (id, a2) VALUES (nextval('sq'), 30)")
    assert(s2.execute("SELECT max(id) FROM t").as[Long].head() == 5)
    s2.execute("REFRESH MATERIALIZED VIEW big")
    assert(s2.table("big").as[Long].collect().sorted.toSeq == Seq(2L, 5L))
    assert(s2.refreshIncrementalMatView("sums") == "incremental(1)")
    assert(s2.execute("SELECT s FROM sums WHERE id = 5").as[Long].head() == 30)
  }
}
