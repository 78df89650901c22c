package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.api.GraftSession

/** MERGE INTO (SQL:2003 / PG 15): arm ordering, upsert, delete arms,
  * the one-source-row guard, DO NOTHING pass-through under multi-match,
  * FK interaction, and the SQL-router parse surface. */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def fresh() =
    GraftSession(spark, graft.TmpDirs.create("graft_merge"))

  private def seed(g: GraftSession): Unit = {
    val t = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "name", "qty")
    g.createTable("t", t.schema)
    g.insert("t", t)
  }

  private def rows(g: GraftSession) =
    g.table("t").orderBy("id").as[(Long, String, Long)].collect().toSeq

  test("upsert: WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT") {
    val g = fresh(); seed(g)
    val src = Seq((2L, 5L), (3L, 7L), (9L, 99L)).toDF("sid", "delta")
    g.createTable("src", src.schema)
    g.insert("src", src)
    val res = g.execute("""
      MERGE INTO t USING src ON t.id = src.sid
      WHEN MATCHED THEN UPDATE SET qty = qty + delta
      WHEN NOT MATCHED THEN INSERT (id, name, qty) VALUES (sid, 'new', delta)
    """)
    val actions = res.groupBy("merge_action").count()
      .as[(String, Long)].collect().toMap
    assert(actions == Map("UPDATE" -> 2L, "INSERT" -> 1L))
    assert(rows(g) == Seq((1L, "a", 10L), (2L, "b", 25L), (3L, "c", 37L),
      (9L, "new", 99L)))
  }

  test("arm order: first applicable WHEN wins, like a chained CASE") {
    val g = fresh(); seed(g)
    val src = Seq(1L, 2L, 3L).toDF("sid")
    g.createTable("src", src.schema)
    g.insert("src", src)
    g.execute("""
      MERGE INTO t USING src ON t.id = src.sid
      WHEN MATCHED AND qty < 15 THEN DELETE
      WHEN MATCHED AND qty < 25 THEN UPDATE SET name = 'mid'
      WHEN MATCHED THEN UPDATE SET name = 'big'
    """)
    assert(rows(g) == Seq((2L, "mid", 20L), (3L, "big", 30L)))
  }

  test("DELETE arm + RETURNING-style merge_action frame") {
    val g = fresh(); seed(g)
    val src = Seq(1L, 3L).toDF("sid")
    g.createTable("src", src.schema)
    g.insert("src", src)
    val res = g.execute("""
      MERGE INTO t USING src ON t.id = src.sid
      WHEN MATCHED AND id = 1 THEN DELETE
      WHEN MATCHED THEN UPDATE SET qty = 0
    """).select("id", "merge_action").as[(Long, String)].collect().toMap
    assert(res == Map(1L -> "DELETE", 3L -> "UPDATE"))
    assert(rows(g) == Seq((2L, "b", 20L), (3L, "c", 0L)))
  }

  test("one-source-row rule: two source hits on one target row refuse") {
    val g = fresh(); seed(g)
    val src = Seq((2L, 1L), (2L, 2L)).toDF("sid", "delta")
    g.createTable("src", src.schema)
    g.insert("src", src)
    val e = intercept[IllegalArgumentException] {
      g.execute("""
        MERGE INTO t USING src ON t.id = src.sid
        WHEN MATCHED THEN UPDATE SET qty = qty + delta
      """).collect()
    }
    assert(e.getMessage.contains("affected by multiple source rows"))
    assert(rows(g) == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)),
      "a refused MERGE must leave the table untouched")
  }

  test("multi-match is legal when the fired arm is DO NOTHING (PG rule)") {
    val g = fresh(); seed(g)
    // both source rows hit id=2 but only the qty>100 arm would affect it;
    // the row passes through exactly once (no duplication, no error)
    val src = Seq((2L, 1L), (2L, 2L)).toDF("sid", "delta")
    g.createTable("src", src.schema)
    g.insert("src", src)
    g.execute("""
      MERGE INTO t USING src ON t.id = src.sid
      WHEN MATCHED AND qty > 100 THEN UPDATE SET qty = qty + delta
    """)
    assert(rows(g) == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("positional INSERT (no column list) follows declared column order") {
    val g = fresh(); seed(g)
    val src = Seq((7L, "seven", 70L)).toDF("sid", "sname", "sqty")
    g.createTable("src", src.schema)
    g.insert("src", src)
    g.execute("""
      MERGE INTO t USING src ON t.id = src.sid
      WHEN NOT MATCHED THEN INSERT VALUES (sid, sname, sqty)
    """)
    assert(rows(g).contains((7L, "seven", 70L)))
  }

  test("subquery source with alias") {
    val g = fresh(); seed(g)
    val src = Seq((1L, 100L), (1L, 200L)).toDF("sid", "v")
    g.createTable("srcraw", src.schema)
    g.insert("srcraw", src)
    g.execute("""
      MERGE INTO t USING (SELECT sid, SUM(v) AS v FROM srcraw GROUP BY sid) s
      ON t.id = s.sid
      WHEN MATCHED THEN UPDATE SET qty = s.v
    """)
    assert(rows(g) == Seq((1L, "a", 300L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("conditional NOT MATCHED arms: first wins, DO NOTHING drops") {
    val g = fresh(); seed(g)
    val src = Seq((8L, 5L), (9L, 50L)).toDF("sid", "delta")
    g.createTable("src", src.schema)
    g.insert("src", src)
    g.execute("""
      MERGE INTO t USING src ON t.id = src.sid
      WHEN NOT MATCHED AND delta < 10 THEN DO NOTHING
      WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (sid, delta)
    """)
    val r = rows(g)
    assert(!r.exists(_._1 == 8L), "DO NOTHING arm must drop the row")
    assert(r.contains((9L, null, 50L)),
      "unnamed INSERT columns default to NULL")
  }

  test("FK RESTRICT blocks a MERGE whose DELETE arm empties a parent") {
    val g = fresh(); seed(g)
    val child = Seq((100L, 1L)).toDF("cid", "tid")
    g.createTable("child", child.schema)
    g.insert("child", child)
    g.addForeignKey("child", "tid", "t", "id")
    val src = Seq(1L).toDF("sid")
    g.createTable("src", src.schema)
    g.insert("src", src)
    intercept[IllegalStateException] {
      g.execute("""
        MERGE INTO t USING src ON t.id = src.sid
        WHEN MATCHED THEN DELETE
      """).collect()
    }
    assert(rows(g).size == 3, "refused MERGE leaves the parent intact")
  }

  test("a DELETE arm on a table with a self-referential FK is refused") {
    // the DELETE path folds self-FK CASCADE/RESTRICT into its one rewrite;
    // a MERGE DELETE arm would skip them and leave (2,1), (3,2) dangling
    val g = fresh()
    g.execute("CREATE TABLE emp (id BIGINT, boss BIGINT)")
    g.execute("INSERT INTO emp VALUES (1, NULL), (2, 1), (3, 2)")
    g.addForeignKey("emp", "boss", "emp", "id", g.Cascade)
    g.execute("CREATE TABLE gone (gid BIGINT)")
    g.execute("INSERT INTO gone VALUES (1)")
    val e = intercept[IllegalArgumentException] {
      g.execute("""
        MERGE INTO emp USING gone ON emp.id = gone.gid
        WHEN MATCHED THEN DELETE
      """).collect()
    }
    assert(e.getMessage.contains("emp") && e.getMessage.contains("use DELETE"))
    assert(g.table("emp").count() == 3, "a refused MERGE leaves emp intact")
    // the DELETE spelling runs the cascade closure
    g.execute("DELETE FROM emp WHERE id = 1")
    assert(g.table("emp").count() == 0)
  }

  test("a source column parquet cannot store leaves MERGE unaffected") {
    // the staged affected rows hold only target columns (and
    // merge_action), so a CalendarInterval source column is read by the
    // arms, never written; updateFrom likewise
    val g = fresh(); seed(g)
    val res = g.execute("""
      MERGE INTO t USING (SELECT 2 AS sid, make_interval(0, 1) AS gap) s
      ON t.id = s.sid
      WHEN MATCHED THEN UPDATE SET name = cast(gap AS STRING)
    """)
    assert(res.columns.toSeq == Seq("id", "name", "qty", "merge_action"))
    g.updateFrom("t", g.sql("SELECT 2 AS sid, make_interval(0, 1) AS gap"),
      col("t.id") === col("sid"), Map("qty" -> expr("qty + 1")))
    assert(rows(g) ==
      Seq((1L, "a", 10L), (2L, "1 months", 21L), (3L, "c", 30L)))
  }

  test("MERGE through the cursor-style execute is len()-able (affected)") {
    val g = fresh(); seed(g)
    val src = Seq((1L, 1L), (5L, 5L)).toDF("sid", "delta")
    g.createTable("src", src.schema)
    g.insert("src", src)
    val n = g.execute("""
      MERGE INTO t USING src ON t.id = src.sid
      WHEN MATCHED THEN UPDATE SET qty = qty + delta
      WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (sid, delta)
    """).count()
    assert(n == 2) // one UPDATE + one INSERT
  }
}
