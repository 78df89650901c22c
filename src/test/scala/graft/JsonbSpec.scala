package graft

import org.apache.spark.sql.functions._
import graft.functions.Jsonb

/** JSONB operator surface: SQL rewriting + column DSL
  * (reference transform_select.cpp:641-715 jsonb lowering). */
class JsonbSpec extends SparkSpec {
  import spark.implicits._

  test("rewrite: ->> chain to get_json_object") {
    assert(Jsonb.rewrite("SELECT props->>'k' FROM e")
      == "SELECT get_json_object(props, '$.k') FROM e")
    assert(Jsonb.rewrite("SELECT m->'a'->>'b' FROM e")
      == "SELECT get_json_object(m, '$.a.b') FROM e")
  }

  test("rewrite: #> path and #- key deletion") {
    assert(Jsonb.rewrite("SELECT m #> '{a,b}' FROM e")
      == "SELECT get_json_object(m, '$.a.b') FROM e")
    assert(Jsonb.rewrite("SELECT m #- '{a}' FROM e").contains("map_filter"))
    // bare minus with a string literal is REAL SQL — must pass through
    assert(Jsonb.rewrite("SELECT ts - '1 hour' FROM e")
      == "SELECT ts - '1 hour' FROM e")
  }

  test("rewrite: $n parameter binding (incl. escaping)") {
    assert(Jsonb.rewrite("SELECT * FROM t WHERE a = $1 AND b = $2",
      Seq("x'y", 42)) == "SELECT * FROM t WHERE a = 'x''y' AND b = 42")
  }

  test("rewrite: a $n inside a literal is text") {
    assert(Jsonb.rewrite("SELECT 'costs $1' AS s, $1 AS v", Seq(5))
      == "SELECT 'costs $1' AS s, 5 AS v")
  }

  test("rewrite: a bound value spelling $n is data, never re-bound") {
    assert(Jsonb.rewrite("SELECT $1 AS a, $2 AS b", Seq("x", "$1"))
      == "SELECT 'x' AS a, '$1' AS b")
  }

  test("rewrite: $n binds whole indexes and keys the jsonb operators") {
    // two-digit indexes bind whole; unbound indexes stay as written
    val twelve = (1 to 12).map(i => s"v$i")
    assert(Jsonb.rewrite("SELECT $12, $1, $13", twelve)
      == "SELECT 'v12', 'v1', $13")
    // a bound literal still keys the jsonb operators
    assert(Jsonb.rewrite("SELECT props->>$1 FROM t", Seq("k"))
      == "SELECT get_json_object(props, '$.k') FROM t")
  }

  test("rewrite: operator spellings inside string literals pass through") {
    // `->>` inside a literal (with '' escapes) must NOT be rewritten
    val q1 = "SELECT * FROM t WHERE note = 'a->>''k'''"
    assert(Jsonb.rewrite(q1) == q1)
    // `#>` with a non-{…} literal is not a path operator
    val q2 = "SELECT * FROM t WHERE note = 'm #> x'"
    assert(Jsonb.rewrite(q2) == q2)
    // a real chain NEXT TO a literal containing an operator: only the
    // real one rewrites
    assert(Jsonb.rewrite("SELECT props->>'k' FROM t WHERE note = 'a->>''k'''")
      == "SELECT get_json_object(props, '$.k') FROM t WHERE note = 'a->>''k'''")
    // a bound $n parameter containing an operator spelling stays data
    assert(Jsonb.rewrite("SELECT * FROM t WHERE note = $1", Seq("p->>'k'"))
      == "SELECT * FROM t WHERE note = 'p->>''k'''")
  }

  test("end-to-end: PG-dialect SQL over a JSON column") {
    Seq(("""{"k": 7, "j": 1}""", 1L), ("""{"k": 9, "j": 2}""", 2L))
      .toDF("props", "id").createOrReplaceTempView("ev")
    val out = spark.sql(Jsonb.rewrite(
      "SELECT CAST(props->>'k' AS BIGINT) AS k FROM ev ORDER BY id"))
      .as[Long].collect()
    assert(out.toSeq == Seq(7L, 9L))
    val deleted = spark.sql(Jsonb.rewrite(
      "SELECT props #- '{j}' AS d FROM ev ORDER BY id")).as[String].head()
    assert(deleted == """{"k":"7"}""")
  }

  test("rewrite: comments are opaque (apostrophes/operators inside)") {
    // an unpaired apostrophe in a -- comment must not mis-pair with a
    // later literal quote and swallow the operator chain
    val q1 = "SELECT 1 -- can't\n, props->>'k' FROM t"
    assert(Jsonb.rewrite(q1)
      == "SELECT 1 -- can't\n, get_json_object(props, '$.k') FROM t")
    // operator spellings inside block comments stay untouched
    val q2 = "SELECT /* a->>'k' */ x FROM t"
    assert(Jsonb.rewrite(q2) == q2)
    // an operator whose "key" is a comment is not a chain: pass through
    val q3 = "SELECT props ->> /* not a key */ 'k' FROM t"
    assert(Jsonb.rewrite(q3) == q3)
  }

  test("property: literal content is NEVER altered by the rewriter") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // arbitrary content including operator spellings, braces, dollars —
    // embedded as a correctly ''-escaped SQL literal it must survive
    // rewrite byte-for-byte
    val hazard = Gen.listOf(Gen.oneOf(
      Gen.oneOf("->", "->>", "#>", "#>>", "#-", "::?", "'", "{", "}", "$1",
        ",", " "),
      Gen.alphaNumStr.map(_.take(6)))).map(_.mkString)
    val p = Prop.forAll(hazard) { content =>
      val lit = "'" + content.replace("'", "''") + "'"
      val q = s"SELECT * FROM t WHERE note = $lit AND flag = true"
      Jsonb.rewrite(q) == q
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("property: simple chains always lower to get_json_object") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val key = Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(8))
    val p = Prop.forAll(key, key, Gen.oneOf(true, false)) { (k1, k2, deep) =>
      val q = if (deep) s"SELECT props->'$k1'->>'$k2' FROM t"
              else s"SELECT props->>'$k1' FROM t"
      val expect = if (deep) s"SELECT get_json_object(props, '$$.$k1.$k2') FROM t"
                   else s"SELECT get_json_object(props, '$$.$k1') FROM t"
      Jsonb.rewrite(q) == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("column DSL on struct and json-string columns") {
    import Jsonb._
    val df = Seq((1L, """{"a": {"b": 5}}""")).toDF("id", "js")
      .withColumn("st", struct(lit(1).as("x"), lit(2).as("y")))
    assert(df.select(col("js") #>> Seq("a", "b")).as[String].head() == "5")
    assert(df.select(col("st").field("x")).as[Int].head() == 1)
    val dropped = df.select(col("st").deleteField("y").as("s"))
    assert(dropped.select("s.*").columns.toSeq == Seq("x"))
  }
}
