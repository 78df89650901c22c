package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.plans.ArgminScore

/** The declarative higher-order-function spellings of graft's native
  * kernels. They exist only here, as the bit-identity oracle: every
  * operator and query calls the native `graft_*` expression. */
object Declarative {
  /** Dot product as a left-to-right fold over doubles; zip_with pads a
    * length mismatch with NULL, so a mismatch or NULL element is NULL. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** k-element MinHash: family i is xxhash64(shingle, i), one nested
    * transform so the shingle array is evaluated once per row. */
  def minHash(shinglesCol: Column, k: Int): Column =
    TextFunctions.bind(shinglesCol) { sh =>
      transform(sequence(lit(0), lit(k - 1)),
        i => array_min(transform(sh, s => xxhash64(s, i))))
    }
}

/** Native codegen'd vector expressions vs the declarative HOF spelling:
  * must be bit-identical (same IEEE fold order) and null-safe. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  /** Exact, null-safe row-by-row equality of `native` and its declarative
    * `oracle` over `df`. First pins that the oracle's optimized plan holds
    * no graft_ node, so the comparison can never go vacuous by comparing
    * the native kernel with itself. */
  private def assertBitIdentical(df: DataFrame, native: Column,
                                 oracle: Column): Unit = {
    val oraclePlan = df.select(oracle).queryExecution.optimizedPlan.toString
    assert(!oraclePlan.contains("graft_"),
      s"the oracle is not declarative:\n$oraclePlan")
    val diff = df.select(native.as("n"), oracle.as("o"))
      .filter(!(col("n") <=> col("o")))
    assert(diff.count() == 0, diff.limit(5).collect().mkString("\n"))
  }

  test("extensions register the native functions") {
    for (f <- Seq("graft_dot", "graft_cosine", "graft_argmin",
        "graft_minhash"))
      assert(spark.catalog.functionExists(f), f)
  }

  test("graft_cosine is bit-identical to the HOF cosine on real data") {
    val e = Tables.load(spark, sf, "embeddings").limit(50)
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id"))
    assertBitIdentical(pairs, VectorFunctions.cosine(col("a"), col("b")),
      Declarative.cosine(col("a"), col("b")))
    assertBitIdentical(pairs, VectorFunctions.dot(col("a"), col("b")),
      Declarative.dot(col("a"), col("b")))
    assertBitIdentical(pairs, VectorFunctions.norm(col("a")),
      Declarative.norm(col("a")))
  }

  test("graft_dot matches HOF dot and handles nulls") {
    def v(xs: java.lang.Float*): Option[Array[java.lang.Float]] =
      Some(xs.toArray)
    // a NULL array, a length mismatch and a NULL element are all NULL in
    // both spellings, never a partial sum. The repartition keeps the
    // projection out of ConvertToLocalRelation, so the native side runs
    // its generated code rather than being folded by nullSafeEval.
    val df = Seq(
      (v(1.0f, 2.0f), v(3.0f, 4.0f)),
      (None, v(1.0f)),
      (v(1.0f, 2.0f), v(1.0f)),
      (v(1.0f, null), v(1.0f, 2.0f))).toDF("a", "b").repartition(1)
    val out = df.select(VectorFunctions.dot(col("a"), col("b"))).collect()
    assert(out.length == 4 && out.flatMap(r => Option(r.get(0))).toSeq ==
      Seq(11.0))
    assertBitIdentical(df, VectorFunctions.dot(col("a"), col("b")),
      Declarative.dot(col("a"), col("b")))
    assertBitIdentical(df, VectorFunctions.cosine(col("a"), col("b")),
      Declarative.cosine(col("a"), col("b")))
  }

  test("graft_minhash equals the declarative HOF signature exactly") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val sh = TextFunctions.wordShingles(col("text"), 3)
    assertBitIdentical(docs, call_function("graft_minhash", sh, lit(16)),
      Declarative.minHash(sh, 16))
  }

  test("TopKPerKey custom operator equals the window-function spelling") {
    import graft.plans.TopKPerKey
    val df = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag").as("q_id"),
        col("l_orderkey").as("n_id"), col("l_extendedprice").as("sim"))
    val viaOp = TopKPerKey.topK(df, Seq("q_id"),
        Seq("sim" -> false, "n_id" -> true), 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    val viaWindow = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 4).drop("rnk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(viaOp == viaWindow)
    // physical plan actually contains the custom exec + an exchange
    val planStr = TopKPerKey.topK(df, Seq("q_id"),
      Seq("sim" -> false), 4).queryExecution.executedPlan.toString
    assert(planStr.contains("TopKPerKey") &&
      planStr.contains("Exchange hashpartitioning"), planStr)
  }

  test("double arrays are accepted too") {
    val df = Seq((Array(3.0, 4.0), Array(3.0, 4.0))).toDF("a", "b")
    assert(df.select(call_function("graft_cosine", col("a"), col("b")))
      .as[Double].head() == 1.0)
  }

  test("md5MinHash matches an independent plain-Scala reference " +
    "(pins the r16 one-md5-per-shingle oracle recipe)") {
    // reference implementation straight from the documented recipe:
    // shingle -> md5 -> first 15 hex chars -> BIGINT mod P, component
    // i = min over shingles of ((2i+1)*b + i*1013904223) mod P
    val P = 2147483647L
    def refSig(text: String, n: Int, k: Int): Seq[Long] = {
      val toks = text.trim.split("\\s+").toSeq
      val shingles =
        (if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
         else Seq(toks.mkString(" "))).distinct
      val md = java.security.MessageDigest.getInstance("MD5")
      val bs = shingles.map { sh =>
        val hex = md.digest(sh.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(15)
        java.lang.Long.parseLong(hex, 16) % P
      }
      (0 until k).map(i => bs.map(b => ((2L * i + 1) * b + i * 1013904223L) % P).min)
    }
    val rows = Tables.load(spark, sf, "documents").limit(40)
      .select(col("doc_id"),
        TextFunctions.md5MinHash(
          TextFunctions.wordShingles(col("text"), 3), 16).as("sig"),
        col("text"))
      .collect()
    for (r <- rows) {
      val got = r.getSeq[Long](1)
      val want = refSig(r.getString(2), 3, 16)
      assert(got == want,
        s"doc ${r.getLong(0)}: spark=$got ref=$want")
    }
  }

  /** graft_argmin over (id, candidate, |c|²) triples. */
  private def nativeArgmin(vec: Column, start: Int, strict: Boolean,
                           cands: Seq[(Long, Seq[Double], Double)]): Column =
    call_function("graft_argmin", vec, lit(start), lit(strict),
      typedLit(cands.map(_._2)), typedLit(cands.map(_._3)),
      typedLit(cands.map(_._1)))

  /** The array_min(struct(d, c_id)) spelling graft_argmin replaces. */
  private def declarativeArgmin(vec: Column,
                                cands: Seq[(Long, Seq[Double], Double)]) =
    array_min(array(cands.map { case (cid, emb, normSq) =>
      struct((lit(normSq) - lit(2.0) * Declarative.dot(vec, typedLit(emb)))
        .as("d"), lit(cid).as("c_id"))
    }: _*))

  private def withNorms(cands: Seq[(Long, Seq[Double])]) =
    cands.map { case (id, c) => (id, c, c.foldLeft(0.0)((s, v) => s + v * v)) }

  test("graft_argmin is bit-identical to the declarative literal argmin") {
    // the r20 single-node argmin vs the array_min(struct(d, c_id))
    // spelling it replaces, on real embeddings: whole-vector strict mode
    // (cell assignment) and sliced mode (PQ subspace), plus crafted
    // tie / NaN-free edge rows. Exact equality on BOTH struct fields.
    val e = Tables.load(spark, sf, "embeddings").limit(200)
      .select(col("vec_id"), col("embedding"))
    val cents = withNorms(
      e.orderBy(col("vec_id")).limit(16).collect().toSeq.map { r =>
        (r.getLong(0), r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case n: java.lang.Number => n.doubleValue
        }.toSeq)
      })
    assertBitIdentical(e, nativeArgmin(col("embedding"), 0, true, cents),
      declarativeArgmin(col("embedding"), cents))

    // sliced mode: subspace m=2 of 4 over 16-dim codewords
    val cb = withNorms(cents.take(8).zipWithIndex.map { case (c, j) =>
      (j.toLong, c._2.slice(32, 48)) })
    assertBitIdentical(e, nativeArgmin(col("embedding"), 32, false, cb),
      declarativeArgmin(slice(col("embedding"), 33, 16), cb))

    // ties break to the LOWER id in both spellings (duplicate candidate)
    val dupCents = withNorms(Seq((7L, Seq(1.0, 0.0)), (3L, Seq(1.0, 0.0)),
      (5L, Seq(0.0, 1.0))))
    val tiny = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val nat = tiny.select(nativeArgmin(col("embedding"), 0, true, dupCents)
      .getField("c_id")).head.getLong(0)
    assert(nat == 3L, s"tie must break to the lower c_id, got $nat")
    assertBitIdentical(tiny, nativeArgmin(col("embedding"), 0, true, dupCents),
      declarativeArgmin(col("embedding"), dupCents))

    // short vector in strict mode: every d is NULL (length mismatch) and
    // NULL sorts FIRST — both spellings pick the lowest id
    val short = Seq((1L, Seq(1.0f))).toDF("vec_id", "embedding")
    assertBitIdentical(short,
      nativeArgmin(col("embedding"), 0, true, dupCents),
      declarativeArgmin(col("embedding"), dupCents))

    // the length gates compare n with subDim only, so a negative start,
    // or any start > 0 in strict mode, would index past the array: both
    // are refused when the call is built, naming `start`
    for ((start, strict) <- Seq((-1, false), (1, true))) {
      val err = intercept[Exception] {
        tiny.select(nativeArgmin(col("embedding"), start, strict, dupCents))
          .collect()
      }
      assert(err.getMessage.contains("start"),
        s"start=$start strict=$strict: ${err.getMessage}")
    }
  }

  test("graft_argmin compares by content and prints readably") {
    // two separately built identical calls: the candidate arrays are
    // distinct objects, so only content equality makes them
    // semanticEquals (canonicalization, subexpression reuse)
    val cands = withNorms(Seq((3L, Seq(1.0, 0.0)), (5L, Seq(0.0, 1.0))))
    val df = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val plan = df.select(nativeArgmin(col("embedding"), 0, true, cands).as("a"),
      nativeArgmin(col("embedding"), 0, true, cands).as("b"))
      .queryExecution.analyzed
    val Seq(a, b) = plan.expressions.flatMap(_.collect {
      case x: ArgminScore => x })
    assert(a.semanticEquals(b) && a.hashCode == b.hashCode)
    assert(!a.semanticEquals(a.copy(ids = Array(3L, 6L))))
    val shown = Seq(a.toString, plan.toString)
    assert(shown.forall(s => "\\[+[DJ]@".r.findFirstIn(s).isEmpty), shown)
  }
}
