package graft

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Round, BRound}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.functions._

/** Determinism lint (VERDICT r8 #7): `round(<transcendental>) → DECIMAL`
  * declared hash-exact is a cross-engine landmine — libm `ln`/`exp`/`pow`
  * are not correctly rounded, so two engines can disagree by 1 ULP, which
  * flips the 6-dp rounding exactly at a 0.5·10⁻⁶ boundary (this killed
  * d18/g3/ir2 in CORRECTNESS_r08 while passing the local DuckDB). The
  * sanctioned shape is the literal-injection pattern: compute the bounded
  * transcendental model ONCE on the driver and inject identical DECIMAL
  * literals into the plan AND the oracle — see [[graft.OracleLiterals]],
  * [[graft.operators.Mixing.importanceModel]],
  * [[graft.operators.Retrieval.Bm25Model]].
  *
  * This spec sweeps every oracle-checked registry query's ANALYZED plan
  * (subqueries included) and fails on any Cast-to-Decimal whose subtree
  * rounds a transcendental. sqrt/cbrt are excluded: IEEE 754 requires
  * sqrt correctly rounded (deterministic), and cbrt is unused.
  */
class DeterminismLintSpec extends SparkSpec {

  /** Every registry query built ONCE and shared by both registry-wide
    * sweeps below — building is not free (x-family queries go through
    * the GraftSession write path), so the two lints must not each pay
    * a full pass. */
  private lazy val builtQueries
      : Seq[(String, Either[Throwable, org.apache.spark.sql.DataFrame])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(fn(spark, sf))
               catch { case e: Throwable => Left(e) })
    }

  import org.apache.spark.sql.catalyst.expressions.{
    Log, Logarithm, Log2, Log10, Log1p, Exp, Expm1, Pow,
    Sin, Cos, Tan, Sinh, Cosh, Tanh, Asin, Acos, Atan, Atan2}

  private def isTranscendental(e: Expression): Boolean = e match {
    case _: Log | _: Logarithm | _: Log2 | _: Log10 | _: Log1p |
         _: Exp | _: Expm1 | _: Pow |
         _: Sin | _: Cos | _: Tan | _: Sinh | _: Cosh | _: Tanh |
         _: Asin | _: Acos | _: Atan | _: Atan2 => true
    case _ => false
  }

  private def isRound(e: Expression): Boolean =
    e.isInstanceOf[Round] || e.isInstanceOf[BRound]

  import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
    WindowExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
  import org.apache.spark.sql.types.{DoubleType, FloatType}

  /** True when the value being rounded is a pure function of EXACT
    * (non-floating) inputs — i.e. it had an exact integer/decimal
    * spelling and quantizing it through a double is gratuitous boundary
    * risk (the CORRECTNESS_r09 ir2 class: `round(1.0/(60+rnk), 12)` —
    * Spark rounds doubles via exact BigDecimal HALF_UP, DuckDB via a
    * scaled-double nearbyint, and the two flip at a boundary). Values
    * derived from genuine float data (embeddings, measurements) or from
    * statistical aggregates/windows have no exact spelling and are
    * allowed — for those, both engines round the SAME IEEE double. */
  private def exactInputsOnly(e: Expression): Boolean =
    !e.exists {
      case a: AttributeReference =>
        a.dataType == DoubleType || a.dataType == FloatType
      case _: AggregateExpression | _: WindowExpression => true
      case _ => false
    }

  /** All decimal-bound boundary-risky rounding chains in one expression:
    * (a) round(<transcendental>) → DECIMAL, (b) round(<double that is a
    * pure function of exact inputs>) → DECIMAL. */
  private def chains(root: Expression): Seq[String] =
    root.collect {
      case c: Cast if c.dataType.isInstanceOf[DecimalType] &&
          c.exists(e => isRound(e) && e.exists(isTranscendental)) =>
        s"round(transcendental): ${c.sql.take(160)}"
      case c: Cast if c.dataType.isInstanceOf[DecimalType] &&
          c.exists(e => isRound(e) &&
            e.children.head.dataType == DoubleType &&
            exactInputsOnly(e.children.head)) =>
        s"round(double-of-exact-inputs): ${c.sql.take(160)} — spell it " +
          "as integral `div` on BIGINT/DECIMAL(38,0) micro-units instead"
    }

  private def lint(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val analyzed = df.queryExecution.analyzed
    analyzed.collectWithSubqueries {
      case node => node.expressions.flatMap(chains)
    }.flatten
  }

  test("no oracle-checked query rounds an in-plan transcendental into DECIMAL") {
    val offenders = scala.collection.mutable.Buffer[String]()
    val oracleKeys = SparkEntry.oracleSql.keySet
    builtQueries
      .filter { case (n, _) => oracleKeys(n) }
      .foreach { case (name, built) =>
        val found = built match {
          case Right(df) => lint(df)
          case Left(e) => Seq(s"(failed to build: $e)")
        }
        found.foreach(f => offenders +=
          s"$name: $f — use the OracleLiterals literal-injection pattern " +
            "(driver-side model, identical DECIMAL literals in plan+oracle)")
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no query presents a DECIMAL output column (read-path invariant)") {
    // r18 (PLANS.md §ds38): a decimal OUTPUT column renders differently
    // by parquet read path (DuckDB fetchdf() -> float64 "...900.0" vs
    // fetchall()/pyarrow -> Decimal "...900"), so a remote hash compare
    // whose two sides read differently can fail on values a typed local
    // compare proves equal. Decimals are for ACCUMULATION; present
    // money/measures as BIGINT micro-units or DOUBLE. The one sanctioned
    // exception was the r18 ds38f probe, which carried a decimal on
    // purpose to detect exactly this mechanism at the driver; with the
    // mechanism confirmed and the probe removed (r19), the invariant
    // holds registry-wide with no exceptions.
    val offenders = scala.collection.mutable.Buffer[String]()
    builtQueries
      .foreach { case (name, built) =>
        val decs = built match {
          case Right(df) => df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[
              org.apache.spark.sql.types.DecimalType] => f.name
          }.toSeq
          case Left(e) => Seq(s"(failed to build: $e)")
        }
        decs.foreach(c => offenders += s"$name: output column $c")
      }
    assert(offenders.isEmpty,
      "decimal output columns are read-path-fragile — present as BIGINT " +
        "micro-units or DOUBLE:\n" + offenders.mkString("\n"))
  }

  test("the lint catches a seeded round(ln)->DECIMAL regression") {
    import spark.implicits._
    val df = Seq((1L, 4.0)).toDF("id", "x")
      .select(col("id"),
        round(log(col("x") / 3.0), 6).cast("decimal(20,6)").as("w"))
    assert(lint(df).nonEmpty)
  }

  test("the lint catches a seeded round(1.0/x)->DECIMAL regression (ir2 class)") {
    import spark.implicits._
    val df = Seq((1L, 3)).toDF("id", "rnk")
      .select(col("id"),
        round(lit(1.0) / (lit(60.0) + col("rnk").cast("double")), 12)
          .cast("decimal(16,12)").as("c"))
    val found = lint(df)
    assert(found.nonEmpty && found.head.contains("double-of-exact-inputs"))
  }

  test("the lint ignores float-data chains and literal-injected decimals") {
    import spark.implicits._
    val df = Seq((1L, 4.0, "0.287682")).toDF("id", "x", "wtxt")
      .select(col("id"),
        // x is genuine double DATA — both engines round the same IEEE
        // value, there is no exact spelling to prefer
        round(col("x") / 3.0, 6).cast("decimal(20,6)").as("ok_float_data"),
        col("wtxt").cast("decimal(20,6)").as("ok_literal"),
        sqrt(col("x")).cast("decimal(20,6)").as("ok_sqrt"))
    assert(lint(df).isEmpty)
  }

  // VERDICT r10 #2: the same ban, applied to the RENDERED DuckDB oracle
  // texts. A `round(ln(...))` spelling inside oracle SQL recomputes the
  // transcendental in the oracle engine — the exact failure mode the
  // literal snapshot exists to prevent; it survived three rounds inside
  // "fallback" branches that were supposed to never render.
  // oracleSql is a def that re-renders the whole registry per call —
  // render once and index into it
  private lazy val renderedOracles: Map[String, String] = SparkEntry.oracleSql

  test("no rendered oracle SQL recomputes round(<transcendental>)") {
    val rx = "(?i)round\\s*\\(\\s*(ln|log|log2|log10|exp|pow)\\s*\\(".r
    val offenders = renderedOracles.collect {
      case (k, sql) if rx.findFirstIn(sql).isDefined => k
    }
    assert(offenders.isEmpty,
      s"oracle SQL recomputes a rounded transcendental (use the " +
        s"OracleLiterals snapshot): ${offenders.mkString(", ")}")
  }

  test("literal-injected oracles are integer-only: no round() at all") {
    for (q <- Seq("d18_dsir_weights", "g3_bigram_xent", "e12_pq_adc",
        "ir1_bm25", "ir2_hybrid_rrf")) {
      val sql = renderedOracles(q).toLowerCase
      assert(!sql.contains("round("),
        s"$q: hash-checked literal-model oracle must be pure integer " +
          "arithmetic (BIGINT micro-units), found round()")
    }
  }

  // Operators pick their own physical path from their inputs; a
  // `spark.graft.*` setting would add a second path that only a test
  // ever takes. Any such key in the library source fails here.
  test("src/main reads no spark.graft.* conf") {
    import scala.jdk.CollectionConverters._
    val files = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty)
    val offenders = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("spark.graft.") => s"$f:${i + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"spark.graft.* conf in library source: ${offenders.mkString(", ")}")
  }

  // A bare parquet read infers the schema with a Spark job on every call;
  // program reads go through ParquetSchemas, whose memo runs it once.
  // Bare reads that remain, per file and source line, with the reason.
  private val bareParquetReads: Map[(String, String), String] = Map(
    ("graft/tables.scala", "def inferred = spark.read.parquet(path).schema")
      -> "ParquetSchemas' own inference on a memo miss",
    ("graft/api/GraftSession.scala",
      """case "parquet" => spark.read.parquet(path)""")
      -> "COPY FROM reads a user path once per statement",
    ("graft/sources/Ingest.scala", "spark.read.parquet(path)")
      -> ("one-shot reads of a user path, whose partition tree may nest " +
        "deeper than the memo's one-level fingerprint"))

  test("src/main reads parquet only through ParquetSchemas") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala")
    val files = scala.util.Using.resource(java.nio.file.Files.walk(main))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty)
    val found = files.flatMap { f =>
      val rel = main.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("read.parquet(") =>
          (rel, l.trim, s"$rel:${i + 1}")
      }
    }
    val offenders = found.collect {
      case (rel, l, at) if !bareParquetReads.contains((rel, l)) => s"$at: $l"
    }
    assert(offenders.isEmpty, "bare spark.read.parquet in library source " +
      s"(use graft.ParquetSchemas.read):\n${offenders.mkString("\n")}")
    // every allowlist entry still names a live read
    assert(bareParquetReads.keySet == found.map(f => (f._1, f._2)).toSet)
  }
}
