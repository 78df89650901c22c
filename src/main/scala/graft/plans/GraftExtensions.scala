package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension wiring (the Catalyst-sanctioned way to add native
  * expressions — SURVEY §4 "registered via SparkSessionExtensions").
  *
  * REQUIRED by every session that runs graft operators or queries: the
  * native expressions and the TopKPerKey planner strategy are their only
  * spelling, so without the extension analysis fails on an unresolved
  * `graft_*` routine. Verify/Bench/test sessions install it with
  * `.withExtensions(new GraftExtensions)`, the Python `connect()` and any
  * other session with `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => new TopKStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashSig(children(0), children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
            v.toString.toInt
          case other => throw new IllegalArgumentException(
            s"graft_minhash k must be a literal, got $other")
        })))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(children(0), children(1))))
    // graft_argmin(vec, start, strict, cands, norms, ids): the candidate
    // metadata is bounded driver state (centroids/codebooks) and MUST be
    // literal — it is folded into the expression at build time (the
    // MinHashSig k pattern), so the plan carries ONE node instead of
    // O(nCands·dim) literal children (r20: Janino compilation of those
    // trees was the e-family's measured wall)
    ext.injectFunction((
      new FunctionIdentifier("graft_argmin"),
      new ExpressionInfo(classOf[ArgminScore].getName, "graft_argmin"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.catalyst.util.ArrayData
        import org.apache.spark.sql.types.{ArrayType, DoubleType}
        def litOf(e: org.apache.spark.sql.catalyst.expressions.Expression,
                  what: String): Any = e match {
          case Literal(v, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_argmin $what must be a literal, got $other")
        }
        val start = litOf(children(1), "start").toString.toInt
        val strict = litOf(children(2), "strict").toString.toBoolean
        val cands = litOf(children(3), "cands").asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(DoubleType))
          .map(_.asInstanceOf[ArrayData].toDoubleArray)
        val norms = litOf(children(4), "norms").asInstanceOf[ArrayData]
          .toDoubleArray
        val ids = litOf(children(5), "ids").asInstanceOf[ArrayData]
          .toLongArray
        ArgminScore(children(0), start, strict, cands, norms, ids)
      }))
  }
}
