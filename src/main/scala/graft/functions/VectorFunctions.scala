package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `ArrayType(FloatType/DoubleType)`
  * embedding columns. Each one is graft's native codegen'd expression
  * ([[graft.plans.DotProduct]], [[graft.plans.CosineSimilarity]]), so the
  * session must have [[graft.plans.GraftExtensions]] installed. Elements
  * are cast to double and summed left-to-right, so results are
  * bit-identical to any IEEE-754 engine folding the same way.
  */
object VectorFunctions {

  /** Dot product of two equal-length array columns (sequential fold);
    * NULL on a length mismatch or a NULL element. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Deterministic random hyperplanes for sign-LSH, seeded so plans are
    * reproducible across runs and executors (values live in the plan as
    * literals, broadcast for free with the task binary). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: nPlanes-bit signature of sign(v · plane_i).
    * Vectors with high cosine similarity land in the same bucket with
    * high probability; used to prune ANN candidate pairs at scale. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      // ONE ArrayType literal node per plane, not dim CreateArray
      // children — same folded value, dim× fewer nodes for the
      // analyzer/optimizer to walk (r20)
      val planeCol = typedLit(p)
      when(dot(v, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
}
