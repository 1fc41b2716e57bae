package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ArrayType columns via Spark higher-order functions —
  * all codegen-compatible built-ins, no UDFs, so the expressions stay
  * inside WholeStageCodegen and distribute trivially.
  *
  * Reference capability: the north-star similarity-search surface
  * (SURVEY.md §2-B Q34). A custom Catalyst Expression with doGenCode is
  * the planned optimization if profiling shows the HOF interpreter
  * overhead matters at 100 TB; semantics live here first.
  */
object VectorOps {

  /** Element-wise cast to double (embeddings are ArrayType(FloatType)). */
  def asDouble(a: Column): Column = a.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine when norms are precomputed (the at-scale form: normalize once,
    * then every pairwise comparison is just a dot product). */
  def cosinePrenormed(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)
}
