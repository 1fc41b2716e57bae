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

  /** Sign-bit signature against `planes` pseudo-random hyperplanes — the
    * random-hyperplane LSH family for cosine distance. Plane (p, i) is a
    * deterministic hash-derived ±1, so executors regenerate identical
    * planes with zero driver-side state to broadcast.
    * signature bit p = sign( Σ_i  v[i] * h(p,i) ). */
  def hyperplaneSignature(v: Column, planes: Int): Column =
    transform(sequence(lit(0), lit(planes - 1)), p =>
      when(
        aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
            x * when(pmod(xxhash64(p * lit(4099) + i), lit(2)) === 0,
              lit(1.0)).otherwise(lit(-1.0))),
          lit(0.0), (acc, x) => acc + x) >= 0, lit(1)).otherwise(lit(0)))
}
