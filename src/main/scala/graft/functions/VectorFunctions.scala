package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, built from
  * Catalyst array higher-order functions (`transform` / `zip_with` /
  * `aggregate`) — codegen'd, no UDF, no serialization of the vector to the
  * JVM object world.
  *
  * Precision contract: all arithmetic is double, folded sequentially
  * left-to-right (the evaluation order of `aggregate`) — bit-identical to a
  * scalar loop, so results are reproducible regardless of partitioning and
  * exactly match DuckDB's `list_cosine_similarity` on `DOUBLE[]` (verified
  * empirically at build time).
  */
object VectorFunctions {

  /** Elementwise cast to double. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Sequential-fold squared L2 norm. */
  def norm2(a: Column): Column =
    aggregate(toDouble(a), lit(0.0), (acc, x) => acc + x * x)

  /** Sequential-fold squared Euclidean distance — the PQ assignment/ADC
    * metric. No sqrt: every consumer compares distances, and the square is
    * monotone; staying in plain double sums keeps DuckDB parity (the
    * oracle's `list_reduce` over squared diffs is the identical left fold —
    * its first-element init equals the 0.0 init exactly because squares
    * are never -0.0). */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity: dot / (sqrt(|a|²) · sqrt(|b|²)) clamped to
    * [-1, 1] — the exact operation order and clamp of DuckDB's
    * list_cosine_similarity. Dispatches to the native codegen expression
    * `graft.functions.expressions.CosineSimilarity` (registered by
    * GraftExtensions): one fused compiled loop instead of three interpreted
    * higher-order folds, bit-exact wherever the unclamped fold stays within
    * [-1, 1] (cross-checked against `cosineHof` in the spec suite). */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** The original higher-order-function formulation, kept as the reference
    * implementation the native expression is differentially tested against
    * (and a fallback for sessions without GraftExtensions). Unclamped. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Random-hyperplane-free sign sketch: the concatenated sign bits of the
    * first `bits` dimensions. A deterministic, SQL-expressible LSH bucket
    * for cosine similarity — vectors in the same orthant of the leading
    * subspace land in the same bucket. */
  def signBucket(v: Column, bits: Int): Column =
    concat_ws("", transform(slice(v, 1, bits),
      x => when(x >= 0, lit("1")).otherwise(lit("0"))))

  /** SimHash-style sign sketch against an explicit projection matrix
    * (rows = hyperplanes), for the ANN path where leading-dim signs are too
    * correlated. `planes` is a literal Seq of hyperplane vectors; the
    * expression stays codegen'd (no UDF). */
  def hyperplaneBucket(v: Column, planes: Seq[Array[Double]]): Column = {
    val bits = planes.map { p =>
      val proj = aggregate(
        zip_with(toDouble(v), typedLit(p.toSeq), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }
    concat_ws("", bits: _*)
  }
}
