package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, built from
  * codegen'd builtins (`zip_with` + `aggregate`) — no Scala UDFs in the
  * hot path, so whole-stage codegen stays unbroken.
  *
  * Precision contract: floats are cast to double FIRST, then folded
  * left-to-right (ArrayAggregate is a sequential fold), and cosine is
  * computed as `dot / normA / normB` in that association order. The
  * DuckDB oracle mirrors the same structure (`list_sum(list_transform(
  * ... CAST AS DOUBLE ...))`), which makes results bit-identical — no
  * rounding fudge needed for hash-matching.
  */
object Vectors {

  /** Element cast so arithmetic happens in double, not float. */
  def asDouble(a: Column): Column = a.cast("array<double>")

  /** Left-fold sum of an array<double> column. */
  private def fsum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    fsum(zip_with(asDouble(a), asDouble(b), (x, y) => x * y))

  def norm(a: Column): Column = {
    val ad = asDouble(a)
    sqrt(fsum(zip_with(ad, ad, (x, y) => x * y)))
  }

  /** Cosine similarity; NaN when either side has zero norm (matches
    * IEEE division semantics on both engines). Delegates to the codegen
    * [[graft.functions.CosineSimilarity]] expression — one fused loop vs
    * three interpreted array folds; identical operation order, so
    * results are bit-identical to [[cosineBuiltin]]. */
  def cosine(a: Column, b: Column): Column = CosineSimilarity(a, b)

  /** The builtin-composition spelling, kept for the equivalence test
    * pinning the codegen expression to the portable definition. */
  def cosineBuiltin(a: Column, b: Column): Column = dot(a, b) / norm(a) / norm(b)
}
