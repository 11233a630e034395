package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding math over `ArrayType(FloatType)` columns (SURVEY.md §2.J).
  *
  * The dot product — the hot inner loop of every similarity/near-dup
  * operator — is a native codegen'd Catalyst expression
  * ([[graft.expressions.DotProductF]]); Spark's higher-order functions
  * are interpreted per-lambda-call and dominate the profile at scale.
  * The HOF form is kept as `dotHof` for cross-checking. Both cast each
  * element to double before arithmetic and sum sequentially, so Spark
  * and DuckDB (oracle side) produce bit-identical values.
  */
object Vectors {

  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExprs.vecDot(a, b)

  /** Built-in-only formulation of [[dot]]; same values, interpreted. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
