package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over embedding columns (`array<float>`), built entirely from
  * higher-order built-ins (`zip_with`/`aggregate`). Arithmetic is forced to
  * double and folded sequentially (left-to-right), so results are exactly
  * reproducible across engines — load-bearing for the oracle compare and for
  * deterministic near-dup thresholds at scale.
  */
object VecFns {

  /** Sequential left-fold sum of an array<double>. */
  private def fsum(xs: Column): Column =
    aggregate(xs, lit(0.0), (acc, v) => acc + v)

  /** Codegen'd dot product (graft.expressions.DotProduct) — bit-identical
    * to `dotHof` below but compiled to a tight loop instead of interpreted
    * per-element lambdas (~100× on wide joins).
    */
  def dot(a: Column, b: Column): Column =
    graft.expressions.DotProduct(a, b)

  /** The built-ins-only formulation (kept as the reference semantics the
    * custom expression must match; asserted equal in tests).
    */
  def dotHof(a: Column, b: Column): Column =
    fsum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; either zero-norm side → 0.0. */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** Random-hyperplane LSH bucket id: sign bits of projections onto the
    * given (deterministically pre-generated) hyperplanes, packed to a long.
    * planes(i) is one hyperplane as a literal array<double> column.
    */
  def hyperplaneBucket(v: Column, planes: Seq[Column]): Column = {
    require(planes.size <= 62, "bucket packed into a positive long")
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, p) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}
