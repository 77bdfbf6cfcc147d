package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative vector math over `array<float>` embedding columns.
  *
  * Everything here composes built-in higher-order functions
  * (`zip_with`/`aggregate`/`transform`) so it stays inside Catalyst —
  * no UDF, no serialization wall, codegen-friendly at 100 TB.
  */
object VectorFns {

  /** Elementwise double view of a float vector column. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Native codegen dot product (VectorExpressions.DotProduct). */
  def dot(a: Column, b: Column): Column = NativeVector.dot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Native codegen cosine; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = NativeVector.cosine(a, b)

  /** Reference HOF formulation of [[dot]].
    * Differential anchor: VectorExprSpec checks the native dot against it. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Deterministic Gaussian random hyperplanes (seeded — identical on
    * every executor/run). nTables*bitsPerTable planes of `dim` dims. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val r = new java.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(r.nextGaussian()))
  }

  /** Sign-bit of v · plane as 0/1. */
  private def planeBit(v: Column, plane: Array[Double]): Column = {
    val planeCol = array(plane.toIndexedSeq.map(lit(_)): _*)
    when(dot(v, planeCol) > 0.0, 1L).otherwise(0L)
  }

  /** Random-hyperplane LSH bucket id: `bits` sign-bits packed into a
    * long. Vectors with high cosine similarity collide with
    * probability (1 - θ/π)^bits per table.
    * Differential anchor: VectorExprSpec checks the fused lshBuckets
    * kernel against it. */
  def lshBucket(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      planeBit(v, p) * (1L << i)
    }.reduce(_ + _)
}
