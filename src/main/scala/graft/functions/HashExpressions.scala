package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Compiled kernels for the signature hot paths (MinHash, SimHash,
  * set Jaccard). Each Expression's codegen emits a single static call
  * into [[HashKernels]], so whole-stage codegen stays intact while
  * the per-row loop runs as plain compiled JVM code instead of
  * interpreted higher-order-function lambdas (~10-30× on the
  * signature stages, which dominate near-dup cost at scale).
  */
object HashKernels {

  /** MinHash signature: perm p is XXH64(h, seed=p) (same hash family
    * as Spark's xxhash64). Input: distinct 64-bit token hashes. */
  def minhashSig(hs: ArrayData, nPerms: Int): ArrayData = {
    val n = hs.numElements()
    val out = new Array[Long](nPerms)
    if (n == 0) return new GenericArrayData(out)
    // one primitive copy (the ArrayData accessor costs more than the
    // hash at 128 reads/element), token-outer loop with running minima
    val xs = hs.toLongArray()
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = xs(i)
      var p = 0
      while (p < nPerms) {
        val v = XXH64.hashLong(h, p.toLong)
        if (v < out(p)) out(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash by per-bit voting over token hashes.
    *
    * SWAR accumulation: 8 longs of 8 byte-lanes count the ones of all
    * 64 bit positions with 8 adds per token (vs 64 branchy ops),
    * flushing to full-width counters every 255 tokens so lanes never
    * overflow. Bit b of the result is set iff ones(b) > n/2 —
    * identical votes to the naive ±1 formulation (differential spec).
    */
  def simhash(hs: ArrayData): Long = {
    val n = hs.numElements()
    val ones = new Array[Int](64)
    val lanes = new Array[Long](8) // lanes(k) byte b counts bit 8*b+k
    val laneMask = 0x0101010101010101L
    var pending = 0
    def flush(): Unit = {
      var k = 0
      while (k < 8) {
        var b = 0
        while (b < 8) {
          ones(8 * b + k) += ((lanes(k) >>> (8 * b)) & 0xffL).toInt
          b += 1
        }
        lanes(k) = 0L
        k += 1
      }
      pending = 0
    }
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var k = 0
      while (k < 8) {
        lanes(k) += (h >>> k) & laneMask
        k += 1
      }
      pending += 1
      if (pending == 255) flush()
      i += 1
    }
    flush()
    var out = 0L
    var b = 0
    while (b < 64) {
      if (2 * ones(b) > n) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Exact Jaccard of two long arrays treated as sets (inputs must be
    * distinct, e.g. from array_distinct): sort + two-pointer merge. */
  def jaccardLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val xs = a.toLongArray(); val ys = b.toLongArray()
    java.util.Arrays.sort(xs); java.util.Arrays.sort(ys)
    var i = 0; var j = 0; var common = 0
    while (i < na && j < nb) {
      val c = java.lang.Long.compare(xs(i), ys(j))
      if (c == 0) { common += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - common
    common.toDouble / union.toDouble
  }

  /** All three corner credits of one degree-oriented edge from ONE
    * two-pointer merge (r16): for edge (u,v), |adj⁺(u) ∩ adj⁺(v)| = k
    * pays u and v, and each intersection element w pays 1 — emitted
    * together as (id, credit) rows so the triangle plan runs the
    * merge (and the adjacency attach feeding it) exactly ONCE instead
    * of a count pass plus an elements pass. */
  def triCredits(a: ArrayData, b: ArrayData, u: Long, v: Long): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val buf = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var k = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { buf(k) = x; k += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val out = new Array[Any](k + 2)
    out(0) = org.apache.spark.sql.catalyst.InternalRow(u, k.toLong)
    out(1) = org.apache.spark.sql.catalyst.InternalRow(v, k.toLong)
    var o = 0
    while (o < k) {
      out(o + 2) = org.apache.spark.sql.catalyst.InternalRow(buf(o), 1L)
      o += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

}

private object HashExprCheck {
  // containsNull must be false: the kernels read elements with
  // ArrayData.getLong, which would silently decode a null slot as 0
  // and corrupt signatures — reject at analysis time instead.
  def requireLongArray(name: String, dts: DataType*): TypeCheckResult =
    if (dts.forall { case ArrayType(LongType, false) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects array<bigint> inputs with non-null elements, got ${dts.map(_.sql).mkString(", ")}")
}

case class MinHashSig(child: Expression, nPerms: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprCheck.requireLongArray(prettyName, child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashSig(input.asInstanceOf[ArrayData], nPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.minhashSig($c, $nPerms)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprCheck.requireLongArray(prettyName, child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class LongSetJaccard(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprCheck.requireLongArray(prettyName, left.dataType, right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.jaccardLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashKernels.jaccardLong($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Per-edge triangle corner credits ([[HashKernels.triCredits]]):
  * array<struct<id bigint, c bigint>> — (u, k), (v, k), then one
  * (w, 1) per intersection element. Explode feeds a partial
  * aggregate, so per-triangle rows exist only inside the stage. */
case class TriCredits(first: Expression, second: Expression,
                      third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  import org.apache.spark.sql.types.{StructField, StructType}
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_tri_credits"
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second).forall(_.dataType match {
          case ArrayType(LongType, false) => true; case _ => false }) &&
        Seq(third, fourth).forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, array<bigint>, bigint, bigint), got " +
        children.map(_.dataType.sql).mkString(", "))

  override protected def nullSafeEval(a: Any, b: Any, u: Any, v: Any): Any =
    HashKernels.triCredits(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      u.asInstanceOf[Long], v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, u, v) =>
      s"graft.functions.HashKernels.triCredits($a, $b, $u, $v)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** Column constructors. */
object NativeHash {
  def minhashSig(hs: Column, nPerms: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(hs), nPerms))
  def simhash(hs: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hs)))
  def jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(LongSetJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def triCredits(a: Column, b: Column, u: Column, v: Column): Column =
    ColumnBridge.column(TriCredits(ColumnBridge.expression(a), ColumnBridge.expression(b),
      ColumnBridge.expression(u), ColumnBridge.expression(v)))
}
