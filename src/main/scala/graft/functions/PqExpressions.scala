package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Product-quantization kernels (the IVF-PQ serving path): a vector
  * is stored as M one-byte sub-space code assignments (8 bytes here
  * vs 256 for raw float32[64]) and scored against a query through the
  * shared codebook — candidate scans read 32× less memory, which is
  * the binding constraint of a 100 TB ANN tier. The codebook rides
  * into generated code via `addReferenceObj`, so both expressions
  * stay inside whole-stage codegen with one static kernel call per
  * row.
  */
object PqKernels {

  /** The source embedding schema carries nullable elements (parquet
    * list default), so — matching the float-vector expressions, which
    * also accept it — nulls are guarded at RUNTIME, loudly: a blind
    * getFloat would decode a null slot as 0.0 and silently corrupt
    * codes/scores. */
  private def checkedFloats(v: ArrayData, what: String): Array[Float] = {
    val n = v.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(s"$what contains a null element at $i")
      out(i) = v.getFloat(i)
      i += 1
    }
    out
  }

  /** Nearest sub-centroid per subspace by L2 over the sub-vector —
    * the SINGLE definition of the codebook layout ((m·k + c)·subDim)
    * and assignment metric; training and serving both call it, so
    * they can never desynchronize. */
  def encodeArray(v: Array[Float], cb: Array[Double], m: Int, k: Int): Array[Byte] = {
    val sub = v.length / m
    val out = new Array[Byte](m)
    var mi = 0
    while (mi < m) {
      var bestC = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val base = (mi * k + c) * sub
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = v(mi * sub + j) - cb(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      out(mi) = bestC.toByte
      mi += 1
    }
    out
  }

  def encode(vec: ArrayData, cb: Array[Double], m: Int, k: Int): Array[Byte] =
    encodeArray(checkedFloats(vec, "graft_pq_encode input"), cb, m, k)

  /** Approximate ⟨q, v⟩ from v's codes: sum over subspaces of
    * ⟨q_sub, centroid[m][code]⟩. */
  def adcDot(codes: Array[Byte], q: ArrayData, cb: Array[Double], k: Int): Double = {
    val m = codes.length
    val n = q.numElements()
    val sub = n / m
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      val base = (mi * k + (codes(mi) & 0xff)) * sub
      var j = 0
      while (j < sub) {
        val idx = mi * sub + j
        if (q.isNullAt(idx))
          throw new IllegalArgumentException(
            s"graft_pq_adc_dot query contains a null element at $idx")
        acc += q.getFloat(idx) * cb(base + j)
        j += 1
      }
      mi += 1
    }
    acc
  }
}

private object PqExprCheck {
  def requireFloatArray(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<float>, got ${other.sql}")
  }

  /** The codebook as plan text prints it: its length and a content
    * hash, the same on every run (an array would print its JVM
    * identity). */
  def codebookArg(codebook: Array[Double]): String =
    f"codebook(len=${codebook.length}, hash=${java.util.Arrays.hashCode(codebook)}%08x)"
}

/** vec → M sub-space codes (binary). The codebook is an expression
  * constructor param, not a child — it is training output, constant
  * for the plan's lifetime. */
case class PqEncode(child: Expression, codebook: Array[Double], m: Int, k: Int)
  extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pq_encode"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, PqExprCheck.codebookArg(codebook), m, k)
  override def checkInputDataTypes(): TypeCheckResult =
    PqExprCheck.requireFloatArray(prettyName, child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    PqKernels.encode(input.asInstanceOf[ArrayData], codebook, m, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PqKernels.encode($c, $cbRef, $m, $k)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Approximate dot of a coded vector against a query vector. */
case class PqAdcDot(codes: Expression, query: Expression,
                    codebook: Array[Double], k: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = codes
  override def right: Expression = query
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_dot"
  override protected def stringArgs: Iterator[Any] =
    Iterator(codes, query, PqExprCheck.codebookArg(codebook), k)
  override def checkInputDataTypes(): TypeCheckResult = codes.dataType match {
    case BinaryType => PqExprCheck.requireFloatArray(prettyName, query.dataType)
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary codes, got ${other.sql}")
  }

  override protected def nullSafeEval(c: Any, q: Any): Any =
    PqKernels.adcDot(c.asInstanceOf[Array[Byte]], q.asInstanceOf[ArrayData],
      codebook, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    defineCodeGen(ctx, ev,
      (c, q) => s"graft.functions.PqKernels.adcDot($c, $q, $cbRef, $k)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(codes = l, query = r)
}

object NativePq {
  def encode(vec: Column, codebook: Array[Double], m: Int, k: Int): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), codebook, m, k))
  def adcDot(codes: Column, query: Column, codebook: Array[Double], k: Int): Column =
    ColumnBridge.column(PqAdcDot(ColumnBridge.expression(codes),
      ColumnBridge.expression(query), codebook, k))
}
