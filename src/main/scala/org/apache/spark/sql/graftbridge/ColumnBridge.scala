package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}
import org.apache.spark.sql.types.StructType

/** Bridge between the public Column API and Catalyst expressions.
  *
  * Spark 4 moved Column onto ColumnNode and gated the
  * Expression-backed constructors behind `private[sql]`; this
  * package-located shim re-exposes exactly the two conversions a
  * library needs to ship custom codegen expressions without a
  * SparkSessionExtensions install (the driver owns session creation
  * here, so extension registration isn't available), plus the
  * frame-over-Catalyst-rows constructor and the session copy, which
  * are just as gated.
  */
object ColumnBridge {
  /** Wrap a Catalyst expression as a public Column. */
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  /** Resolve a public Column back to its Catalyst expression. */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Register a function builder on an existing session's registry —
    * for sessions whose construction the library doesn't control
    * (config-based `spark.sql.extensions` covers the other case). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A frame over an RDD of Catalyst rows that match `schema`: its
    * logical plan is one `LogicalRDD` leaf, so it plans as a bare scan
    * with no projection or serialization in between. */
  def dataFrame(spark: org.apache.spark.sql.SparkSession, rows: RDD[InternalRow],
                schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** A copy of `spark` with its own SQL conf, temp views and function
    * registry, sharing the SparkContext and cached data: the copy
    * `StreamExecution` makes of the session that starts a stream. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
