package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the normalized rolling-hash fingerprint
  * ([[graft.textops.TextOps.rollingHash]]): 64-bit polynomial hash of the
  * lowercased, whitespace-collapsed text.
  *
  * Why an Expression and not a UDF: with `doGenCode` the hash participates
  * in whole-stage codegen — no boxing, no closure serialization, no
  * SerializeFromObject break in the plan. On a 100 TB fingerprint-dedup scan
  * this keeps the entire scan→project→aggregate pipeline in one generated
  * loop (the UDF variant forces a codegen boundary per row).
  */
case class RollingHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)

  override def prettyName: String = "rolling_hash"
}

object RollingHash {

  /** Same algorithm as TextOps.rollingHash — kept static and JVM-simple so
    * the generated code can call it directly.
    */
  def hash(text: String): Long = graft.textops.TextOps.rollingHash(text)

  /** Column API (Spark 4: Columns wrap ColumnNodes; ExpressionUtils is the
    * sanctioned bridge from a Catalyst Expression).
    */
  def rolling_hash(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(RollingHash(GraftBridge.expression(c)))
  }

  /** SQL registration: SELECT rolling_hash(text) ... */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "scala_udf")
}
