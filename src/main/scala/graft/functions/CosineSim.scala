package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns, computed in double.
  *
  * Why an Expression and not the zip_with/aggregate composition it
  * replaces: higher-order functions are interpreted (CodegenFallback — no
  * whole-stage codegen, per-element lambda dispatch and boxed accumulator
  * structs), and the composition walks each array FOUR times (zip_with,
  * dot aggregate, two norm aggregates). This fuses everything into one
  * generated loop over the unsafe array data — on a 100 TB ANN/near-dup
  * scan the cosine is the innermost kernel of every candidate pair, so it
  * must live inside the codegen stage.
  *
  * Exact-parity contract with the old composition (pinned by spec):
  * element-order left-to-right double accumulation (identical IEEE result),
  * length mismatch or null element → NULL (zip_with pads with null →
  * null dot → null), zero norm → NULL (try_divide semantics), NaN
  * propagates.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (ARRAY<FLOAT>, ARRAY<FLOAT>), got " +
          s"(${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.CosineSim.cosine($a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSim {

  /** One fused loop; JVM-simple and static so generated code calls it
    * directly. Returns null (boxed) on length mismatch, null element, or
    * zero norm — the exact semantics of the try_divide composition.
    */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Column API (GraftBridge wraps the Catalyst Expression for Spark 4's
    * ColumnNode world).
    */
  def cosine_sim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(CosineSim(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }
}
