package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC normalization — the first
  * step of the [[graft.textops.TextOps.normalizeText]] cleanup pass (web
  * text arrives with decomposed accents, jamo sequences and compatibility
  * singletons that must be composed before any hash-based dedup, or the
  * same rendered text fingerprints differently).
  *
  * Named `nfc_normalize` to match DuckDB's builtin of the same name: the
  * oracle mirror calls the engine-native function on each side, and the
  * Unicode standard makes the two implementations agree codepoint-for-
  * codepoint (probed: U+0065 U+0301 → U+00E9, jamo → precomposed hangul,
  * U+2126 OHM → U+03A9, ligature/half-width forms preserved).
  *
  * Why an Expression and not a UDF: `doGenCode` keeps the normalization
  * inside whole-stage codegen (no closure serialization, no codegen
  * boundary), and the `isNormalized` quick-check path returns the input
  * string unchanged without allocating — on mostly-ASCII web corpora the
  * common case is a branch, not a copy.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = NfcNormalize.nfc(s.toString)
    // avoid re-encoding when the quick check proved it already normalized
    if (n eq null) s else UTF8String.fromString(n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NfcNormalize.nfcUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {

  /** Null when the input is already NFC (the caller keeps its UTF8String —
    * no allocation on the ASCII fast path), else the composed form.
    */
  def nfc(s: String): String =
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  /** Codegen entry point: UTF8String in/out, input returned as-is when
    * already normalized. Pure-ASCII input (numBytes == numChars) is NFC by
    * definition — that branch skips even the String materialization, which
    * on mostly-ASCII web corpora is the per-row common case.
    */
  def nfcUtf8(s: UTF8String): UTF8String = {
    if (s.numBytes == s.numChars) s
    else {
      val n = nfc(s.toString)
      if (n eq null) s else UTF8String.fromString(n)
    }
  }

  /** Column API (GraftBridge is the Spark-4 Column↔Expression bridge). */
  def nfc_normalize(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))
  }

  /** SQL registration: SELECT nfc_normalize(text) ... */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalize(exprs.head), "scala_udf")
}
