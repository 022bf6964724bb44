package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a native codegen'd expression. Spark has no
  * built-in for it (the usual fallback is a Scala UDF — interpreted,
  * opaque to codegen); this wraps `java.text.Normalizer` with an
  * `isNormalized` fast path, so the dominant case — already-composed
  * (in practice: pure-ASCII) text — never allocates. Canonicalizing to
  * NFC before fingerprinting is what makes exact dedup actually exact
  * on web text: the same word with precomposed vs combining accents
  * (or singleton variants like U+2126 OHM vs U+03A9 OMEGA) otherwise
  * hashes to different groups.
  *
  * `form` ("NFC"/"NFD"/"NFKC"/"NFKD") is a plan constant — it selects
  * the resolved `java.text.Normalizer.Form` constant at plan time, not
  * per row. Null input → null.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"
  override def inputTypes = Seq(StringType)

  private val resolvedForm = java.text.Normalizer.Form.valueOf(form)

  /** Public: invoked from generated code via an object reference. */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, resolvedForm)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, resolvedForm))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("unorm", this, classOf[UnicodeNormalize].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $self.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeExpressions {
  /** NFC-normalized column. */
  def nfc(text: Column): Column = normalize(text, "NFC")

  def normalize(text: Column, form: String): Column =
    column(UnicodeNormalize(expression(text), form))
}
