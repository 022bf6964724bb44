package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The composable alternative — `aggregate(zip_with(a, b, *), 0.0, +)` —
  * materializes an intermediate product array per row and evaluates its
  * lambdas interpreter-side; this expression generates a tight primitive
  * loop inside whole-stage codegen instead (engine design preference (b):
  * custom `Expression` before custom plans or UDFs). The left-to-right
  * summation order matches the HOF fold exactly, so swapping
  * implementations cannot change results.
  *
  * Null semantics: null if either array is null; null *elements*
  * contribute 0 (embedding data has no null elements; keeps the loop
  * branch-light). Callers cast inputs to `array<double>`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  // declared input types make the analyzer reject non-array inputs and
  // implicitly WIDEN array<float>/array<int> to array<double> — without
  // this, getDouble over a float array reads 8-byte strides of 4-byte
  // elements and returns garbage under codegen
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: ONE traversal of the pair accumulating
  * dot(a,b), dot(a,a), dot(b,b) — the composed form costs three passes
  * over the arrays per row. Accumulation order per accumulator is the
  * same left-to-right order as three separate [[DotProduct]] loops, and
  * the final `dab / (sqrt(daa) * sqrt(dbb))` is the identical arithmetic,
  * so fusing CANNOT change a single bit of any result (zero-norm inputs
  * yield the same NaN). Null semantics mirror the composition: null if
  * either array is null; a null *element* drops out of the accumulators
  * it would have fed.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // see DotProduct.inputTypes: reject non-arrays, widen float arrays
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    val n = math.max(na, nb)
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      val hasA = i < na && !x.isNullAt(i)
      val hasB = i < nb && !y.isNullAt(i)
      if (hasA) { val v = x.getDouble(i); daa += v * v }
      if (hasB) { val w = y.getDouble(i); dbb += w * w }
      if (hasA && hasB) dab += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dab / (java.lang.Math.sqrt(daa) * java.lang.Math.sqrt(dbb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dab = ctx.freshName("dab")
      val daa = ctx.freshName("daa")
      val dbb = ctx.freshName("dbb")
      val hasA = ctx.freshName("hasA")
      val hasB = ctx.freshName("hasB")
      val v = ctx.freshName("v")
      val w = ctx.freshName("w")
      s"""
         |int $na = $x.numElements();
         |int $nb = $y.numElements();
         |int $n = java.lang.Math.max($na, $nb);
         |double $dab = 0.0; double $daa = 0.0; double $dbb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  boolean $hasA = $i < $na && !$x.isNullAt($i);
         |  boolean $hasB = $i < $nb && !$y.isNullAt($i);
         |  if ($hasA) { double $v = $x.getDouble($i); $daa += $v * $v; }
         |  if ($hasB) { double $w = $y.getDouble($i); $dbb += $w * $w; }
         |  if ($hasA && $hasB) { $dab += $x.getDouble($i) * $y.getDouble($i); }
         |}
         |${ev.value} = $dab / (java.lang.Math.sqrt($daa) * java.lang.Math.sqrt($dbb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Column-level dot product. */
  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Column-level fused cosine similarity. */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
}
