package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native repetition statistics over a token array: occurrence count of
  * the most frequent token, total bigram occurrences, and DISTINCT
  * bigram count — the per-document inputs of the Gopher repetition
  * filters, in one JVM pass per row.
  *
  * The composable alternative ([[graft.ops.Cleaning.repetitionMetricsHof]],
  * kept as the spec-pinned reference definition) pays interpreted-lambda
  * evaluation per element: a sort, a struct-state fold for the max run,
  * a bigram `transform`, and an `array_distinct` — measured 5.4 s for
  * the 150k-document bench table, the slowest kernel in the suite. This
  * expression computes identical numbers with a token→dense-id map and
  * an id-pair set (bigram keys are (id_a << 32 | id_b) — ids are unique
  * per distinct token, so the distinct count is EXACT, no hash-collision
  * undercount), and stays inside whole-stage codegen via one generated
  * call.
  *
  * Null elements are skipped (the tokenizer never produces them); a null
  * array yields null.
  */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("top_count", LongType, nullable = false),
    StructField("bigram_total", LongType, nullable = false),
    StructField("bigram_distinct", LongType, nullable = false)))
  override def prettyName: String = "repetition_stats"
  override def inputTypes = Seq(ArrayType(StringType))

  /** Public: invoked from generated code via an object reference. */
  def compute(tokens: ArrayData): InternalRow = {
    val n = tokens.numElements()
    val ids = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer](n * 2)
    val counts = new java.util.ArrayList[Int](n)
    val bigrams = new java.util.HashSet[java.lang.Long](n * 2)
    var top = 0L
    var biTotal = 0L
    var prevId = -1
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val w = tokens.getUTF8String(i)
        var id = ids.get(w)
        if (id == null) {
          id = ids.size()
          // copy: getUTF8String may return a view into a reused buffer
          ids.put(w.clone(), id)
          counts.add(0)
        }
        val c = counts.get(id) + 1
        counts.set(id, c)
        if (c > top) top = c
        if (prevId >= 0) {
          biTotal += 1
          bigrams.add((prevId.toLong << 32) | (id.toLong & 0xffffffffL))
        }
        prevId = id
      } else prevId = -1 // a null breaks adjacency, like the HOF's slice
      i += 1
    }
    new GenericInternalRow(Array[Any](top, biTotal, bigrams.size().toLong))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("repstats", this, classOf[RepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $self.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionExpressions {
  /** Column-level stats struct over a token-array column. */
  def repetitionStats(words: Column): Column =
    column(RepetitionStats(expression(words)))
}
