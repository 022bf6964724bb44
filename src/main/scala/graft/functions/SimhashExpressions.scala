package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native SimHash digest over a token array.
  *
  * The composable alternative ([[graft.ops.Dedup]]'s HOF fold: `aggregate`
  * over tokens with a `bits`-element counter array rebuilt by `zip_with`
  * per token) evaluates ~`bits` interpreted lambda calls and one array
  * allocation per token — measured ~2.5 ms/document at 64 bits, the
  * slowest kernel in the bench. This expression computes the identical
  * digest in one tight JVM loop per row (~50 µs/document) and stays
  * inside whole-stage codegen via a single generated call.
  *
  * Bit derivation is EXACTLY the documented law (bit b of a token's
  * contribution = md5 hex char b/4, bit 3 - b%4): that is bit (7 - b%8)
  * of md5 BYTE b/8, so the byte loop below and the hex-string parse are
  * the same function. Counter sign rule (`> 0` sets the bit) and the
  * 2^(bits-1-b) weight (bit 63 = the sign bit) match the SQL oracle.
  * Null ELEMENTS are skipped (the tokenizer never produces them); a null
  * ARRAY yields null like every unary expression.
  */
case class SimhashDigest(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits > 0 && bits <= 64 && bits % 8 == 0, s"bad digest width $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = s"simhash$bits"
  // type deliberately inferred — see DotProduct.inputTypes
  override def inputTypes = Seq(ArrayType(StringType))

  // one MessageDigest per thread, reset per token — not per call, and
  // safe under concurrent task threads sharing a deserialized expression
  @transient private lazy val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Public: invoked from generated code via an object reference. */
  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val nBytes = bits / 8
    val counters = new Array[Int](bits)
    val md = mdLocal.get()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        md.reset()
        val d = md.digest(tokens.getUTF8String(t).getBytes)
        var i = 0
        while (i < nBytes) {
          val by = d(i)
          var j = 0
          while (j < 8) {
            counters(8 * i + j) += (((by >>> (7 - j)) & 1) << 1) - 1
            j += 1
          }
          i += 1
        }
      }
      t += 1
    }
    var acc = 0L
    var b = 0
    while (b < bits) {
      if (counters(b) > 0) acc |= 1L << (bits - 1 - b)
      b += 1
    }
    acc
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhash", this, classOf[SimhashDigest].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $self.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashExpressions {
  /** Column-level digest over a token-array column. */
  def simhash(tokens: Column, bits: Int): Column =
    column(SimhashDigest(expression(tokens), bits))
}
