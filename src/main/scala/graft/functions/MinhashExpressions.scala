package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash+LSH band signatures over a shingle array.
  *
  * The relational chain ([[graft.ops.Dedup.minhashSignatures]] +
  * [[graft.ops.Dedup.lshBands]], kept as the checked reference
  * definition) explodes every (doc, shingle) row `numHashes`-fold, then
  * needs TWO hash aggregations (per-(id, i) min, then the per-(id, band)
  * pivot) to rebuild per-document signatures — a 12× row blowup and two
  * exchanges for what is a per-document computation. This expression
  * folds the whole derivation into one narrow projection: for each
  * document, one pass over its shingles maintains all `numHashes`
  * minima (compared as raw md5 bytes — unsigned byte order IS the hex
  * string order the reference chain minimizes), then each band's member
  * signatures are hex-concatenated and re-hashed exactly like
  * `md5(concat(s0, s1, s2))`. Output: `numBands` band-signature hex
  * strings, position = band index. An empty (or all-null) shingle array
  * yields an EMPTY output array — `posexplode` then drops the document,
  * matching the reference chain where a document without shingle rows
  * never reaches the aggregation.
  */
case class MinhashBandSigs(child: Expression, numHashes: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0 && rowsPerBand > 0 && numHashes % rowsPerBand == 0,
    s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_band_sigs"
  // type deliberately inferred — see DotProduct.inputTypes
  override def inputTypes = Seq(ArrayType(StringType))

  @transient private lazy val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  // "0|", "1|", … — the per-permutation prefixes of md5(i || '|' || shingle)
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(i => s"$i|".getBytes("UTF-8"))

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte], sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < d.length) {
      sb.append(hexDigits((d(i) >> 4) & 0xF))
      sb.append(hexDigits(d(i) & 0xF))
      i += 1
    }
  }

  /** Public: invoked from generated code via an object reference. */
  def compute(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val md = mdLocal.get()
    val mins = new Array[Array[Byte]](numHashes)
    var t = 0
    while (t < n) {
      if (!shingles.isNullAt(t)) {
        val bytes = shingles.getUTF8String(t).getBytes
        var i = 0
        while (i < numHashes) {
          md.reset()
          md.update(prefixes(i))
          md.update(bytes)
          val d = md.digest()
          if (mins(i) == null ||
              java.util.Arrays.compareUnsigned(d, mins(i)) < 0) mins(i) = d
          i += 1
        }
      }
      t += 1
    }
    if (mins(0) == null) return new GenericArrayData(Array.empty[Any])
    val numBands = numHashes / rowsPerBand
    val out = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      val sb = new java.lang.StringBuilder(32 * rowsPerBand)
      var k = 0
      while (k < rowsPerBand) {
        hex(mins(b * rowsPerBand + k), sb)
        k += 1
      }
      md.reset()
      val sig = md.digest(sb.toString.getBytes("UTF-8"))
      val hexSig = new java.lang.StringBuilder(32)
      hex(sig, hexSig)
      out(b) = UTF8String.fromString(hexSig.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhash", this, classOf[MinhashBandSigs].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $self.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashExpressions {
  /** Column-level band signatures over a shingle-array column. */
  def bandSigs(shingles: Column, numHashes: Int, rowsPerBand: Int): Column =
    column(MinhashBandSigs(expression(shingles), numHashes, rowsPerBand))
}
