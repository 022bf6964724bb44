package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native "md5 hex-slice as BIGINT" — the md5-lattice workhorse.
  *
  * The repo's deterministic lattices (rendezvous shards, split draws,
  * HLL/KMV/CMS hashes, sampling scores) all evaluate
  * `conv(substring(md5(x), pos, len), 16, 10)` — which computes a
  * 16-byte digest, HEX-ENCODES it into a 32-char string, substrings,
  * then PARSES the hex back into a number, allocating three strings per
  * evaluation (and `DigestUtils.md5Hex` constructs a fresh
  * MessageDigest per call). This expression produces the IDENTICAL
  * value — the hex digits `[pos, pos+len)` of the md5 of the input's
  * UTF-8 bytes, read as an unsigned base-16 integer — straight from the
  * digest bytes: one thread-local MessageDigest, zero intermediate
  * strings, pure nibble arithmetic. `len ≤ 15` keeps the value < 2⁶⁰,
  * exactly the sites' `.cast("long")` contract (the measured hot case:
  * q260's 40-per-key rendezvous lattice = 4M evaluations).
  *
  * Equivalence: md5's hex form is the digest bytes in order, high
  * nibble first, so hex digit `i` (0-based) is
  * `digest[i/2] >> (i%2 == 0 ? 4 : 0) & 0xF`; folding `v = v·16 + d`
  * over `[pos−1, pos−1+len)` is precisely `conv(substr, 16, 10)` for
  * non-negative 60-bit values. Null in → null out, like the conv chain.
  */
case class Md5Slice64(child: Expression, pos: Int, hexLen: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(pos >= 1 && hexLen >= 1 && hexLen <= 15 && pos + hexLen - 1 <= 32,
    s"need 1 <= pos, 1 <= hexLen <= 15, pos+hexLen-1 <= 32; got ($pos, $hexLen)")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_slice64"
  override def inputTypes = Seq(StringType)

  @transient private lazy val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Public: invoked from generated code via an object reference. */
  def compute(s: UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = pos - 1
    val end = pos - 1 + hexLen
    while (i < end) {
      val b = d(i >> 1)
      val nib = if ((i & 1) == 0) (b >> 4) & 0xF else b & 0xF
      v = (v << 4) | nib.toLong
      i += 1
    }
    v
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md5slice", this, classOf[Md5Slice64].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $self.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashExpressions {
  /** `conv(substring(md5(c), pos, len), 16, 10).cast("long")`, natively.
    * `c` must already be a string column (every lattice site casts its
    * id explicitly, keeping the hashed bytes pinned cross-engine).
    */
  def md5Hex64(c: Column, pos: Int, len: Int): Column =
    column(Md5Slice64(expression(c), pos, len))

  /** The common prefix form: hex digits [1, len]. */
  def md5Prefix64(c: Column, len: Int): Column = md5Hex64(c, 1, len)
}
