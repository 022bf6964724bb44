package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing (MOSS) fingerprint selection over one document.
  *
  * The relational shape ([[graft.ops.TextOps.winnowingFingerprintRowsRelational]],
  * kept as the checked reference) explodes one row per character k-gram —
  * ~len(text) rows per document — and needs a per-document sort window
  * for the sliding minima: an exchange plus sort whose input is the
  * CHARACTER count of the corpus. This expression selects the same
  * fingerprint set in one pass per row: hash every k-gram (md5, first 8
  * hex chars as an unsigned 32-bit value — exactly `conv(substr(md5(g),
  * 1, 8), 16, 10)`), slide the w-window with a monotonic deque (O(len)
  * total), and return the DISTINCT selected values sorted. Only the
  * selected fingerprints (a w-fold reduction) ever become rows.
  *
  * Substring positions are code-point based via `UTF8String.substring`,
  * matching Spark's `substring` exactly on non-ASCII text. Documents
  * with fewer than k+w-1 characters return an empty array — `explode`
  * then drops them, matching the reference chain's window filter.
  */
case class WinnowingFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && w > 0, s"bad winnowing parameters k=$k w=$w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowing_fps"
  // type deliberately inferred — see DotProduct.inputTypes
  override def inputTypes = Seq(StringType)

  @transient private lazy val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Public: invoked from generated code via an object reference. */
  def compute(text: UTF8String): GenericArrayData = {
    val len = text.numChars()
    val nGrams = len - k + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Any])
    val md = mdLocal.get()
    val hvs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      val d = md.digest(text.substring(i, i + k).getBytes)
      // unsigned value of the first 8 hex chars == first 4 digest bytes
      hvs(i) = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      i += 1
    }
    // sliding minima via monotonic deque: O(nGrams) total
    val selected = new java.util.TreeSet[java.lang.Long]()
    val deque = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < nGrams) {
      while (!deque.isEmpty && hvs(deque.peekLast()) >= hvs(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) selected.add(hvs(deque.peekFirst()))
      i += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnow", this,
      classOf[WinnowingFingerprints].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $self.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing selection with POSITIONS: the same deque pass as
  * [[WinnowingFingerprints]], but emitting the distinct selected
  * `(pos, fp)` pairs instead of the distinct fp set — the anchor
  * relation of arbitrary-alignment exact-substring dedup
  * ([[graft.ops.Dedup.exactSubstringSpans]]). The winnowing guarantee
  * is what makes anchors complete: any substring of length
  * ≥ w + k − 1 shared by two documents selects at least one k-gram at
  * the same CONTENT position in both (the window fully inside the
  * shared region sees identical hash sequences and picks the same
  * minimum), so every sufficiently long duplicate run contains a
  * matching anchor pair to extend from. Positions are code-point
  * indices, 0-based.
  */
case class WinnowingAnchors(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && w > 0, s"bad winnowing parameters k=$k w=$w")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "winnowing_anchors"
  override def inputTypes = Seq(StringType)

  @transient private lazy val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Public: invoked from generated code via an object reference. */
  def compute(text: UTF8String): GenericArrayData = {
    val len = text.numChars()
    val nGrams = len - k + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Any])
    val md = mdLocal.get()
    val hvs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      val d = md.digest(text.substring(i, i + k).getBytes)
      hvs(i) = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      i += 1
    }
    // same deque/tie rule as WinnowingFingerprints (>= pops earlier
    // equal values → the RIGHTMOST minimum wins), positions kept
    val selected = new java.util.TreeSet[Integer]()
    val deque = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < nGrams) {
      while (!deque.isEmpty && hvs(deque.peekLast()) >= hvs(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) selected.add(deque.peekFirst())
      i += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var j = 0
    while (it.hasNext) {
      val p = it.next().intValue()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](p, hvs(p)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnowAnchors", this,
      classOf[WinnowingAnchors].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $self.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Maximal common run around an anchor alignment: extends left and right
  * from positions `pa` (in `a`) and `pb` (in `b`) while code points
  * match, returning `[startA, endA)` of the run in `a` (the run in `b`
  * is the same interval shifted by `pb − pa`). A hash-collision anchor
  * whose k-grams don't actually match extends to a short run and falls
  * under the caller's length threshold — exactness never depends on the
  * digest. Code-point arrays are materialized per call (candidate rows
  * only, never the corpus scan).
  */
case class ExtendMatch(a: Expression, b: Expression,
    pa: Expression, pb: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "extend_match"
  override def inputTypes = Seq(StringType, StringType,
    org.apache.spark.sql.types.IntegerType,
    org.apache.spark.sql.types.IntegerType)
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = pa
  override def fourth: Expression = pb

  def compute(ua: UTF8String, ub: UTF8String, ipa: Int, ipb: Int): GenericArrayData = {
    val A = ua.toString.codePoints().toArray
    val B = ub.toString.codePoints().toArray
    var l = 0
    while (ipa - 1 - l >= 0 && ipb - 1 - l >= 0 &&
      A(ipa - 1 - l) == B(ipb - 1 - l)) l += 1
    var r = 0
    while (ipa + r < A.length && ipb + r < B.length &&
      A(ipa + r) == B(ipb + r)) r += 1
    new GenericArrayData(Array(ipa - l, ipa + r))
  }

  override def nullSafeEval(v1: Any, v2: Any, v3: Any, v4: Any): Any =
    compute(v1.asInstanceOf[UTF8String], v2.asInstanceOf[UTF8String],
      v3.asInstanceOf[Int], v4.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("extendMatch", this,
      classOf[ExtendMatch].getName)
    nullSafeCodeGen(ctx, ev, (x1, x2, x3, x4) =>
      s"${ev.value} = $self.compute($x1, $x2, $x3, $x4);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(a = newFirst, b = newSecond, pa = newThird, pb = newFourth)
}

object WinnowingExpressions {
  /** Column-level fingerprint set of a text column. */
  def fingerprints(text: Column, k: Int, w: Int): Column =
    column(WinnowingFingerprints(expression(text), k, w))

  /** Column-level (pos, fp) anchor array of a text column. */
  def anchors(text: Column, k: Int, w: Int): Column =
    column(WinnowingAnchors(expression(text), k, w))

  /** Column-level maximal-run extension around an anchor alignment. */
  def extendMatch(a: Column, b: Column, pa: Column, pb: Column): Column =
    column(ExtendMatch(expression(a), expression(b), expression(pa), expression(pb)))
}
