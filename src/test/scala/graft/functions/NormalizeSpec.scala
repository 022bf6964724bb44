package graft.functions

import graft.SparkSpec
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Native [[UnicodeNormalize]] kernel: NFC laws (combining == precomposed,
  * singleton mapping), null policy, form selection, and the dedup-level
  * consequence -- cross-form duplicates collapse to one group under
  * [[Dedup.exactGroupsNormalized]]. All unicode is \\u-escaped: the
  * combining-vs-precomposed distinction IS the subject under test and
  * must survive any editor/tool normalization of this file.
  */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private val comb = "Cafe\u0301"  // e + COMBINING ACUTE
  private val pre = "Caf\u00e9"    // precomposed e-acute

  private def nfcOf(ss: String*): Seq[String] = {
    ss.toDF("t").select(NormalizeExpressions.nfc(col("t"))).as[String].collect().toSeq
  }

  test("NFC composes combining sequences and singletons") {
    val Seq(a, b, ohm, ascii) = nfcOf(comb, pre, "\u2126", "plain ascii")
    assert(a == b && a == pre)
    assert(ohm == "\u03a9") // OHM SIGN -> GREEK CAPITAL OMEGA
    assert(ascii == "plain ascii")
  }

  test("null in -> null out; explicit form argument honored") {
    val r = Seq[(Option[String], Int)]((None, 0), (Some("\ufb01"), 1)) // fi ligature
      .toDF("t", "i").orderBy("i")
      .select(
        NormalizeExpressions.nfc(col("t")),
        NormalizeExpressions.normalize(col("t"), "NFKC"))
      .collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(r(1).getString(0) == "\ufb01")  // NFC keeps the ligature
    assert(r(1).getString(1) == "fi")      // NFKC decomposes it
  }

  test("interpreted eval == codegen path") {
    val e = UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(comb), "NFC")
    assert(e.eval(null).toString == pre)
  }

  test("cross-form exact duplicates collapse to one group") {
    val df = Seq(
      (1L, comb + " du Parc"),
      (2L, pre + " du Parc"),      // same doc, other normal form
      (3L, pre + " du  Parc"),     // whitespace variant (collapsed too)
      (4L, "different text")).toDF("doc_id", "text")
    val groups = Dedup.exactGroupsNormalized(df, "text", "doc_id")
      .as[(String, Long, Long)].collect()
    assert(groups.length == 2)
    val big = groups.find(_._3 == 3L).get
    assert(big._2 == 1L) // keeper = min id of the merged group
    // plain exactGroups (no NFC) does NOT merge the two forms
    assert(Dedup.exactGroups(df, "text", "doc_id").count() == 3)
  }
}
