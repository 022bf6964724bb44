package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  // hand-built corpus: doc 2 repeats doc 1's first span verbatim, doc 3
  // is pure repetition, doc 4 carries plantable PII
  private lazy val docs = Seq(
    (1L, "a b c d e f g h i j"),            // spans(4): "a b c d","e f g h","i j"
    (2L, "a b c d x y z w q r"),            // first span duplicates doc 1's
    (3L, "spam spam spam spam spam spam"),
    (4L, "x x y y z z a b c d")
  ).toDF("doc_id", "text")

  test("spanDedup drops later duplicate spans and reassembles in order") {
    val out = Cleaning.spanDedup(docs, "text", "doc_id", spanWords = 4)
      .orderBy("id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 keeps everything (first occurrence of all its spans)
    assert(byId(1L) == (("a b c d e f g h i j", 3L, 0L)))
    // doc 2 loses its first span (seen in doc 1 at smaller (id, pos))
    assert(byId(2L) == (("x y z w q r", 3L, 1L)))
    // doc 3: "spam spam spam spam" + "spam spam" — distinct spans, kept
    assert(byId(3L)._3 == 0L)
    // row count preserved: every input doc appears exactly once
    assert(out.length == 4)
  }

  test("spanDedup collapses a full duplicate doc to empty clean_text") {
    val dup = docs.union(Seq((9L, "a b c d e f g h i j")).toDF("doc_id", "text"))
    val out = Cleaning.spanDedup(dup, "text", "doc_id", spanWords = 4)
      .where(col("id") === 9L).collect().head
    assert(out.getString(1) == "")
    assert(out.getLong(3) == 3L) // all 3 spans dropped, row survives
  }

  test("repetition metrics match hand computation") {
    val m = Cleaning
      .repetitionFilter(docs, "text", "doc_id",
        maxTopWordFrac = 1.0, maxDupBigramFrac = 1.0)
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(m(1L) == ((10L, 0.1, 0.0)))            // all unique
    // doc 3: 6x "spam"; bigrams: 5 occurrences, 1 distinct
    assert(m(3L)._2 == 1.0)
    assert(math.abs(m(3L)._3 - 0.8) < 1e-9)
    // doc 4: top word freq 2/10; bigrams 9, distinct 9 ("x x","x y",
    // "y y","y z","z z","z a","a b","b c","c d") — no dup bigram
    assert(m(4L) == ((10L, 0.2, 0.0)))
  }

  test("repetitionFilter drops the repetitive doc") {
    val kept = Cleaning.repetitionFilter(docs, "text", "doc_id",
      maxTopWordFrac = 0.3, maxDupBigramFrac = 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L))
  }

  test("redactPii replaces and counts emails, phones, IPs") {
    val in = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "call 12-345-678-9012 or visit 192.168.0.1"),
      (3L, "nothing sensitive here"),
      (4L, "a@b.io and c@d.net")
    ).toDF("id", "t")
    val (red, n) = Cleaning.redactPii(col("t"))
    val out = in.select(col("id"), red.as("r"), n.as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("mail <EMAIL> now", 1L)))
    assert(out(2L) == (("call <PHONE> or visit <IP>", 2L)))
    assert(out(3L) == (("nothing sensitive here", 0L)))
    assert(out(4L) == (("<EMAIL> and <EMAIL>", 2L)))
  }

  test("redactPii counts replacements, not overlapping raw-text matches") {
    // the local part carries a phone-shaped digit run: it is swallowed by
    // the <EMAIL> replacement and must NOT also count as a phone; an IP
    // inside a domain likewise vanishes with the email
    val in = Seq(
      (1L, "u12-345-678-9012@x.io"),
      (2L, "u@10.0.0.1mail.org then 10.0.0.2")
    ).toDF("id", "t")
    val (red, n) = Cleaning.redactPii(col("t"))
    val out = in.select(col("id"), red.as("r"), n.as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("<EMAIL>", 1L)))
    assert(out(2L) == (("<EMAIL> then <IP>", 2L)))
  }

  test("native repetition stats ≡ HOF reference on real corpus") {
    val d = graft.queries.Tables.documents(spark, sf())
      .select(col("doc_id").as("id"), TextOps.words(col("text")).as("_w"))
    val hof = d.select(col("id") +: Cleaning.repetitionMetricsHof(col("_w"))
      .map { case (n, c) => c.as(n) }: _*)
    val native = d
      .select(col("id"), col("_w"),
        graft.functions.RepetitionExpressions.repetitionStats(col("_w")).as("_st"))
      .select(col("id") +: Cleaning.repetitionMetrics(col("_st"), size(col("_w")))
        .map { case (n, c) => c.as(n) }: _*)
    val h = hof.orderBy("id").collect().map(_.toString)
    val n = native.orderBy("id").collect().map(_.toString)
    assert(h.sameElements(n))
  }

  test("cleanCorpus equals the stages applied one by one") {
    val d = graft.queries.Tables.documents(spark, sf())
    val composed = Cleaning.cleanCorpus(d, "text", "doc_id",
      maxTopWordFrac = 0.15, maxDupBigramFrac = 0.08, spanWords = 8)
      .collect().map(_.toString).sorted
    val q = TextOps.qualityFilter(d, "text")
    val ids = Cleaning.repetitionFilter(q, "text", "doc_id",
      maxTopWordFrac = 0.15, maxDupBigramFrac = 0.08).select("id")
    val staged = Cleaning.spanDedup(
      q.join(ids, q("doc_id") === ids("id"), "left_semi"),
      "text", "doc_id", spanWords = 8)
      .collect().map(_.toString).sorted
    assert(composed.nonEmpty && composed.sameElements(staged))
  }

  test("repetition metrics plan is narrow — no exchange") {
    val plan = Cleaning.repetitionFilter(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
  }

  // ——————————————————————————————— T5-style span corruption (spanMask)

  private val sentinel = "<extra_id_(\\d+)>".r

  test("spanMask round-trips: splicing targets back into corrupted recovers the text") {
    val d = graft.queries.Tables.documents(spark, sf())
    val out = Cleaning.spanMask(d, "text", "doc_id")
      .join(d.select(col("doc_id").as("id"), lower(col("text")).as("orig")), "id")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (corr, tgt, orig) = (r.getAs[String]("corrupted"),
        r.getAs[String]("targets"), r.getAs[String]("orig"))
      // parse targets: "<extra_id_0> tok tok <extra_id_1> tok" → span k → tokens
      val spans = scala.collection.mutable.Map.empty[Int, List[String]]
      var cur = -1
      tgt.split(" ").filter(_ => tgt.nonEmpty).foreach {
        case sentinel(k) => cur = k.toInt; spans(cur) = Nil
        case t           => spans(cur) = spans(cur) :+ t
      }
      val rebuilt = corr.split(" ", -1).toSeq.flatMap {
        case sentinel(k) => spans(k.toInt)
        case t           => Seq(t)
      }.mkString(" ")
      assert(rebuilt == orig, s"round-trip failed for id ${r.getAs[Long]("id")}")
    }
  }

  test("spanMask: n_spans equals the sentinel count on both streams") {
    val out = Cleaning.spanMask(
      graft.queries.Tables.documents(spark, sf()), "text", "doc_id").collect()
    out.foreach { r =>
      val n = r.getAs[Long]("n_spans")
      assert(sentinel.findAllIn(r.getAs[String]("corrupted")).size == n)
      assert(sentinel.findAllIn(r.getAs[String]("targets")).size == n)
    }
    // at 15% mask over a real corpus, both classes must occur
    assert(out.exists(_.getAs[Long]("n_spans") > 0L))
  }

  test("spanMask: untouched docs keep their text with empty targets") {
    val d = graft.queries.Tables.documents(spark, sf())
    val untouched = Cleaning.spanMask(d, "text", "doc_id", maskPct = 1)
      .filter(col("n_spans") === 0L)
      .join(d.select(col("doc_id").as("id"), lower(col("text")).as("orig")), "id")
      .collect()
    assert(untouched.nonEmpty)
    untouched.foreach { r =>
      assert(r.getAs[String]("corrupted") == r.getAs[String]("orig"))
      assert(r.getAs[String]("targets") == "")
    }
  }

  test("spanMask: deterministic under repartitioning; maskPct bounds checked") {
    val d = graft.queries.Tables.documents(spark, sf())
    def run(df: org.apache.spark.sql.DataFrame) =
      Cleaning.spanMask(df, "text", "doc_id").collect().map(_.toString).sorted
    assert(run(d).sameElements(run(d.repartition(9))))
    intercept[IllegalArgumentException] { Cleaning.spanMask(d, "text", "doc_id", 0) }
    intercept[IllegalArgumentException] { Cleaning.spanMask(d, "text", "doc_id", 100) }
  }

  private def audit(rows: (Long, String)*) = {
    import spark.implicits._
    Cleaning.encodingAudit(rows.toDF("id", "text"), "text", "id")
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
  }

  test("encodingAudit: each corruption class counted and classified") {
    val got = audit(
      (1L, "clean ascii words"),
      (2L, "lost � bytes �"),
      (3L, "ctrl\u0007here\u0001"),
      (4L, "caf\u00C3\u00A9 mojibake \u00E2\u20AC\u0153quoted\u00E2\u20AC\u201D"),
      (5L, "tab\tand\nnewline survive"))
    assert(got(1L)._6 == "clean" && got(5L)._6 == "clean",
      "tab/newline are NOT control spill")
    assert(got(2L) == ((2L, 14L, 2L, 0L, 0L, "replacement")), s"${got(2L)}")
    assert(got(3L)._4 == 2L && got(3L)._6 == "control")
    // 'Ã' from café, two 'â€' smart-quote markers → mojibake wins the
    // pinned verdict order
    assert(got(4L)._5 == 3L && got(4L)._6 == "mojibake", s"${got(4L)}")
  }

  private def mix(rows: (Long, String)*) = {
    import spark.implicits._
    Cleaning.scriptMix(rows.toDF("id", "text"), "text", "id")
      .as[(Long, Long, Long, Long, Long, Long, String, Boolean)].collect()
      .map(r => r._1 -> r).toMap
  }

  test("scriptMix: exact per-script counts, pinned dominant, mixed flag") {
    val got = mix(
      (1L, "plain latin 42"),
      (2L, "привет"),
      (3L, "你好"),
      (4L, "hi привет"),
      (5L, "123 456"))
    assert(got(1L) == ((1L, 10L, 0L, 0L, 0L, 2L, "latin", false)))
    assert(got(2L) == ((2L, 0L, 6L, 0L, 0L, 0L, "cyrillic", false)))
    assert(got(3L) == ((3L, 0L, 0L, 2L, 0L, 0L, "han", false)))
    assert(got(4L)._7 == "cyrillic" && got(4L)._8,
      "hi=2 latin < привет=6 cyrillic → cyrillic dominates, mixed")
    assert(got(5L)._7 == "none" && !got(5L)._8)
  }

  test("scriptMix: dominant ties break in the pinned latin-first order") {
    val got = mix((1L, "ab пр"))
    assert(got(1L)._7 == "latin" && got(1L)._8)
  }

  test("boilerplateRemove: the >30% line drops everywhere, rare lines stay") {
    import spark.implicits._
    // source s1: 3 docs share the SAME first line (df 3/3 > 30%);
    // doc 1 and 2 also share a second line (df 2/3 = 66% > 30% — also
    // boilerplate); doc 3's tail is unique and survives
    val docs = Seq(
      (1L, "s1", "h h h h h h x x x x x x"),
      (2L, "s1", "h h h h h h x x x x x x"),
      (3L, "s1", "h h h h h h u u u u u u"),
      // source s2: same header text but only ONE doc → df 1, kept
      (4L, "s2", "h h h h h h k k k k k k"))
      .toDF("doc_id", "source", "text")
    val got = Cleaning.boilerplateRemove(docs, "text", "doc_id", "source",
      lineWords = 6, maxDfPpm = 300000L)
      .as[(Long, String, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "s1", "", 2L, 2L)), s"${got(1L)}")
    assert(got(3L) == ((3L, "s1", "u u u u u u", 2L, 1L)), s"${got(3L)}")
    assert(got(4L) == ((4L, "s2", "h h h h h h k k k k k k", 2L, 0L)),
      "boilerplate is PER SOURCE: a single-doc source keeps everything")
  }

  test("boilerplateRemove: df >= 2 guard — tiny sources never self-drop") {
    import spark.implicits._
    val docs = Seq((1L, "s", "a a a a a a")).toDF("doc_id", "source", "text")
    val got = Cleaning.boilerplateRemove(docs, "text", "doc_id", "source")
      .as[(Long, String, String, Long, Long)].head()
    assert(got == ((1L, "s", "a a a a a a", 1L, 0L)), s"$got")
  }

  test("tokenizerFertility: per-script chars-per-token ratios") {
    val docs = Seq((1L, "ab cd"), (2L, "хо хо"))
      .toDF("doc_id", "text")
    val got = Cleaning.tokenizerFertility(docs, "text", "doc_id")
      .as[(String, Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    // latin "ab cd": 5 chars, 2 ws tokens, 2 bpe runs → 2500 milli both
    assert(got("latin") == (("latin", 1L, 5L, 2L, 2L, Some(2500L),
      Some(2500L))), s"${got("latin")}")
    // cyrillic "хо хо": bpe falls to per-char punctuation class → 4
    assert(got("cyrillic") == (("cyrillic", 1L, 5L, 2L, 4L, Some(2500L),
      Some(1250L))), s"${got("cyrillic")}")
  }

  test("readabilityMetrics: hand counts and pinned Flesch algebra") {
    val docs = Seq((1L, "Hello world. It is good!"), (2L, "pfft"))
      .toDF("doc_id", "text")
    val got = Cleaning.readabilityMetrics(docs, "text", "doc_id")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long])].collect().map(r => r._1 -> r).toMap
    // 2 sentences, 5 words, 6 vowel groups → wps 2500, spw 1200,
    // flesch = 206835 - 2537 - 101520 = 102778
    assert(got(1L) == ((1L, 2L, 5L, 6L, Some(2500L), Some(1200L),
      Some(102778L))), s"${got(1L)}")
    // no sentence punctuation floors at 1; zero vowels → spw 0
    assert(got(2L) == ((2L, 1L, 1L, 0L, Some(1000L), Some(0L),
      Some(205820L))), s"${got(2L)}")
  }

  test("charEntropy: hand values, zero for single-char floods, empty dropped") {
    val docs = Seq((1L, "aaaa"), (2L, "ab"), (3L, "aab"), (4L, ""))
      .toDF("doc_id", "text")
    val got = Cleaning.charEntropy(docs, "text", "doc_id")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 1L, 0.0)))          // ln4 − 4·ln4/4
    assert(got(2L) == ((2L, 2L, 2L, 0.693147)))     // ln 2
    // ln3 − (2·ln2 + 1·ln1)/3 = 1.098612… − 0.462098… = 0.636514
    assert(got(3L) == ((3L, 3L, 2L, 0.636514)))
    assert(!got.contains(4L), "empty text must emit no row, not H=0")
  }

  test("domainQuality: dup-heavy and short domains dropped, clean kept") {
    val docs = Seq(
      (1L, "x y z", "mirror"), (2L, "x y z", "mirror"),
      (3L, (1 to 25).map(i => s"w$i").mkString(" "), "good"),
      (4L, (1 to 30).map(i => s"v$i").mkString(" "), "good"))
      .toDF("doc_id", "text", "source")
    val got = Cleaning.domainQuality(docs, "text", "doc_id", "source")
      .as[(String, Long, Long, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    // mirror: 2 docs, 1 distinct → dup_ppm 500000 > cap AND mean 3 < 20
    assert(got("mirror") == (("mirror", 2L, 1L, 6L, 500000L, 3L, false)))
    // good: 0 dup, mean (25+30) div 2 = 27 ≥ 20 → kept
    assert(got("good") == (("good", 2L, 2L, 55L, 0L, 27L, true)))
  }

  test("parkedDomainScreen: template, soft-404, link farm flagged; content and below-minPages survive") {
    val contentBody = (1 to 20).map(i => s"w$i").mkString(" ")
    val content = (i: Int) =>
      s"<html><head><title>Doc $i</title></head><body><p>$contentBody</p>" +
        "<a href=\"https://n.example/p\">next page</a></body></html>"
    val pages = Seq(
      // parked.example: registrar lander × 2 (template phrase)
      ("parked.example", "<html><head><title>Domain For Sale</title></head>" +
        "<body><p>this domain is for sale. buy this domain.</p></body></html>"),
      ("parked.example", "<html><body><p>parked domain courtesy of registrar" +
        " one two three four five six seven eight nine</p></body></html>"),
      // soft404.example: HTTP-200 "not found" template × 2
      ("soft404.example", "<html><head><title>Oops</title></head><body>" +
        "<p>page not found. it may have moved one two three four five" +
        " six</p></body></html>"),
      ("soft404.example", "<html><body><p>404 not found extra words here" +
        " alpha beta gamma delta epsilon zeta</p></body></html>"),
      // farm.example: anchor-dominated, NO template phrase × 2
      ("farm.example", "<html><body>" + (1 to 10).map(k =>
        s"""<a href="https://a$k.example/x">link$k</a>""").mkString +
        "</body></html>"),
      ("farm.example", "<html><body>" + (1 to 12).map(k =>
        s"""<a href="https://b$k.example/x">item$k</a>""").mkString +
        "</body></html>"),
      // shell.example: tiny distinct-token body × 2
      ("shell.example", "<html><body><p>hello</p></body></html>"),
      ("shell.example", "<html><body><p>welcome</p></body></html>"),
      // content.example: real pages × 3 → NOT parked
      ("content.example", content(1)),
      ("content.example", content(2)),
      ("content.example", content(3)),
      // lone.example: one parked-looking page, below minPages=2 →
      // flagged page but NOT a parked host
      ("lone.example", "<html><body><p>under construction</p></body></html>"))
      .toDF("host", "html")
    val got = Cleaning.parkedDomainScreen(pages, "host", "html")
      .select("host", "n_pages", "n_flagged", "n_template", "parked")
      .as[(String, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("parked.example") == (("parked.example", 2L, 2L, 2L, true)))
    assert(got("soft404.example") == (("soft404.example", 2L, 2L, 2L, true)))
    // the farm pages carry no template phrase: ratio/distinct flag them
    assert(got("farm.example") == (("farm.example", 2L, 2L, 0L, true)))
    assert(got("shell.example") == (("shell.example", 2L, 2L, 0L, true)))
    assert(got("content.example") ==
      (("content.example", 3L, 0L, 0L, false)))
    assert(got("lone.example") == (("lone.example", 1L, 1L, 1L, false)))
  }

  test("filterOverlapReport: hits, marginal kills, prefix survivors") {
    import spark.implicits._
    // values 1, 0, 11, 4, 7 under small(<2) → big(>10) → odd:
    // small hits {1,0}; big hits {11}, all marginal; odd hits
    // {1,11,7} but only 7 is a NEW kill after small+big
    val df = Seq((1L, 1L), (2L, 0L), (3L, 11L), (4L, 4L), (5L, 7L))
      .toDF("id", "v")
    val got = Cleaning.filterOverlapReport(df, "id", Seq(
        "small" -> (col("v") < 2),
        "big" -> (col("v") > 10),
        "odd" -> (pmod(col("v"), lit(2)) === 1)))
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._2 -> r).toMap
    assert(got("small") == ((0L, "small", 2L, 400000L, 2L, 3L,
      600000L, 5L)))
    assert(got("big") == ((1L, "big", 1L, 200000L, 1L, 2L,
      400000L, 5L)))
    assert(got("odd") == ((2L, "odd", 3L, 600000L, 1L, 1L,
      200000L, 5L)))
  }

  test("filterOverlapReport: a rule that evaluates to null must not kill") {
    import spark.implicits._
    val df = Seq((1L, Some(1L)), (2L, None)).toDF("id", "v")
    val got = Cleaning.filterOverlapReport(df, "id",
        Seq("small" -> (col("v") < 2)))
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // the null row is NOT a hit and survives
    assert(got == Seq((0L, "small", 1L, 500000L, 1L, 1L, 500000L, 2L)))
  }

  test("lengthDebiasedScore: within-band z, two-doc band is exactly ±1") {
    import spark.implicits._
    // band 0: two 3-word docs with different unigram profiles — for a
    // 2-member band the whiten chain reduces to z = ±1 exactly; the
    // lone 11-word doc sits in band 1 with zero variance → null
    val docs = Seq((1L, "a a a"), (2L, "a a b"),
      (3L, "c c c c c c c c c c c")).toDF("doc_id", "text")
    val got = Cleaning.lengthDebiasedScore(docs, "text", "doc_id")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._3 == 0L && got(2L)._3 == 0L && got(3L)._3 == 1L)
    // "a" is the commoner token, so doc 1 scores higher than doc 2
    assert(got(1L)._5 == Some(1.0) && got(2L)._5 == Some(-1.0))
    assert(got(3L)._5.isEmpty)
  }
}
