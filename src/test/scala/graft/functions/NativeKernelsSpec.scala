package graft.functions

import scala.util.Try

import graft.SparkSpec
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Every native-kernel Column computes on a DataFrame of ANY session, not
  * only of the thread's active one. `spark.newSession()` shares the
  * suite's SparkContext but has its own function registry, so a kernel
  * that reached its expression through a registered name would fail
  * there with `UNRESOLVED_ROUTINE`. The new session is never stopped:
  * stopping it would stop the shared SparkContext.
  */
class NativeKernelsSpec extends SparkSpec {

  private def frame(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "the cat sat on the mat", Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(1L, 2L)),
      (2L, "Cafe\u0301 martha the cat", Seq(0.5, -1.0), Seq(2.0, 0.25), Seq(3L, -1L))
    ).toDF("id", "text", "a", "b", "q")
  }

  // built per call, once the suite's session is live
  private def perRow: Seq[(String, Column)] = {
    val words = split(col("text"), " ")
    Seq(
      "dotProduct" -> VectorExpressions.dotProduct(col("a"), col("b")),
      "cosineSim" -> VectorExpressions.cosineSim(col("a"), col("b")),
      "md5Prefix64" -> HashExpressions.md5Prefix64(col("text"), 8),
      "md5Hex64" -> HashExpressions.md5Hex64(col("text"), 5, 10),
      "simhash" -> SimhashExpressions.simhash(words, 64),
      "bandSigs" -> MinhashExpressions.bandSigs(words, 12, 3),
      "fingerprints" -> WinnowingExpressions.fingerprints(col("text"), 3, 4),
      "anchors" -> WinnowingExpressions.anchors(col("text"), 3, 4),
      "extendMatch" -> WinnowingExpressions.extendMatch(
        col("text"), col("text"), lit(4), lit(4)),
      "repetitionStats" -> RepetitionExpressions.repetitionStats(words),
      "nfc" -> NormalizeExpressions.nfc(col("text")),
      "normalize" -> NormalizeExpressions.normalize(col("text"), "NFKD"),
      "bootstrapWeights" ->
        BootstrapExpressions.bootstrapWeights(col("id").cast("string"), 8),
      "jaroWinkler" -> StringSimilarityExpressions.jaroWinkler(col("text"), lit("martha")),
      "uaClassify" -> UaFunctions.uaClassify(col("text")))
  }

  private def results(s: SparkSession): Seq[(String, Try[Seq[String]])] = {
    val df = frame(s)
    val rows = perRow.map { case (name, c) =>
      name -> Try(df.select(col("id"), c).orderBy("id").collect().map(_.toString).toSeq)
    }
    val agg = "outerProductSum" ->
      Try(df.agg(MomentExpressions.outerProductSum(col("q"))).collect().map(_.toString).toSeq)
    val bloom = "bloomAdmission" -> Try {
      val batch = df.select(col("id"), col("text").as("k"))
      val corpus = df.where(col("id") === 1L).select(col("text").as("k"))
      Dedup.bloomAdmission(batch, corpus, "k", 100L)
        .select("id").collect().map(_.toString).toSeq.sorted
    }
    rows :+ agg :+ bloom
  }

  test("kernel Columns compute the same rows on a session that is not the active one") {
    val other = spark.newSession()
    assert(!SparkSession.getActiveSession.contains(other))
    val expected = results(spark)
    val got = results(other)
    val faults = expected.zip(got).flatMap { case ((name, want), (_, have)) =>
      if (want.isFailure) Some(s"$name failed on the active session: ${want.failed.get}")
      else if (have.isFailure) Some(s"$name failed on the other session: ${have.failed.get}")
      else if (have.get != want.get) Some(s"$name: ${have.get} != ${want.get}")
      else None
    }
    assert(faults.isEmpty, faults.mkString("\n"))
    // the bloom fixture admits only the row whose key the corpus lacks
    assert(got.last._2.get == Seq("[2]"))
  }
}
