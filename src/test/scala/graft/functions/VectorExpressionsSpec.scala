package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("DotProduct matches the HOF fold bit-for-bit") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2), Seq(0.3, 0.7)),
      (Seq.empty[Double], Seq.empty[Double])
    ).toDF("a", "b")
    val rows = df.select(
      VectorExpressions.dotProduct(col("a"), col("b")).as("fast"),
      Similarity.dot(col("a"), col("b")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(rows(0).getDouble(0) == 32.0)
    assert(rows(2).getDouble(0) == 0.0)
  }

  test("DotProduct null semantics: null array -> null, length mismatch -> shorter") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]),
      (Some(Seq(1.0, 2.0, 100.0)), Some(Seq(3.0, 4.0)))
    ).toDF("a", "b")
    val rows = df.select(VectorExpressions.dotProduct(col("a"), col("b"))).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getDouble(0) == 11.0)
  }

  test("fused CosineSimilarity is bit-identical to the composed three-pass formula") {
    val emb = graft.queries.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val pairs = emb.as("x").crossJoin(emb.as("y"))
      .where(col("x.vec_id") < col("y.vec_id") && col("x.vec_id") < 30)
    val rows = pairs.select(
      VectorExpressions.cosineSim(col("x.e"), col("y.e")).as("fused"),
      (VectorExpressions.dotProduct(col("x.e"), col("y.e")) /
        (sqrt(VectorExpressions.dotProduct(col("x.e"), col("x.e"))) *
         sqrt(VectorExpressions.dotProduct(col("y.e"), col("y.e")))))
        .as("composed"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"fused ${r.getDouble(0)} != composed ${r.getDouble(1)}"))
  }

  test("float arrays are implicitly widened, not read as garbage strides") {
    // a raw array<float> embedding column; the declared input types
    // must widen it element-wise to array<double>
    val r = Seq((Seq(3.0f, 4.0f), Seq(1.0f, 2.0f))).toDF("a", "b").select(
      VectorExpressions.cosineSim(col("a"), col("a")),
      VectorExpressions.dotProduct(col("a"), col("b"))).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 11.0)
    // non-array input is an analysis error, not runtime garbage
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("not an array").toDF("s")
        .select(VectorExpressions.cosineSim(col("s"), array(lit(1.0)))).collect()
    }
    assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
  }
}
