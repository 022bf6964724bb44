package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale a driver-provided testdata directory up by an integer factor —
  * the local sf1 (and beyond) generator for scaling-curve measurement
  * (the driver tree stops at sf0.1 and is read-only).
  *
  * Scheme: each fact table gets `factor` copies; copy k shifts every
  * PRIMARY-key and copy-local FOREIGN-key column by k·10⁹, so keys stay
  * unique and each copy joins against its own copy of the referenced
  * rows (orders↔lineitem, customer←orders, part/supplier←lineitem),
  * while the small dimensions (region, nation) are shared unshifted —
  * exactly how a bigger TPC-H-ish world looks. `events.user_id` shifts
  * too: 10× the users with the same per-user series, so window/session
  * work scales by group count, not by per-group density. Text/embedding
  * payloads are copied verbatim — copy k>0 documents are exact
  * duplicates, which the dedup family must (and does) collapse.
  *
  * Usage: runMain graft.tools.ScaleUpTestdata <srcDir> <dstDir> <factor>
  */
object ScaleUpTestdata {
  private val Span = 1000000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUpTestdata <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = graft.GraftSession()

    val shifted: Map[String, Seq[String]] = Map(
      "region" -> Nil, "nation" -> Nil,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    val copies = broadcast(spark.range(factor).withColumnRenamed("id", "_k"))
    shifted.foreach { case (table, keys) =>
      val in = spark.read.parquet(s"$src/$table.parquet")
      val out: DataFrame =
        if (keys.isEmpty) in // shared dimension: one copy
        else keys.foldLeft(in.crossJoin(copies)) { (df, k) =>
          df.withColumn(k, col(k) + col("_k") * Span)
        }.drop("_k")
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scale-up] $table: ${in.count()} -> ${out.count()} rows")
    }
    spark.stop()
  }
}
