package graftbench

import java.nio.file.{Files, Path}

import graft.SparkEntry

/** One-off run behind `establish_digests.py`: for every catalog query of
  * the benchmark, writes the engine's result as parquet, its digest, and
  * the query's DuckDB oracle SQL, so the oracle's digest can be stored as
  * the expected one. */
object Establish {
  def run(data: Path, out: Path): Unit = {
    val spark = Main.session(out)
    val queries = Main.catalogIterative
    val digests = queries.map { q =>
      val df = SparkEntry.queries(q)(spark, data.toString)
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve("results").resolve(q).toString)
      q -> Digest.of(df)
    }
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"  ${Main.quote(k)}: ${Main.quote(v)}" }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(out.resolve("engine_digests.json"), obj(digests))
    Files.writeString(out.resolve("oracle_sql.json"),
      obj(queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))))
    spark.stop()
  }
}
