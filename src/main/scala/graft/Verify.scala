package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: a `SparkEntry.filterTerms` query-name filter
    // (local iteration only; a full correctness dump passes two)
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [<query-filter>]")
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession()
    // fail fast (named error, schema printout) on a driver-side testdata
    // regeneration that breaks a loader assumption — see Tables scaladoc
    graft.queries.Tables.checkContract(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    SparkEntry.selectQueries(args.lift(2)).foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
