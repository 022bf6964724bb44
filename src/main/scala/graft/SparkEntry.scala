package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{RelationalQueries, OpsQueries, StreamingQueries, ElbQueries, ExtraQueries, WarcQueries, SubstringQueries, Round14Queries, TextArchiveQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family in SURVEY.md §2 appears in `queries` with a
  * DuckDB oracle in `oracleSql` (same column names/types both sides);
  * non-SQL-expressible operators get rows-only entries.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-join + aggregate (revenue by nation) — broadcast dims + AQE.
    */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q03RevenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ OpsQueries.all ++ StreamingQueries.all ++
      ElbQueries.all ++ ExtraQueries.all ++ WarcQueries.all ++
      SubstringQueries.all ++ Round14Queries.all ++ TextArchiveQueries.all

  /** Terms of a query-name filter: comma-separated, trimmed, empty ones
    * dropped. A name is selected when any term [[matches]] it. Bench's
    * `SPARK_GRAFT_BENCH_ONLY`, Verify's third argument and JobAudit's
    * second argument all take this syntax. */
  def filterTerms(filter: String): Seq[String] =
    filter.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  private val queryNumber = "q\\d+".r

  /** Whether filter term `term` selects query `name`. A term shaped
    * `q<digits>` names one query and must equal the name's whole numeric
    * prefix (`q18` selects `q18_elb_pipeline`, not `q180_...`); any other
    * term matches as a substring. */
  def matches(name: String, term: String): Boolean = term match {
    case queryNumber() => queryNumber.findPrefixOf(name).contains(term)
    case _ => name.contains(term)
  }

  /** Sorted names of the queries that `filter` selects (all when `None`). */
  def selectQueries(filter: Option[String]): Seq[String] = {
    val terms = filter.map(filterTerms)
    queries.keys.toSeq.sorted.filter(n => terms.forall(_.exists(matches(n, _))))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ OpsQueries.oracles ++ StreamingQueries.oracles ++
      ElbQueries.oracles ++ ExtraQueries.oracles ++ WarcQueries.oracles ++
      SubstringQueries.oracles ++ Round14Queries.oracles ++
      TextArchiveQueries.oracles
}
