package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query-name filter behind Bench's `SPARK_GRAFT_BENCH_ONLY`, Verify's
  * third and JobAudit's second argument, and the oracle-SQL digest that a
  * refactor of the catalog must keep. */
class SparkEntrySpec extends AnyFunSuite {
  private def select(filter: String) = SparkEntry.selectQueries(Some(filter))

  test("a q<digits> term selects that one query, not the ones it prefixes") {
    assert(select("q18") == Seq("q18_elb_pipeline"))
    assert(select("q18,q000") == Seq("q000_scheduler_control", "q18_elb_pipeline"))
    assert(!SparkEntry.matches("q180_x", "q18"))
    assert(SparkEntry.matches("q18_x", "q18"))
  }

  test("any other term matches as a substring") {
    // q180..q189 exist, so the numeric terms above have something to skip
    assert(SparkEntry.queries.keys.count(_.startsWith("q18")) > 1)
    assert(select("q18_") == Seq("q18_elb_pipeline"))
    assert(select("elb") == SparkEntry.queries.keys.filter(_.contains("elb")).toSeq.sorted)
    assert(select("elb").size > 1)
    assert(SparkEntry.selectQueries(None).size == SparkEntry.queries.size)
  }

  test("oracle SQL is unchanged: md5 of the sorted key/SQL pairs") {
    // fixture paths embed java.io.tmpdir; map it to /tmp so the digest
    // does not depend on the JVM's temp dir
    val tmp = Staging.path("").toString.stripSuffix("/") + "/"
    val text = SparkEntry.oracleSql.toSeq.sorted
      .map { case (k, v) => s"$k\t${v.replace(tmp, "/tmp/")}" }.mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md5 == "6504775139ed3c7ed1482d94f6005df6")
  }
}
