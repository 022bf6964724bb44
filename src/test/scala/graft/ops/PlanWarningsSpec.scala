package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}

import graft.{LogCapture, SparkEntry, SparkSpec}

/** Catalog frames whose plans used to log a WARN that named a defect in
  * the code rather than in the data: a self-join predicate Spark judged
  * trivially true, and a broadcast hint on the preserved side of a left
  * outer join, which Spark cannot build and so ignored.
  */
class PlanWarningsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf())

  Seq("q171_kappa", "q294_kaplan_meier").foreach { name =>
    test(s"$name: the same-lineage self-join builds no trivially-true predicate") {
      val (df, warns) = LogCapture.warnings(query(name))
      assert(!warns.exists(_.contains("trivially true")), warns)
      assert(df.count() > 0)
    }
  }

  /** Each executed join as `<operator> <join type> [build side]`, AQE's
    * final plan included.
    */
  private def joinStrategies(df: DataFrame): Seq[String] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case j: HashJoin => s"${j.nodeName} ${j.joinType} ${j.buildSide}"
      case j: BaseJoinExec => s"${j.nodeName} ${j.joinType}"
    }
  }

  // the plans these queries ran with the ignored hint in place (sf0.001)
  private val bnlj = "BroadcastNestedLoopJoin Cross"
  private val outer = "BroadcastHashJoin LeftOuter BuildRight"
  private val inner = "BroadcastHashJoin Inner BuildRight"
  Map(
    "q200_benford" -> Seq(bnlj, outer),
    "q319_rbo" -> Seq(bnlj, outer, bnlj, inner, bnlj),
    "q331_rich_club" -> Seq(outer, outer, bnlj, bnlj, inner, inner)
  ).foreach { case (name, expected) =>
    test(s"$name: no broadcast hint on a left outer join's preserved side; join strategies unchanged") {
      val (joins, warns) = LogCapture.warnings(joinStrategies(query(name)))
      assert(joins == expected)
      assert(!warns.exists(_.contains("is not supported in the query")), warns)
    }
  }
}
