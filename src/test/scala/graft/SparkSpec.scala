package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Every node of `df`'s executed plan, through adaptive query stages. */
  def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    flatten(df.queryExecution.executedPlan)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    BlockCleanup.muteBenignCleanupSpam()
    s
  }
}
