package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM: the harness
  * config at a fixed `local[4]`, with a per-user warehouse dir. */
object TestSession {
  lazy val spark: SparkSession = Harness.session(4,
    "spark.sql.warehouse.dir" ->
      s"/tmp/graft_warehouse_${System.getProperty("user.name")}")
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  /** Runs `body` with [[graft.plans.LongKeyBroadcastJoin]] out of the
    * session's planner, so every join is planned as Spark plans it. */
  def withoutLongKeyJoin[T](body: => T): T = {
    GraftExtensions.installStrategies(spark)
    val all = spark.experimental.extraStrategies
    spark.experimental.extraStrategies =
      all.filterNot(_ == graft.plans.LongKeyBroadcastJoin)
    try body finally spark.experimental.extraStrategies = all
  }
}

object SparkTestBase {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
    QueryStageExec}
  import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

  /** The broadcast hash joins of a plan, inside AQE and its stages. */
  def broadcastJoins(p: SparkPlan): Seq[BroadcastHashJoinExec] = p.collect {
    case j: BroadcastHashJoinExec => Seq(j)
    case a: AdaptiveSparkPlanExec => broadcastJoins(a.executedPlan)
    case q: QueryStageExec => broadcastJoins(q.plan)
  }.flatten

  /** Is this join planned on the one long key `h(keys)`? */
  def longKeyed(j: BroadcastHashJoinExec): Boolean = j.leftKeys match {
    case Seq(k) => k.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.XxHash64])
    case _ => false
  }
}
