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
}
