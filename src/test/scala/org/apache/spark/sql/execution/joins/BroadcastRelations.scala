package org.apache.spark.sql.execution.joins

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

/** The hash relation a broadcast hash join's build side broadcasts. Lives
  * under org.apache.spark.sql.execution because `HashedRelation` is
  * `private[execution]`. */
object BroadcastRelations {
  /** The relation's class name, the `estimatedSize` of the driver's copy
    * (in local mode the tasks share that very object), and that of a copy
    * that went through the broadcast's serializer, as a remote executor
    * reads it. */
  def of(j: BroadcastHashJoinExec): (String, Long, Long) = {
    val build = j.buildSide match {
      case BuildLeft => j.left
      case BuildRight => j.right
    }
    val rel = build.executeBroadcast[HashedRelation]().value
    val ser = SparkEnv.get.serializer.newInstance()
    val copy = ser.deserialize[HashedRelation](ser.serialize(rel))
    try (rel.getClass.getSimpleName, rel.estimatedSize, copy.estimatedSize)
    finally copy.close()
  }
}
