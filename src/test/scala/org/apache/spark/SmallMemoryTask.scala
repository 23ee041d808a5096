package org.apache.spark

import java.util.Properties
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.{TaskMemoryManager, UnifiedMemoryManager}

/** Runs code as a task whose execution memory comes from a memory manager
  * of its own, sized by the caller. Lives under org.apache.spark because
  * the memory managers and TaskContext's setter are `private[spark]`, as
  * `org.apache.spark.sql.GraftBridge` does for the library. */
object SmallMemoryTask {
  /** Runs `body` as the only task of a stage whose on-heap execution pool
    * holds `poolBytes` (no storage region) and whose page is `pageBytes`,
    * then completes the task. Returns `body`'s value and the execution
    * bytes the task still held when `body` returned. */
  def run[T](poolBytes: Long, pageBytes: Long)(body: => T): (T, Long) = {
    val conf = new SparkConf(false).set("spark.buffer.pageSize", pageBytes.toString)
    val tmm = new TaskMemoryManager(
      new UnifiedMemoryManager(conf, poolBytes, 0L, 1), 0L)
    val ctx = new TaskContextImpl(0, 0, 0, 0L, 0, 1, tmm, new Properties,
      SparkEnv.get.metricsSystem, TaskMetrics.empty, 1, Map.empty)
    TaskContext.setTaskContext(ctx)
    try {
      val value = body
      (value, tmm.getMemoryConsumptionForThisTask)
    } finally {
      ctx.markTaskCompleted(None)
      TaskContext.unset()
      tmm.cleanUpAllAllocatedMemory()
    }
  }

  /** The page size of this JVM's memory manager: the first page every
    * `BytesToBytesMap` it builds allocates. */
  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes
}
