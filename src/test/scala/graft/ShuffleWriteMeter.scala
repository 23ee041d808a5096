package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Shuffle-write meter for the scale probes: one task-end listener that
  * sums `shuffleWriteMetrics.bytesWritten` over every task. */
final class ShuffleWriteMeter(spark: SparkSession) {
  @volatile private var written = 0L
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) written += m.shuffleWriteMetrics.bytesWritten
    }
  })

  /** Runs `f` and returns its result, its wall seconds and the shuffle
    * bytes its tasks wrote. The listener bus is async, so it is drained
    * before the counter resets and again before it is read — otherwise
    * tail task-end events are lost or charged to the next measurement. */
  def measure[A](f: => A): (A, Double, Long) = {
    drain(); written = 0L
    val t0 = System.nanoTime(); val r = f
    val dt = (System.nanoTime() - t0) / 1e9
    drain()
    (r, dt, written)
  }

  private def drain(): Unit = Thread.sleep(500)
}
