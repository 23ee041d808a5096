package graft

import org.apache.spark.SmallMemoryTask
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import graft.plans.TopKPerGroupExec

/** Runs the two [[TopKPerGroupExec]] passes of a top-k frame as tasks on
  * a memory pool of a given size ([[SmallMemoryTask]]): the partial pass
  * once per input partition, then the final pass over all partial output
  * as one partition — the exact top-k of its input, as the final pass of
  * each hash partition is. */
object TopKTasks {
  /** `fallbacks` counts the tasks that took the sort fallback; `held` is
    * the most execution memory any task held after its output was
    * drained. */
  final case class Result(rows: Seq[Row], fallbacks: Long, held: Long)

  def run(topK: DataFrame, poolBytes: Long, pageBytes: Long): Result = {
    val execs = topK.queryExecution.sparkPlan.collect {
      case e: TopKPerGroupExec => e
    }
    val Seq(partial) = execs.filter(_.partial)
    val Seq(last) = execs.filterNot(_.partial)
    def task(exec: TopKPerGroupExec, rows: Seq[InternalRow]) =
      SmallMemoryTask.run(poolBytes, pageBytes) {
        exec.partitionTopK()(rows.iterator).map(_.copy()).toVector
      }
    val partials = partial.child.execute().map(_.copy()).glom().collect()
      .toSeq.map(task(partial, _))
    val (out, held) = task(last, partials.flatMap(_._1))
    val toRow = CatalystTypeConverters.createToScalaConverter(topK.schema)
    Result(out.map(toRow(_).asInstanceOf[Row]),
      Seq(partial, last).map(_.metrics("numSortFallbacks").value).sum,
      (held +: partials.map(_._2)).max)
  }
}
