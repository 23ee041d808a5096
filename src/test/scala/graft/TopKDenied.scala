package graft

import org.apache.spark.sql.functions._

/** Measures the top-k passes of one input shape when the memory manager
  * denies them memory: both passes run through [[TopKTasks]] on a pool of
  * `poolMB` with 1 MB pages, and one line reports what the partial pass
  * sent on, which partitions sorted or passed their rows through, the
  * bytes spilled and each pass's CPU time.
  *
  * Shapes (rows `id` = 0 until rowsPerTask × tasks, one read partition
  * per task, order `v` desc, `id`):
  *   - `unique`: group `g = id`, every key once;
  *   - `repeated`: `g = pmod(xxhash64(id), rowsPerTask / 5)`, so each
  *     read partition sees about 5 rows of each group.
  *
  * The pool should hold a good part of a task's rows: the final pass
  * sorts every row it is sent, and a sorter squeezed into a few MB
  * spills so many runs that their readers' buffers outgrow the heap.
  *
  * Usage: Test/runMain graft.TopKDenied <unique|repeated> <rowsPerTask>
  * <tasks> <poolMB> [k (default 1)] */
object TopKDenied {
  def main(args: Array[String]): Unit = {
    val Array(shape, rowsPerTask, tasks, poolMB) = args.take(4)
    val k = args.lift(4).fold(1)(_.toInt)
    val perTask = rowsPerTask.toLong
    val spark = Harness.session(1)
    try {
      val g = shape match {
        case "unique" => col("id")
        case "repeated" => pmod(xxhash64(col("id")), lit(perTask / 5))
        case other => sys.error(s"unknown shape '$other': unique or repeated")
      }
      val df = spark.range(0, perTask * tasks.toInt, 1, tasks.toInt)
        .select(g.as("g"), col("id"), (col("id") * 37 % 101).cast("double").as("v"))
      val mb = 1L << 20
      val r = TopKTasks.run(operators.GraftOps.topKPerGroup(
        df, Seq("g"), Seq(("v", false), ("id", true)), k), poolMB.toLong * mb, mb)
      println(f"shape=$shape k=$k rows_per_task=$perTask tasks=$tasks pool_mb=$poolMB " +
        f"partial_rows=${r.partialRows} partial_sorted=${r.partialFallbacks} " +
        f"partial_passed=${r.partialPassThroughs} final_sorted=${r.finalFallbacks} " +
        f"spilled_mb=${r.spilledBytes.toDouble / mb}%.1f " +
        f"partial_cpu_s=${r.partialCpuNs / 1e9}%.2f final_cpu_s=${r.finalCpuNs / 1e9}%.2f " +
        f"out_rows=${r.out.size}")
    } finally spark.stop()
  }
}
