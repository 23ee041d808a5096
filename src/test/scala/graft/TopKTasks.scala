package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import org.apache.spark.{SmallMemoryTask, TaskContext}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import graft.plans.TopKPerGroupExec

/** Runs the two [[TopKPerGroupExec]] passes of a top-k frame as tasks on
  * a memory pool of a given size ([[SmallMemoryTask]]): the partial pass
  * once per input partition, then the final pass over all partial output
  * as one partition — the exact top-k of its input, as the final pass of
  * each hash partition is. Input and partial output are held as packed
  * UnsafeRow bytes, one array per partition, so that a partition of
  * millions of rows costs its bytes, not an object per row. */
object TopKTasks {
  /** `partialRows` counts the rows the partial tasks emitted (what the
    * exchange would carry); `partialFallbacks`, `partialPassThroughs` and
    * `finalFallbacks` are the two execs' `numSortFallbacks` and
    * `numPassThroughs`; `held` is the most execution memory any task held
    * after its output was drained; `spilledBytes` sums the tasks'
    * `diskBytesSpilled`, and the two CPU times sum each pass's tasks. */
  final case class Result(out: Seq[InternalRow], schema: StructType,
      partialRows: Long, partialFallbacks: Long, partialPassThroughs: Long,
      finalFallbacks: Long, held: Long, spilledBytes: Long,
      partialCpuNs: Long, finalCpuNs: Long) {
    def rows: Seq[Row] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      out.map(toRow(_).asInstanceOf[Row])
    }
  }

  private final case class Task[T](out: T, held: Long, spilled: Long, cpuNs: Long)

  def run(topK: DataFrame, poolBytes: Long, pageBytes: Long): Result = {
    val execs = topK.queryExecution.sparkPlan.collect {
      case e: TopKPerGroupExec => e
    }
    val Seq(partial) = execs.filter(_.partial)
    val Seq(last) = execs.filterNot(_.partial)
    val fields = partial.output
    val cpu = ManagementFactory.getThreadMXBean
    def task[T](exec: TopKPerGroupExec, rows: Iterator[InternalRow])(
        drain: Iterator[InternalRow] => T) = {
      val ((out, spilled, cpuNs), held) = SmallMemoryTask.run(poolBytes, pageBytes) {
        val t0 = cpu.getCurrentThreadCpuTime
        val out = drain(exec.partitionTopK()(rows))
        (out, TaskContext.get().taskMetrics().diskBytesSpilled,
          cpu.getCurrentThreadCpuTime - t0)
      }
      Task(out, held, spilled, cpuNs)
    }
    val partials = partial.child.execute()
      .mapPartitions(rows => Iterator(pack(fields, rows))).collect().toSeq
      .map(p => task(partial, unpack(fields.size, p._1))(pack(fields, _)))
    val last1 = task(last, partials.iterator.flatMap(p => unpack(fields.size, p.out._1))) {
      _.map(_.copy()).toVector
    }
    val tasks = last1 +: partials
    def metric(e: TopKPerGroupExec, name: String) = e.metrics(name).value
    Result(last1.out, topK.schema, partials.map(_.out._2).sum,
      metric(partial, "numSortFallbacks"), metric(partial, "numPassThroughs"),
      metric(last, "numSortFallbacks"), tasks.map(_.held).max,
      tasks.map(_.spilled).sum, partials.map(_.cpuNs).sum, last1.cpuNs)
  }

  /** A partition's rows as (size, UnsafeRow bytes) records, and their
    * count. */
  private def pack(fields: Seq[Attribute], rows: Iterator[InternalRow]): (Array[Byte], Long) = {
    val toUnsafe = UnsafeProjection.create(fields, fields)
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    val buf = new Array[Byte](4096)
    var n = 0L
    rows.foreach { r =>
      val u = toUnsafe(r)
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buf)
      n += 1
    }
    out.flush()
    (bytes.toByteArray, n)
  }

  /** The rows of a [[pack]]ed array, one reused UnsafeRow pointed at each
    * record in turn, as a Spark iterator hands them out. */
  private def unpack(numFields: Int, bytes: Array[Byte]): Iterator[InternalRow] = {
    val row = new UnsafeRow(numFields)
    val in = ByteBuffer.wrap(bytes)
    Iterator.continually(in).takeWhile(_.hasRemaining).map { b =>
      val size = b.getInt
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + b.position(), size)
      b.position(b.position() + size)
      row
    }
  }
}
