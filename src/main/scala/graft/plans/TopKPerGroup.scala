package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Expression, ExpressionSet, RowOrdering, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{LocalTableScanExec, SortExec,
  SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import scala.jdk.CollectionConverters._

/** Whole-operator extension (SURVEY §4 recipe c — the rung below custom
  * Expressions): top-k rows per group as a first-class physical operator,
  * planned as TWO execs around the exchange:
  *
  *   TopKPerGroupExec(final)            exact per-group top-k
  *     ShuffleExchange(hash(group))     carries ≤ k rows per (group ×
  *     TopKPerGroupExec(partial)          input partition), not the table
  *       <child>
  *
  * This is what the window-function formulation (`row_number() ≤ k`)
  * cannot do: WindowExec shuffles and sorts EVERY input row, while the
  * partial pass bounds shuffle volume by k·groups·partitions — at 100 TB
  * with millions of rows per group the difference is the job. The typed
  * Aggregator (`agg_topk_heap`) achieves the same dataflow for encoder-
  * friendly payloads; this operator does it for arbitrary row schemas at
  * the InternalRow/UnsafeRow level with no serialization detour.
  *
  * Registered via `spark.experimental.extraStrategies` (see
  * [[graft.GraftExtensions.installStrategies]]); constructed from the
  * public API by [[graft.operators.GraftOps.topKPerGroup]]. Callers: the
  * keys `win_topk_physical`, `sample_stratified`, `text_tfidf_top` and
  * `knn_per_label`, the kNN graph builder
  * (`SimilarityOps.knnGraphFromPairs`), and
  * [[graft.sources.KeyedUpsertSink]] with k = 1, where the heap map is a
  * hash map of each key's best row and the pair replaces a two-sort
  * `row_number` window.
  *
  * Over a frame already unique on a subset of the group keys every group
  * holds one row, so with k ≥ 1 the top-k is the frame itself:
  * [[TopKStrategy]] then plans the child alone, with no exec, no exchange
  * and no hash map. Uniqueness is Catalyst's `distinctKeys` (an
  * aggregate's grouping keys, a `distinct`, …) or a [[UniqueOn]]
  * declaration; [[graft.streaming.IngestPipeline]] declares its
  * deduplicated micro-batches unique on `event_id`, so the upsert of each
  * batch writes straight through.
  */
case class TopKPerGroupPlan(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

/** Logical marker: the caller declares the child's rows unique on `keys`
  * (no two rows share a value of all of them, NULL counting as a value).
  * It changes no row and plans as its child; it only adds `keys` to
  * Catalyst's `distinctKeys`, which projections and filters above carry
  * on. Built by [[graft.operators.GraftOps.uniqueOn]]. The claim is
  * trusted, not checked: rules that read `distinctKeys` (this file's
  * top-k elision, Spark's redundant-aggregate removal) drop work that a
  * false claim needed. */
case class UniqueOn(keys: Seq[Expression], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // same switch as LogicalPlanDistinctKeys: off means no distinct keys
  override lazy val distinctKeys: Set[ExpressionSet] =
    if (conf.getConf(SQLConf.PROPAGATE_DISTINCT_KEYS_ENABLED))
      child.distinctKeys + ExpressionSet(keys)
    else Set.empty
  override protected def withNewChildInternal(newChild: LogicalPlan): UniqueOn =
    copy(child = newChild)
}

/** Planner strategy: logical TopKPerGroupPlan → partial + final execs.
  * EnsureRequirements inserts the hash exchange between them because the
  * final exec demands ClusteredDistribution while the partial does not.
  * A child unique on a subset of the group keys plans alone (see
  * [[TopKPerGroupPlan]]); uniqueness is judged on the raw group keys,
  * the ones `distinctKeys` is stated in. A [[UniqueOn]] plans as its
  * child.
  *
  * Group keys are float-normalized (-0.0→0.0, canonical NaN) the same
  * way Catalyst's NormalizeFloatingNumbers rule does for Aggregate/
  * Window — that rule does not visit custom nodes, and without it 0.0
  * and -0.0 would both hash to different exchange partitions and land
  * in distinct heap-map entries. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(g, _, _, child)
        if child.distinctKeys.exists(_.subsetOf(ExpressionSet(g))) =>
      planLater(child) :: Nil
    case TopKPerGroupPlan(g, o, k, child) =>
      val ng = g.map(org.apache.spark.sql.GraftBridge.normalizeFloats)
      TopKPerGroupExec(ng, o, k, partial = false,
        TopKPerGroupExec(ng, o, k, partial = true, planLater(child))) :: Nil
    case UniqueOn(_, child) => planLater(child) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  /** Row-pruning only — partitioning is untouched, and advertising that
    * lets downstream group-clustered operators (e.g. a window over the
    * same keys) reuse the exchange instead of inserting a second one. */
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numSortFallbacks" -> SQLMetrics.createMetric(sparkContext,
      "partitions that fell back to external sort"),
    "numPassThroughs" -> SQLMetrics.createMetric(sparkContext,
      "partial partitions passed through when denied memory"))

  /** Memory bound and the escape hatch: the per-partition heap map holds
    * ≤ k rows per DISTINCT group key seen in that partition, on-heap —
    * right for the many-rows-per-group inputs most callers have; with
    * unique keys it retains every row. The maps are charged to the task's
    * execution memory ([[HeapCharge]]); when the memory manager grants
    * less than the next page, the partition frees its grant, switches to
    * a spilling external sort on (group, order) and streams the first k
    * rows of each group from the sorted run, as Spark's hash aggregate
    * hands over to its external sorter. Rows already evicted by a heap
    * lost to ≥ k better rows that ARE in the sorter: the switch is exact.
    * A partial pass whose heaps still hold every row it has read (unique
    * keys, or groups of ≤ k rows) instead passes its input through
    * unchanged: the sort would not have shrunk what it read, and the
    * final pass ranks whatever the exchange brings it. */
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(partitionTopK(), preservesPartitioning = true)

  /** The per-partition pass of `doExecute`; it closes over values, not
    * the plan, and runs inside a task, whose memory it charges. */
  private[graft] def partitionTopK(): Iterator[InternalRow] => Iterator[InternalRow] = {
    val gExprs = groupExprs
    val ord = ordering
    val out = child.output
    val limit = k
    val emitSorted = !partial
    // the fallback's sorter on group-cluster ++ rank order, wired by
    // SortExec itself (prefix on the leading key, full-row comparator)
    val sortExec = SortExec(gExprs.map(SortOrder(_, Ascending)) ++ ord,
      global = false, LocalTableScanExec(out, Nil, None))
    val numSortFallbacks = longMetric("numSortFallbacks")
    val numPassThroughs = longMetric("numPassThroughs")
    iter => {
      val ctx = TaskContext.get()
      val mem = new HeapCharge(GraftBridge.taskMemoryManager(ctx))
      ctx.addTaskCompletionListener[Unit](_ => mem.release())
      val groupProj = UnsafeProjection.create(gExprs, out)
      val toUnsafe = UnsafeProjection.create(out, out)
      def unsafe(r: InternalRow) = r match { case u: UnsafeRow => u; case o => toUnsafe(o) }
      // lt(a, b) == "a ranks strictly better than b"; orderings only read
      // rows, so the InternalRow ordering serves the heaps' UnsafeRows
      val rowOrd = RowOrdering.create(ord, out).asInstanceOf[Ordering[UnsafeRow]]
      // max-heap per group under rowOrd: head is the WORST kept row, so
      // a full heap admits a new row by evicting its head
      val heaps = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.PriorityQueue[UnsafeRow]]()
      var overflow = false
      var read = 0L
      var kept = 0L
      while (iter.hasNext && !overflow) {
        read += 1
        val row = unsafe(iter.next())
        val key = groupProj(row)
        var heap = heaps.get(key)
        var grew = 0L
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty(rowOrd)
          heaps.put(key.copy(), heap)
          grew = key.getSizeInBytes + HeapCharge.GroupOverhead
        }
        if (heap.size < limit) {
          heap.enqueue(row.copy())
          grew += row.getSizeInBytes + HeapCharge.RowOverhead
          kept += 1
        } else if (rowOrd.lt(row, heap.head)) {
          grew += row.getSizeInBytes - heap.dequeue().getSizeInBytes
          heap.enqueue(row.copy())
        }
        overflow = !mem.charge(grew)
      }
      if (!overflow) {
        // drained maps give their memory back before the task ends
        heaps.values().iterator().asScala.flatMap { h =>
          if (emitSorted) h.toArray.sorted(rowOrd).iterator else h.iterator
        } ++ { heaps.clear(); mem.release(); Iterator.empty }
      } else if (!emitSorted && kept == read) {
        // no row read so far was dropped: emit them and the unread rest
        numPassThroughs += 1
        heaps.values().iterator().asScala.flatMap(_.iterator) ++
          { heaps.clear(); mem.release(); iter }
      } else {
        numSortFallbacks += 1
        mem.release()
        val sorter = sortExec.createSorter()
        // each group leaves the map as it enters the sorter
        heaps.values().removeIf { h => h.foreach(sorter.insertRow); true }
        while (iter.hasNext) sorter.insertRow(unsafe(iter.next()))
        // the first k rows of each group of the sorted run
        var prevKey: UnsafeRow = null
        var emitted = 0
        sorter.sort().filter { row =>
          val key = groupProj(row)
          if (prevKey == null || key != prevKey) { prevKey = key.copy(); emitted = 0 }
          emitted += 1
          emitted <= limit
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Task execution memory charged for one partition's heap maps: JVM
  * objects, so ON_HEAP whatever the Tungsten mode. `charge` adds the bytes
  * the maps grew by, acquires a page whenever they pass what is held, and
  * answers false once a page is granted short. */
private final class HeapCharge(tmm: TaskMemoryManager)
    extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {
  private var charged = 0L

  def charge(bytes: Long): Boolean = {
    charged += bytes
    val step = math.max(tmm.pageSizeBytes, charged - used)
    charged <= used || acquireMemory(step) >= step
  }

  def release(): Unit = { freeMemory(used); charged = 0L }

  // A group's top-k needs every row it has kept, so the maps cannot be
  // written out in part: the exact way out is the switch to the sorter,
  // taken when this consumer's own next page is denied (Spark's
  // BytesToBytesMap likewise refuses to spill while it is being built).
  override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
}

private object HeapCharge {
  // JVM bytes beyond the UnsafeRow bytes (compressed oops): a kept row's
  // UnsafeRow object and byte[] header; a new group's key object, HashMap
  // node and slot, and PriorityQueue with its 16-slot buffer. Measured as
  // the heap after System.gc() holding the maps of 2M (k BIGINT, v BIGINT,
  // p STRING) rows: 352 B per unique-key group (48 + 16 row and key bytes)
  // and 104 B per further kept row.
  val RowOverhead = 56L
  val GroupOverhead = 232L
}
