package graft.plans

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  BindReferences, Expression, ExpressionSet, RowOrdering, SortOrder,
  SortPrefix, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy,
  UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

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
      "partitions that fell back to external sort"))

  /** Memory bound and the escape hatch: the per-partition heap map holds
    * ≤ k rows per DISTINCT group key seen in that partition, on-heap —
    * right for the many-rows-per-group inputs most callers have. With
    * unique keys it retains every row until the cap below; a frame
    * KNOWN unique never gets here (the strategy elides the pair), so
    * that case is a unique-key batch write nobody declared. If
    * group cardinality per partition is high enough that the retained
    * rows exceed `spark.graft.topk.fallbackRows` (default 4M), the
    * partition switches to a spilling external sort on (group, order)
    * and streams the first k rows of each group from the sorted run —
    * the same discipline as ObjectHashAggregateExec's sort fallback, so
    * no input can OOM the task. Rows already evicted by a heap lost to
    * ≥ k better rows that ARE in the sorter, so the switch is exact.
    * (If a group type is not orderable the fallback is impossible; such
    * types are not orderable by groupBy either, so this cannot arise via
    * the public [[graft.operators.GraftOps.topKPerGroup]] API.) */
  override protected def doExecute(): RDD[InternalRow] = {
    val gExprs = groupExprs
    val ord = ordering
    val out = child.output
    val limit = k
    val emitSorted = !partial
    val fallbackRows = conf.getConfString(
      "spark.graft.topk.fallbackRows", "4194304").toLong
    val canFallback = RowOrdering.isOrderable(gExprs)
    val schema = StructType(out.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    val numSortFallbacks = longMetric("numSortFallbacks")
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(gExprs, out)
      // lt(a, b) == "a ranks strictly better than b"
      val rowOrd = RowOrdering.create(ord, out)
      // max-heap per group under rowOrd: head is the WORST kept row, so
      // a full heap admits a new row by evicting its head
      val heaps = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.PriorityQueue[InternalRow]]()
      var retained = 0L
      var overflow = false
      while (iter.hasNext && !overflow) {
        val row = iter.next()
        val key = groupProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty(rowOrd)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) {
          heap.enqueue(row.copy())
          retained += 1
          overflow = canFallback && retained > fallbackRows
        } else if (rowOrd.lt(row, heap.head)) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      if (!overflow) {
        val groups = heaps.values().iterator()
        new Iterator[InternalRow] {
          private var current: Iterator[InternalRow] = Iterator.empty
          override def hasNext: Boolean = {
            while (!current.hasNext && groups.hasNext) {
              val rows = groups.next().toArray
              current =
                if (emitSorted) rows.sorted(rowOrd).iterator else rows.iterator
            }
            current.hasNext
          }
          override def next(): InternalRow = current.next()
        }
      } else {
        numSortFallbacks += 1
        // External (spilling) sort on group-cluster ++ rank order, then a
        // single streaming pass emitting the first k rows of each group.
        // Same sorter wiring as SortExec: radix-eligible prefix on the
        // leading key, full-row comparator for ties.
        val sortOrder = gExprs.map(SortOrder(_, Ascending)) ++ ord
        val sortOrd = RowOrdering.create(sortOrder, out)
        val boundHead = BindReferences.bindReference(sortOrder.head, out)
        val prefixExpr = SortPrefix(boundHead)
        val prefixProj = UnsafeProjection.create(Seq(prefixExpr))
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow)
              : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
            val p = prefixProj(row)
            result.isNull = p.isNullAt(0)
            result.value =
              if (result.isNull) prefixExpr.nullValue else p.getLong(0)
            result
          }
        }
        val sorter = UnsafeExternalRowSorter.create(
          schema, sortOrd,
          org.apache.spark.sql.execution.SortPrefixUtils
            .getPrefixComparator(boundHead),
          prefixComputer, SparkEnv.get.memoryManager.pageSizeBytes,
          /* canUseRadixSort = */ false)
        val toUnsafe = UnsafeProjection.create(out, out)
        def insert(r: InternalRow): Unit = r match {
          case u: UnsafeRow => sorter.insertRow(u)
          case other => sorter.insertRow(toUnsafe(other))
        }
        heaps.values().forEach(h => h.foreach(insert))
        heaps.clear()
        while (iter.hasNext) insert(iter.next())
        val sorted = sorter.sort()
        new Iterator[InternalRow] {
          private var prevKey: UnsafeRow = null
          private var emitted = 0
          private var pending: InternalRow = null
          override def hasNext: Boolean = {
            while (pending == null && sorted.hasNext) {
              val row = sorted.next()
              val key = groupProj(row)
              if (prevKey == null || key != prevKey) {
                prevKey = key.copy(); emitted = 0
              }
              if (emitted < limit) { emitted += 1; pending = row }
            }
            pending != null
          }
          override def next(): InternalRow = {
            val r = pending; pending = null; r
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}
