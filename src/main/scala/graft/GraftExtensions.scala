package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions.DotProductF32

/** Session extension installing the library's native SQL functions
  * (`spark.sql.extensions=graft.GraftExtensions`, or call [[install]] on
  * a live session): `dot_f32(array<float>, array<float>)`,
  * `bloom_filter_agg` and `might_contain`; the `DotProductRewrite`
  * optimizer rule; and the planner strategies `graft.plans.TopKStrategy`
  * (top-k per group) and `graft.plans.LongKeyBroadcastJoin` (broadcast
  * hash joins on string or composite keys planned on one long key), which
  * [[GraftExtensions.installStrategies]] adds to a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotF32)
    ext.injectFunction(GraftExtensions.bloomFilterAgg)
    ext.injectFunction(GraftExtensions.mightContain)
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    GraftExtensions.Strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

object GraftExtensions {
  val dotF32: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        DotProductF32) =
    (FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotProductF32].getName, "dot_f32"),
      exprs => DotProductF32(exprs.head, exprs(1)))

  /** Spark ships Bloom-filter expressions for its internal runtime row
    * filtering but does not register them as SQL functions; exposing them
    * lets users build the classic big-join prefilter explicitly:
    * `might_contain((SELECT bloom_filter_agg(xxhash64(k)) FROM dim), …)`.
    * Merging bloom sketches is a bitwise OR — commutative — so the final
    * filter is partition-order deterministic. */
  val bloomFilterAgg: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      exprs => exprs.length match {
        case 1 => new BloomFilterAggregate(exprs.head)
        case 2 => new BloomFilterAggregate(exprs.head, exprs(1))
        case 3 => new BloomFilterAggregate(exprs.head, exprs(1), exprs(2))
        case n => throw new IllegalArgumentException(
          s"bloom_filter_agg expects 1 to 3 arguments, got $n")
      })

  val mightContain: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "might_contain"),
      exprs => BloomFilterMightContain(exprs.head, exprs(1)))

  /** Registers the library's SQL functions on an already-running session. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    Seq(dotF32, bloomFilterAgg, mightContain).foreach { f =>
      spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3)
    }

  private val Strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] =
    Seq(graft.plans.TopKStrategy, graft.plans.LongKeyBroadcastJoin)

  /** Adds the custom planner strategies to a live session (extensions
    * configured at session build do this automatically — the planner
    * check covers both injection paths, so this never double-registers). */
  def installStrategies(spark: org.apache.spark.sql.SparkSession): Unit = {
    val missing = Strategies.filterNot(spark.sessionState.planner.strategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies ++ missing
  }

  /** Adds the declarative→codegen rewrite rules to a live session
    * (extensions configured at session build do this automatically). */
  def installOptimizations(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(
        graft.plans.DotProductRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DotProductRewrite
}
