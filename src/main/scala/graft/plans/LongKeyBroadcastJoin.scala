package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, BindReferences,
  DynamicPruningSubquery, EqualTo, Expression, If, IsNull, Literal, Or,
  XxHash64}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight,
  BuildSide, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec,
  LogicalQueryStage}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin,
  HashedRelationBroadcastMode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

/** Broadcast hash joins whose keys do not pack into one BIGINT, planned on
  * one: `h(keys)`, NULL when any key is NULL and `xxhash64(keys)`
  * otherwise, with the key equalities ANDed into the join condition.
  *
  * Why: on such keys Spark broadcasts an `UnsafeHashedRelation`, and every
  * JVM that deserializes it builds a `BytesToBytesMap` whose first page is
  * `pageSizeBytes` (execution pool / cores / 16, rounded up to a power of
  * two and clamped to 1–64 MB) however few rows the table holds: 32 MB
  * under a 3 GB heap on `local[2]`, held as long as the broadcast is. On a
  * single long key Spark builds a `LongHashedRelation` instead, whose
  * deserialized page holds only the rows' bytes. A hash collision only
  * adds a candidate row, which the key equalities then reject, so the rows
  * are Spark's: a NULL `h` matches nothing, as a NULL key does.
  *
  * The strategy plans a join only where Spark's `JoinSelection` would
  * first plan a broadcast hash join (the same `getBroadcastBuildSide`
  * call), on keys that do not already pack into one long and that are
  * binary-stable (a collated string stays with Spark). Under AQE a side
  * that is already a broadcast query stage is the build side, as in
  * `LogicalQueryStageStrategy`, and only when the stage was broadcast on
  * this same `h`: a re-plan never asks one stage for a second broadcast
  * mode. Null-aware anti joins (`NOT IN`) extract no equi-join keys and
  * stay Spark's, as does every join under a dynamic partition pruning
  * filter; joins between two streams are planned before this strategy is
  * asked. Installed with [[TopKStrategy]] by [[graft.GraftExtensions]];
  * [[graft.Tables.t]] installs both on every session it reads through. */
object LongKeyBroadcastJoin extends SparkStrategy with JoinSelectionHelper {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ ExtractEquiJoinKeys(joinType, lKeys, rKeys, cond, _, left, right,
        hint) if rewritable(lKeys) && !(left.exists(pruned) ||
          right.exists(pruned)) =>
      val (lh, rh) = (h(lKeys), h(rKeys))
      val build = (left, right) match {
        case (LogicalQueryStage(_, s: BroadcastQueryStageExec), _) =>
          Some(BuildLeft).filter(_ => broadcastOn(s, lh))
        case (_, LogicalQueryStage(_, s: BroadcastQueryStageExec)) =>
          Some(BuildRight).filter(_ => broadcastOn(s, rh))
        case _ => getBroadcastBuildSide(j, !hint.isEmpty, SQLConf.get)
      }
      build.map { side: BuildSide =>
        val keysEqual = lKeys.zip(rKeys).map { case (l, r) => EqualTo(l, r) }
        BroadcastHashJoinExec(Seq(lh), Seq(rh), joinType, side,
          Some((keysEqual ++ cond).reduce(And)), planLater(left),
          planLater(right))
      }.toList
    case _ => Nil
  }

  /** Keys that neither pack into one long nor compare by anything but
    * their bytes. */
  private def rewritable(keys: Seq[Expression]): Boolean =
    HashJoin.rewriteKeyExpr(keys).map(_.dataType) != Seq(LongType) &&
      keys.forall(k => UnsafeRowUtils.isBinaryStable(k.dataType))

  /** A dynamic partition pruning filter reuses a join's broadcast only
    * when it is keyed as Spark keys it; on `h` it would broadcast the
    * build side a second time. */
  private def pruned(p: LogicalPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[DynamicPruningSubquery]))

  private def h(keys: Seq[Expression]): Expression = {
    val hash = new XxHash64(keys)
    keys.filter(_.nullable).map(IsNull(_): Expression).reduceOption(Or)
      .fold[Expression](hash)(If(_, Literal(null, LongType), hash))
  }

  /** Was the stage broadcast as a hash relation on `key` alone? */
  private def broadcastOn(stage: BroadcastQueryStageExec, key: Expression)
      : Boolean =
    stage.outputPartitioning.satisfies(BroadcastDistribution(
      HashedRelationBroadcastMode(
        BindReferences.bindReferences(Seq(key), stage.output))))
}
