package graft

/** Physical-plan assertions (SURVEY §4): pushdown reaches the parquet
  * scan, small sides broadcast, the merge hint forces SortMergeJoin,
  * aggregates are 2-phase hash aggregates inside whole-stage codegen.
  * These are the properties that keep the plans scale-safe at 100 TB —
  * asserted, not assumed (VERDICT r1: "make that a test, not a comment").
  */
class PlanSpec extends SparkTestBase {
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Does this subtree contain a hash aggregate grouping on the
    * prefix-sum bucket column — the structural proof that a window's
    * input is bucket-count-sized, not row-scaled? Exact attribute-name
    * match, not toString.contains("bk"): a future column merely
    * CONTAINING 'bk' (bkt, l_bkey) must not satisfy the guard
    * (ADVICE r12). Shared by the bounded-input and percentile-family
    * tests so the two enforce ONE invariant (r13 review). */
  private def hasBkGroupingAgg(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.groupingExpressions.exists {
          case ar: org.apache.spark.sql.catalyst.expressions
            .AttributeReference => ar.name == "bk"
          case _ => false
        } => a
    }.nonEmpty

  test("scan_pruned pushes filter + projection into the parquet scan") {
    val p = plan("scan_pruned")
    assert(p.contains("PushedFilters:") && p.contains("l_quantity"),
      s"no pushed filter in:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"),
      "projection not pruned — scan reads unneeded columns")
  }

  test("join_inner_equi broadcasts the dimension sides") {
    assert(plan("join_inner_equi").contains("BroadcastHashJoin"))
  }

  test("join_hint_shuffle honors the merge hint (SortMergeJoin)") {
    assert(plan("join_hint_shuffle").contains("SortMergeJoin"))
  }

  test("join_range broadcasts the threshold table (no shuffle of facts)") {
    assert(plan("join_range").contains("BroadcastNestedLoopJoin"))
  }

  test("knn_cosine broadcasts the 1-row query vector (1xN, never NxN)") {
    assert(plan("knn_cosine").contains("BroadcastNestedLoopJoin"))
  }

  test("agg_groupby is a 2-phase hash aggregate under codegen") {
    val df = SparkEntry.queries("agg_groupby")(spark, sf)
    df.collect() // force AQE to finalize the physical plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"expected partial+final HashAggregate in:\n$p")
    assert(p.contains("*("), s"no whole-stage-codegen span in:\n$p")
  }

  test("scan_parquet orderBy+limit collapses to TakeOrderedAndProject") {
    assert(plan("scan_parquet").contains("TakeOrderedAndProject"))
  }

  test("dedup_minhash candidate join is broadcast (no candidate shuffle)") {
    // the key's own plan ends at the pre-sort pin (r11), so the band
    // join lives in the candidate frame's plan — assert there
    val df = operators.TextSimOps.minhashCandAndPairs(spark, sf, 4, 2)._1
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"no broadcast in:\n$p")
  }

  test("text_langid broadcasts the language profile") {
    assert(plan("text_langid").contains("BroadcastHashJoin"))
  }

  test("text_tokenize aggregates partially before the shuffle") {
    val p = plan("text_tokenize")
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"no partial aggregation in:\n$p")
  }

  test("win_topk_physical plans partial+final custom execs around one exchange") {
    val p = plan("win_topk_physical")
    assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
      s"custom strategy did not fire:\n$p")
    val partialIdx = p.indexOf("TopKPerGroupPartial")
    val finalIdx = p.indexOf("TopKPerGroupFinal")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(o_custkey")
    assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx,
      s"exchange not between final and partial (final@$finalIdx " +
        s"exchange@$exchangeIdx partial@$partialIdx):\n$p")
  }

  test("knn_graph: k-bounded shuffle (partial top-k before the exchange)," +
    " no broadcast nested loop") {
    val p = plan("knn_graph")
    assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
      s"custom top-k strategy did not fire:\n$p")
    val partialIdx = p.indexOf("TopKPerGroupPartial")
    val finalIdx = p.indexOf("TopKPerGroupFinal")
    assert(finalIdx < partialIdx,
      s"final not above partial (final@$finalIdx partial@$partialIdx):\n$p")
    // tiledPairs must plan the pair generation as an EQUI-join on the
    // block-pair key — the bounded-memory contract
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"knn_graph pair generation degenerated to an all-pairs join:\n$p")
  }

  test("win_topk_physical equals the window-function formulation") {
    val viaWindow = SparkEntry.queries("win_topk_group")(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn").collect()
    val viaExec = SparkEntry.queries("win_topk_physical")(spark, sf).collect()
    assert(viaExec.length == viaWindow.length,
      s"${viaExec.length} vs ${viaWindow.length} rows")
    viaWindow.zip(viaExec).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("topKPerGroup edge cases: k > group size, k = 1, tie groups") {
    val ss = spark
    import ss.implicits._
    // groups: a has 2 rows (< k=3), b has 5, c has 1; d is all-ties on v
    val df = Seq(
      ("a", 1, 10.0), ("a", 2, 20.0),
      ("b", 1, 5.0), ("b", 2, 4.0), ("b", 3, 3.0), ("b", 4, 2.0), ("b", 5, 1.0),
      ("c", 9, 7.0),
      ("d", 1, 6.0), ("d", 2, 6.0), ("d", 3, 6.0), ("d", 4, 6.0))
      .toDF("g", "id", "v").repartition(5)
    val top3 = operators.GraftOps.topKPerGroup(df, Seq("g"),
      Seq(("v", false), ("id", true)), 3)
      .orderBy("g", "v", "id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(top3 == Seq(("a", 1), ("a", 2),
      ("b", 3), ("b", 2), ("b", 1),
      ("c", 9),
      ("d", 1), ("d", 2), ("d", 3)), s"got $top3")
    val top1 = operators.GraftOps.topKPerGroup(df, Seq("g"),
      Seq(("v", false), ("id", true)), 1)
      .orderBy("g").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(top1 == Seq(("a", 2), ("b", 1), ("c", 9), ("d", 1)), s"got $top1")
  }

  test("sample_stratified plans through the k-bounded TopKPerGroup execs") {
    val p = plan("sample_stratified")
    assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
      s"stratified sampler should use the bounded-shuffle operator:\n$p")
  }

  test("topKPerGroup falls back to a spilling sort when memory is denied") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Each pass runs as tasks on a small pool of its own (TopKTasks). High
    // group cardinality (5000 groups × 4 rows, shuffled so groups repeat
    // before the switch) charges a heap map about 1.5-2 MB: with a 1.5 MB
    // pool the second 1 MB page is denied part-way through every partition.
    // By then each partial partition has dropped rows (k = 2), so it sorts
    // too; the same rows keyed uniquely drop none, so each partial
    // partition passes its input through. The 12-row edge-case frame
    // (k > group size, all-tie groups) charges a few KB: a 256 KB pool
    // denies it the first page, at a partition's first row, which passes
    // through. Either way the final pass's freed pool still holds the
    // sorter's first page, and the result must equal the window
    // formulation with no memory left held.
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((1 to 20000).map(i => (i, (i * 37 % 101).toDouble)))
    val wide = rows.map { case (i, v) => (i % 5000, i, v) }.toDF("g", "id", "v").repartition(3)
    val unique = rows.map { case (i, v) => (i, i, v) }.toDF("g", "id", "v").repartition(3)
    val edge = Seq(
      ("a", 1, 10.0), ("a", 2, 20.0),
      ("b", 1, 5.0), ("b", 2, 4.0), ("b", 3, 3.0), ("b", 4, 2.0), ("b", 5, 1.0),
      ("c", 9, 7.0),
      ("d", 1, 6.0), ("d", 2, 6.0), ("d", 3, 6.0), ("d", 4, 6.0))
      .toDF("g", "id", "v").repartition(5)
    val mb = 1L << 20
    for ((df, k, deniedPool, passes) <- Seq((wide, 2, 3 * mb / 2, false),
        (unique, 1, 3 * mb / 2, true), (edge, 3, mb / 4, true), (edge, 1, mb / 4, true));
        (pool, denied) <- Seq((64 * mb, false), (deniedPool, true))) {
      val run = TopKTasks.run(operators.GraftOps.topKPerGroup(
        df, Seq("g"), Seq(("v", false), ("id", true)), k), pool, mb)
      val label = s"k=$k, pool ${pool / 1024} KB"
      val partial = (run.partialFallbacks, run.partialPassThroughs)
      val input = df.count()
      if (!denied) {
        assert(partial == ((0, 0)) && run.finalFallbacks == 0,
          s"$label: $partial partial and ${run.finalFallbacks} final partitions switched")
      } else {
        assert(run.finalFallbacks > 0, s"$label: no final partition fell back")
        if (passes) {
          assert(partial._1 == 0 && partial._2 > 0,
            s"$label: $partial partial partitions (sorted, passed through)")
          assert(run.partialRows == input,
            s"$label: the partial pass emitted ${run.partialRows} of $input rows")
        } else {
          assert(partial._1 > 0 && partial._2 == 0,
            s"$label: $partial partial partitions (sorted, passed through)")
          assert(run.partialRows < input,
            s"$label: the partial sort kept ${run.partialRows} of $input rows")
        }
      }
      assert(run.held == 0, s"$label: ${run.held} B still held after draining")
      val got = run.rows.map(r => (r.get(0), r.getInt(1))).sortBy(_.toString)
      val expected = df.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
        .filter(col("rn") <= k)
        .collect().map(r => (r.get(0), r.getInt(1))).toSeq.sortBy(_.toString)
      assert(got == expected,
        s"$label: ${got.size} rows vs the window's ${expected.size}")
    }
  }

  test("topKPerGroup rejects an unorderable group column by name") {
    import org.apache.spark.sql.functions._
    val df = spark.range(3).select(map(lit("a"), col("id")).as("tags"), col("id"))
    val e = intercept[IllegalArgumentException](operators.GraftOps.topKPerGroup(
      df, Seq("tags"), Seq(("id", true)), 1))
    assert(e.getMessage.contains("'tags'"), e.getMessage)
  }

  test("topKPerGroup merges -0.0 and 0.0 group keys like GROUP BY does") {
    val ss = spark
    import ss.implicits._
    val df = Seq((0.0, 1), (-0.0, 2), (-0.0, 3), (0.0, 4))
      .toDF("g", "id").repartition(4)
    val out = operators.GraftOps.topKPerGroup(df, Seq("g"),
      Seq(("id", true)), 1).collect()
    assert(out.length == 1 && out(0).getInt(1) == 1,
      s"0.0/-0.0 split into separate groups: " +
        out.map(r => (r.getDouble(0), r.getInt(1))).mkString(", "))
  }

  test("window_session shuffles once on user_id before both window passes") {
    val p = plan("window_session")
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    // one hashpartitioning(user_id) + the final range sort — no more
    assert(exchanges <= 3, s"too many exchanges ($exchanges):\n$p")
  }

  test("agg_heavy_hitters recount joins the tiny candidate set broadcast") {
    val p = plan("agg_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate recount should broadcast the MG survivors:\n$p")
    assert(p.contains("MapPartitions"),
      s"no bounded-memory MG pass in the plan:\n$p")
  }

  test("similarity operators never plan an all-pairs join (VERDICT r3 #1)") {
    // prefix-filtered candidates (word Jaccard) and tiled block pairs
    // (embeddings) are all equi-joins: a BroadcastNestedLoopJoin or
    // CartesianProduct anywhere is the O(N²)-pair-space regression
    for (k <- Seq("sim_jaccard_pairs", "sim_ngram_jaccard",
        "dedup_cluster_cc", "dedup_embed", "knn_per_label",
        "sim_containment_pairs", "dedup_keep_best", "dedup_span_shared",
        "mm_frame_dedup", "join_interval_overlap")) {
      val p = plan(k)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$k plans an all-pairs join:\n$p")
    }
  }

  test("global audit: no undeclared cartesian/nested-loop join in ANY key") {
    // The O(N²) plan shapes are allowed ONLY where declared and bounded:
    //  - join_cross: the deliberate 5×25 cartesian contract key
    //  - join_range / join_theta_band: non-equi predicates against a
    //    BROADCAST threshold/band table (linear in the fact side)
    //  - knn_cosine / knn_ann_srp / knn_ivf: 1×N (query row) or ≤16×N
    //    (centroid dim) broadcast attaches — constant-bounded side,
    //    linear in the corpus
    //  - agg_heavy_hitters / text_lm_score / text_tfidf_top: 1×N
    //    broadcast of a 1-row global aggregate (scalar attach for the
    //    n/k threshold, vocabulary size V, corpus doc count N)
    //  - search_rrf_hybrid: 1×N broadcast attaches of the 1-row query
    //    embedding (dense side, the knn_cosine shape) and the 1-row
    //    corpus-count aggregate (idf denominator)
    //  - pipe_mix_temperature: 1×S broadcast of the 1-row integer
    //    normalizer (Σ s_i) onto the source-count table (S = #sources)
    //  - etl_fk_audit: 1×1 broadcast joins of the per-relationship
    //    1-row count aggregates (child stats × orphan count) — every
    //    BNLJ side is a single scalar row by construction
    //  - sample_split_time: 1×N broadcast of the 1-row global-min
    //    aggregate (the temporal cut t0) onto the event log
    //  - search_bm25: 1×V and 1×N broadcasts of the 1-row (N, Σdl)
    //    corpus-stats aggregate (idf numerator, avgdl denominator)
    //  - agg_ttest: 1×G broadcast of the 1-row corpus totals onto the
    //    group-count-sized (≤4-row) grouped frame
    //  - pipe_oversample: 1×L broadcast of the 1-row majority-class
    //    target onto the language-count-sized counts frame
    //  - pipe_bpe_apply: per learn-apply step, a 1×V broadcast of the
    //    1-row argmax merge (l, r) onto the vocabulary-sized word
    //    table — one scalar row per step by construction (LIMIT 1)
    val bnljAllowed = Set("join_cross", "join_range", "join_theta_band",
      "knn_cosine", "knn_ann_srp", "knn_ivf", "knn_graph_ivf",
      "agg_heavy_hitters", "text_lm_score", "text_tfidf_top",
      "pipe_dataset_card", "search_rrf_hybrid", "pipe_mix_temperature",
      "etl_fk_audit", "sample_split_time", "search_bm25", "agg_ttest",
      "pipe_oversample", "pipe_bpe_apply")
    val cartesianAllowed = Set("join_cross")
    SparkEntry.queries.keys.toSeq.sorted.foreach { k =>
      val p = plan(k)
      if (!bnljAllowed(k))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$k plans an undeclared BroadcastNestedLoopJoin")
      if (!cartesianAllowed(k))
        assert(!p.contains("CartesianProduct"),
          s"$k plans an undeclared CartesianProduct")
    }
  }

  test("scan_partition_pruned: PartitionFilters present, files read < files total") {
    val df = SparkEntry.queries("scan_partition_pruned")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:") && p.contains("19727"),
      s"day filter did not become a partition filter:\n$p")
    // the scan must touch ONE day directory out of 30, not the table
    def scans(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = pl.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
    }.flatten
    val scan = scans(df.queryExecution.executedPlan)
      .find(_.toString.contains("events_byday"))
      .getOrElse(fail("no FileSourceScanExec over the partitioned fixture"))
    val filesRead = scan.metrics("numFiles").value
    val dayDirs = new java.io.File(
        operators.IngestOps.fixtureRoot(sf) + "/events_byday")
      .listFiles.count(_.getName.startsWith("day="))
    assert(dayDirs > 1, s"fixture has $dayDirs day partitions — not a layout")
    assert(filesRead < dayDirs,
      s"scan read $filesRead files over $dayDirs day partitions — no pruning")
  }

  test("join_dpp_partitioned: dynamic pruning subquery skips fact partitions") {
    val df = SparkEntry.queries("join_dpp_partitioned")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"no dynamicpruningexpression on the fact scan:\n$p")
    def scans(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = pl.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
    }.flatten
    val scan = scans(df.queryExecution.executedPlan)
      .find(_.toString.contains("events_byday"))
      .getOrElse(fail("no FileSourceScanExec over the partitioned fact"))
    val filesRead = scan.metrics("numFiles").value
    val dayDirs = new java.io.File(
        operators.IngestOps.fixtureRoot(sf) + "/events_byday")
      .listFiles.count(_.getName.startsWith("day="))
    // tag=1 keeps day%3==1 — a third of the layout; anything ≥ total
    // means the runtime IN-set never reached the scan
    assert(filesRead < dayDirs,
      s"DPP read $filesRead files over $dayDirs day partitions — no skipping")
  }

  test("scan_orc_nested: struct-field predicate pushed into the ORC scan") {
    val df = SparkEntry.queries("scan_orc_nested")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // nested predicate pushdown covers orc by default
    // (spark.sql.optimizer.nestedPredicatePushdown.supportedFileSources):
    // the m.t <> 'error' filter must appear in the scan's PushedFilters,
    // not only as a post-scan Filter node
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan orc") || l.contains("BatchScan")),
      s"no ORC scan in plan:\n$p")
    assert(p.contains("PushedFilters:") && p.contains("m.t"),
      s"nested predicate not pushed to the ORC scan:\n$p")
  }

  test("global audit: no unpartitioned row-level WindowExec in any key (VERDICT r5 #1)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    // An unpartitioned window moves EVERY row to one partition — the
    // single-partition scale-killer. Allowed only where the window input
    // is provably BOUNDED, not row-scaled:
    //  - stream_late_data / etl_shard_assign: prefix-offset table sized
    //    by bucket COUNT (rows/4096 resp. rows/100), not by rows
    //  - search_rrf_hybrid: rank windows over TakeOrdered-truncated
    //    top-K candidate lists (K = 60)
    //  - pipe_dataset_card (r12): the GLOBAL count-based median's
    //    bucket-offset window — the group key is a constant (one
    //    corpus-wide group), so Catalyst folds the partition spec
    //    away. NOT blanket-exempted: each of its unpartitioned
    //    windows must prove bounded input structurally (a bk-grouping
    //    aggregate child — the same shape the gini/mad/percentile
    //    test pins), so a future row-scaled window still fails here.
    val boundedInput = Set("stream_late_data", "etl_shard_assign",
      "search_rrf_hybrid")
    val structurallyBounded = Set("pipe_dataset_card")
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    def windows(p: SparkPlan): Seq[WindowExec] = p.collect {
      case w: WindowExec => Seq(w)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        windows(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        windows(q.plan)
    }.flatten
    SparkEntry.queries.keys.toSeq.sorted.foreach { k =>
      val qe = SparkEntry.queries(k)(spark, sf).queryExecution
      val bad = windows(qe.executedPlan).filter(_.partitionSpec.isEmpty)
      if (structurallyBounded(k))
        bad.foreach { w =>
          assert(hasBkGroupingAgg(w.child),
            s"$k: unpartitioned window over a non-bucket-collapsed " +
              s"(row-scaled) input:\n${qe.executedPlan}")
        }
      else if (!boundedInput(k))
        assert(bad.isEmpty,
          s"$k plans an unpartitioned row-level WindowExec (single-" +
            s"partition scale-killer):\n${qe.executedPlan}")
    }
  }

  test("gini/mad/percentile rank via the two-level bucketed prefix " +
    "sum — no row-level group-only window (r12, VERDICT r11 #3)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    // The r11 plan ranked every row with row_number() over
    // partitionBy(l_returnflag) — each of the 3 groups' full row set
    // sorted in one task (3.6 MiB single-task shuffle at sf0.1). The
    // r12 plan may only window over (a) (group, bucket) — parallel
    // across buckets — or (b) the bucket-offset table, which is
    // bucket-count-sized BY CONSTRUCTION (its subtree aggregates on
    // bk). Assert exactly that: every group-only window's child
    // contains a bk-grouping aggregate.
    def windows(p: SparkPlan): Seq[WindowExec] = p.collect {
      case w: WindowExec => Seq(w)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        windows(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        windows(q.plan)
    }.flatten
    // agg_mad and agg_percentile joined the discipline in r12: their
    // count-based exact percentile (countPercentiles) reuses the same
    // prefix-sum machinery, so the identical structural assertion
    // applies to all three.
    for (key <- Seq("agg_gini", "agg_mad", "agg_percentile")) {
      val qe = SparkEntry.queries(key)(spark, sf).queryExecution
      val ws = windows(qe.executedPlan)
      assert(ws.nonEmpty, s"$key: expected window nodes:\n${qe.executedPlan}")
      ws.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned window in $key:\n${qe.executedPlan}")
        if (w.partitionSpec.size == 1) {
          assert(hasBkGroupingAgg(w.child),
            "group-only window over a non-bucket-collapsed (row-scaled) " +
              s"input in $key:\n${qe.executedPlan}")
        }
      }
    }
  }

  test("similarity verify attaches broadcast via AQE, and survive without") {
    // VERDICT r4 #4: no similarity join carries a hard broadcast hint.
    // At test scale AQE must convert the small side — the doc-token
    // attach on the general path, the ≤62-row rank dictionary on the
    // r10 bitset path — to BroadcastHashJoin at runtime (final adaptive
    // plan); with broadcasts force-disabled the operator must still
    // produce the identical result through the shuffle fallback —
    // proving the 100 TB degradation path is exercised, not just
    // documented. Both representation paths are held to the contract:
    // the corpus takes the bitset path, and the same corpus plus one
    // pad document of fresh tokens (PaddedCorpus) the general path.
    // sim_jaccard_pairs is inspected at its PRE-PIN pair frame (the key
    // pins the pair set before its presentation sort, so the key-level
    // executed plan is Sort-over-ExistingRDD and the verify attach —
    // the joins this test audits — happens inside the pin's
    // materialization, invisible to plan inspection from above).
    val (padded, padId) = PaddedCorpus.of(spark, sf)
    def frame(k: String, dir: String) =
      if (k == "sim_jaccard_pairs")
        // the key's own builder and threshold, so the audit cannot
        // drift from the key
        graft.operators.TextSimOps.exactWordPairs(spark, dir,
          graft.operators.TextSimOps.TauPct).orderBy("da", "db")
      else SparkEntry.queries(k)(spark, dir)
    for ((dir, arm) <- Seq(sf -> "masks", padded -> "postings");
         k <- Seq("sim_jaccard_pairs", "sim_containment_pairs")) {
      assert(PaddedCorpus.arm(spark, dir) == arm, s"$dir: not the $arm arm")
      val df = frame(k, dir)
      val rows = df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!rows.exists(r => r.getLong(0) == padId || r.getLong(1) == padId),
        s"$k: the pad document $padId is in an output pair")
      assert(p.contains("BroadcastHashJoin"),
        s"$k: AQE did not broadcast the verify attach at test scale:\n$p")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf
        .getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        val df2 = frame(k, dir)
        val rows2 = df2.collect()
        val p2 = df2.queryExecution.executedPlan.toString
        assert(!p2.contains("BroadcastHashJoin"),
          s"$k: broadcast disabled but plan still broadcasts:\n$p2")
        // order-insensitive compare (ADVICE r5): equality held only
        // because both current keys end in a total-order sort; sorting
        // the collected rows keeps the assertion honest if a key
        // without a deterministic output order joins this loop
        assert(rows2.map(_.toString).sorted.toSeq ==
            rows.map(_.toString).sorted.toSeq,
          s"$k: shuffle fallback diverged (${rows2.length} vs ${rows.length})")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        prevA match {
          case Some(v) => spark.conf
            .set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
          case None => spark.conf
            .unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        }
      }
    }
  }

  test("the postings arm tokenizes once: pipe_delta_dedup runs as many " +
    "jobs as sim_jaccard_pairs") {
    // On the postings arm the two keys differ only by the delta
    // endpoint filter over the same exact pair frame, so a second
    // tokenSets call (one more gate job and pin) or a second tokenize
    // of documents shows as extra jobs of pipe_delta_dedup.
    val (padded, _) = PaddedCorpus.of(spark, sf)
    // also warms the Tables.t memo, so neither key reads the listing
    assert(PaddedCorpus.arm(spark, padded) == "postings",
      "the padded corpus did not take the postings arm")
    val sc = spark.sparkContext
    def jobs(k: String): Int = {
      sc.setJobGroup(k, k)
      try SparkEntry.queries(k)(spark, padded).collect()
      finally sc.clearJobGroup()
      // the status store applies job events in order: once the fence
      // job shows, every job of the key before it shows too
      val fence = s"$k-fence"
      sc.setJobGroup(fence, fence)
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(sc.statusTracker.getJobIdsForGroup(fence).nonEmpty)
      sc.statusTracker.getJobIdsForGroup(k).length
    }
    val jac = jobs("sim_jaccard_pairs")
    val delta = jobs("pipe_delta_dedup")
    assert(delta == jac, s"pipe_delta_dedup ran $delta jobs, " +
      s"sim_jaccard_pairs $jac: the delta fallback tokenized again")
  }

  test("knn_per_label bounds the pair shuffle via TopKPerGroup execs") {
    val p = plan("knn_per_label")
    assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
      s"knn_per_label no longer uses the k-bounded physical operator:\n$p")
  }

  test("bucketed fact-fact join plans with zero exchange") {
    import graft.sources.BucketedParquetSink
    import org.apache.spark.sql.functions.col
    val sink = new BucketedParquetSink(4, Seq("k"))
    sink.write(Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_extendedprice")), "li_bkt")
    sink.write(Tables.t(spark, sf, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice")), "ord_bkt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bkt").join(spark.table("ord_bkt"), "k")
      val expected = Tables.t(spark, sf, "lineitem")
        .join(Tables.t(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected, "bucketed join changed the result")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles — write-time bucketing not used:\n$p")
      assert(p.contains("Bucketed: true"),
        s"scan did not use the bucket layout:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("a broadcast join on a string or (string, bigint) key builds a " +
    "long-keyed relation; Spark's own relation holds a whole page") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastRelations}
    import org.apache.spark.sql.functions.broadcast
    import org.apache.spark.sql.types.LongType
    val ss = spark
    import ss.implicits._
    GraftExtensions.installStrategies(spark)
    val fact = spark.range(0, 1000).select(($"id" % 4).cast("string").as("k"),
      ($"id" % 2).as("n"), $"id")
    val dim = Seq(("0", 0L, "a"), ("1", 1L, "b"), ("2", 0L, "c"))
      .toDF("k", "n", "name")
    /** The one join of the executed plan, and its relation's class name,
      * driver-side size and deserialized size. */
    def relation(keys: Seq[String])
        : (BroadcastHashJoinExec, (String, Long, Long)) = {
      val df = fact.join(broadcast(dim), keys)
      assert(df.count() == 750, s"$keys")
      val j = SparkTestBase.broadcastJoins(df.queryExecution.executedPlan) match {
        case Seq(j) => j
        case js => fail(s"expected one broadcast hash join, got ${js.size}:\n" +
          df.queryExecution.executedPlan)
      }
      (j, BroadcastRelations.of(j))
    }
    val page = org.apache.spark.SmallMemoryTask.pageSizeBytes
    for (keys <- Seq(Seq("k"), Seq("k", "n"))) {
      val (j, (rel, driver, remote)) = relation(keys)
      assert(SparkTestBase.longKeyed(j) &&
        j.leftKeys.map(_.dataType) == Seq(LongType) &&
        j.rightKeys.map(_.dataType) == Seq(LongType), s"$keys: $j")
      val equal = j.condition.toSeq.flatMap(_.collect {
        case EqualTo(l: AttributeReference, r: AttributeReference)
          if l.name == r.name => l.name
      })
      assert(equal.sorted == keys.sorted,
        s"$keys: key equalities missing from the condition ${j.condition}")
      assert(rel == "LongHashedRelation", s"$keys: $rel")
      // the driver's copy keeps the 1 MB page it was built in (local
      // mode's tasks probe that copy); a deserialized one holds the rows
      assert(remote < (1L << 20) && driver <= (1L << 20) + 1024 &&
        driver < page,
        s"$keys: long-keyed relation of 3 rows holds $driver B on the " +
          s"driver, $remote B deserialized (page $page B)")
      withoutLongKeyJoin {
        val (sj, (srel, sdriver, sremote)) = relation(keys)
        assert(!SparkTestBase.longKeyed(sj) && sj.leftKeys.size == keys.size)
        assert(srel == "UnsafeHashedRelation", s"$keys: $srel")
        // the waste the strategy removes: a whole page for 3 rows
        assert(sdriver >= page && sremote >= page,
          s"$keys: Spark's relation holds $sdriver B on the driver, " +
            s"$sremote B deserialized (page $page B)")
      }
    }
  }

  test("an AQE re-plan joins a broadcast stage on one long key only when " +
    "the stage was broadcast on it") {
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      BroadcastQueryStageExec, LogicalQueryStage, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.broadcast
    val ss = spark
    import ss.implicits._
    GraftExtensions.installStrategies(spark)
    val l = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val r = Seq(("a", 10), ("c", 30)).toDF("k", "w")
    /** The broadcast stage of `l` joined with `r` on `k`, as AQE ran it. */
    def stage(): BroadcastQueryStageExec = {
      val df = l.join(broadcast(r), "k")
      df.collect()
      def stages(p: SparkPlan): Seq[BroadcastQueryStageExec] = p.collect {
        case s: BroadcastQueryStageExec => Seq(s)
        case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
        case q: QueryStageExec => stages(q.plan)
      }.flatten
      stages(df.queryExecution.executedPlan).headOption.getOrElse(
        fail(s"no broadcast stage:\n${df.queryExecution.executedPlan}"))
    }
    val (la, ra) = (org.apache.spark.sql.GraftBridge.analyzed(l),
      org.apache.spark.sql.GraftBridge.analyzed(r))
    /** What the strategy plans for the join once `r` is the stage `s`. */
    def replan(s: BroadcastQueryStageExec) = plans.LongKeyBroadcastJoin(
      Join(la, LogicalQueryStage(ra, s), Inner,
        Some(EqualTo(la.output.head, ra.output.head)), JoinHint.NONE))
    assert(replan(stage()).collect {
      case j: BroadcastHashJoinExec if SparkTestBase.longKeyed(j) => j.buildSide
    } == Seq(BuildRight))
    // a stage broadcast on the string key is left to Spark: planning it on
    // h would ask the stage for a second broadcast mode
    assert(replan(withoutLongKeyJoin(stage())).isEmpty)
  }
}
