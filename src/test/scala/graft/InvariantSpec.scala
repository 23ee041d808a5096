package graft

import org.apache.spark.sql.functions._

/** Semantic invariants (SURVEY §5.3) + accuracy tests for the two ⊘ keys
  * that have no DuckDB oracle (approx sketch, LSH). */
class InvariantSpec extends SparkTestBase {

  test("dedup_cluster_cc reaches the fixpoint within its round budget") {
    // min-propagation (+ pointer jump) is monotone, so round N == round
    // N+1 proves the fixpoint was reached — the declared 6-round result
    // IS the exact CC (both runs also pass the convergence guard)
    val at6 = operators.TextSimOps.clusterCC(spark, sf, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val at7 = operators.TextSimOps.clusterCC(spark, sf, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(at6 == at7, "label propagation had not converged after 6 rounds")
    // every cluster representative is a member of its own cluster
    val reps = at6.map(_._2).toSet
    assert(reps.subsetOf(at6.map(_._1).toSet))
  }

  test("dedup_cluster_cc is green under spark.graft.checkpointDir (reliable checkpoint)") {
    // VERDICT r6 item 3: every iterative pin defaults to localCheckpoint
    // (executor-local blocks — lost-executor = failed job on a real
    // cluster); setting spark.graft.checkpointDir must transparently
    // switch all pins to reliable checkpoint() with identical results.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    val baseline = SparkEntry.queries("dedup_cluster_cc")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val under = SparkEntry.queries("dedup_cluster_cc")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(under == baseline,
        "reliable-checkpoint run diverged from localCheckpoint run")
      assert(new java.io.File(dir).listFiles != null &&
        new java.io.File(dir).listFiles.nonEmpty,
        "checkpointDir unused — pins did not switch to reliable checkpoint")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      // session-global SparkContext checkpoint dir: harmless to leave set
      // for other tests (pin() only uses it when the graft conf is set)
    }
  }

  test("dedup_cluster_cc matches GraphX connectedComponents") {
    // independent engine check: GraphX's Pregel CC on the same pair
    // graph must assign identical min-member labels (docs outside the
    // pair graph are singletons and keep their own id)
    import org.apache.spark.graphx.Graph
    val pairs = operators.TextSimOps.exactWordPairs(spark, sf, 90)
      .select(col("da"), col("db")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val g = Graph.fromEdgeTuples(
      spark.sparkContext.parallelize(pairs.toSeq), 1)
    val gx = g.connectedComponents().vertices.collect().toMap
    val ours = SparkEntry.queries("dedup_cluster_cc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ours.nonEmpty)
    ours.foreach { case (v, l) =>
      assert(l == gx.getOrElse(v, v),
        s"doc $v: graft label $l vs graphx ${gx.get(v)}")
    }
  }

  test("graph_bfs_hops matches GraphX ShortestPaths") {
    // independent engine check: GraphX's Pregel shortest-paths from the
    // same source must agree on every node the 4-round BFS reaches (and
    // any GraphX distance <= 4 must be present in ours)
    import org.apache.spark.graphx.{Graph, lib}
    val edges = graft.Tables.t(spark, sf, "lineitem")
      .select(col("l_suppkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1) + 10000000L))
    val g = Graph.fromEdgeTuples(
      spark.sparkContext.parallelize(
        (edges ++ edges.map(e => (e._2, e._1))).toSeq), 1)
    val gx = lib.ShortestPaths.run(g, Seq(1L)).vertices.collect()
      .map { case (v, m) => v -> m.get(1L) }.toMap
    val ours = SparkEntry.queries("graph_bfs_hops")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(ours.nonEmpty)
    ours.foreach { case (v, h) =>
      assert(gx(v).contains(h), s"node $v: graft $h vs graphx ${gx(v)}")
    }
    gx.foreach { case (v, d) =>
      if (d.exists(_ <= 4))
        assert(ours.contains(v), s"node $v at depth $d missing from BFS")
    }
  }

  test("dedup_cluster_cc convergence guard raises on an exhausted budget") {
    // clusterCC always appends one guard round: it compares
    // round N with round N+1 and raise_error()s on any label change, so
    // an unconverged clustering can never be silently emitted. Probed:
    // round 1 != round 2 at this SF, so a 1-round budget must raise…
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.toString).mkString("\n")
    val e = intercept[Exception] {
      operators.TextSimOps.clusterCC(spark, sf, 1).collect()
    }
    assert(chain(e).contains("not converged"), chain(e))
    // …and the declared 6-round budget passes the same guard
    assert(SparkEntry.queries("dedup_cluster_cc")(spark, sf).count() > 0)
  }

  test("agg_approx_percentile within 5% of the exact percentile") {
    import graft.Tables.t
    val approx = SparkEntry.queries("agg_approx_percentile")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val exact = t(spark, sf, "lineitem").groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    exact.foreach { case (k, (p50, p90)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - p50) / p50 <= 0.05, s"$k p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) / p90 <= 0.05, s"$k p90: $a90 vs $p90")
    }
  }

  test("countPercentiles == percentile() byte-for-byte on the " +
    "agg_percentile and agg_mad shapes (r12)") {
    // The count-based exact percentile (tie blocks + two-level prefix
    // sum + rank range-selection, boundary values rescaled to the
    // caller's domain BEFORE interpolating) must reproduce
    // percentile()'s round6'd output exactly. `want` is computed with
    // the literal percentile() expression — NOT via SparkEntry, which
    // ships the count-based path itself (r12 self-review caught the
    // tautology). CORPUS-PINNED, not a universal theorem (ADVICE r12):
    // countPercentiles deliberately interpolates even when vlo == vhi
    // (DuckDB quantile_cont does — oracle parity is the contract)
    // while percentile() may short-circuit, a 1-ulp divergence that
    // round6 could flip only at an exact half boundary; the fixed
    // testdata corpus exhibits no such boundary, making this a stable
    // regression test of the shared IEEE chain.
    import graft.Tables.{t, dec2, round6}
    val wantP = t(spark, sf, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(round6(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        round6(expr("percentile(o_totalprice, 0.9)")).as("p90"))
      .orderBy("o_orderstatus").collect().map(_.toString).toSeq
    val gotP = SparkEntry.queries("agg_percentile")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(gotP == wantP,
      s"count-based agg_percentile drifts from percentile():\n" +
        s" got  $gotP\n want $wantP")

    // agg_mad: the full two-stage percentile() form, verbatim pre-r12
    val xc = (dec2(col("l_extendedprice")) * 100).cast("long")
    val base = t(spark, sf, "lineitem")
      .select(col("l_returnflag"), xc.as("xc"))
    val med = base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(xc, 0.5)").as("med"))
    val wantM = base.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"), col("n"), col("med"),
        abs(col("xc").cast("double") - col("med")).as("dev"))
      .groupBy(col("l_returnflag"), col("n"), col("med"))
      .agg(expr("percentile(dev, 0.5)").as("mad"),
        max(col("dev")).as("maxdev"))
      .select(col("l_returnflag"), col("n"),
        round6(col("med") / 100.0).as("median"),
        round6(col("mad") / 100.0).as("mad"),
        round6(expr(graft.operators.AggOps.madRobustZSql))
          .as("max_robust_z"))
      .orderBy("l_returnflag").collect().map(_.toString).toSeq
    val gotM = SparkEntry.queries("agg_mad")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(gotM == wantM,
      s"count-based agg_mad drifts from percentile():\n" +
        s" got  $gotM\n want $wantM")
  }

  test("countPercentiles == percentile() across randomized shapes " +
    "(ties, singletons, skew — r12)") {
    // Seeded random datasets stress the rank selection where the
    // corpus can't: heavy ties (tiny domains), singleton groups,
    // n = 2 interpolation, skewed group sizes. Exact equality of the
    // round6'd results — same order statistic, same IEEE chain.
    // SEED-PINNED (ADVICE r12; see the countPercentiles scaladoc):
    // at a vlo == vhi boundary with non-dyadic f the engine keeps
    // DuckDB's interpolate-always chain while percentile() may
    // short-circuit — a 1-ulp divergence this fixed seed never lands
    // on a round6 half boundary. Deterministic, so stable; re-seeding
    // would require re-validating that property.
    val ss = spark
    import ss.implicits._
    import graft.Tables.round6
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val domain = Seq(3, 10, 1000)(trial % 3) // tie density dial
      val rows = (1 to 500).map { _ =>
        (s"g${rnd.nextInt(1 + trial)}", rnd.nextInt(domain).toLong)
      } ++ Seq(("solo", 7L)) // singleton group every trial
      val df = rows.toDF("g", "v")
      val ps = Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9))
      val want = df.groupBy(col("g")).agg(
          round6(expr("percentile(v, 0.25)")).as("p25"),
          round6(expr("percentile(v, 0.5)")).as("p50"),
          round6(expr("percentile(v, 0.9)")).as("p90"))
        .orderBy("g").collect().map(_.toString).toSeq
      val blocks = df.groupBy(col("g"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val got = graft.operators.AggOps.countPercentiles(blocks, "g", ps)
        .select(col("g"), round6(col("p25")).as("p25"),
          round6(col("p50")).as("p50"), round6(col("p90")).as("p90"))
        .orderBy("g").collect().map(_.toString).toSeq
      assert(got == want,
        s"trial $trial (domain $domain) drifts:\n got  $got\n want $want")
    }
  }

  test("agg_gini's bucket-decomposed rank sum equals the direct " +
    "per-block formula on tie-heavy random data (r15)") {
    // The r15 linear-chain gini computes Σ v·(sprev·cnt+cnt(cnt+1)/2)
    // as Σ v·(lprev·cnt+cnt(cnt+1)/2) + Σ_bucket boff·Σ_bucket(v·cnt).
    // Check the decomposition against the direct formula computed from
    // a brute-force exclusive prefix, over seeded tie-heavy data.
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { _ =>
      (s"g${rnd.nextInt(3)}", rnd.nextInt(200000).toLong) }
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val byV = rs.groupBy(_._2).map { case (v, vs) =>
        (v, vs.size.toLong) }.toSeq.sortBy(_._1)
      var sprev = 0L
      var srx = 0L
      byV.foreach { case (v, cnt) =>
        srx += v * (sprev * cnt + cnt * (cnt + 1) / 2)
        sprev += cnt
      }
      g -> srx
    }
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy("g", "bk").orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("bk")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val got = rows.toDF("g", "v")
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("bk",
        expr(s"v div ${graft.operators.AggOps.SelBucket}"))
      .withColumn("lprev", coalesce(sum(col("cnt")).over(wLoc), lit(0L)))
      .groupBy(col("g"), col("bk"))
      .agg(sum(col("cnt")).as("btot"),
        sum(col("v") * col("cnt")).as("sxb"),
        sum(col("v") * (col("lprev") * col("cnt") +
          expr("cnt * (cnt + 1) div 2"))).as("lrx"))
      .withColumn("boff", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .groupBy(col("g"))
      .agg(sum(col("lrx") + col("boff") * col("sxb")).as("srx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"decomposition drifts:\n got  $got\n want $want")
  }

  test("reserved-name guards reject collisions case-insensitively " +
    "(ADVICE r13 + r14 review)") {
    // withColumn resolves case-INsensitively under the default
    // spark.sql.caseSensitive=false, so a grp column named BK or Pos
    // is exactly as silently-overwritten as bk/pos — the guard must
    // catch both spellings, including the n/nr/vmax attachments and
    // the r15 selection internals (btot/boff/pa/wh/f/r/rr).
    val ss = spark
    import ss.implicits._
    for (bad <- Seq("bk", "BK", "lprev", "v", "CNT", "NR", "vmax", "N",
      "btot", "Boff", "pa", "WH", "f", "r", "rr", "pos")) {
      val e = intercept[IllegalArgumentException] {
        graft.operators.AggOps.countPercentiles(
          Seq((1L, 1L)).toDF(bad, "v"), bad, Seq(("p50", 0.5)))
      }
      assert(e.getMessage.contains("reserved"), s"grp=$bad: $e")
    }
  }

  test("countPercentiles rejects contract-violating input loudly " +
    "(r13 review: no silent semantics switch)") {
    // The input is tie blocks: rows without a cnt weight column must
    // fail fast rather than be read as anything else.
    val ss = spark
    import ss.implicits._
    val plain = Seq(("A", 1L), ("A", 2L)).toDF("g", "v")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.AggOps.countPercentiles(
        plain, "g", Seq(("p50", 0.5))) // no cnt
    }
    assert(e1.getMessage.contains("cnt"), e1.getMessage)
    // and the public GraftOps surface validates fractions
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.GraftOps.countPercentiles(
        plain, "g", Seq(("bad", 1.5)))
    }
    assert(e2.getMessage.contains("fraction"), e2.getMessage)
  }

  test("countPercentiles keeps count(*) semantics under NULL values " +
    "(r12 self-review)") {
    // percentile() ignores NULL values for ranks, but the oracle's
    // count(*) still counts the rows — n must match count(*), and a
    // group whose every value is NULL must surface a NULL-percentile
    // row rather than vanish. (Nullable source columns make this
    // legal input for agg_mad's xc; quality-derived callers can't
    // produce NULL under ANSI, where x/0 throws instead.)
    val ss = spark
    import ss.implicits._
    val vals = Seq(
      ("A", Some(100L)), ("A", Some(200L)), ("A", Some(300L)),
      ("A", None), // NULL value still counted in n
      ("Z", None), ("Z", None)) // group with ONLY nulls
      .toDF("g", "v")
    val blocks = vals.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val out = graft.operators.AggOps.countPercentiles(
      blocks, "g", Seq(("p50", 0.5)), scale = 100).collect()
    val a = out.find(_.getString(0) == "A").get
    assert(a.getLong(a.fieldIndex("n")) == 4L,
      s"A.n must be count(*) including the NULL row: $a")
    assert(math.abs(a.getDouble(a.fieldIndex("p50")) - 2.0) < 1e-12,
      s"A.p50 must rank over non-null values only (median 200/100): $a")
    val z = out.find(_.getString(0) == "Z").get
    assert(z.getLong(z.fieldIndex("n")) == 2L, s"Z row: $z")
    assert(z.isNullAt(z.fieldIndex("p50")),
      s"all-NULL group must emit a NULL percentile, not vanish: $z")
  }

  test("agg_mad emits NULL max_robust_z when MAD is 0 (ADVICE r11)") {
    // A group where ≥50% of values are identical has MAD 0; the old
    // finish divided by it, and Spark's floor-based round6 collapsed
    // the Infinity to Long.MaxValue/1e6 while DuckDB kept Infinity —
    // engine-divergent on legal input. The shared nullif finish makes
    // both emit NULL.
    val ss = spark
    import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mad0").toString
    Seq(("A", 10.0), ("A", 10.0), ("A", 10.0), ("A", 99.0),
        ("B", 1.0), ("B", 2.0), ("B", 8.0))
      .toDF("l_returnflag", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("agg_mad")(spark, dir).collect()
    val a = rows.find(_.getString(0) == "A").get
    assert(a.isNullAt(a.fieldIndex("max_robust_z")),
      s"MAD-0 group must emit NULL robust z, got $a")
    val b = rows.find(_.getString(0) == "B").get
    assert(!b.isNullAt(b.fieldIndex("max_robust_z")),
      s"spread group must emit a real robust z, got $b")
  }

  test("agg_approx_distinct within 5% of exact (rsd=0.05)") {
    import graft.Tables.t
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = t(spark, sf, "lineitem").groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) / ex <= 0.05,
        s"flag $k: approx $ap vs exact $ex off by >5%")
    }
  }

  test("dedup_minhash recall >= 0.9 vs exact Jaccard >= 0.9 ground truth") {
    val exact = SparkEntry.queries("sim_jaccard_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_minhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.count(lsh.contains).toDouble / exact.size
      assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} pairs")
    }
  }

  test("containment candidates are a superset of the qualifying pairs") {
    // the class-banded y-prune (r5) must lose no qualifying ordered pair:
    // every (da, db) the full operator emits must appear in the
    // pre-verify candidate stream (recall-1 for the banding, independent
    // of the verify filter; RewriteEquivalenceSpec checks end-to-end
    // equality on random corpora, this pins the stage contract itself)
    val cands = operators.TextSimOps.containmentCandidates(
      operators.TextSimOps.tokenSets(spark, sf).ranked, 95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = SparkEntry.queries("sim_containment_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty)
    val missing = out -- cands
    assert(missing.isEmpty,
      s"banding dropped ${missing.size} qualifying pairs: ${missing.take(5)}")
  }

  test("knn_cosine top-10 equals the prefix of the full similarity sort") {
    import graft.Tables.{t, round6}
    val emb = t(spark, sf, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val full = emb.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), round6(aggregate(
        zip_with(col("embedding"), col("qe"),
          (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0), (acc, x) => acc + x)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).take(10).toSeq
    val top = SparkEntry.queries("knn_cosine")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top == full)
  }

  test("set_union_all count is additive") {
    import graft.Tables.t
    val a = t(spark, sf, "orders").where(col("o_orderstatus") === "O").count()
    val b = t(spark, sf, "orders").where(col("o_totalprice") > 50000).count()
    assert(SparkEntry.queries("set_union_all")(spark, sf).count() == a + b)
  }

  test("dedup_exact is idempotent (one group per canonical hash)") {
    val out = SparkEntry.queries("dedup_exact")(spark, sf)
    assert(out.select("h").distinct().count() == out.count())
  }

  test("sim_jaccard_pairs is consistent: inter <= uni, threshold holds") {
    SparkEntry.queries("sim_jaccard_pairs")(spark, sf).collect().foreach { r =>
      val (inter, uni) = (r.getInt(2), r.getInt(3))
      assert(inter <= uni && 100 * inter >= 90 * uni)
    }
  }

  test("window_session durations are non-negative, counts sum to |events|") {
    val out = SparkEntry.queries("window_session")(spark, sf)
    assert(out.where(col("dur_us") < 0).count() == 0)
    val total = out.agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == graft.Tables.events(spark, sf).count())
  }

  test("dedup_keep_best keeps the max-quality member of every cluster") {
    val clusters = SparkEntry.queries("dedup_cluster_cc")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val quality = SparkEntry.queries("text_quality")(spark, sf)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val best = SparkEntry.queries("dedup_keep_best")(spark, sf).collect()
    // one row per cluster, sizes sum to |docs|
    assert(best.map(_.getLong(0)).distinct.length == best.length)
    assert(best.map(_.getLong(3)).sum == clusters.size)
    best.foreach { r =>
      val (cl, keep, q) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(clusters(keep) == cl, s"keep_doc $keep not in cluster $cl")
      val members = clusters.collect { case (d, c) if c == cl => d }
      val maxQ = members.map(quality).max
      assert(q == maxQ, s"cluster $cl kept quality $q, max is $maxQ")
      // doc_id tie-break: smallest doc among the max-quality members
      assert(keep == members.filter(quality(_) == maxQ).min)
    }
  }

  test("text_repetition: bounds hold and n2 matches the token count") {
    val toks = SparkEntry.queries("text_token_count")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    SparkEntry.queries("text_repetition")(spark, sf).collect().foreach { r =>
      val (id, n2, d2) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (dup2, top2, n3, d3, dup3) = (r.getDouble(3), r.getDouble(4),
        r.getLong(5), r.getLong(6), r.getDouble(7))
      assert(n2 == math.max(toks(id) - 1, 0) && n3 == math.max(toks(id) - 2, 0))
      assert(d2 <= n2 && d3 <= n3)
      Seq(dup2, top2, dup3).foreach(f => assert(f >= 0.0 && f <= 1.0))
      if (n2 > 0) assert(top2 > 0.0)
    }
  }

  test("dedup_span_shared matches a driver-side brute force") {
    // small corpus: recompute every doc's span stats in plain Scala
    val texts = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val spansOf = texts.map { case (id, tx) =>
      (id, tx.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet)
    }.toMap
    val docFreq = spansOf.values.flatten.toSeq
      .groupBy(identity).map { case (g, xs) => (g, xs.size) }
    val out = SparkEntry.queries("dedup_span_shared")(spark, sf).collect()
    assert(out.length == texts.length)
    var sharedSeen = false
    out.foreach { r =>
      val (id, n, sh) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val exp = spansOf(id)
      assert(n == exp.size, s"doc $id n_spans")
      assert(sh == exp.count(docFreq(_) >= 2), s"doc $id shared_spans")
      assert(sh <= n)
      if (sh > 0) sharedSeen = true
    }
    assert(sharedSeen, "corpus exercises no cross-doc shared span")
  }

  test("join_interval_overlap matches the brute-force theta join") {
    val iv = SparkEntry.queries("window_session")(spark, sf)
      .select(col("user_id"), col("sid"), col("s_start").as("s0"),
        (col("s_start") + col("dur_us")).as("s1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = (for {
      a <- iv; b <- iv
      if a._1 < b._1 && a._3 <= b._4 && b._3 <= a._4
    } yield (a._1, a._2, b._1, b._2,
        math.min(a._4, b._4) - math.max(a._3, b._3))).sortBy(identity).toSeq
    val got = SparkEntry.queries("join_interval_overlap")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got.nonEmpty && got == expect)
  }

  test("window_gapfill: grid is dense, fill matches last observation") {
    val out = SparkEntry.queries("window_gapfill")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // per user: contiguous buckets, first/last have data, gaps exist
    out.groupBy(_._1).foreach { case (_, rows) =>
      val bks = rows.map(_._2).sorted
      assert(bks.zip(bks.tail).forall { case (x, y) => y == x + 1 })
      assert(rows.minBy(_._2)._3 > 0 && rows.maxBy(_._2)._3 > 0)
    }
    assert(out.exists(_._3 == 0), "corpus exercises no gap")
    // forward-fill: recompute from raw events
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1)
    out.foreach { case (u, bk, cnt, fill) =>
      val obs = byUser(u).filter(_._2 / 3600000000L <= bk)
      val last = obs.maxBy(e => (e._2, e._3))
      assert(fill == last._4, s"user $u bucket $bk fill")
      assert(cnt == byUser(u).count(_._2 / 3600000000L == bk))
    }
  }

  test("pipe_quality_cut keeps at least each language's top quartile") {
    val rows = SparkEntry.queries("pipe_quality_cut")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, thr, kept, minQ) =
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
      assert(kept >= (nDocs + 3) / 4, s"kept $kept of $nDocs")
      assert(kept <= nDocs)
      assert(minQ >= thr, "a kept doc is below its language's threshold")
    }
  }

  test("embed_quantize reconstructs within half a quantization step") {
    import graft.Tables.t
    val raw = t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val out = SparkEntry.queries("embed_quantize")(spark, sf).collect()
    assert(out.length == raw.size)
    out.foreach { r =>
      val (id, scale6, qSum, qL1, qMax) = (r.getLong(0), r.getDouble(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      val x = raw(id).map(_.toDouble)
      val amax = x.map(math.abs).max
      val scale = amax / 127.0
      assert(qMax <= 127 && qL1 >= math.abs(qSum))
      assert(math.abs(scale6 - scale) < 1e-6)
      if (amax > 0) {
        val q = x.map(v => math.floor(v / scale + 0.5).toLong)
        assert(q.sum == qSum && q.map(math.abs).sum == qL1)
        // reconstruction: |x - q*scale| <= scale/2 element-wise
        q.zip(x).foreach { case (qi, xi) =>
          assert(math.abs(qi * scale - xi) <= scale / 2 + 1e-12)
        }
      }
    }
  }

  test("agg_hll_sketch estimates within 5% of exact, union == global") {
    import graft.Tables.t
    val tok = t(spark, sf, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    val exact = tok.groupBy(col("lang"))
      .agg(countDistinct(col("w")).as("d")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap +
      ("ALL" -> tok.select(col("w")).distinct().count())
    SparkEntry.queries("agg_hll_sketch")(spark, sf).collect().foreach { r =>
      val (lang, est) = (r.getString(0), r.getLong(1))
      val ex = exact(lang)
      assert(math.abs(est - ex).toDouble / ex <= 0.05,
        s"$lang: est $est vs exact $ex")
    }
  }

  test("graph_pagerank equals the integer brute force") {
    import graft.Tables.t
    val edges = t(spark, sf, "lineitem")
      .select(col("l_suppkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1) + 10000000L))
    val one = 1000000000000L
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank = nodes.map(n => (n, one)).toMap
    for (_ <- 1 to 3) {
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (u, v) => m(v) += rank(u) / deg(u) }
      rank = nodes.map(n => (n, 15 * one / 100 + 85 * m(n) / 100)).toMap
    }
    val expect = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(50)
    val got = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("pipe_curation_e2e equals composing keep-best + gate + split") {
    val best = SparkEntry.queries("dedup_keep_best")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getDouble(2))) // (keep_doc, quality)
    val meta = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("nt")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    def splitOf(id: Long): String = {
      val b = ((id % 1009) * 31 + 7) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val expect = best.filter(_._2 >= 0.5)
      .map { case (id, q) =>
        ((meta(id)._1, splitOf(id)), (1L, meta(id)._2.toLong, q)) }
      .groupBy(_._1).view.mapValues { xs =>
        (xs.map(_._2._1).sum, xs.map(_._2._2).sum, xs.map(_._2._3).min)
      }.toMap
    val got = SparkEntry.queries("pipe_curation_e2e")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("sample_weighted equals the Efraimidis-Spirakis brute force") {
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def u(id: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / 1152921504606846976.0
    }
    val expect = docs.map { case (id, w) => (math.log(u(id)) / w, id, w) }
      .sortBy(x => (-x._1, x._2)).take(200)
      .map(x => (x._2, x._3)).sortBy(_._1).toSeq
    val got = SparkEntry.queries("sample_weighted")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
    // weighting sanity: the sample's mean weight exceeds the corpus mean
    val all = docs.map(_._2).sum.toDouble / docs.length
    val samp = got.map(_._2).sum.toDouble / got.length
    assert(samp > all, s"weighted sample mean $samp not above corpus mean $all")
  }

  test("mm_frame_dedup: frame accounting is exact") {
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val out = SparkEntry.queries("mm_frame_dedup")(spark, sf).collect()
    // n_frames = ceil(len/16) per doc; globally, dups = frames - distinct
    out.foreach { r =>
      val (id, n, dup) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(n == (docs(id) + 15) / 16, s"doc $id frame count")
      assert(dup <= n)
    }
    val distinctFrames = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"), explode(expr(
        "CASE WHEN length(text) >= 1 THEN sequence(0, " +
          "cast(ceil(length(text) / 16.0) as int) - 1) " +
          "ELSE CAST(array() AS array<int>) END")).as("fi"))
      .select(expr("md5(substring(text, fi * 16 + 1, 16))").as("h"))
      .distinct().count()
    assert(out.map(_.getLong(2)).sum == out.map(_.getLong(1)).sum - distinctFrames)
  }

  test("agg_cms_sketch: union == direct global sketch byte-for-byte; eps*N bound holds") {
    import org.apache.spark.util.sketch.CountMinSketch
    val tok = graft.Tables.t(spark, sf, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    val per = tok.groupBy(col("lang"))
      .agg(count_min_sketch(col("w"), lit(0.001d), lit(0.99d), lit(42))
        .as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(per.size >= 2, "corpus has fewer than 2 languages")
    // union of per-language partials, merged in arbitrary map order
    val union = per.values.reduce { (a, b) =>
      val sa = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(a))
      sa.mergeInPlace(
        CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b)))
      val out = new java.io.ByteArrayOutputStream(); sa.writeTo(out)
      out.toByteArray
    }
    // directly-built global sketch over the same rows
    val direct = tok
      .agg(count_min_sketch(col("w"), lit(0.001d), lit(0.99d), lit(42))
        .as("sk"))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(union, direct),
      "merged partials differ from the directly-built global sketch")
    // point-query guarantee on the 5 most frequent tokens: the estimate
    // never undercounts, and overcounts by at most eps * N (eps=0.001,
    // N = total token occurrences; deterministic given the fixed seed)
    val sk = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(direct))
    val counts = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = tok.count()
    counts.foreach { case (w, c) =>
      val est = sk.estimateCount(w)
      assert(est >= c, s"CMS undercounted '$w': $est < $c")
      assert(est <= c + math.ceil(0.001 * n).toLong,
        s"CMS overcounted '$w' beyond eps*N: $est vs $c (N=$n)")
    }
  }

  test("etl_incremental_agg: maintained rollup is invariant to the split") {
    // the correctness claim of incremental maintenance: merging any
    // history/batch partition of the input through the partial-agg union
    // yields the same rollup (count and DECIMAL sum are commutative
    // monoids — no merge order or split choice can change the result)
    def run(m: Int) = operators.EtlOps.incrementalAgg(spark, sf, m)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val at5 = run(5)
    assert(at5.nonEmpty)
    assert(at5 == run(2), "split %2 diverged from %5")
    assert(at5 == run(7), "split %7 diverged from %5")
  }

  test("etl_shard_assign: invariant to prefix-sum bucket width; shards byte-bounded") {
    def run(b: Long) = operators.EtlOps.shardAssign(spark, sf, b, 16384L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val at100 = run(100L)
    assert(at100.nonEmpty)
    // two-level prefix-sum exactness: leaf bucket width is an internal
    // knob, the global cumulative offsets cannot depend on it
    assert(at100 == run(37L), "bucket width changed the assignment")
    // shard ids are contiguous from 0 and each shard's bytes stay under
    // target + its own last doc (a doc never splits across shards)
    val byShard = at100.groupBy(_._4).toSeq.sortBy(_._1)
    assert(byShard.map(_._1) == (0L until byShard.size.toLong))
    byShard.foreach { case (sid, ds) =>
      val bytes = ds.map(_._2).sum
      assert(bytes < 16384L + ds.map(_._2).max,
        s"shard $sid holds $bytes bytes")
    }
  }

  test("pipe_pack_sequences: invariant to prefix-sum bucket width; " +
    "bucketed form equals the one-window-per-source form") {
    // VERDICT r10 #5: the key now ships the two-level bucketed prefix
    // sum; a bucket width beyond the doc-id range degenerates to the
    // classic single-window-per-source plan, so comparing widths
    // {3, 97, 4096, 10^9} proves the rewrite exact AND anchors the
    // bucketed form to the original semantics in one assertion.
    def run(b: Long) = operators.PipelineOps
      .packSequences(spark, sf, cap = 512, bucket = b)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val shipped = run(4096L)
    assert(shipped.nonEmpty)
    for (b <- Seq(3L, 97L, 1000000000L))
      assert(shipped == run(b), s"bucket width $b changed the packing")
  }

  test("stream_late_data: invariant to prefix-max bucket width; matches global window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the corpus is roughly time-ordered (zero late rows at every SF), so
    // perturb ts_us deterministically to force a non-trivial late set —
    // otherwise every form trivially agrees on the empty result
    val ev = Tables.events(spark, sf).withColumn("ts_us",
      col("ts_us") - pmod(col("event_id") * 2654435761L, lit(29L)) *
        lit(120L * 1000000L))
    def run(b: Long) = operators.TimeOps.lateData(ev, b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val at4096 = run(4096L)
    assert(at4096.nonEmpty, "perturbed corpus produced no late rows — vacuous")
    // bucket width is an internal knob of the two-level prefix max: the
    // strictly-preceding boundary must be exact wherever the edges fall,
    // including width 1 (offset table does ALL the work) and a width
    // larger than the table (local window does all the work)
    assert(at4096 == run(1L), "bucket width 1 changed the late set")
    assert(at4096 == run(37L), "bucket width 37 changed the late set")
    assert(at4096 == run(1L << 40), "single-bucket run changed the late set")
    // and the decomposition equals the reference global-window form
    val w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    val global = ev.withColumn("hwm", max("ts_us").over(w))
      .where(col("hwm").isNotNull &&
        col("ts_us") < col("hwm") - 600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("hwm"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(at4096 == global, "bucketed form diverged from the global window")
  }

  test("clusterCC guard: long chain raises under budget, converges at it (VERDICT r5 #5)") {
    import org.apache.spark.sql.functions._
    // Sliding-window word chain: doc i = words {w_i .. w_(i+39)}, so
    // Jaccard(i, i+k) = (40-k)/(40+k) — ≥ 0.9 exactly for k ≤ 2. The
    // τ=90 pair graph is a distance-≤2 chain over 120 docs: one
    // component, edge-hop diameter ≈ 60. Per the GraftOps contract the
    // converged radius after r rounds is 2^(r+1)−2: rounds=2 covers 6
    // (must RAISE), rounds=6 covers 126 (must converge, and min-label
    // means every label is doc 0).
    val n = 120
    val win = 40
    val ss = spark
    import ss.implicits._
    val rows = (0 until n).map { i =>
      val text = (i until i + win).map(j => f"w$j%04d").mkString(" ")
      (i.toLong, text, "en", "src0", text.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_chain").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = intercept[Exception] {
      operators.GraftOps.connectedComponents(spark, dir, rounds = 2).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(ex).exists(_.contains("not converged")),
      s"expected the non-convergence guard, got: $ex")
    val ok = operators.GraftOps.connectedComponents(spark, dir, rounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ok.length == n && ok.forall(_._2 == 0L),
      "chain did not converge to the single min-label component")
    // The public edge-list API (the graph_cc path) carries the same
    // guard: a 200-node path has diameter 199, so rounds=2 (radius 6)
    // must RAISE and rounds=8 (radius 510) must converge to label 0.
    val pn = 200L
    val nodes = spark.range(pn).select(col("id").as("v"))
    val pairs = spark.range(pn - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val pex = intercept[Exception] {
      operators.GraftOps.connectedComponentsOf(nodes, pairs, rounds = 2)
        .collect()
    }
    assert(rootMessages(pex).exists(_.contains("not converged")),
      s"expected the edge-list non-convergence guard, got: $pex")
    val pok = operators.GraftOps.connectedComponentsOf(nodes, pairs,
        rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pok.length == pn && pok.forall(_._2 == 0L),
      "path did not converge to the single min-label component")
  }
}
