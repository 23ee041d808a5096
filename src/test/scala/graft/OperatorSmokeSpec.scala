package graft

/** Every declared query runs at sf0.001; keys with guaranteed-nonempty
  * results are asserted rows > 0 (SURVEY §5.2). */
class OperatorSmokeSpec extends SparkTestBase {
  // Keys that may legitimately return 0 rows at sf0.001 (anti-joins,
  // late-data replays, near-dup pairs under a high τ on a tiny corpus).
  private val mayBeEmpty = Set("join_anti", "stream_late_data",
    "sim_jaccard_pairs", "pipe_delta_dedup", "dedup_minhash",
    "scan_pruned", "join_range", "set_except", "knn_ann_srp",
    "dedup_embed")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      else assert(n >= 0)
    }
  }

  test("GraftOps public facade delegates to the shipped primitives") {
    import org.apache.spark.sql.functions._
    val ss = spark
    import ss.implicits._
    // zorderValue: bijective interleave on a known pair
    val z = Seq((3L, 5L)).toDF("a", "b")
      .select(operators.GraftOps.zorderValue(col("a"), col("b")))
      .head.getLong(0)
    assert(z == 0x27L, s"zorder(3,5) = $z") // 3=0b11→bits 0,2; 5=0b101→bits 1,5
    // nearestJoin: one obvious match
    val l = Seq((1L, 7L, 100L)).toDF("l_id", "user_id", "l_ts")
    val r = Seq((9L, 7L, 130L), (8L, 7L, 160L)).toDF("r_id", "ru", "r_ts")
    val nj = operators.GraftOps.nearestJoin(l, r, 1000L).head
    assert(nj.getLong(3) == 9L && nj.getLong(5) == 30L)
    // intervalOverlapJoin: two users overlapping
    val iv = Seq((1L, 1L, 0L, 50L), (2L, 1L, 40L, 90L))
      .toDF("user_id", "sid", "s0", "s1")
    assert(operators.GraftOps.intervalOverlapJoin(iv, 100L).count() == 1)
    // jaccardPairs: runs on the corpus directory
    assert(operators.GraftOps.jaccardPairs(spark, sf, 90).count() >= 0)
    // snapshotDiff: one of each change class, unchanged key dropped
    val s0 = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "p")
    val s1 = Seq((1L, 1.0), (2L, 2.5), (4L, 4.0)).toDF("k", "p")
    val diff = operators.GraftOps.snapshotDiff(s0, s1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "U", 3L -> "D", 4L -> "I"), s"$diff")
    intercept[IllegalArgumentException] {
      operators.GraftOps.snapshotDiff(s0.withColumnRenamed("p", "x"), s1)
    }
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every queries key is oracled or on the declared ⊘ list (SURVEY §2)") {
    // the exhaustive ⊘ set — sketch/LSH/IVF/stream internals differ
    // across engines, each covered by an in-repo accuracy/equivalence
    // test instead (SURVEY §5). A key landing here by accident means
    // someone forgot the oracle: the correctness gate would silently
    // downgrade it to a rows-only check.
    val declaredNoOracle = Set("agg_approx_distinct", "agg_approx_percentile",
      "agg_hll_sketch", "agg_cms_sketch", "dedup_minhash",
      "knn_ann_srp", "knn_ivf", "knn_graph_ivf", "stream_neardup")
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled == declaredNoOracle,
      s"undeclared unoracled keys: ${unoracled -- declaredNoOracle}; " +
        s"stale ⊘ entries: ${declaredNoOracle -- unoracled}")
  }

  test("Harness.sweepPins releases a key's pins and spares earlier ones") {
    val sc = spark.sparkContext
    val outside = Harness.pinSnapshot(spark)
    val kept = Tables.pin(spark.range(10).toDF())
    val before = Harness.pinSnapshot(spark)
    val keptIds = before -- outside
    assert(keptIds.nonEmpty, "the pin registered no persistent RDD")
    SparkEntry.queries("graph_kcore")(spark, sf).queryExecution.toRdd.count()
    val created = sc.getPersistentRDDs.keySet.toSet -- before
    assert(created.nonEmpty, "graph_kcore created no pin")
    Harness.sweepPins(spark, before)
    val after = sc.getPersistentRDDs.keySet.toSet
    assert((after intersect created).isEmpty,
      s"key pins survived the sweep: ${after intersect created}")
    assert(keptIds.subsetOf(after), "the sweep released a pre-snapshot pin")
    assert(kept.count() == 10)
    Harness.sweepPins(spark, outside)
  }

  test("a lazy pin read by two broadcast builds of one query computes " +
    "each pinned row once") {
    // Both builds start together (AQE materializes the two broadcast
    // stages at once; without AQE both relation futures start when the
    // plan is prepared), so both task sets reach the pin's blocks
    // before either has written them. A counting UDF after the
    // aggregate's exchange shows how often each pinned row was computed.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(aqeKey)
    try for (on <- Seq("true", "false")) {
      spark.conf.set(aqeKey, on)
      val computed = spark.sparkContext.longAccumulator(s"pinned rows, AQE $on")
      val mark = udf { (k: Long) => computed.add(1); k }.asNondeterministic()
      val pinned = Tables.pin(spark.range(4000)
        .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)).as("c"))
        .select(mark(col("k")).as("k"), col("c")))
      // two different build sides, so no exchange is reused
      val q = spark.range(1000).toDF("k")
        .join(broadcast(pinned.select(col("k"), col("c").as("c1"))), "k")
        .join(broadcast(pinned.where(col("c") > 0)
          .select(col("k"), (col("c") * 2).as("c2"))), "k")
      assert(q.collect().length == 1000, s"AQE $on")
      val plan = q.queryExecution.executedPlan
      val builds = SparkTestBase.broadcastJoins(plan).map { j =>
        if (j.buildSide == BuildLeft) j.left else j.right }
      def reused(p: SparkPlan): Boolean = p match {
        case _: ReusedExchangeExec => true
        case s: QueryStageExec => reused(s.plan)
        case _ => false
      }
      assert(builds.size == 2 && !builds.exists(reused),
        s"AQE $on: expected two broadcasts, none reused:\n$plan")
      assert(computed.value == 1000L,
        s"AQE $on: ${computed.value} pinned-row computations for 1000 rows")
    } finally spark.conf.set(aqeKey, aqe)
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
