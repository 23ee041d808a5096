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
    val kept = Tables.pin(spark.range(10).toDF(), eager = true)
    val before = Harness.pinSnapshot(spark)
    val keptIds = before -- outside
    assert(keptIds.nonEmpty, "the eager pin registered no persistent RDD")
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

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
