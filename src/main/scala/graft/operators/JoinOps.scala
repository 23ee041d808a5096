package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY §2.3 joins — the category the reference exercises most (tx↔rates,
  * tx↔block equi-joins; SURVEY §0 [PUBLIC], empty checkout → no file:line).
  *
  * Scale notes (100 TB): dimension sides (nation, region, part-derived
  * thresholds, the as-of signup stream per user) stay under the broadcast
  * threshold → BroadcastHashJoin, no shuffle of the fact side. The one
  * deliberate SortMergeJoin is `join_hint_shuffle` (hint("merge")) to prove
  * the shuffle path; on a cluster the same plan benefits from bucketing
  * both sides on the join key. Non-equi joins (`join_theta_band`,
  * `join_range`) keep one side broadcast-small so BroadcastNestedLoopJoin
  * stays linear in the fact side. `join_asof` uses the windowed
  * last-match-≤-ts formulation — a single shuffle on user_id, no self-join.
  */
object JoinOps {
  private val bloomViewId = new java.util.concurrent.atomic.AtomicLong(0)

  private def innerEqui(s: SparkSession, d: String, merge: Boolean) = {
    val c0 = t(s, d, "customer")
    val c = if (merge) c0.hint("merge") else c0
    val n0 = t(s, d, "nation")
    val n = if (merge) n0.hint("merge") else n0
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("n_name"))
  }

  private val innerEquiSql =
    "SELECT n_name, count(*) AS cnt FROM customer " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "JOIN orders ON o_custkey = c_custkey " +
      "GROUP BY n_name ORDER BY cnt DESC, n_name"

  val queries: Map[String, QFn] = Map(
    "join_inner_equi" -> ((s: SparkSession, d: String) =>
      innerEqui(s, d, merge = false)),

    "join_hint_shuffle" -> ((s: SparkSession, d: String) =>
      innerEqui(s, d, merge = true)),

    "join_left_outer" -> ((s: SparkSession, d: String) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("cnt"),
          coalesce(sumDec(col("o_totalprice")), lit(0.0))
            .as("spent"))
        .orderBy("c_custkey")),

    "join_full_outer" -> ((s: SparkSession, d: String) => {
      val c = t(s, d, "customer").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("c_cnt"))
      val sp = t(s, d, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("s_cnt"))
      c.join(sp, col("c_nationkey") === col("s_nationkey"), "full")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nk"),
          coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
          coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
        .orderBy("nk")
    }),

    "join_semi" -> ((s: SparkSession, d: String) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"),
          "left_semi")
        .select(col("c_custkey"), col("c_name")).orderBy("c_custkey")),

    "join_anti" -> ((s: SparkSession, d: String) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"),
          "left_anti")
        .select(col("c_custkey"), col("c_name")).orderBy("c_custkey")),

    "join_cross" -> ((s: SparkSession, d: String) =>
      t(s, d, "region").crossJoin(t(s, d, "nation"))
        .select(col("r_name"), col("n_name")).orderBy("r_name", "n_name")),

    "join_theta_band" -> ((s: SparkSession, d: String) => {
      val p = t(s, d, "part")
      val p1 = p.select(col("p_partkey").as("k1"), col("p_size").as("sz"))
      val p2 = p.select(col("p_partkey").as("k2"), col("p_size").as("sz2"))
      p1.join(p2, col("sz") === col("sz2") && col("k1") < col("k2"))
        .groupBy(col("sz")).agg(count(lit(1)).as("pair_cnt"))
        .orderBy("sz")
    }),

    "join_range" -> ((s: SparkSession, d: String) => {
      // Band bounds and prices in integer cents: the BNLJ condition is two
      // long compares per (row, threshold) — codegen-friendly — instead of
      // decimal comparisons (measured 11 s → ~1 s at sf0.1). ceil/floor on
      // the exact decimal bounds keeps inclusion semantics identical to
      // price BETWEEN 0.9·min AND 1.1·min.
      val bd9 = lit(new java.math.BigDecimal("0.9"))
      val bd11 = lit(new java.math.BigDecimal("1.1"))
      val thr = t(s, d, "part").groupBy(col("p_brand"))
        .agg(ceil(dec2(min(col("p_retailprice"))) * bd9 * 100).cast("long")
          .as("lo_c"),
          floor(dec2(min(col("p_retailprice"))) * bd11 * 100).cast("long")
            .as("hi_c"))
      t(s, d, "lineitem")
        .withColumn("price_c",
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
        .join(broadcast(thr), col("price_c").between(col("lo_c"), col("hi_c")))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("cnt"))
        .orderBy("p_brand")
    }),

    // TPC-H Q5 shape (BASELINE.md q5_multijoin): the fact table joins
    // through three broadcast dimensions — one shuffle total (the final
    // aggregation), every join stage broadcast-hash.
    "join_multiway" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("cnt"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy("r_name")),

    // Bloom runtime-filter pattern made explicit: build a bloom over the
    // filtered dimension's keys (bit-OR merge — partition-order
    // deterministic), prune the fact scan with might_contain BEFORE the
    // shuffle, then the exact join removes the false positives. At 100 TB
    // this is THE big-join move: the fact side sheds non-matching rows at
    // the map side instead of shuffling them (what Spark's internal
    // InjectRuntimeFilter does for selective joins, exposed as library
    // surface via GraftExtensions' bloom_filter_agg/might_contain).
    "join_bloom_filtered" -> ((s: SparkSession, d: String) => {
      graft.GraftExtensions.install(s)
      val urgent = t(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      // per-invocation view name: concurrent calls on one session must
      // not resolve each other's build side (results are unaffected by
      // the name — it only hosts the scalar subquery)
      val view = s"graft_bloom_build_${JoinOps.bloomViewId.incrementAndGet()}"
      urgent.createOrReplaceTempView(view)
      val out = t(s, d, "lineitem")
        .where(expr("might_contain(" +
          "(SELECT bloom_filter_agg(xxhash64(o_orderkey)) " +
          s"FROM $view), xxhash64(l_orderkey))"))
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
      // a DataFrame is analyzed when it is built, so the subquery is
      // resolved by now; drop the view or a long-lived session's
      // catalog grows per call
      s.catalog.dropTempView(view)
      out
    }),

    // Salted join (SkewUtils): result-equivalent to the plain equi-join
    // for any salt assignment — the salt only scatters a hot key across
    // `salt` parallel tasks — oracled by the UNsalted SQL.
    "join_skew_salted" -> ((s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_extendedprice"))
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      SkewUtils.saltedJoin(li, sup, "s_suppkey", 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy("s_nationkey")
    }),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // match each other instead of silently dropping — the join SQL's
    // third equality semantics after = and theta, and the one an
    // ingest-dedup on possibly-null business keys actually needs. Keys
    // derived deterministically (nullif(x % 5, 0) sends one residue
    // class to NULL on both sides). Plans as a hash join on the
    // null-wrapped key — same shuffle/broadcast shape as =.
    "join_null_safe" -> ((s: SparkSession, d: String) => {
      val c = t(s, d, "customer")
        .select(nullif(expr("c_nationkey % 5"), lit(0)).as("ck"))
        .groupBy(col("ck")).agg(count(lit(1)).as("nc"))
      val sp = t(s, d, "supplier")
        .select(nullif(expr("s_nationkey % 5"), lit(0)).as("sk"))
        .groupBy(col("sk")).agg(count(lit(1)).as("ns"))
      c.join(sp, col("ck") <=> col("sk"))
        .select(col("ck").as("k"), (col("nc") * col("ns")).as("pairs"))
        .orderBy(asc_nulls_first("k"))
    }),

    // Correlated LATERAL top-n join — each customer's single most
    // expensive order via a correlated ORDER BY … LIMIT 1 subquery,
    // submitted as ONE dialect-neutral SQL text to both engines (the
    // sql_surface discipline). Catalyst decorrelates the limit into a
    // per-key window (DecorrelateInnerQuery) — i.e. the planner turns
    // row-at-a-time semantics into the set-based top-1-per-group shape;
    // no per-customer subquery ever executes.
    "join_lateral_topn" -> ((s: SparkSession, d: String) => {
      graft.Tables.registerAll(s, d)
      s.sql(LateralTopnText)
    }),

    "join_asof" -> ((s: SparkSession, d: String) => {
      // Latest signup event at-or-before each event's ts for the same user:
      // max over an ever-growing frame ≡ as-of join of the event stream
      // against the signup sub-stream, with one shuffle on user_id.
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("signup_ts",
          max(when(col("event_type") === "signup", col("ts_us"))).over(w))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("signup_ts"), lit(-1L)).as("signup_ts"))
        .orderBy("event_id")
    }),

    // Nearest-in-time as-of join within a tolerance (pandas merge_asof
    // direction="nearest"): each purchase pairs with the CLOSEST error
    // event of the same user within ±1 h, ties to the earlier right
    // event; unmatched purchases survive with NULLs. The windowed trick
    // join_asof uses is one-directional (an ever-growing frame can look
    // back, not both ways), so this is the grid-bucket shape instead:
    // the left side explodes to its 3 covering tolerance buckets (the
    // right keeps its single home bucket, so each candidate pair meets
    // exactly once — no dedup shuffle), candidates equi-join on
    // (user, bucket) with the true |Δ| ≤ T predicate as a residual, and
    // ONE argmin agg — min(struct(|Δ|, r_ts, r_id)), exact and
    // merge-order independent — picks the nearest, never a window sort
    // over the candidates. Left replication is the constant 3;
    // candidates are bounded by per-(user, bucket) populations — at
    // 100 TB both join and agg are plain keyed shuffles,
    // AQE-skew-splittable, no pair space.
    "join_asof_nearest" -> ((s: SparkSession, d: String) => {
      val e = events(s, d)
      nearestJoin(
        e.where(col("event_type") === "purchase")
          .select(col("event_id").as("l_id"), col("user_id"),
            col("ts_us").as("l_ts")),
        e.where(col("event_type") === "error")
          .select(col("event_id").as("r_id"), col("user_id").as("ru"),
            col("ts_us").as("r_ts")),
        3600L * 1000000L)
        .orderBy("l_id")
    }))

  /** Grid-bucketed nearest-within-tolerance join (see the
    * `join_asof_nearest` entry above for the design notes): left rows
    * (l_id, user_id, l_ts) each pair with the single closest right row
    * (r_id, ru, r_ts) of the same user with |Δts| ≤ tolUs, ties to the
    * earlier (r_ts, r_id); unmatched left rows survive with NULLs.
    * Factored out so RewriteEquivalenceSpec can fuzz it against a
    * brute-force nearest on adversarial synthetic timelines. */
  private[graft] def nearestJoin(l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame,
      tolUs: Long): org.apache.spark.sql.DataFrame = {
    val rb = r.withColumn("rb", expr(s"r_ts div $tolUs"))
    val lx = l.withColumn("bk", explode(array(
      expr(s"l_ts div $tolUs - 1"), expr(s"l_ts div $tolUs"),
      expr(s"l_ts div $tolUs + 1"))))
    val near = lx.join(rb, col("user_id") === col("ru") &&
        col("bk") === col("rb") &&
        abs(col("l_ts") - col("r_ts")) <= tolUs)
      .groupBy(col("l_id"))
      .agg(min(struct(abs(col("l_ts") - col("r_ts")).as("ad"),
        col("r_ts"), col("r_id"))).as("n"))
      .select(col("l_id").as("nl"), col("n.r_id").as("r_id"),
        col("n.r_ts").as("r_ts"), col("n.ad").as("delta_us"))
    l.join(near, col("l_id") === col("nl"), "left")
      .select(col("l_id"), col("user_id"), col("l_ts"), col("r_id"),
        col("r_ts"), col("delta_us"))
  }

  /** Dialect-neutral correlated-LATERAL text — the string IS the oracle
    * (executed verbatim by both engines). */
  private val LateralTopnText: String =
    "SELECT c_custkey, o_orderkey, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price " +
      "FROM customer, " +
      "LATERAL (SELECT o_orderkey, o_totalprice FROM orders " +
      "WHERE o_custkey = c_custkey " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o " +
      "ORDER BY c_custkey"

  val oracle: Map[String, String] = Map(
    "join_inner_equi" -> innerEquiSql,
    "join_hint_shuffle" -> innerEquiSql,
    "join_null_safe" ->
      ("WITH c AS (SELECT nullif(c_nationkey % 5, 0) AS ck, " +
        "count(*) AS nc FROM customer GROUP BY 1), " +
        "s AS (SELECT nullif(s_nationkey % 5, 0) AS sk, " +
        "count(*) AS ns FROM supplier GROUP BY 1) " +
        "SELECT ck AS k, nc * ns AS pairs FROM c JOIN s " +
        "ON ck IS NOT DISTINCT FROM sk ORDER BY k NULLS FIRST"),
    "join_lateral_topn" -> LateralTopnText,
    "join_bloom_filtered" ->
      ("SELECT l_returnflag, count(*) AS cnt, " +
        oSumDec("l_extendedprice") + " AS sum_price " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "join_skew_salted" ->
      ("SELECT s_nationkey, count(*) AS cnt, " +
        oSumDec("l_extendedprice") + " AS sum_price " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    "join_left_outer" ->
      ("SELECT c_custkey, count(o_orderkey) AS cnt, " +
        "coalesce(" + oSumDec("o_totalprice") + ", CAST(0 AS DOUBLE)) AS spent " +
        "FROM customer LEFT JOIN orders ON o_custkey = c_custkey " +
        "GROUP BY c_custkey ORDER BY c_custkey"),
    "join_full_outer" ->
      ("WITH c AS (SELECT c_nationkey, count(*) AS c_cnt FROM customer GROUP BY 1), " +
        "s AS (SELECT s_nationkey, count(*) AS s_cnt FROM supplier GROUP BY 1) " +
        "SELECT coalesce(c_nationkey, s_nationkey) AS nk, " +
        "coalesce(c_cnt, 0) AS c_cnt, coalesce(s_cnt, 0) AS s_cnt " +
        "FROM c FULL JOIN s ON c_nationkey = s_nationkey ORDER BY nk"),
    "join_semi" ->
      ("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "join_anti" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "join_cross" ->
      ("SELECT r_name, n_name FROM region CROSS JOIN nation " +
        "ORDER BY r_name, n_name"),
    "join_theta_band" ->
      ("SELECT p1.p_size AS sz, count(*) AS pair_cnt FROM part p1 " +
        "JOIN part p2 ON p1.p_size = p2.p_size AND p1.p_partkey < p2.p_partkey " +
        "GROUP BY 1 ORDER BY 1"),
    "join_range" ->
      ("WITH thr AS (SELECT p_brand, " +
        "CAST(ceil(CAST(min(p_retailprice) AS DECIMAL(18,2)) * 0.9 * 100) AS BIGINT) AS lo_c, " +
        "CAST(floor(CAST(min(p_retailprice) AS DECIMAL(18,2)) * 1.1 * 100) AS BIGINT) AS hi_c " +
        "FROM part GROUP BY p_brand) " +
        "SELECT p_brand, count(*) AS cnt FROM lineitem JOIN thr " +
        "ON CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) BETWEEN lo_c AND hi_c " +
        "GROUP BY p_brand ORDER BY p_brand"),
    "join_multiway" ->
      ("SELECT r_name, count(*) AS cnt, " + oSumDec("l_extendedprice") +
        " AS sum_price FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name"),
    "join_asof" ->
      ("SELECT event_id, user_id, ts_us, coalesce(signup_ts, -1) AS signup_ts " +
        "FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ts " +
        "FROM events) ORDER BY event_id"),
    "join_asof_nearest" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "event_type FROM events), " +
        "l AS (SELECT event_id AS l_id, user_id, ts_us AS l_ts FROM e " +
        "WHERE event_type = 'purchase'), " +
        "r AS (SELECT event_id AS r_id, user_id AS ru, ts_us AS r_ts " +
        "FROM e WHERE event_type = 'error'), " +
        "c AS (SELECT l_id, r_id, r_ts, abs(l_ts - r_ts) AS ad " +
        "FROM l JOIN r ON user_id = ru " +
        "AND abs(l_ts - r_ts) <= 3600000000), " +
        "n AS (SELECT *, row_number() OVER (PARTITION BY l_id " +
        "ORDER BY ad, r_ts, r_id) AS rn FROM c) " +
        "SELECT l.l_id, l.user_id, l.l_ts, n.r_id, n.r_ts, " +
        "n.ad AS delta_us " +
        "FROM l LEFT JOIN (SELECT * FROM n WHERE rn = 1) n " +
        "ON l.l_id = n.l_id ORDER BY l.l_id"))
}
