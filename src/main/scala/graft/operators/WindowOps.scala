package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY §2.5 window functions.
  *
  * Scale notes: each query shuffles once on its partition key
  * (o_custkey / o_orderstatus / user_id) and sorts within partitions —
  * the canonical Spark window plan. Every ORDER BY inside an OVER clause
  * is tie-broken to a unique key so rank/frame contents are deterministic
  * (SURVEY §7.3.3/.5).
  */
object WindowOps {
  val queries: Map[String, QFn] = Map(
    "win_rank" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .orderBy("o_orderkey")
    }),

    // Running DISTINCT count — the windowed COUNT(DISTINCT) no engine
    // supports directly, via the standard two-window rewrite: flag each
    // row that is the FIRST occurrence of its (user, event_type) (a
    // per-subkey row_number), then running-sum the flags per user. The
    // plan is two exchanges — hashpartitioning(user_id, event_type) for
    // the first-seen window, then hashpartitioning(user_id) for the
    // running sum (Spark does not satisfy the coarser key from the
    // finer one, so one exchange is not enough) — but
    // both are KEYED: no global single-partition window at any scale.
    "win_running_distinct" -> ((s: SparkSession, d: String) => {
      val w1 = Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us", "event_id")
      val w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("first_seen",
          when(row_number().over(w1) === 1, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_us"),
          sum(col("first_seen")).over(w2).as("n_types_seen"))
        .orderBy("event_id")
    }),

    "win_topk_group" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // Same result contract as win_topk_group, computed by the custom
    // two-phase physical operator instead of WindowExec: the partial
    // pass bounds shuffle volume to ≤k rows per (group × partition).
    // The trailing row_number only ranks the ≤3 survivors per customer
    // and reuses the exchange's hash partitioning (no second shuffle).
    "win_topk_physical" -> ((s: SparkSession, d: String) => {
      val top = GraftOps.topKPerGroup(
        t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice")),
        Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)),
        3)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      top.withColumn("rn", row_number().over(w))
        .orderBy("o_custkey", "rn")
    }),

    "win_running" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w7 = w.rowsBetween(-6, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(wAll).as("run_cnt"),
          sum(dec2(col("o_totalprice"))).over(wAll).cast("double").as("run_sum"),
          round6(sum(dec2(col("o_totalprice"))).over(w7).cast("double") /
            count(lit(1)).over(w7)).as("mov7"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "win_range_frame" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
        .rangeBetween(-5000, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("cnt_near"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("sum_near"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Rolling z-score anomaly flag per user (8-row trailing frame) —
    // the metrics-pipeline outlier detector. Determinism discipline:
    // mean and second moment accumulate as EXACT DECIMAL window sums
    // (any accumulation order, same value — double window sums are
    // frame-implementation-dependent: DuckDB's segment tree folds in a
    // different order than Spark's running accumulator), cast to
    // double once, then one fixed IEEE expression tree (sub, mul, div,
    // correctly-rounded sqrt) both engines evaluate identically;
    // variance clamps at 0 (float cancellation on constant frames) and
    // ε=1e-9 inside the sqrt keeps the zero-variance frame finite. The
    // anomaly flag compares the ROUNDED z so the boolean is derived
    // from an engine-identical value. One keyed window shuffle.
    "win_zscore" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-7, Window.currentRow)
      val wv = events(s, d)
        .withColumn("v2", dec2(col("value")))
        .select(col("event_id"), col("user_id"), col("value"),
          count(lit(1)).over(w).as("n_win"),
          sum(col("v2")).over(w).cast("double").as("sd"),
          sum(col("v2") * col("v2")).over(w).cast("double").as("s2"))
      val mean = col("sd") / col("n_win")
      val variance = greatest(col("s2") / col("n_win") - mean * mean,
        lit(0.0))
      wv.withColumn("z",
          round6((col("value") - mean) / sqrt(variance + lit(1e-9))))
        .select(col("event_id"), col("user_id"), col("n_win"), col("z"),
          (abs(col("z")) > lit(3.0)).as("is_anomaly"))
        .orderBy("event_id")
    }),

    // Exponentially-weighted moving value per user (α = 1/2, 4-term
    // lookback) — the streaming-metric smoother, expressed as a FIXED
    // Horner chain over lag() columns rather than a recursive state:
    // x + ½(x₋₁ + ½(x₋₂ + ½·x₋₃)). Determinism: every ×0.5 is an exact
    // IEEE exponent decrement and the additions evaluate in one fixed
    // tree shape on both engines, so the double result is bit-identical
    // before round6 even touches it. One keyed window shuffle
    // (user_id), no global window at any scale.
    "win_ewma" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      def lg(k: Int) = coalesce(lag(col("value"), k).over(w), lit(0.0))
      events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round6(col("value") + lit(0.5) * (lg(1) + lit(0.5) *
            (lg(2) + lit(0.5) * lg(3)))).as("ewma"))
        .orderBy("event_id")
    }),

    "win_lead_lag" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, d)
        .select(col("event_id"), col("user_id"),
          coalesce(col("ts_us") - lag("ts_us", 1).over(w), lit(-1L))
            .as("delta_us"),
          coalesce(lead("event_type", 1).over(w), lit("")).as("next_type"))
        .orderBy("event_id")
    }),

    "win_dist" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).as("nt"),
          round6(percent_rank().over(w)).as("pr"),
          round6(cume_dist().over(w)).as("cd"),
          first(col("o_orderkey")).over(w).as("fv"),
          last(col("o_orderkey")).over(wFull).as("lv"))
        .orderBy("o_orderkey")
    }))

  private val rankOver =
    "OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)"

  val oracle: Map[String, String] = Map(
    "win_running_distinct" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, " +
        "CASE WHEN row_number() OVER (PARTITION BY user_id, event_type " +
        "ORDER BY epoch_us(ts), event_id) = 1 THEN 1 ELSE 0 END AS fs " +
        "FROM events) " +
        "SELECT event_id, user_id, event_type, ts_us, " +
        "CAST(sum(fs) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS n_types_seen FROM e ORDER BY event_id"),
    "win_rank" ->
      (s"SELECT o_orderkey, o_custkey, row_number() $rankOver AS rn, " +
        s"rank() $rankOver AS rk, dense_rank() $rankOver AS drk " +
        "FROM orders ORDER BY o_orderkey"),
    "win_topk_group" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM " +
        s"(SELECT *, row_number() $rankOver AS rn FROM orders) " +
        "WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "win_topk_physical" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) " +
        "AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "win_running" ->
      ("SELECT o_custkey, o_orderkey, " +
        "count(*) OVER w AS run_cnt, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_sum, " +
        oRound6("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w7 AS DOUBLE) " +
        "/ count(*) OVER w7") + " AS mov7 " +
        "FROM orders WINDOW " +
        "w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "w7 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "ORDER BY o_custkey, o_orderkey"),
    "win_range_frame" ->
      ("SELECT o_custkey, o_orderkey, count(*) OVER w AS cnt_near, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_near " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice " +
        "RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) " +
        "ORDER BY o_custkey, o_orderkey"),
    "win_zscore" -> {
      val mean = "(sd / n_win)"
      val zExpr = oRound6(s"(value - $mean) / " +
        s"sqrt(greatest(s2 / n_win - $mean * $mean, 0.0) + 1e-9)")
      "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, " +
        "CAST(value AS DECIMAL(18,2)) AS v2 FROM events), " +
        "wv AS (SELECT event_id, user_id, value, " +
        "count(*) OVER w AS n_win, " +
        "CAST(sum(v2) OVER w AS DOUBLE) AS sd, " +
        "CAST(sum(v2 * v2) OVER w AS DOUBLE) AS s2 " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) " +
        s"SELECT event_id, user_id, n_win, $zExpr AS z, " +
        s"abs($zExpr) > 3.0 AS is_anomaly " +
        "FROM wv ORDER BY event_id"
    },
    "win_ewma" ->
      ("SELECT event_id, user_id, ts_us, " +
        oRound6("value + 0.5 * (coalesce(lag(value, 1) OVER w, 0.0) " +
          "+ 0.5 * (coalesce(lag(value, 2) OVER w, 0.0) " +
          "+ 0.5 * coalesce(lag(value, 3) OVER w, 0.0)))") + " AS ewma " +
        "FROM (SELECT event_id, user_id, event_type, value, " +
        "epoch_us(ts) AS ts_us FROM events) " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id) " +
        "ORDER BY event_id"),
    "win_lead_lag" ->
      ("SELECT event_id, user_id, " +
        "coalesce(ts_us - lag(ts_us) OVER w, -1) AS delta_us, " +
        "coalesce(lead(event_type) OVER w, '') AS next_type " +
        "FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events) " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id) " +
        "ORDER BY event_id"),
    "win_dist" ->
      ("SELECT o_orderkey, o_orderstatus, ntile(4) OVER w AS nt, " +
        oRound6("percent_rank() OVER w") + " AS pr, " +
        oRound6("cume_dist() OVER w") + " AS cd, " +
        "first_value(o_orderkey) OVER w AS fv, " +
        "last_value(o_orderkey) OVER (PARTITION BY o_orderstatus " +
        "ORDER BY o_totalprice DESC, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderstatus " +
        "ORDER BY o_totalprice DESC, o_orderkey) " +
        "ORDER BY o_orderkey"))
}
