package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY §2.9 streaming / time-series, batch-first: every windowed op is
  * a batch query with semantics identical to its Structured Streaming
  * form (the replay-equivalence harness in StreamingSpec runs the real
  * readStream/writeStream path over chronological file chunks).
  *
  * The reference's date-bucketed rollups (exchange rates, per-day stats —
  * SURVEY §0 [PUBLIC]) generalize to tumbling/sliding/session windows.
  *
  * Scale notes: tumbling/sliding use Spark's `window()` on a real
  * TimestampType column (groupBy shuffle on (window, key) — 2-phase agg);
  * session windows use gaps-and-islands (one shuffle on user_id; at
  * cluster scale this is the same shuffle `session_window` would do).
  * `stream_late_data`'s running high-watermark over a single global order
  * is the batch replay of the streaming watermark. The SEMANTICS are
  * sequential, but the COMPUTATION is not: a running max is a prefix
  * monoid, so it decomposes into the same two-level bucketed form as
  * `etl_shard_assign`'s prefix SUM — per-bucket local
  * running max under a PARTITIONED window, plus a bucket-count-sized
  * offset table (max of all strictly-earlier buckets) broadcast back.
  * No row-level single-partition WindowExec remains anywhere in the
  * declared surface (PlanSpec's global window audit enforces this).
  */
object TimeOps {
  private val HourUs = 3600L * 1000000L
  private val SlideUs = 900L * 1000000L

  val queries: Map[String, QFn] = Map(
    // Tumbling = fixed-width buckets, so the window is PURE integer
    // arithmetic on the µs epoch: ws_us = ts_us − ts_us mod 1h (a
    // µs→timestamp cast + window() struct expansion + unix_micros
    // unwrap buys nothing over the direct bucket key; the streaming
    // form in EventStreams keeps window()
    // because watermark expiry NEEDS the TimestampType column, and
    // StreamingSpec's replay-equivalence test pins the two forms to
    // the same counts). Non-negative ts_us makes % == floor-mod, the
    // oracle's `//` semantics.
    "window_tumbling" -> ((s: SparkSession, d: String) =>
      events(s, d)
        .groupBy((col("ts_us") - (col("ts_us") % HourUs)).as("ws_us"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sumDec(col("value")).as("sum_v"))
        .orderBy("ws_us", "event_type")),

    "window_sliding" -> ((s: SparkSession, d: String) =>
      events(s, d)
        .withColumn("tstamp", timestamp_micros(col("ts_us")))
        .groupBy(window(col("tstamp"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("w.start")).as("ws_us"), col("event_type"),
          col("cnt"))
        .orderBy("ws_us", "event_type")),

    "window_session" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("prev", lag("ts_us", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            col("ts_us") - col("prev") > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("sid", sum("new_s").over(wRun))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("cnt"), min(col("ts_us")).as("s_start"),
          (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
        .orderBy("user_id", "sid")
    }),

    // Batch analog of streaming dropDuplicates-within-watermark: keyed
    // deterministic reduce (min event_id per composite key).
    "stream_dedup" -> ((s: SparkSession, d: String) =>
      events(s, d)
        .groupBy(col("user_id"), col("event_type"), col("ts_us"))
        .agg(min(col("event_id")).as("event_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("user_id", "ts_us", "event_type")),

    // Batch replay of the 10-min watermark: a row is late iff it arrives
    // (event_id order) with ts_us below the running max minus the delay.
    // The corpus' ts is near-monotone in event_id, so the raw table has
    // ZERO late rows at every graded SF, which would make the oracle
    // compare vacuous; a deterministic straggler injection — every
    // 53rd event arrives 20 min stale, mirrored exactly in the oracle —
    // makes the late set non-empty (~2% of rows) so the two-level
    // bucketed high-watermark rewrite is hash-checked on real output.
    "stream_late_data" -> ((s: SparkSession, d: String) =>
      lateData(events(s, d).withColumn("ts_us",
        col("ts_us") - when(pmod(col("event_id"), lit(53)) === 0,
          1200L * 1000000L).otherwise(0L)), 4096L)),

    // Resample + gap-fill — the time-series op every metrics/feature
    // pipeline needs and plain groupBy(window) cannot produce: a DENSE
    // per-user hourly grid (min..max observed bucket), count 0 on empty
    // buckets, and the last observed `value` carried forward. Shape:
    // 2-phase agg to per-(user, bucket) rows (argmax-by-(ts, event_id)
    // struct max picks the bucket's last value exactly), a per-user
    // min/max agg whose sequence() explode generates the grid MAP-SIDE
    // (the grid never shuffles; it is born partitioned by user), a
    // user+bucket equi-join, and one per-user window for the forward
    // fill. No driver-side calendar, no cross join against a global
    // spine — per-key grids stay proportional to each key's own span,
    // which is what survives a 100 TB keyspace.
    "window_gapfill" -> ((s: SparkSession, d: String) => {
      val ev = events(s, d).withColumn("bk", expr(s"ts_us div $HourUs"))
      val per = ev.groupBy(col("user_id"), col("bk"))
        .agg(count(lit(1)).as("cnt"),
          max(struct(col("ts_us"), col("event_id"), col("value")))
            .getField("value").as("lv"))
      val grid = ev.groupBy(col("user_id"))
        .agg(min(col("bk")).as("b0"), max(col("bk")).as("b1"))
        .select(col("user_id"),
          explode(sequence(col("b0"), col("b1"))).as("bk"))
      val w = Window.partitionBy("user_id").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(per, Seq("user_id", "bk"), "left")
        .select(col("user_id"), col("bk"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          last(col("lv"), ignoreNulls = true).over(w).as("fill_v"))
        .orderBy("user_id", "bk")
    }),

    // Stream-stream interval join (view→purchase attribution within 30
    // minutes per user) — the marquee Structured Streaming join shape,
    // declared batch-first: the plan is EventStreams.viewPurchaseJoin,
    // the exact code path the streaming form runs (StreamingSpec proves
    // replay equivalence over the real readStream path). Batch physical
    // shape: two filtered scans of one source, hash join keyed on
    // user_id with the time band as residual — never a BNLJ; streaming
    // shape: symmetric hash join whose per-key state the watermark +
    // time-range condition bounds.
    "stream_join" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStreams.viewPurchaseJoin(events(s, d))
        .orderBy("user_id", "view_id", "buy_id")),

    // LEFT OUTER stream-stream join — the semantics inner joins can't
    // give an attribution pipeline: views that never converted within
    // the window survive with NULLs. In streaming this is the
    // watermark-EXPIRY emission path (a null-matched row can only be
    // emitted once the watermark proves no matching purchase can still
    // arrive — state expiry IS the outer join); StreamingSpec proves
    // replay equivalence using a watermark-flush sentinel. Same plan
    // function, same bounded state as stream_join.
    "stream_join_outer" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStreams.viewPurchaseJoin(events(s, d),
          joinType = "left_outer")
        .orderBy(col("user_id"), col("view_id"),
          asc_nulls_first("buy_id"))),

    // Interval-overlap self-join over session intervals — the join shape
    // range/band predicates can't equi-key: pairs of DIFFERENT users
    // whose sessions overlap in time. The scale design is GRID
    // BUCKETING: each interval explodes to the hour buckets it touches
    // (replication = interval span / bucket width, ≤ ~3 here), buckets
    // equi-join (shuffle, AQE-skew-splittable — never the BNLJ a raw
    // theta join plans), the true overlap predicate runs as a residual,
    // and each qualifying pair is counted EXACTLY ONCE at the first
    // bucket both intervals cover (bk == greatest(first-bucket-a,
    // first-bucket-b)) — the O(1)-per-pair dedup that avoids a
    // post-join distinct shuffle. Bucket width tracks the typical
    // interval span (an order of magnitude either way only moves the
    // replication/selectivity trade).
    "join_interval_overlap" -> ((s: SparkSession, d: String) =>
      // pinned pre-sort: the sort's bound sampling re-runs the bucket
      // join + residual (the expensive narrow tail); qualifying pairs
      // are selective — the sim_ngram_jaccard trade
      pin(overlapPairs(sessionIvals(s, d), HourUs))
        .orderBy("ua", "sa", "ub", "sb")))

  /** Grid-bucketed interval-overlap self-join over (user_id, sid, s0, s1)
    * intervals: pairs of DIFFERENT users whose [s0, s1] overlap, each
    * emitted exactly once (at the first bucket both intervals cover).
    * Factored out so RewriteEquivalenceSpec can drive it with adversarial
    * synthetic interval sets against a brute-force theta join. */
  private[graft] def overlapPairs(iv: DataFrame, w: Long): DataFrame = {
    def side(p: String) = iv.select(
      col("user_id").as(s"u$p"), col("sid").as(s"s$p"),
      col("s0").as(s"s0$p"), col("s1").as(s"s1$p"),
      explode(sequence(expr(s"s0 div $w"), expr(s"s1 div $w")))
        .as(s"bk$p"))
    side("a").join(side("b"),
        col("bka") === col("bkb") && col("ua") < col("ub") &&
          col("s0a") <= col("s1b") && col("s0b") <= col("s1a") &&
          col("bka") === greatest(expr(s"s0a div $w"),
            expr(s"s0b div $w")))
      .select(col("ua"), col("sa"), col("ub"), col("sb"),
        (least(col("s1a"), col("s1b")) -
          greatest(col("s0a"), col("s0b"))).as("ov_us"))
  }

  /** Two-level bucketed running high-watermark: the
    * strictly-preceding running max over `event_id` order, computed
    * WITHOUT a global unpartitioned window. `bk = event_id div bucket`
    * is monotone in event_id, so the rows strictly preceding a row
    * split exactly into (a) earlier rows in the SAME bucket — a
    * PARTITIONED window, ~`bucket` rows per partition — and (b) ALL
    * rows of strictly-earlier buckets — the per-bucket max table
    * (N/bucket rows), prefix-maxed by a window over bucket ids only,
    * broadcast back. `greatest` skips NULLs, so the first row of a
    * bucket takes the offset alone and the very first row overall
    * (both NULL) keeps hwm NULL — the strictly-preceding boundary is
    * exact wherever the bucket edges fall (InvariantSpec proves
    * bucket-width invariance, the same discipline as shardAssign).
    * At 100 TB: one shuffle on bk, per-task state O(bucket), and the
    * only ordered-by-everything window runs over bucket COUNT rows. */
  private[graft] def lateData(ev: DataFrame, bucket: Long): DataFrame = {
    val e = ev.withColumn("bk", expr(s"event_id div $bucket"))
    val wLoc = Window.partitionBy("bk").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = e.groupBy(col("bk")).agg(max(col("ts_us")).as("bmax"))
      .withColumn("off", max(col("bmax")).over(wOff))
      .select(col("bk"), col("off"))
    e.withColumn("lhwm", max("ts_us").over(wLoc))
      .join(broadcast(offs), "bk")
      .withColumn("hwm", greatest(col("lhwm"), col("off")))
      .where(col("hwm").isNotNull &&
        col("ts_us") < col("hwm") - 600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("hwm"))
      .orderBy("event_id")
  }

  /** Session intervals (user_id, sid, s0, s1) — the gaps-and-islands
    * sub-plan shared by window_session and join_interval_overlap. */
  private def sessionIvals(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("prev", lag("ts_us", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          col("ts_us") - col("prev") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(wRun))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("s0"), max(col("ts_us")).as("s1"))
  }

  val oracle: Map[String, String] = Map(
    "window_tumbling" ->
      (s"SELECT (epoch_us(ts) // $HourUs) * $HourUs AS ws_us, event_type, " +
        "count(*) AS cnt, " + oSumDec("value") + " AS sum_v " +
        "FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type"),
    "window_sliding" ->
      (s"SELECT ((epoch_us(ts) // $SlideUs) - k) * $SlideUs AS ws_us, " +
        "event_type, count(*) AS cnt FROM events, " +
        "(SELECT unnest([0, 1, 2, 3]) AS k) off " +
        "GROUP BY 1, 2 ORDER BY ws_us, event_type"),
    "window_session" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events), " +
        "f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR " +
        "ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id " +
        "ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS sid FROM f) " +
        "SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS cnt, " +
        "min(ts_us) AS s_start, max(ts_us) - min(ts_us) AS dur_us " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, sid"),
    "stream_dedup" ->
      ("SELECT user_id, event_type, epoch_us(ts) AS ts_us, " +
        "min(event_id) AS event_id, count(*) AS dup_cnt FROM events " +
        "GROUP BY 1, 2, 3 ORDER BY user_id, ts_us, event_type"),
    "stream_late_data" ->
      ("SELECT event_id, user_id, ts_us, hwm FROM " +
        "(SELECT event_id, user_id, t2 AS ts_us, " +
        "max(t2) OVER (ORDER BY event_id ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM " +
        "(SELECT event_id, user_id, epoch_us(ts) - CASE WHEN " +
        "event_id % 53 = 0 THEN 1200000000 ELSE 0 END AS t2 FROM events)) " +
        "WHERE hwm IS NOT NULL AND ts_us < hwm - 600000000 ORDER BY event_id"),
    "window_gapfill" ->
      (s"WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us, " +
        s"epoch_us(ts) // $HourUs AS bk FROM events), " +
        "per AS (SELECT user_id, bk, CAST(count(*) AS BIGINT) AS cnt, " +
        "(max(struct_pack(t := ts_us, e := event_id, v := value))).v AS lv " +
        "FROM e GROUP BY 1, 2), " +
        "rng AS (SELECT user_id, min(bk) AS b0, max(bk) AS b1 FROM e GROUP BY 1), " +
        "g AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bk FROM rng) " +
        "SELECT g.user_id, g.bk, coalesce(cnt, 0) AS cnt, " +
        "last_value(lv IGNORE NULLS) OVER (PARTITION BY g.user_id " +
        "ORDER BY g.bk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS fill_v " +
        "FROM g LEFT JOIN per ON g.user_id = per.user_id AND g.bk = per.bk " +
        "ORDER BY g.user_id, g.bk"),
    "stream_join" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "event_type FROM events) " +
        "SELECT v.user_id AS user_id, v.event_id AS view_id, " +
        "p.event_id AS buy_id, " +
        "p.ts_us - v.ts_us AS delay_us " +
        "FROM e v JOIN e p ON v.user_id = p.user_id " +
        "AND v.event_type = 'view' AND p.event_type = 'purchase' " +
        "AND p.ts_us > v.ts_us AND p.ts_us <= v.ts_us + 1800000000 " +
        "ORDER BY user_id, view_id, buy_id"),
    "stream_join_outer" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "event_type FROM events), " +
        "v AS (SELECT user_id, event_id AS view_id, ts_us AS v_ts FROM e " +
        "WHERE event_type = 'view'), " +
        "p AS (SELECT user_id AS pu, event_id AS buy_id, ts_us AS p_ts " +
        "FROM e WHERE event_type = 'purchase') " +
        "SELECT v.user_id AS user_id, v.view_id, p.buy_id, " +
        "p.p_ts - v.v_ts AS delay_us " +
        "FROM v LEFT JOIN p ON v.user_id = p.pu " +
        "AND p.p_ts > v.v_ts AND p.p_ts <= v.v_ts + 1800000000 " +
        "ORDER BY user_id, view_id, buy_id NULLS FIRST"),
    "join_interval_overlap" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events), " +
        "f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR " +
        "ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id " +
        "ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS sid FROM f), " +
        "iv AS (SELECT user_id, CAST(sid AS BIGINT) AS sid, " +
        "min(ts_us) AS s0, max(ts_us) AS s1 FROM s GROUP BY 1, 2) " +
        "SELECT a.user_id AS ua, a.sid AS sa, b.user_id AS ub, b.sid AS sb, " +
        "least(a.s1, b.s1) - greatest(a.s0, b.s0) AS ov_us " +
        "FROM iv a JOIN iv b ON a.user_id < b.user_id " +
        "AND a.s0 <= b.s1 AND b.s0 <= a.s1 " +
        "ORDER BY ua, sa, ub, sb"))
}
