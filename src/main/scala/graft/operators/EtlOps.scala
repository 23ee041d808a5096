package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** The reference's signature ETL chain, end-to-end (SURVEY §0 [PUBLIC]:
  * graphsense-datafeed ingests raw block / transaction / exchange_rates
  * tables — scan → explode nested tx arrays → equi-join rates and block
  * headers → per-period rollups → idempotent keyed writes; the checkout
  * is empty so no file:line exists). Re-expressed on the corpus: orders
  * are the "block headers", each order's lineitems are nested into the
  * reference's `list<struct>` transaction shape and exploded back, a
  * derived per-month rates dim joins in broadcast, and the rollup is a
  * per-month count + rate-adjusted DECIMAL sum. The write side of the
  * chain is [[graft.sources.KeyedUpsertSink]] (SourceSinkSpec).
  *
  * Scale notes: the nest→explode pair is the real plumbing (one shuffle
  * on the nest groupBy — at 100 TB the raw store already holds the
  * nested shape, so ingestion starts at the explode, which is map-side);
  * the rates dim is tiny → broadcast; the rollup is a 2-phase hash
  * aggregate on ~months×years groups. Money stays in DECIMAL through the
  * rate multiply and the sum (both exact), divided and cast once at the
  * output boundary.
  */
object EtlOps {
  /** One referential-integrity audit row: child cardinality, distinct
    * referencing keys, and orphan count (children whose FK hits no
    * parent). Orphans via left-anti on the key-projected parent — at
    * scale a keyed shuffle join whose build side is the parent's key
    * column only; the three 1-row aggregates meet in broadcast-sized
    * cross joins, never a wide shuffle. */
  private def fkAudit(rel: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String): DataFrame = {
    val orphans = child.select(col(ck))
      .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
    child.agg(count(lit(1)).as("child_rows"),
        countDistinct(col(ck)).as("ref_keys"))
      // broadcast() like every other 1-row attach in the repo: global
      // aggregates always yield exactly one row, so the
      // empty-frame annihilation hazard doesn't apply, but the planner
      // hint keeps the attach a BroadcastNestedLoopJoin by declaration
      // rather than by size estimate.
      .crossJoin(broadcast(orphans.agg(count(lit(1)).as("orphans"))))
      .select(lit(rel).as("rel"), col("child_rows"), col("ref_keys"),
        col("orphans"))
  }

  /** The SCD2 version table behind `etl_scd2` (unsorted): per user,
    * each run of consecutive equal event_type values → one version row
    * [eff_from, eff_to), NULL-open current. Shared by the build key and
    * the point-in-time lookup so both always see the same dimension. */
  private def scd2Dim(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .where(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("ver", row_number().over(w))
      .withColumn("eff_to", lead("ts_us", 1).over(w))
      .select(col("user_id"), col("ver"), col("event_type").as("attr"),
        col("ts_us").as("eff_from"), col("eff_to"),
        col("eff_to").isNull.cast("int").as("is_current"))
  }

  val queries: Map[String, QFn] = Map(
    // Referential-integrity audit over the corpus FK graph — the data-
    // quality gate an ingest pipeline runs before joining anything
    // (orphaned FKs silently drop rows in inner joins downstream). One
    // audit row per declared relationship; all-zero orphans is the
    // healthy-corpus baseline the output certifies. Each relationship
    // is independent (5 parallel small DAGs union'd); per-relationship
    // cost is two 2-phase counts + one anti-join keyed on the FK.
    "etl_fk_audit" -> ((s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val p = t(s, d, "part"); val n = t(s, d, "nation")
      fkAudit("customer->nation", c, "c_nationkey", n, "n_nationkey")
        .union(fkAudit("lineitem->orders", li, "l_orderkey", o, "o_orderkey"))
        .union(fkAudit("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .union(fkAudit("lineitem->supplier", li, "l_suppkey", su,
          "s_suppkey"))
        .union(fkAudit("orders->customer", o, "o_custkey", c, "c_custkey"))
        .orderBy("rel")
    }),

    "etl_reference_shape" -> ((s: SparkSession, d: String) => {
      // 1) nest: the reference's list<struct> transaction column
      val nested = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("n"),
          dec2(col("l_extendedprice")).as("price")))).as("txs"))
      // 2) block headers with a period key
      val blocks = t(s, d, "orders").select(
        col("o_orderkey").as("l_orderkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
      // 3) per-period exchange rate: a deterministic pure function of
      // the period key, evaluated in-stream — the r3 form materialized
      // it as blocks.distinct + broadcast join, paying a second orders
      // scan for a dim that is derivable; a genuinely EXTERNAL rates
      // table would broadcast-join exactly like join_multiway's dims
      // 4) explode → join header → derive rate → 5) rollup
      nested.select(col("l_orderkey"), explode(col("txs")).as("tx"))
        .join(blocks, "l_orderkey")
        .withColumn("rate_pct", lit(100) + pmod(col("ym"), lit(7)))
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("txs"),
          (sum(col("tx.price") * col("rate_pct")).cast("double") / lit(100.0))
            .as("value_adj"))
        .orderBy("ym")
    }),

    // Slowly-changing-dimension (type 2) build from the event stream —
    // the warehouse ETL that turns a change log into versioned validity
    // intervals: per user, each run of consecutive equal event_type
    // values becomes one version row [eff_from, eff_to), eff_to NULL on
    // the current version. Shape: one user-keyed shuffle feeding three
    // window passes over the SAME partitioning (lag to find change
    // points, row_number to number versions, lead for the interval
    // close) — the exchange is planned once and reused; nothing else
    // shuffles. The (ts_us, event_id) order key is unique, so version
    // boundaries are total-order deterministic.
    "etl_scd2" -> ((s: SparkSession, d: String) =>
      scd2Dim(s, d).orderBy("user_id", "ver")),

    // Point-in-time dimension lookup — the READ side of etl_scd2 (the
    // query every versioned-dimension warehouse runs: "which attribute
    // version was effective when this fact happened"): each probe fact
    // joins its user's version whose [eff_from, eff_to) interval
    // contains the fact timestamp; NULL eff_to is the open current
    // version. Scale shape: the join is EQUI on the user key with the
    // interval containment as a residual predicate — versions per key
    // are few, so the hash/SMJ equi-join carries the cost and the
    // range never degenerates to a BNLJ. Every probe matches exactly
    // one version by SCD2 construction (intervals partition each
    // user's timeline from the first event on). Deterministic probe
    // subset (event_id % 17) keeps the graded output focused; the plan
    // is identical at any probe rate including 1.
    "etl_scd2_lookup" -> ((s: SparkSession, d: String) => {
      val probes = events(s, d)
        .where(pmod(col("event_id"), lit(17)) === 0)
        .select(col("event_id"), col("user_id").as("pu"),
          col("ts_us").as("pts"))
      probes.join(scd2Dim(s, d),
          col("pu") === col("user_id") &&
            col("eff_from") <= col("pts") &&
            (col("eff_to").isNull || col("pts") < col("eff_to")))
        .select(col("event_id"), col("user_id"),
          col("pts").as("ts_us"), col("ver"), col("attr"))
        .orderBy("event_id")
    }),

    // Incremental aggregate maintenance (materialized-view upkeep) — the
    // 100 TB rollup discipline: history is NEVER rescanned; the stored
    // rollup holds mergeable partials (count + exact DECIMAL sum, both
    // commutative monoids), a new micro-batch is aggregated alone, and
    // the refreshed rollup is partials ∪ batch-partials → one keyed
    // merge agg. Derived-deterministic split (event_id % 5) stands in
    // for history/batch so the maintained result is oracle-able against
    // a full recompute — equality IS the correctness claim of
    // incremental maintenance. Distinct-style measures that don't form
    // a monoid ride the same shape via sketch columns (agg_hll_sketch)
    // or bitmaps (agg_bitmap_distinct).
    "etl_incremental_agg" -> ((s: SparkSession, d: String) =>
      incrementalAgg(s, d, splitMod = 5)),

    // Deterministic shard assignment for dataset export — pack documents
    // (doc_id order) into ~Target-byte shards by GLOBAL running byte
    // offset, computed as a DISTRIBUTED TWO-LEVEL PREFIX SUM: leaf
    // buckets (doc_id div 100) get partition-local running sums (window
    // keyed by bucket — shuffles once, never a global sort), bucket
    // totals collapse to a bucket-count-sized table whose own prefix sum
    // is the only unpartitioned window (dimension-sized by construction:
    // corpus_rows / bucket_size rows — size the bucket so this stays
    // ~10⁶ at open scale, or recurse the same trick once more), and the
    // broadcast offsets re-attach map-side. cum = offset + local is
    // exact wherever the bucket boundaries fall. A doc's shard is the
    // Target-quotient of its START offset, so boundaries are identical
    // arithmetic in both engines.
    "etl_shard_assign" -> ((s: SparkSession, d: String) =>
      shardAssign(s, d, bucket = 100L, target = 16384L)),

    // CDC changelog apply — the third member of the upsert family
    // (KeyedUpsertSink = sink-side, etl_merge_upsert = 2-way MERGE,
    // this = versioned I/U/D log): collapse a change log to its latest
    // operation per key with ONE argmax agg (max(struct(ver, ...)) —
    // exact, merge-order independent, never a window over the log),
    // then ONE full-outer key join applies it to the base snapshot:
    // latest op D drops the key, U overrides values, I lands new keys,
    // untouched base rows pass through. The log is derived
    // deterministically from orders (key%7 → v1 update, key%21 → v2
    // delete, key%50 → insert under a fresh key) so the applied state
    // is oracle-able. Scale shape: log shuffle is key-partitioned
    // 2-phase agg, the apply is one equi sort-merge join —
    // out-of-order/duplicate log entries cost nothing extra.
    "etl_cdc_apply" -> ((s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
      val base = o.select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("st"), moneyOut(col("o_totalprice")).as("pr"))
      val log = o.where(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey").as("k"), lit(1).as("ver"), lit("U").as("op"),
          lit("X").as("st2"), (dec2(col("o_totalprice")) + lit(10))
            .cast("double").as("pr2"))
        .union(o.where(pmod(col("o_orderkey"), lit(21)) === 0)
          .select(col("o_orderkey").as("k"), lit(2).as("ver"),
            lit("D").as("op"), lit(null).cast("string").as("st2"),
            lit(null).cast("double").as("pr2")))
        .union(o.where(pmod(col("o_orderkey"), lit(50)) === 0)
          .select((col("o_orderkey") + 2000000000L).as("k"), lit(1).as("ver"),
            lit("I").as("op"), lit("N").as("st2"),
            moneyOut(col("o_totalprice")).as("pr2")))
      cdcApply(base, log).orderBy("k")
    }),

    // MERGE INTO semantics as one declarative plan — the batch form of
    // the reference's idempotent keyed upsert (KeyedUpsertSink is the
    // sink-side twin): base ⟕⟖ updates full-outer on the key, matched
    // rows take the update's values, unmatched-by-source keep the base
    // row, unmatched-by-target insert. The updates/inserts sets are
    // derived deterministically from orders (key % 10 → status update;
    // key % 100 → brand-new key) so the merge is oracle-able. Shape:
    // ONE key-equi shuffle join (full outer ⇒ sort-merge; AQE
    // skew-splittable) + map-side coalesces — the 100 TB merge shape,
    // no row-at-a-time upserts.
    "etl_merge_upsert" -> ((s: SparkSession, d: String) => {
      val base = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          moneyOut(col("o_totalprice")).as("price"))
      val upd = t(s, d, "orders").where(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey").as("k"), lit("U").as("n_st"))
        .union(t(s, d, "orders").where(pmod(col("o_orderkey"), lit(100)) === 0)
          .select((col("o_orderkey") + 1000000000L).as("k"),
            lit("I").as("n_st")))
      base.join(upd, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_st"), col("st")).as("status"),
          coalesce(col("price"), lit(0.0)).as("price"),
          when(col("st").isNull, "insert")
            .when(col("n_st").isNull, "keep").otherwise("update").as("action"))
        .groupBy(col("status"), col("action"))
        .agg(count(lit(1)).as("cnt"), sumDec(col("price")).as("sum_price"))
        .orderBy("status", "action")
    }),

    // Snapshot DIFF — the inverse of etl_cdc_apply: given two keyed
    // snapshots, EMIT the changelog (I/U/D rows with old/new payloads)
    // instead of applying one. This is how a lake without a native CDF
    // reconstructs change feeds between table versions. Snapshot B is
    // derived deterministically from orders (delete %13, reprice %7,
    // insert clones of %11 at key+1e8 — the +1e8 keyspace is disjoint
    // from o_orderkey at every SF). Shape: ONE keyed full-outer join +
    // a residual filter; at 100 TB both snapshots live bucketed by key,
    // so the join is co-partitioned and shuffle-free. Unchanged rows
    // (the overwhelming majority at scale) are dropped by the filter
    // BEFORE the output sort. RewriteEquivalenceSpec fuzzes the
    // diff∘apply round-trip against etl_cdc_apply.
    "etl_snapshot_diff" -> ((s: SparkSession, d: String) => {
      val a = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val b = a.where(pmod(col("k"), lit(13)) =!= 0)
        .select(col("k"),
          when(pmod(col("k"), lit(7)) === 0, col("p") + lit(1.0))
            .otherwise(col("p")).as("p"))
        .union(a.where(pmod(col("k"), lit(11)) === 0)
          .select((col("k") + lit(100000000L)).as("k"),
            (col("p") + lit(0.5)).as("p")))
      snapshotDiff(a, b).orderBy("o_orderkey")
    }))

  /** Parameterized body of `etl_snapshot_diff`: old/new keyed snapshots
    * (k, p) → changelog rows (k, change ∈ D/I/U, old_p, new_p), with
    * unchanged keys filtered out. Payload CHANGE detection is null-safe
    * (`<=>` negated: `=!=` evaluates to NULL on a matched key with a
    * NULL payload on one side, which would silently drop a real
    * NULL↔value update from the changelog); for non-null doubles
    * it is the same bitwise IEEE comparison as before. The emitted
    * old_p/new_p payloads are quantized to DECIMAL(18,2) (the money
    * output convention every EtlOps key uses) — change DETECTION runs
    * on the raw column, so two values that differ below a cent still
    * emit a 'U' row. Requires k unique per snapshot, the same
    * precondition as cdcApply's base. */
  private[graft] def snapshotDiff(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val x = a.select(col("k").as("ka"), col("p").as("pa"))
    val y = b.select(col("k").as("kb"), col("p").as("pb"))
    x.join(y, col("ka") === col("kb"), "full_outer")
      .select(coalesce(col("ka"), col("kb")).as("o_orderkey"),
        when(col("kb").isNull, "D")
          .when(col("ka").isNull, "I")
          .when(!(col("pa") <=> col("pb")), "U").as("change"),
        moneyOut(col("pa")).as("old_p"), moneyOut(col("pb")).as("new_p"))
      .where(col("change").isNotNull)
  }

  /** Parameterized body of `etl_cdc_apply`: apply a change log
    * (k, ver, op ∈ I/U/D, st2, pr2) to a base snapshot (k, st, pr).
    * The latest (highest-ver) op per key wins — versions should be
    * unique per key; equal-version duplicates resolve by the
    * struct-lexicographic max over (op, st2, pr2), deterministic but
    * semantically arbitrary, exactly like KeyedUpsertSink's payload
    * tie-break. An applied I/U op takes its payload VERBATIM — a NULL
    * payload column sets the column to NULL (a coalesce() would
    * silently retain the base value, diverging from the reference
    * semantics); "no log entry" is distinguished from "log
    * entry with NULL payload" by a non-null presence flag carried
    * through the full-outer join, not by payload nullness. Fuzzed
    * against an in-memory reference (including NULL U payloads) in
    * RewriteEquivalenceSpec. */
  private[graft] def cdcApply(base: org.apache.spark.sql.DataFrame,
      log: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val latest = log.groupBy(col("k"))
      .agg(max(struct(col("ver"), col("op"), col("st2"), col("pr2")))
        .as("l"))
      .select(col("k"), col("l.op").as("op"), col("l.st2").as("st2"),
        col("l.pr2").as("pr2"), lit(true).as("applied"))
    base.join(latest, Seq("k"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("k"),
        when(col("applied"), col("st2")).otherwise(col("st")).as("status"),
        when(col("applied"), col("pr2")).otherwise(col("pr")).as("price"))
  }

  /** Parameterized body of `etl_incremental_agg` — `splitMod` picks the
    * derived history/batch split (event_id % splitMod == 0 is "the new
    * batch"). InvariantSpec proves the maintained result is invariant to
    * the split, which is exactly the monoid-merge correctness claim. */
  private[graft] def incrementalAgg(s: SparkSession, d: String,
      splitMod: Int): org.apache.spark.sql.DataFrame = {
    def partial(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(dec2(col("value"))).as("sv"))
    val ev = events(s, d)
    val stored = partial(ev.where(pmod(col("event_id"), lit(splitMod)) =!= 0))
    val batch = partial(ev.where(pmod(col("event_id"), lit(splitMod)) === 0))
    stored.union(batch)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sv")).cast("double").as("sum_v"))
      .orderBy("user_id", "event_type")
  }

  /** Parameterized body of `etl_shard_assign` — `bucket` is the leaf
    * width of the two-level prefix sum. InvariantSpec proves the output
    * is invariant to the bucket choice (cum = offset + local is exact
    * wherever the boundaries fall). */
  private[graft] def shardAssign(s: SparkSession, d: String,
      bucket: Long, target: Long): org.apache.spark.sql.DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      .withColumn("bk", expr(s"doc_id div $bucket"))
    val wLoc = Window.partitionBy("bk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = docs.groupBy(col("bk"))
      .agg(sum(col("n_chars")).as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .select(col("bk"), col("off"))
    docs.withColumn("lcum", sum(col("n_chars")).over(wLoc))
      .join(broadcast(offs), "bk")
      .withColumn("cum", col("off") + col("lcum"))
      .select(col("doc_id"), col("n_chars"), col("cum"),
        expr(s"(cum - n_chars) div $target").as("shard"))
      .orderBy("doc_id")
  }

  private def oFkRow(rel: String, child: String, ck: String,
      parent: String, pk: String): String =
    s"SELECT '$rel' AS rel, " +
      s"(SELECT count(*) FROM $child) AS child_rows, " +
      s"(SELECT count(DISTINCT $ck) FROM $child) AS ref_keys, " +
      s"(SELECT count(*) FROM $child c LEFT JOIN $parent p " +
      s"ON c.$ck = p.$pk WHERE p.$pk IS NULL) AS orphans"

  val oracle: Map[String, String] = Map(
    "etl_fk_audit" ->
      (oFkRow("customer->nation", "customer", "c_nationkey",
        "nation", "n_nationkey") + " UNION ALL " +
        oFkRow("lineitem->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey") + " UNION ALL " +
        oFkRow("lineitem->part", "lineitem", "l_partkey",
          "part", "p_partkey") + " UNION ALL " +
        oFkRow("lineitem->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey") + " UNION ALL " +
        oFkRow("orders->customer", "orders", "o_custkey",
          "customer", "c_custkey") + " ORDER BY rel"),
    "etl_reference_shape" ->
      ("WITH b AS (SELECT o_orderkey, year(o_orderdate)*100 + " +
        "month(o_orderdate) AS ym FROM orders), " +
        "r AS (SELECT DISTINCT ym, 100 + ym % 7 AS rate_pct FROM b) " +
        "SELECT ym, count(*) AS txs, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * rate_pct) " +
        "AS DOUBLE) / 100.0 AS value_adj " +
        "FROM lineitem JOIN b ON l_orderkey = o_orderkey " +
        "JOIN r USING (ym) GROUP BY ym ORDER BY ym"),
    "etl_scd2" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "event_type FROM events), " +
        "f AS (SELECT *, lag(event_type) OVER w AS prev FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "ch AS (SELECT * FROM f WHERE prev IS NULL OR prev <> event_type), " +
        "v AS (SELECT *, row_number() OVER w AS ver, lead(ts_us) OVER w " +
        "AS eff_to FROM ch " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)) " +
        "SELECT user_id, CAST(ver AS INTEGER) AS ver, event_type AS attr, " +
        "ts_us AS eff_from, eff_to, " +
        "CAST(eff_to IS NULL AS INTEGER) AS is_current " +
        "FROM v ORDER BY user_id, ver"),
    "etl_scd2_lookup" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "event_type FROM events), " +
        "f AS (SELECT *, lag(event_type) OVER w AS prev FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "ch AS (SELECT * FROM f WHERE prev IS NULL OR prev <> event_type), " +
        "v AS (SELECT user_id AS vu, event_type AS attr, " +
        "row_number() OVER w AS ver, ts_us AS eff_from, " +
        "lead(ts_us) OVER w AS eff_to FROM ch " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "p AS (SELECT event_id, user_id, ts_us FROM e " +
        "WHERE event_id % 17 = 0) " +
        "SELECT p.event_id, p.user_id, p.ts_us, " +
        "CAST(ver AS INTEGER) AS ver, attr " +
        "FROM p JOIN v ON p.user_id = vu AND eff_from <= p.ts_us " +
        "AND (eff_to IS NULL OR p.ts_us < eff_to) " +
        "ORDER BY p.event_id"),
    "etl_incremental_agg" ->
      ("SELECT user_id, event_type, count(*) AS cnt, " +
        oSumDec("value") + " AS sum_v FROM events " +
        "GROUP BY 1, 2 ORDER BY user_id, event_type"),
    "etl_shard_assign" ->
      ("WITH c AS (SELECT doc_id, n_chars, " +
        // DuckDB widens sum(BIGINT) to HUGEINT (DECIMAL128); the engine
        // emits BIGINT — pin the oracle's type so hashes compare.
        "CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM documents) " +
        "SELECT doc_id, n_chars, cum, " +
        "CAST((cum - n_chars) // 16384 AS BIGINT) AS shard " +
        "FROM c ORDER BY doc_id"),
    "etl_cdc_apply" ->
      ("WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st, " +
        oMoneyOut("o_totalprice") + " AS pr FROM orders), " +
        "log AS (SELECT o_orderkey AS k, 1 AS ver, 'U' AS op, 'X' AS st2, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DOUBLE) AS pr2 " +
        "FROM orders WHERE o_orderkey % 7 = 0 " +
        "UNION ALL SELECT o_orderkey, 2, 'D', NULL, NULL FROM orders " +
        "WHERE o_orderkey % 21 = 0 " +
        "UNION ALL SELECT o_orderkey + 2000000000, 1, 'I', 'N', " +
        oMoneyOut("o_totalprice") + " FROM orders " +
        "WHERE o_orderkey % 50 = 0), " +
        "lat AS (SELECT *, row_number() OVER (PARTITION BY k " +
        "ORDER BY ver DESC) AS rn FROM log), " +
        "l1 AS (SELECT k, op, st2, pr2 FROM lat WHERE rn = 1) " +
        "SELECT coalesce(base.k, l1.k) AS k, " +
        "coalesce(st2, st) AS status, coalesce(pr2, pr) AS price " +
        "FROM base FULL JOIN l1 ON base.k = l1.k " +
        "WHERE op IS NULL OR op <> 'D' ORDER BY k"),
    "etl_merge_upsert" ->
      ("WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st, " +
        oMoneyOut("o_totalprice") + " AS price FROM orders), " +
        "upd AS (SELECT o_orderkey AS k, 'U' AS n_st FROM orders " +
        "WHERE o_orderkey % 10 = 0 " +
        "UNION ALL SELECT o_orderkey + 1000000000 AS k, 'I' AS n_st " +
        "FROM orders WHERE o_orderkey % 100 = 0), " +
        "m AS (SELECT coalesce(n_st, st) AS status, " +
        "coalesce(price, 0.0) AS price, " +
        "CASE WHEN st IS NULL THEN 'insert' WHEN n_st IS NULL THEN 'keep' " +
        "ELSE 'update' END AS action " +
        "FROM base FULL JOIN upd ON base.k = upd.k) " +
        "SELECT status, action, count(*) AS cnt, " +
        oSumDec("price") + " AS sum_price " +
        "FROM m GROUP BY 1, 2 ORDER BY status, action"),
    "etl_snapshot_diff" ->
      ("WITH a AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders), " +
        "b AS (SELECT k, CASE WHEN k % 7 = 0 THEN p + 1.0 ELSE p END AS p " +
        "FROM a WHERE k % 13 <> 0 " +
        "UNION ALL SELECT k + 100000000, p + 0.5 FROM a WHERE k % 11 = 0), " +
        "j AS (SELECT coalesce(a.k, b.k) AS o_orderkey, " +
        "CASE WHEN b.k IS NULL THEN 'D' WHEN a.k IS NULL THEN 'I' " +
        "WHEN a.p <> b.p THEN 'U' END AS change, " +
        oMoneyOut("a.p") + " AS old_p, " + oMoneyOut("b.p") + " AS new_p " +
        "FROM a FULL JOIN b ON a.k = b.k) " +
        "SELECT * FROM j WHERE change IS NOT NULL ORDER BY o_orderkey"))
}
