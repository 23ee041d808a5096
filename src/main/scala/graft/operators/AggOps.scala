package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY §2.4 aggregation — the reference's per-block / per-day / summary
  * rollups generalized (SURVEY §0 [PUBLIC]; empty checkout → no file:line).
  *
  * Scale notes: all aggregates here are hash aggregates with map-side
  * partial aggregation (Spark's default 2-phase HashAggregate), so the
  * shuffle carries one row per (partition × group), not per input row.
  * Money sums go through DECIMAL(18,2) for cross-partition determinism
  * (SURVEY §7.3.2); averages are emitted as round(decimal_sum::double /
  * count, 6) — exact numerator, deterministic IEEE division.
  */
object AggOps {
  import org.apache.spark.sql.expressions.Window

  /** Column names [[countPercentiles]] builds internally: a `grp` of
    * one of these names would be silently overwritten. */
  private val ReservedCols = Seq("bk", "lprev", "v", "cnt", "n", "nr",
    "vmax", "btot", "boff", "pa", "wh", "f", "r", "rr", "pos")

  /** Bucket width of [[countPercentiles]]' rank pruning and
    * `agg_gini`'s decomposed rank sum (v div 2¹⁶): sized so the
    * (group, bucket) total table stays dimension-bounded on the cents
    * domains the callers use; a caller over a much wider value domain
    * would widen it (or recurse once more). */
  private[graft] val SelBucket = 65536L

  /** Exact linear-interpolation percentiles over a NON-NEGATIVE
    * integer-domain value column WITHOUT percentile()'s one-reducer
    * buffering contract. Input: (grp, v BIGINT ≥ 0, cnt) tie blocks,
    * each weighing `cnt` occurrences of `v`; raw rows collapse to them
    * with `pin(rows.groupBy(grp, v).agg(count(lit(1)).as("cnt")))`.
    * Every consumer below scans the input, so pass a pinned or cheap
    * frame. Blocks need no (grp, v) uniqueness: duplicate blocks of one
    * value sum into the same bucket total, and the boundary window's
    * crossing row yields the same v whichever duplicate crosses.
    *
    * Rank lookup is BUCKET-PRUNED selection: bucket totals collapse the
    * blocks to a (group, v div 2¹⁶) table (map-side combinable); a
    * bucket-count-sized running sum per group locates, for each
    * requested rank, THE one bucket containing it; and only that
    * bucket's blocks (value-domain-bounded, corpus-independent) are
    * ordered — a tiny window — to select the boundary block. No task ever orders a group's full value set, and no
    * row-scaled window or broadcast-to-all-blocks attach exists.
    * Interpolation happens in the CALLER's domain: boundary values
    * first rescale as fl(v/scale) — one correctly-rounded division,
    * bit-identical to the double the oracle's quantile_cont sees — and
    * then the shared (1-f)·lo + f·hi definition applies, so the whole
    * chain is the SAME sequence of IEEE ops as percentile() over the
    * rescaled column (interpolating in the integer domain and dividing
    * AFTER would add a rounding step the oracle doesn't share, which
    * can flip round6 exactly at its half boundary). NULL-v blocks are
    * ignored for ranks like percentile(), but their cnt feeds `n`
    * (count(*) parity — a group whose values are all NULL still emits
    * its row, with NULL percentiles). Output: one row per group — n,
    * vmax (the group max), and one DOUBLE per requested (alias, p).
    *
    * Boundary-equality note: the finish ALWAYS computes
    * (1−f)·lo + f·hi, even when vlo == vhi, because DuckDB's
    * quantile_cont interpolates the same way — oracle parity is the
    * contract. Spark's percentile() can short-circuit equal
    * boundaries, so for non-dyadic f the two can differ by one ulp
    * (round6-flippable only at an exact half boundary); the
    * InvariantSpec byte-equality tests are therefore corpus/seed-
    * pinned regressions, not a universal theorem. */
  private[graft] def countPercentiles(blocks: org.apache.spark.sql.DataFrame,
      grp: String, ps: Seq[(String, Double)],
      scale: Double = 1.0): org.apache.spark.sql.DataFrame = {
    // Reserved-name guard: grp is threaded through the internal
    // bucket/selection frames and this method's own n/nr/vmax
    // attachments — a collision silently overwrites it. Lower-cased:
    // column resolution is case-insensitive by default.
    require(!ReservedCols.contains(grp.toLowerCase(java.util.Locale.ROOT)),
      s"countPercentiles: grp column '$grp' collides with a reserved " +
        s"column name (${ReservedCols.mkString(", ")})")
    require(blocks.columns.contains("cnt"),
      "countPercentiles: input must carry a cnt column of tie-block " +
        "weights; collapse raw rows with groupBy(grp, v) and count")
    require(scale > 0 && !scale.isInfinite,
      s"countPercentiles: scale must be a positive finite double, got $scale")
    // An empty request list would die at aggs.head during plan
    // construction — fail loud and named instead.
    require(ps.nonEmpty,
      "countPercentiles: at least one percentile required")
    val aliases = ps.map(_._1)
    require(aliases.distinct == aliases &&
      aliases.forall(a => a != grp && a != "n" && a != "vmax"),
      "countPercentiles: aliases must be distinct and none of " +
        s"($grp, n, vmax), got $aliases")
    // weights are a RUNTIME contract: a zero/negative/NULL cnt block
    // would silently corrupt ranks, n, and vmax — one codegen'd branch
    // per block raises instead
    val cntOk = when(col("cnt").isNull || col("cnt") <= 0L,
        raise_error(concat(
          lit("countPercentiles: cnt must be a positive count, got "),
          coalesce(col("cnt").cast("string"), lit("NULL"))))
          .cast("long"))
      .otherwise(col("cnt"))
    // cnts fans out to ntab, the bucket totals and the boundary detail,
    // whose exchange subtrees differ (the NULL-v filter pushes below one
    // aggregate but not the other), so ReuseExchange cannot dedupe
    // them: each scans the caller's frame map-side, which is why a
    // row-scaled caller pins its collapse.
    val cnts = blocks.select(col(grp), col("v"), cntOk.as("cnt"))
    // vmax rides the same pass as n/nr (max ignores NULL v) instead of
    // a second all-blocks aggregate. Pinned: ntab feeds the
    // request frame AND the final left join; column pruning narrows
    // the two subtrees differently (reqs keeps only nr), so exchange
    // reuse cannot dedupe them and the blocks-scan aggregate ran
    // twice per pass. The pin is group-count-sized.
    val ntab = pin(cnts.groupBy(col(grp)).agg(sum(col("cnt")).as("n"),
      coalesce(sum(when(col("v").isNotNull, col("cnt"))), lit(0L)).as("nr"),
      max(col("v")).as("vmax")))
    val nn = cnts.where(col("v").isNotNull)
      .withColumn("bk", expr(s"v div $SelBucket"))
    // Bucket totals: a map-side combinable hash agg to a (group,
    // bucket) table whose size is value-domain-, not corpus-, bounded.
    val btot = nn.groupBy(col(grp), col("bk"))
      .agg(sum(col("cnt")).as("btot"))
    val wOff = Window.partitionBy(grp).orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bcum = btot
      .withColumn("boff", coalesce(sum(col("btot")).over(wOff), lit(0L)))
    // One request row per (group, percentile, lo|hi boundary): the
    // rank in percentile()'s 1-based order and the interpolation
    // fraction, derived from the non-null count. A group whose values
    // are all NULL gets nr = 0, so no bucket can contain its ranks and
    // the group simply never reaches `hits` — the final left join
    // emits its NULL percentiles.
    val reqs = ntab
      .select(col(grp), col("nr"), explode(array(ps.map { case (a, p) =>
        struct(lit(a).as("pa"), lit(p).as("pp")) }: _*)).as("q"))
      .select(col(grp), col("q.pa").as("pa"),
        (col("q.pp") * (col("nr") - 1).cast("double")).as("pos"))
      .select(col(grp), col("pa"),
        (col("pos") - floor(col("pos")).cast("double")).as("f"),
        explode(array(
          struct(lit("lo").as("wh"),
            (floor(col("pos")) + 1).cast("long").as("r")),
          struct(lit("hi").as("wh"),
            (ceil(col("pos")) + 1).cast("long").as("r")))).as("w"))
      .select(col(grp), col("pa"), col("f"),
        col("w.wh").as("wh"), col("w.r").as("r"))
    // Each rank lands in exactly one bucket: the one whose exclusive
    // running total is the last below it. Both frames here are
    // dimension-sized.
    val sel = reqs.join(bcum, Seq(grp))
      .where(col("boff") < col("r") && col("r") <= col("boff") + col("btot"))
      .select(col(grp), col("pa"), col("wh"), col("f"), col("bk"),
        (col("r") - col("boff")).as("rr"))
    // Boundary detail: only the selected buckets' blocks are ordered —
    // a window over ≤ bucket-width values per request, never the
    // group's full value set.
    val wLoc = Window.partitionBy(grp, "pa", "wh").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hits = nn.join(broadcast(sel), Seq(grp, "bk"))
      .withColumn("lprev", coalesce(sum(col("cnt")).over(wLoc), lit(0L)))
      .where(col("lprev") < col("rr") &&
        col("rr") <= col("lprev") + col("cnt"))
    val aggs = ps.flatMap { case (a, _) => Seq(
      max(when(col("pa") === a && col("wh") === "lo", col("v")))
        .as(s"vlo_$a"),
      max(when(col("pa") === a && col("wh") === "hi", col("v")))
        .as(s"vhi_$a"),
      max(when(col("pa") === a, col("f"))).as(s"f_$a"))
    }
    val fins = ps.map { case (a, _) =>
      ((lit(1.0) - col(s"f_$a")) *
        (col(s"vlo_$a").cast("double") / lit(scale)) +
        col(s"f_$a") * (col(s"vhi_$a").cast("double") / lit(scale)))
        .as(a)
    }
    val core = hits.groupBy(col(grp)).agg(aggs.head, aggs.tail: _*)
    // LEFT from the all-groups count table: a group whose values are
    // all NULL keeps its row (NULL percentiles), matching
    // count(*) + quantile_cont semantics.
    ntab.select(col(grp), col("n"), col("vmax"))
      .join(broadcast(core), Seq(grp), "left")
      .select(col(grp) +: col("n") +: col("vmax") +: fins: _*)
  }

  private def groupedCube(s: SparkSession, d: String, mode: String) = {
    val li = t(s, d, "lineitem")
    val base = mode match {
      case "rollup" => li.rollup(col("l_returnflag"), col("l_linestatus"))
      case "cube"   => li.cube(col("l_returnflag"), col("l_linestatus"))
      case _ => li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
    }
    base.agg(
      grouping(col("l_returnflag")).cast("int").as("g1"),
      grouping(col("l_linestatus")).cast("int").as("g2"),
      count(lit(1)).as("cnt"),
      sumDec(col("l_quantity")).as("sum_qty"))
      .select(col("g1"), col("g2"),
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("cnt"), col("sum_qty"))
      .orderBy("g1", "g2", "flag", "status")
  }

  private def cubeSql(grouping: String): String =
    "SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g1, " +
      "CAST(GROUPING(l_linestatus) AS INTEGER) AS g2, " +
      "coalesce(l_returnflag, 'ALL') AS flag, " +
      "coalesce(l_linestatus, 'ALL') AS status, " +
      "count(*) AS cnt, " + oSumDec("l_quantity") + " AS sum_qty " +
      s"FROM lineitem GROUP BY $grouping " +
      "ORDER BY g1, g2, flag, status"

  val queries: Map[String, QFn] = Map(
    // TPC-H Q1 shape — the P1 minimum slice (SURVEY §7.2).
    "agg_groupby" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .where(expr("l_shipdate < TIMESTAMP_NTZ'1998-09-01'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sumDec(col("l_quantity")).as("sum_qty"),
          sumDec(col("l_extendedprice")).as("sum_price"),
          min(dec2(col("l_extendedprice"))).cast("double").as("min_price"),
          max(dec2(col("l_extendedprice"))).cast("double").as("max_price"))
        .withColumn("avg_price",
          round6(col("sum_price").cast("double") / col("cnt")))
        .orderBy("l_returnflag", "l_linestatus")),

    "agg_global" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        sumDec(col("l_extendedprice")).as("sum_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        countDistinct(col("l_partkey")).as("dparts"))),

    "agg_count_distinct" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("d_part"),
          countDistinct(col("l_suppkey")).as("d_supp"),
          countDistinct(concat_ws("_", col("l_partkey"), col("l_suppkey")))
            .as("d_ps"))
        .orderBy("l_returnflag")),

    "agg_filtered" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem").groupBy(col("l_linestatus"))
        .agg(count(when(col("l_discount") > 0.05, lit(1))).as("cnt_disc"),
          coalesce(sum(when(col("l_quantity") > 25,
            dec2(col("l_extendedprice")))).cast("double"),
            lit(0.0)).as("sum_hi"))
        .orderBy("l_linestatus")),

    "agg_rollup" -> ((s: SparkSession, d: String) => groupedCube(s, d, "rollup")),
    "agg_cube" -> ((s: SparkSession, d: String) => groupedCube(s, d, "cube")),
    "agg_grouping_sets" -> ((s: SparkSession, d: String) =>
      groupedCube(s, d, "sets")),

    // Equi-width histogram: bucket index from pure IEEE ops (sub, div,
    // floor) both engines compute bit-identically; the bucket count agg
    // is the usual 2-phase map-side-combining shape.
    "agg_histogram" -> ((s: SparkSession, d: String) =>
      t(s, d, "orders")
        .select(least(floor((col("o_totalprice") - lit(0.0)) / lit(25000.0))
          .cast("int"), lit(19)).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),

    // Exact per-group quantiles: median/p90 via linear interpolation —
    // Spark percentile() and DuckDB quantile_cont() share the
    // (1-f)·lo + f·hi definition; round6 absorbs any last-ulp skew.
    // The path is COUNT-BASED ([[countPercentiles]] over the cents
    // domain), byte-equal to percentile() (InvariantSpec) with NO
    // one-reducer value buffering at any group width.
    "agg_percentile" -> ((s: SparkSession, d: String) =>
      countPercentiles(
          pin(t(s, d, "orders").select(col("o_orderstatus"),
              (dec2(col("o_totalprice")) * 100).cast("long").as("v"))
            .groupBy(col("o_orderstatus"), col("v"))
            .agg(count(lit(1)).as("cnt"))),
          "o_orderstatus", Seq(("p50", 0.5), ("p90", 0.9)), scale = 100)
        .select(col("o_orderstatus"),
          round6(col("p50")).as("p50"),
          round6(col("p90")).as("p90"))
        .orderBy("o_orderstatus")),

    // Mode (most frequent value) per group, deterministic tie-break to
    // the smallest value — count + windowed argmax, the exact-SQL form
    // both engines share (native mode() tie-breaks are unspecified).
    "agg_mode" -> ((s: SparkSession, d: String) => {
      val counts = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag")
        .orderBy(col("cnt").desc, col("l_quantity"))
      counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("cnt"))
        .orderBy("l_returnflag")
    }),

    "agg_collect_sorted" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(array_join(
          transform(sort_array(collect_list(col("l_linenumber"))),
            x => x.cast("string")), ",").as("lines"))
        .orderBy("l_orderkey")),

    // ⊘ no oracle: HLL sketch differs across engines; in-repo ±5% test.
    "agg_approx_distinct" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.05).as("approx_d"))
        .orderBy("l_returnflag")),

    // EXACT distinct at scale via bitmap aggregation (the modern
    // warehouse primitive): phase 1 ORs each value's bit into a
    // fixed-size bitmap per (group, bucket-of-32k) — so the shuffle
    // carries ≤ groups × buckets 4 KB bitmaps, NOT one row per distinct
    // value like count(DISTINCT)'s expand — phase 2 sums popcounts.
    // Exact ⇒ hash-oracled against count(DISTINCT); the bitmap never
    // reaches the output.
    "agg_bitmap_distinct" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
          .as("bm"))
        .groupBy(col("l_returnflag"))
        .agg(sum(expr("bitmap_count(bm)")).cast("long").as("n_distinct"))
        .orderBy("l_returnflag")),

    // ⊘ mergeable-sketch COLUMNS (DataSketches HLL) — the pattern
    // approx_count_distinct can't do: the sketch itself is a value.
    // Per-language token sketches are built once (one pass over the
    // corpus), then the corpus-wide distinct estimate is a UNION OF
    // SKETCHES — no second scan of the raw data. At 100 TB this is the
    // profiling architecture: per-partition/day sketch columns persist
    // in the store, and any rollup (lang → corpus, day → month) is a
    // sketch-sized merge, register-max order-independent. No oracle
    // (sketch internals are engine-specific); ±5% accuracy vs the exact
    // distinct counts in-repo.
    "agg_hll_sketch" -> ((s: SparkSession, d: String) => {
      val tok = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      val per = tok.groupBy(col("lang")).agg(hll_sketch_agg(col("w")).as("sk"))
      per.select(col("lang"), hll_sketch_estimate(col("sk")).as("est_distinct"))
        .union(per.agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("est_distinct"))
          .select(lit("ALL").as("lang"), col("est_distinct")))
        .orderBy("lang")
    }),

    // ⊘ Count-min sketch COLUMNS (r4) — the frequency twin of
    // agg_hll_sketch's distinct counting, completing the mergeable-
    // sketch shelf (HLL distinct / MG heavy hitters / GK quantiles /
    // bitmap exact / CMS frequency): per-language token-frequency
    // sketches via the builtin count_min_sketch aggregate, rolled up to
    // a corpus sketch by [[CmsMergeAgg]], a typed Aggregator over the
    // serialized form (counter arrays ADD, so merge is commutative,
    // associative, and — with a fixed seed — byte-deterministic;
    // InvariantSpec asserts union-of-partials equals the directly-built
    // global sketch BYTE-FOR-BYTE, plus the ε·N point-query bound).
    // At 100 TB the per-partition/per-day sketches persist and every
    // profiling query is a metadata-sized merge, never a raw rescan.
    // The key's output is the sketch fingerprint (md5 + size) per lang:
    // estimates are intentionally NOT a query column — reading them
    // needs a deserializing UDF, and the no-UDF-in-hot-path discipline
    // (SURVEY §2.10) keeps the one declared scalar UDF the only one.
    "agg_cms_sketch" -> ((s: SparkSession, d: String) => {
      val tok = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      val per = tok.groupBy(col("lang"))
        .agg(count_min_sketch(col("w"), lit(0.001d), lit(0.99d), lit(42))
          .as("sk"))
      val cmsUnion = udaf(CmsMergeAgg,
        org.apache.spark.sql.Encoders.BINARY)
      per.select(col("lang"), md5(col("sk")).as("sk_md5"),
          octet_length(col("sk")).as("sk_bytes"))
        .union(per.agg(cmsUnion(col("sk")).as("u"))
          .select(lit("ALL").as("lang"), md5(col("u")).as("sk_md5"),
            octet_length(col("u")).as("sk_bytes")))
        .orderBy("lang")
    }),

    // Exact second-moment statistics (r4): mean / var_samp / stddev are
    // normally un-oracle-able — both engines' builtin stddev folds
    // doubles in merge order, so the result is partition-order
    // nondeterministic AND engine-divergent. The determinism policy
    // (DESIGN §2.1) extends to second moments: accumulate Σx and Σx²
    // EXACTLY in DECIMAL (x is DECIMAL(18,2), x² is DECIMAL(37,4) —
    // overflow-free by corpus domain), assemble the numerator
    // n·Σx² − (Σx)² exactly, and perform ONE decimal→double cast
    // followed by pure IEEE division/sqrt — bit-identical across
    // engines and partitionings. Same 2-phase hash-agg plan shape as
    // every other aggregate (the decimal sums have map-side partials).
    "agg_stats_exact" -> ((s: SparkSession, d: String) => {
      val x = dec2(col("l_extendedprice"))
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"),
          sum(x * x).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          round6(col("sx").cast("double") / col("n")).as("mean"),
          round6((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double") /
            (col("n").cast("double") * (col("n") - 1))).as("var_samp"),
          round6(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double") /
            (col("n").cast("double") * (col("n") - 1)))).as("stddev"))
        .orderBy("l_returnflag")
    }),

    // Two-column second moments, same exact-decimal discipline as
    // agg_stats_exact: covariance and Pearson correlation from exact
    // Σx, Σy, Σxy, Σx², Σy², with the double-typed finish written in
    // ONE fixed shape (cast → sqrt → multiply → divide) both engines
    // execute identically. Builtin corr()/covar_samp() are
    // merge-order-dependent double folds — un-oracle-able.
    "agg_corr_exact" -> ((s: SparkSession, d: String) => {
      val x = dec2(col("l_quantity"))
      val y = dec2(col("l_extendedprice"))
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round6((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("n").cast("double") * (col("n") - 1))).as("covar_samp"),
          round6((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("corr"))
        .orderBy("l_returnflag")
    }),

    // Higher central moments — skewness and excess kurtosis — closing
    // the exact-stats shelf (count/sum/var → covar/corr → 3rd/4th
    // moments). Same discipline as agg_corr_exact, one order higher:
    // the shuffle carries EXACT integer power sums Σx..Σx⁴ (x =
    // l_quantity is integral by construction, so BIGINT sums are
    // merge-order exact; builtin skewness()/kurtosis() are
    // partition-order-dependent double folds — un-oracle-able), and
    // the double-typed finish is ONE shared expression string
    // ([[momentSkewSql]]/[[momentKurtSql]]) that both engines parse
    // into the identical IEEE op tree. At 100 TB the plan is the ideal
    // shape already: 2-phase agg, 6 numbers per group through the
    // shuffle; only the sums' width changes (BIGINT → DECIMAL(38,0)
    // once Σx⁴ can exceed 2⁶³ ≈ 10¹⁸·9, i.e. ~10¹² rows at x ≤ 50).
    "agg_moments" -> ((s: SparkSession, d: String) => {
      val x = col("l_quantity").cast("long")
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("s1"), sum(x * x).as("s2"),
          sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
        .select(col("l_returnflag"), col("n"),
          col("s1"), col("s2"), col("s3"), col("s4"),
          round6(expr(momentSkewSql)).as("skew"),
          round6(expr(momentKurtSql)).as("kurt"))
        .orderBy("l_returnflag")
    }),

    // Per-group simple OLS (y = l_extendedprice on x = l_quantity) —
    // slope / intercept / r², the grouped regression a feature-quality
    // or drift-monitoring pipeline runs per segment. Same exact-sums
    // discipline as agg_corr_exact: the shuffle carries exact
    // DECIMAL(18,2) sums (n, Σx, Σy, Σxy, Σx², Σy² — 6 numbers per
    // group, 2-phase hash agg), and every double-typed finish is ONE
    // expression string ([[linregSlopeSql]] etc.) shared verbatim with
    // the oracle so both engines evaluate the identical IEEE op tree
    // over identical exact inputs. Built-in regr_slope/regr_intercept
    // are partition-order double folds — un-oracle-able by design.
    "agg_linreg" -> ((s: SparkSession, d: String) => {
      val x = dec2(col("l_quantity"))
      val y = dec2(col("l_extendedprice"))
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round6(expr(linregSlopeSql)).as("slope"),
          round6(expr(linregInterceptSql)).as("intercept"),
          round6(expr(linregR2Sql)).as("r2"))
        .orderBy("l_returnflag")
    }),

    // Robust location/scale per group: median + MAD (median absolute
    // deviation) + max robust z-score — the outlier-resistant
    // complement to agg_stats_exact's mean/stddev (one corrupt value
    // moves the mean arbitrarily; it moves the median not at all).
    // Exactness: values go through cents-scaled BIGINT, so percentile's
    // (1-f)·lo + f·hi interpolation lands on exactly-representable
    // doubles (integers and .5/.25 steps < 2⁵³) and both engines emit
    // identical bits. Two passes: (1) per-group exact median, (2) the
    // group-count-sized median dim broadcast back, deviations
    // aggregated. BOTH percentile stages run COUNT-BASED
    // ([[countPercentiles]] — no per-group value buffering at any
    // width; the deviation stage stays integral by doubling:
    // dev2 = |2·xc − 2·med| is BIGINT because a p=0.5 interpolation
    // over integers lands on halves, and halving the interpolated
    // dev2 percentile back is an exact power-of-2 scaling, so the
    // result is bit-equal to percentile() over |xc − med| — asserted
    // in InvariantSpec).
    // max_robust_z emits NULL when MAD = 0 (a ≥50%-constant group is
    // legal input; division would produce Infinity, which the engines
    // round incompatibly), via nullif in the shared finish string.
    "agg_mad" -> ((s: SparkSession, d: String) => {
      val xc = (dec2(col("l_extendedprice")) * 100).cast("long")
      val base = t(s, d, "lineitem")
        .select(col("l_returnflag"), xc.as("xc"))
      // The raw corpus crosses the wire ONCE: both percentile passes
      // consume the SAME pinned (group, value, cnt) table. dev2 =
      // |2·xc − 2·med| depends only on xc, so pass 2's blocks derive
      // from pass 1's with the counts carried over (two xc blocks
      // symmetric around the median map to ONE dev2 value, which
      // countPercentiles takes as duplicate blocks), and no exchange
      // in pass 2 re-collapses rows. Unpinned, every consumer of both
      // passes would re-execute the row-scaled collapse.
      val blocks = pin(base
        .groupBy(col("l_returnflag"), col("xc"))
        .agg(count(lit(1)).as("cnt")))
      // pinned: the group-count-sized median dim feeds both the
      // deviation pass and the final attach
      val med = pin(countPercentiles(
        blocks.select(col("l_returnflag"), col("xc").as("v"),
          col("cnt")),
        "l_returnflag", Seq(("med", 0.5))))
      val dev2 = blocks
        .join(broadcast(med.select(col("l_returnflag"), col("med"))),
          "l_returnflag")
        .select(col("l_returnflag"),
          abs(col("xc") * 2 - (col("med") * 2).cast("long")).as("v"),
          col("cnt"))
      // scale = 2: boundary values rescale as fl(dev2/2) = the exact
      // |xc − med| doubles percentile() would interpolate — identical
      // IEEE chain, no post-hoc halving of the interpolant
      countPercentiles(dev2, "l_returnflag", Seq(("mad", 0.5)), scale = 2)
        .select(col("l_returnflag"), col("n"),
          (col("vmax") / lit(2.0)).as("maxdev"), col("mad"))
        .join(broadcast(med.select(col("l_returnflag"), col("med"))),
          "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          round6(col("med") / 100.0).as("median"),
          round6(col("mad") / 100.0).as("mad"),
          round6(expr(madRobustZSql)).as("max_robust_z"))
        .orderBy("l_returnflag")
    }),

    // Gini coefficient per group — the concentration/inequality
    // profile (revenue concentration, token-frequency skew, shard
    // balance): G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending xᵢ.
    // Rank ties are harmless BY ALGEBRA (equal x values contribute the
    // same Σ i·x under any tie permutation), so the oracle's row_number
    // is deterministic where it matters — and the engine never ranks
    // ROWS at all (a row_number window would sort each group's full
    // row set in ONE task). Tie blocks
    // make Σ i·x a closed form per DISTINCT value: ranks sprev+1 …
    // sprev+cnt contribute x·(sprev·cnt + cnt·(cnt+1)/2), so the plan
    // is (1) hash-collapse rows to (group, value, cnt) — map-side
    // combine, the only row-scaled shuffle; (2) the within-bucket
    // running count from a (group, bucket = v div 2¹⁶)-keyed window
    // (parallel across buckets; ~160 buckets per group at the cents
    // domain — size the bucket so the bucket table stays
    // dimension-sized at open scale, or recurse once more); (3) the
    // bucket-offset term DECOMPOSES (r15): with sprev = boff(bucket) +
    // lprev, Σ v·(sprev·cnt + cnt(cnt+1)/2) = Σ v·(lprev·cnt +
    // cnt(cnt+1)/2) + Σ_bucket boff·Σ_bucket(v·cnt) — so the
    // per-bucket partial sums AGGREGATE FIRST (reusing the window's
    // (group, bucket) partitioning: no new exchange) and the offsets
    // multiply into the bucket-count-sized table, instead of the
    // r13/r14 shape that broadcast the offsets BACK onto every block
    // and re-aggregated row-scale. That shape also executed the
    // row-scaled collapse twice — its offset and window branches
    // fanned out below any exchange Spark could reuse (two identical
    // 4.9 MB collapse-write jobs per run, measured at ff6f127) — while this
    // one is a single LINEAR chain: collapse → bucket window → bucket
    // agg → offset window → finish, nothing consumed twice, no pin
    // needed. Exact: all-integer until the one shared-string double
    // finish; Σ i·x fits BIGINT to ~10⁷ rows per group at cents
    // ≤ 10⁹; widen to DECIMAL(38,0) beyond. PlanSpec asserts no
    // row-level group-only window survives.
    "agg_gini" -> ((s: SparkSession, d: String) => {
      val xc = (dec2(col("l_extendedprice")) * 100).cast("long")
      val cnts = t(s, d, "lineitem")
        .select(col("l_returnflag"), xc.as("v"))
        .groupBy(col("l_returnflag"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("bk", expr(s"v div $SelBucket"))
      val wLoc = Window.partitionBy("l_returnflag", "bk").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wOff = Window.partitionBy("l_returnflag").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      cnts
        .withColumn("lprev", coalesce(sum(col("cnt")).over(wLoc), lit(0L)))
        .groupBy(col("l_returnflag"), col("bk"))
        .agg(sum(col("cnt")).as("btot"),
          sum(col("v") * col("cnt")).as("sxb"),
          sum(col("v") * (col("lprev") * col("cnt") +
            expr("cnt * (cnt + 1) div 2"))).as("lrx"))
        .withColumn("boff", coalesce(sum(col("btot")).over(wOff), lit(0L)))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("btot")).as("n"),
          sum(col("sxb")).as("sx"),
          sum(col("lrx") + col("boff") * col("sxb")).as("srx"))
        .select(col("l_returnflag"), col("n"),
          round6(expr(giniSql)).as("gini"))
        .orderBy("l_returnflag")
    }),

    // Welch's two-sample t per group (group vs rest-of-corpus) — the
    // A/B-comparison primitive: does this segment's price distribution
    // differ from everyone else's? Exact-sums discipline again: ONE
    // 2-phase agg produces per-group (n1, Σy, Σy²); the corpus totals
    // come from re-aggregating the GROUP frame (4 rows — never a
    // second corpus scan) and attach as a 1-row broadcast; the rest's
    // sums are exact decimal differences (Σ_rest = Σ_all − Σ_g). The
    // t statistic and Welch–Satterthwaite dof finish as shared
    // expression strings over the exact inputs. Scale: the corpus
    // crosses the wire once as 3 numbers per group.
    "agg_ttest" -> ((s: SparkSession, d: String) => {
      val y = dec2(col("l_extendedprice"))
      val grouped = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n1"), sum(y).as("s1"),
          sum(y * y).as("ss1"))
        .pinned // referenced by the totals agg AND the finish
      val totals = grouped.agg(sum(col("n1")).as("n"),
        sum(col("s1")).as("sy"), sum(col("ss1")).as("syy"))
      grouped.crossJoin(broadcast(totals))
        .select(col("l_returnflag"), col("n1"),
          round6(expr(ttestMeanSql)).as("mean_g"),
          round6(expr(ttestMeanRestSql)).as("mean_rest"),
          round6(expr(ttestTSql)).as("t"),
          round6(expr(ttestDofSql)).as("dof"))
        .orderBy("l_returnflag")
    }),

    // Latest-row-per-key (argmax) without a window: max over a struct
    // whose leading fields are the order (date, unique orderkey) compares
    // lexicographically, so one 2-phase hash aggregate — partial maxes
    // map-side, |keys| rows through the shuffle — replaces WindowExec's
    // full shuffle+sort of every row. The canonical "keep the newest
    // version of each key" ingestion op (KeyedUpsertSink's batch form).
    // builtin max_by is tie-unstable; the struct carries the unique
    // tie-break, so the payload is deterministic.
    "agg_argmax" -> ((s: SparkSession, d: String) =>
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice"))).as("m"))
        .select(col("o_custkey"), col("m.o_orderdate").as("last_date"),
          col("m.o_orderkey").as("last_orderkey"),
          col("m.o_totalprice").as("last_price"))
        .orderBy("o_custkey")),

    // Pivot with an explicit value list (the only scale-sane form: an
    // implicit list means a pre-pass distinct over the pivot column).
    "agg_pivot" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sumDec(col("l_extendedprice")))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0.0)).as("sum_f"),
          coalesce(col("O"), lit(0.0)).as("sum_o"))
        .orderBy("l_returnflag")),

    // Unpivot (melt) the wide per-flag sums back to long form.
    "agg_unpivot" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sumDec(col("l_extendedprice")))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0.0)).as("sum_f"),
          coalesce(col("O"), lit(0.0)).as("sum_o"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_f"), col("sum_o")), "status", "sum_price")
        .orderBy("l_returnflag", "status")))

  /** agg_moments finish, shared VERBATIM by the Spark expr and the
    * DuckDB oracle so both engines parse the identical IEEE double op
    * tree over the exact integer inputs (n, s1..s4). Every operand is
    * either an exactly-representable integer cast (< 2⁵³) or a prior
    * double; sqrt is correctly rounded in both engines; pow is avoided
    * (m2^1.5 = m2·sqrt(m2), m2² = m2·m2) because libm pow is not. */
  private val mMean = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
  private val mOver = (k: Int) => s"(CAST(s$k AS DOUBLE) / CAST(n AS DOUBLE))"
  private val mM2 = s"(${mOver(2)} - $mMean * $mMean)"
  private val mM3 = s"(${mOver(3)} - 3.0 * $mMean * ${mOver(2)} + " +
    s"2.0 * $mMean * $mMean * $mMean)"
  private val mM4 = s"(${mOver(4)} - 4.0 * $mMean * ${mOver(3)} + " +
    s"6.0 * $mMean * $mMean * ${mOver(2)} - " +
    s"3.0 * $mMean * $mMean * $mMean * $mMean)"
  private[graft] val momentSkewSql = s"$mM3 / ($mM2 * sqrt($mM2))"
  private[graft] val momentKurtSql = s"$mM4 / ($mM2 * $mM2) - 3.0"

  /** agg_linreg finishes, shared VERBATIM with the oracle (same
    * discipline as [[momentSkewSql]]): the decimal sums n·sxy − sx·sy
    * etc. are EXACT (decimal arithmetic, no rounding at these
    * magnitudes), so casting each to double and dividing is one IEEE
    * op both engines round identically. r² squares AFTER the double
    * cast — squaring the decimal first could exceed precision 38. */
  private val lrNum = "CAST(n * sxy - sx * sy AS DOUBLE)"
  private val lrDenX = "CAST(n * sxx - sx * sx AS DOUBLE)"
  private val lrDenY = "CAST(n * syy - sy * sy AS DOUBLE)"
  private[graft] val linregSlopeSql = s"$lrNum / $lrDenX"
  private[graft] val linregInterceptSql =
    s"(CAST(sy AS DOUBLE) - ($linregSlopeSql) * CAST(sx AS DOUBLE)) / " +
      "CAST(n AS DOUBLE)"
  private[graft] val linregR2Sql = s"($lrNum * $lrNum) / ($lrDenX * $lrDenY)"

  /** agg_mad robust-z finish, shared VERBATIM with the oracle:
    * nullif guards the MAD = 0 group (≥50% identical
    * values is legal input; Infinity survives differently in the two
    * engines' round6, NULL identically). */
  private[graft] val madRobustZSql = "maxdev / (1.4826 * nullif(mad, 0))"

  /** agg_gini finish, shared VERBATIM with the oracle: exact BIGINT
    * inputs (n, Σx, Σ i·x), one IEEE expression. */
  private[graft] val giniSql =
    "(2.0 * CAST(srx AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * " +
      "CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))"

  /** agg_ttest finishes, shared VERBATIM with the oracle. Inputs are
    * the exact per-group sums (n1, s1, ss1) and corpus totals (n, sy,
    * syy); the rest-group sums are exact DECIMAL differences computed
    * INSIDE the string so both engines subtract before the one double
    * cast. Sample variance via the Σy² − (Σy)²/n form — every operand
    * exactly representable (< 2⁵³ at the graded scales), then pure
    * IEEE. */
  private val ttN1 = "CAST(n1 AS DOUBLE)"
  private val ttN2 = "CAST(n - n1 AS DOUBLE)"
  private[graft] val ttestMeanSql = s"(CAST(s1 AS DOUBLE) / $ttN1)"
  private[graft] val ttestMeanRestSql = s"(CAST(sy - s1 AS DOUBLE) / $ttN2)"
  private val ttV1 = s"((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
    s"CAST(s1 AS DOUBLE) / $ttN1) / ($ttN1 - 1.0))"
  private val ttV2 = s"((CAST(syy - ss1 AS DOUBLE) - " +
    s"CAST(sy - s1 AS DOUBLE) * CAST(sy - s1 AS DOUBLE) / $ttN2) / " +
    s"($ttN2 - 1.0))"
  private val ttSe2 = s"($ttV1 / $ttN1 + $ttV2 / $ttN2)"
  private[graft] val ttestTSql =
    s"($ttestMeanSql - $ttestMeanRestSql) / sqrt($ttSe2)"
  private[graft] val ttestDofSql =
    s"($ttSe2 * $ttSe2) / (($ttV1 / $ttN1) * ($ttV1 / $ttN1) / " +
      s"($ttN1 - 1.0) + ($ttV2 / $ttN2) * ($ttV2 / $ttN2) / ($ttN2 - 1.0))"

  val oracle: Map[String, String] = Map(
    "agg_bitmap_distinct" ->
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "agg_groupby" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        oSumDec("l_quantity") + " AS sum_qty, " +
        oSumDec("l_extendedprice") + " AS sum_price, " +
        "CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price, " +
        "CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price, " +
        oRound6("CAST(" + oSumDec("l_extendedprice") +
        " AS DOUBLE) / count(*)") + " AS avg_price " +
        "FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "agg_global" ->
      ("SELECT count(*) AS cnt, " + oSumDec("l_extendedprice") + " AS sum_price, " +
        "min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship, " +
        "count(DISTINCT l_partkey) AS dparts FROM lineitem"),
    "agg_count_distinct" ->
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS d_part, " +
        "count(DISTINCT l_suppkey) AS d_supp, " +
        "count(DISTINCT CAST(l_partkey AS VARCHAR) || '_' || CAST(l_suppkey AS VARCHAR)) AS d_ps " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "agg_filtered" ->
      ("SELECT l_linestatus, count(*) FILTER (WHERE l_discount > 0.05) AS cnt_disc, " +
        "coalesce(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        "FILTER (WHERE l_quantity > 25) AS DOUBLE), " +
        "CAST(0 AS DOUBLE)) AS sum_hi " +
        "FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"),
    "agg_stats_exact" ->
      ("WITH s AS (SELECT l_returnflag, count(*) AS n, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_extendedprice AS DECIMAL(18,2))) AS sxx " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, n, " +
        oRound6("CAST(sx AS DOUBLE) / n") + " AS mean, " +
        oRound6("CAST(n * sxx - sx * sx AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * (n - 1))") + " AS var_samp, " +
        oRound6("sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * (n - 1)))") + " AS stddev " +
        "FROM s ORDER BY l_returnflag"),
    "agg_corr_exact" ->
      ("WITH s AS (SELECT l_returnflag, count(*) AS n, " +
        "sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy, " +
        "sum(CAST(l_quantity AS DECIMAL(18,2)) * " +
        "CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy, " +
        "sum(CAST(l_quantity AS DECIMAL(18,2)) * " +
        "CAST(l_quantity AS DECIMAL(18,2))) AS sxx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_extendedprice AS DECIMAL(18,2))) AS syy " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, n, " +
        oRound6("CAST(n * sxy - sx * sy AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * (n - 1))") + " AS covar_samp, " +
        oRound6("CAST(n * sxy - sx * sy AS DOUBLE) / " +
          "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
          "sqrt(CAST(n * syy - sy * sy AS DOUBLE)))") + " AS corr " +
        "FROM s ORDER BY l_returnflag"),
    "agg_moments" ->
      ("WITH x AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x " +
        "FROM lineitem), " +
        "s AS (SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(x) AS BIGINT) AS s1, " +
        "CAST(sum(x * x) AS BIGINT) AS s2, " +
        "CAST(sum(x * x * x) AS BIGINT) AS s3, " +
        "CAST(sum(x * x * x * x) AS BIGINT) AS s4 " +
        "FROM x GROUP BY l_returnflag) " +
        "SELECT l_returnflag, n, s1, s2, s3, s4, " +
        oRound6(momentSkewSql) + " AS skew, " +
        oRound6(momentKurtSql) + " AS kurt " +
        "FROM s ORDER BY l_returnflag"),
    "agg_linreg" ->
      ("WITH s AS (SELECT l_returnflag, count(*) AS n, " +
        "sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy, " +
        "sum(CAST(l_quantity AS DECIMAL(18,2)) * " +
        "CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy, " +
        "sum(CAST(l_quantity AS DECIMAL(18,2)) * " +
        "CAST(l_quantity AS DECIMAL(18,2))) AS sxx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_extendedprice AS DECIMAL(18,2))) AS syy " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, n, " +
        oRound6(linregSlopeSql) + " AS slope, " +
        oRound6(linregInterceptSql) + " AS intercept, " +
        oRound6(linregR2Sql) + " AS r2 " +
        "FROM s ORDER BY l_returnflag"),
    "agg_mad" ->
      ("WITH b AS (SELECT l_returnflag, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "AS xc FROM lineitem), " +
        "m AS (SELECT l_returnflag, count(*) AS n, " +
        "quantile_cont(xc, 0.5) AS med FROM b GROUP BY l_returnflag), " +
        "dv AS (SELECT b.l_returnflag, n, med, " +
        "abs(CAST(xc AS DOUBLE) - med) AS dev " +
        "FROM b JOIN m ON b.l_returnflag = m.l_returnflag), " +
        "s AS (SELECT l_returnflag, n, med, " +
        "quantile_cont(dev, 0.5) AS mad, max(dev) AS maxdev " +
        "FROM dv GROUP BY l_returnflag, n, med) " +
        "SELECT l_returnflag, n, " +
        oRound6("med / 100.0") + " AS median, " +
        oRound6("mad / 100.0") + " AS mad, " +
        oRound6(madRobustZSql) + " AS max_robust_z " +
        "FROM s ORDER BY l_returnflag"),
    "agg_gini" ->
      ("WITH b AS (SELECT l_returnflag, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "AS xc FROM lineitem), " +
        "r AS (SELECT l_returnflag, xc, row_number() OVER " +
        "(PARTITION BY l_returnflag ORDER BY xc) AS rn FROM b), " +
        "s AS (SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(xc) AS BIGINT) AS sx, " +
        "CAST(sum(rn * xc) AS BIGINT) AS srx FROM r " +
        "GROUP BY l_returnflag) " +
        "SELECT l_returnflag, n, " +
        oRound6(giniSql) + " AS gini " +
        "FROM s ORDER BY l_returnflag"),
    "agg_ttest" ->
      ("WITH g AS (SELECT l_returnflag, count(*) AS n1, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s1, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_extendedprice AS DECIMAL(18,2))) AS ss1 " +
        "FROM lineitem GROUP BY l_returnflag), " +
        "tot AS (SELECT sum(n1) AS n, sum(s1) AS sy, sum(ss1) AS syy " +
        "FROM g) " +
        "SELECT l_returnflag, n1, " +
        oRound6(ttestMeanSql) + " AS mean_g, " +
        oRound6(ttestMeanRestSql) + " AS mean_rest, " +
        oRound6(ttestTSql) + " AS t, " +
        oRound6(ttestDofSql) + " AS dof " +
        "FROM g, tot ORDER BY l_returnflag"),
    "agg_argmax" ->
      ("SELECT o_custkey, o_orderdate AS last_date, " +
        "o_orderkey AS last_orderkey, o_totalprice AS last_price FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) " +
        "WHERE rn = 1 ORDER BY o_custkey"),
    "agg_rollup" -> cubeSql("ROLLUP(l_returnflag, l_linestatus)"),
    "agg_cube" -> cubeSql("CUBE(l_returnflag, l_linestatus)"),
    "agg_grouping_sets" -> cubeSql(
      "GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())"),
    "agg_histogram" ->
      ("SELECT CAST(least(floor((o_totalprice - 0.0) / 25000.0), 19) " +
        "AS INTEGER) AS bucket, count(*) AS cnt " +
        "FROM orders GROUP BY bucket ORDER BY bucket"),
    "agg_percentile" ->
      ("SELECT o_orderstatus, " +
        oRound6("quantile_cont(o_totalprice, 0.5)") + " AS p50, " +
        oRound6("quantile_cont(o_totalprice, 0.9)") + " AS p90 " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "agg_mode" ->
      ("SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM " +
        "(SELECT l_returnflag, l_quantity, count(*) AS cnt, " +
        "row_number() OVER (PARTITION BY l_returnflag " +
        "ORDER BY count(*) DESC, l_quantity) AS rn " +
        "FROM lineitem GROUP BY l_returnflag, l_quantity) " +
        "WHERE rn = 1 ORDER BY l_returnflag"),
    "agg_collect_sorted" ->
      ("SELECT l_orderkey, string_agg(CAST(l_linenumber AS VARCHAR), ',' " +
        "ORDER BY l_linenumber) AS lines FROM lineitem " +
        "GROUP BY l_orderkey ORDER BY l_orderkey"),
    "agg_pivot" ->
      ("SELECT l_returnflag, " +
        "coalesce(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        "FILTER (WHERE l_linestatus = 'F') AS DOUBLE), " +
        "CAST(0 AS DOUBLE)) AS sum_f, " +
        "coalesce(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        "FILTER (WHERE l_linestatus = 'O') AS DOUBLE), " +
        "CAST(0 AS DOUBLE)) AS sum_o " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "agg_unpivot" ->
      ("WITH p AS (SELECT l_returnflag, " +
        "coalesce(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        "FILTER (WHERE l_linestatus = 'F') AS DOUBLE), " +
        "CAST(0 AS DOUBLE)) AS sum_f, " +
        "coalesce(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        "FILTER (WHERE l_linestatus = 'O') AS DOUBLE), " +
        "CAST(0 AS DOUBLE)) AS sum_o " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, 'sum_f' AS status, sum_f AS sum_price FROM p " +
        "UNION ALL " +
        "SELECT l_returnflag, 'sum_o' AS status, sum_o AS sum_price FROM p " +
        "ORDER BY l_returnflag, status"))
}

/** Union of serialized count-min sketches: counter arrays add, so the
  * merge is commutative + associative and, with a fixed seed, the
  * merged serialization is byte-deterministic — the property that makes
  * CMS columns safe to persist per partition and roll up by merge
  * (same depth/width/seed required; CountMinSketch.mergeInPlace
  * enforces that). Null-safe zero so empty partitions merge cleanly. */
object CmsMergeAgg extends org.apache.spark.sql.expressions
    .Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  import org.apache.spark.util.sketch.CountMinSketch
  private def merge2(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a == null) b
    else if (b == null) a
    else {
      val sa = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(a))
      sa.mergeInPlace(
        CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b)))
      val out = new java.io.ByteArrayOutputStream()
      sa.writeTo(out)
      out.toByteArray
    }
  override def zero: Array[Byte] = null
  override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] =
    merge2(buf, in)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    merge2(a, b)
  override def finish(r: Array[Byte]): Array[Byte] = r
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
}
