package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Graph analytics over relational edge sets — the reference's own
  * downstream domain (the GraphSense platform's whole purpose is graph
  * analytics over ingested ledger data; SURVEY §0 [PUBLIC]). The engine
  * already ships connected components ([[TextSimOps.clusterCC]]); this
  * adds the other canonical iterative-propagation member, PageRank.
  *
  * Determinism design: ranks are SCALED INTEGERS (1.0 ≡ 10¹²) and every
  * step is integer add / multiply / floor-division — so three unrolled
  * iterations hash-match the DuckDB oracle exactly, which no
  * double-arithmetic PageRank can do (per-node neighbor sums fold in
  * engine- and partition-dependent order). Damping 0.85 is the integer
  * pair (×85, div 100).
  *
  * Scale notes (100 TB): the per-iteration plan is the distributed PR
  * shape — one shuffle keyed on the destination node for the
  * contribution sum (2-phase: map-side partial sums per partition), the
  * out-degree dim joined map-side, and the rank frame referenced ONCE
  * per iteration so the unmaterialized plan stays linear in iterations
  * (the CC discipline, TextSimOps §3). The edge+degree table is
  * localCheckpointed once (re-read every iteration otherwise). Sink
  * nodes (no out-edges) drop their mass — the standard simplification,
  * mirrored identically in the oracle.
  */
object GraphOps {
  private val One = 1000000000000L // rank 1.0 in fixed-point
  private val Iters = 3
  // part node ids, disjoint from suppliers; private[graft] so the
  // brute-force reference tests build the SAME node ids from one
  // constant instead of duplicating the literal
  private[graft] val PartOffset = 10000000L
  private val KcoreK = 3      // k-core threshold
  private val KcoreRounds = 6 // peel budget; measured convergence ≤ 3

  private[graft] def pagerank(s: SparkSession, d: String): DataFrame = {
    // pinned (r15): edges feeds FOUR subtree references (the degree
    // agg, the join's probe side, and both node-set branches) whose
    // exchange subtrees differ, so nothing above the distinct was
    // reused — the row-scaled lineitem distinct executed twice per run
    // (two identical 4.9 MB shuffle writes, measured at b0e3f58) under
    // the withDeg and nodes pins. One pin, every consumer reads
    // blocks — the ccCore edge-list discipline applied here.
    val edges = t(s, d, "lineitem")
      .select(col("l_suppkey").as("u"),
        (col("l_partkey") + PartOffset).as("v"))
      .distinct()
      .pinned
    val withDeg = edges
      .join(edges.groupBy(col("u")).agg(count(lit(1)).as("deg")), "u")
      .pinned
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node"))).distinct()
      .pinned
    var rank = nodes.select(col("node"), lit(One).as("r"))
    for (_ <- 1 to Iters) {
      val contrib = withDeg
        .join(rank.select(col("node").as("u2"), col("r").as("ru")),
          col("u") === col("u2"))
        .select(col("v").as("node"), expr("ru div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      rank = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"${15 * One / 100} + (85 * coalesce(m, 0L)) div 100")
            .as("r"))
    }
    rank.orderBy(col("r").desc, col("node")).limit(50)
  }

  val queries: Map[String, QFn] = Map(
    "graph_pagerank" -> ((s: SparkSession, d: String) => pagerank(s, d)),

    // k-hop neighborhood (BFS min-hop distance) from one source node —
    // the reference platform's signature query shape ("is this address
    // within k hops of that entity"; SURVEY §0 [PUBLIC]). 4 rounds of
    // DELTA-FRONTIER expansion over the undirected supplier↔part edge
    // set (VERDICT r6 item 4): each round joins edges against ONLY the
    // nodes first reached last round — with unit weights the discovery
    // hop IS the min hop, so excluding already-settled nodes (keyed
    // left-anti against the accumulated distance table) is exact, and
    // the expansion input shrinks from |reached| to |frontier| (near
    // zero once the component saturates, vs the full-relaxation shape
    // that rescans the whole distance table every round — 11 s at sf0.1
    // in r7). Each frontier is pinned (referenced by both the next
    // expansion and the final union); dist stays a lazy union of pinned
    // frontiers, so no round re-executes prior rounds. At 100 TB this
    // is the frontier-work-bound BFS a Pregel engine runs. Same result
    // as full relaxation; the oracle keeps the relaxation form (DuckDB
    // computes either instantly at oracle scale).
    "graph_bfs_hops" -> ((s: SparkSession, d: String) => {
      // union-of-two-selects is safe HERE (r15 audit): both branches
      // are bare projections of the SAME distinct exchange, so
      // exchange reuse dedups the row-scaled subtree (one distinct
      // write, read twice, measured at b0e3f58) — unlike pagerank's four
      // differing consumers, which needed the pin
      val e = t(s, d, "lineitem")
        .select(col("l_suppkey").as("u"),
          (col("l_partkey") + PartOffset).as("v"))
        .distinct()
      val edges = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
        .pinned
      var frontier = edges.sparkSession.range(1)
        .select(lit(1L).as("node"), lit(0).as("hops"))
        .pinned
      var dist = frontier
      for (_ <- 1 to 4) {
        val reached = edges
          .join(frontier.select(col("node").as("u2"), col("hops").as("hu")),
            col("u") === col("u2"))
          .select(col("v").as("node"), (col("hu") + 1).as("hops"))
          .groupBy(col("node")).agg(min(col("hops")).as("hops"))
        frontier = reached
          .join(dist.select(col("node").as("n2")),
            col("node") === col("n2"), "left_anti")
          .pinned
        dist = dist.union(frontier)
      }
      dist.orderBy("node")
    }),

    // Degree distribution of the supplier→part edge set: per-part
    // distinct-supplier degree, then node count per degree — the first
    // profiling query run on any new graph. Two keyed 2-phase aggs
    // (edge distinct is itself the first); the output is
    // max-degree-sized. At 100 TB the same plan holds: no node's
    // neighbor list is ever materialized, only counted.
    "graph_degree_dist" -> ((s: SparkSession, d: String) => {
      val edges = t(s, d, "lineitem")
        .select(col("l_suppkey").as("u"), col("l_partkey").as("v"))
        .distinct()
      edges.groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("nodes"))
        .orderBy("deg")
    }),

    // Triangle counting (top-50 nodes by triangle participation) over
    // the part CO-PURCHASE graph (parts sharing an order — the
    // supplier→part set is bipartite, triangle-free by construction).
    // DEGREE-ORIENTED counting, the at-scale exact algorithm (the
    // MapReduce-era "node-iterator++" / Cohen's scheme): orient every
    // undirected edge from the (degree, id)-smaller endpoint to the
    // larger, so a triangle with orientation ranks a<b<c is found
    // EXACTLY once as path a→b→c closed by a→c — no per-triangle dedup
    // and, crucially, wedge work is Σ outdeg² where orientation caps
    // outdeg at O(√m) on any degree distribution: the quadratic
    // blowup a hub node causes under naive neighbor-pairing cannot
    // happen. Every step is an equi-join or 2-phase agg; the
    // co-purchase pair expansion is bounded by parts-per-order (≤7 on
    // this corpus shape), not by node degree. The graph is built over a
    // deterministic 1/5 order subset (the sample_split_hash
    // discipline): the FULL co-purchase graph on this corpus is
    // near-complete (20k parts, ~10⁶ edges at sf0.1 — wedge work ~10⁸),
    // which benchmarks corpus density, not the operator; the plan is
    // identical at any subset rate including 1.
    "graph_common_neighbors" -> ((s: SparkSession, d: String) => {
      // Link prediction by common-neighbor count — the standard
      // first-order score (Liben-Nowell & Kleinberg 2003): for every
      // supplier pair, how many parts both touch in the bipartite
      // supplier→part edge set; top-50 candidate links by score. The
      // plan is the POSTINGS shape shared with the text-sim family:
      // one equi-join on the shared neighbor v (never supplier ×
      // supplier), one 2-phase pair count — pair work is Σ deg(v)²,
      // v-degree capped by the same deterministic 1/5 order subset as
      // graph_triangle_count (full-corpus v-degrees benchmark density,
      // not the operator). At 100 TB a hot v is prefix-capped exactly
      // like a stop-token in sim_jaccard_pairs (df-ordered prefix
      // filter, TextSimOps): truncating the hottest neighbor lists
      // bounds the quadratic term with a quantified score floor.
      val e = t(s, d, "lineitem")
        .where(pmod(col("l_orderkey"), lit(5)) === 0)
        .select(col("l_suppkey").as("u"), col("l_partkey").as("v"))
        .distinct()
      e.select(col("u").as("u1"), col("v"))
        .join(e.select(col("u").as("u2"), col("v")), "v")
        .where(col("u1") < col("u2"))
        .groupBy(col("u1"), col("u2")).agg(count(lit(1)).as("cn"))
        .orderBy(col("cn").desc, col("u1"), col("u2")).limit(50)
    }),

    // k-core decomposition (k = 3): iteratively peel nodes of
    // subgraph-degree < k until fixpoint — the standard graph-mining
    // densest-region primitive (community seeds, spam/bot cores,
    // visualization shells). Distributed shape: the directed edge list
    // is pinned ONCE; each peel round is two node-set semi-joins (the
    // alive set, node-count-sized and shrinking) + one 2-phase degree
    // agg — at 100 TB each round moves |alive| keys, never the edge
    // payload, and the measured round counts (3 at sf0.01/sf0.1, 1 at
    // sf0.001) sit far under the 6-round budget. Convergence guard:
    // the output column IS the recomputed in-core degree, wrapped in
    // raise_error if any node's degree fell below k (including nodes
    // isolated by the last round, caught via the left join + coalesce
    // 0) — an under-budgeted peel can never silently emit a non-core.
    // The oracle unrolls the same 6 rounds + guard degree as plain
    // CTEs (the graph_pagerank discipline).
    "graph_kcore" -> ((s: SparkSession, d: String) =>
      kcore(s, d, KcoreRounds)),

    // Connected components as a graded graph key — [[ccCore]] run over
    // a sparse supplier↔part edge slice (quantity-1 lines of every 7th
    // order: 756 components, max size 17 at sf0.1 — measured; the full
    // bipartite graph is ONE giant component through the supplier hubs,
    // which benchmarks corpus density, not the operator, and its Θ(Σ
    // comp²) recursive-CTE oracle would be intractable). checked = true:
    // the convergence guard makes a silent under-budget mislabeling
    // impossible. The oracle is an INDEPENDENT formulation (transitive
    // reachability via recursive CTE, min label per node) — two
    // different algorithms must agree on every node. rounds = 4 covers
    // radius 2⁵−2 = 30 ≫ the max component diameter 16.
    "graph_cc" -> ((s: SparkSession, d: String) => {
      val pairs = t(s, d, "lineitem")
        .where(col("l_quantity") === 1 && col("l_orderkey") % 7 === 0)
        .select(col("l_suppkey").as("a"),
          (col("l_partkey") + PartOffset).as("b"))
        .distinct()
      val nodes = pairs.select(col("a").as("v"))
        .union(pairs.select(col("b").as("v"))).distinct()
      ccCore(nodes, pairs, rounds = 4, checked = true, "graph_cc")
        .select(col("v").as("node"), col("l").as("comp"))
        .orderBy("node")
    }),

    "graph_triangle_count" -> ((s: SparkSession, d: String) => {
      val lp = t(s, d, "lineitem")
        .where(pmod(col("l_orderkey"), lit(5)) === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val und = lp.select(col("o"), col("p").as("x"))
        .join(lp.select(col("o"), col("p").as("y")), "o")
        .where(col("x") < col("y"))
        .select(col("x"), col("y")).distinct()
      triangleCounts(und)
        .orderBy(col("tri_cnt").desc, col("node")).limit(50)
    }))

  /** k-core peeling body behind the `graph_kcore` key, exposed with a
    * round budget so the convergence guard is testable both ways
    * (NewOpsSpec: a 0-round budget must raise on this corpus, the
    * shipped budget must converge — the clusterCC discipline). */
  private[graft] def kcore(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    val e0 = t(s, d, "lineitem")
      .where(col("l_quantity") <= 2)
      .select(col("l_suppkey").as("a"),
        (col("l_partkey") + PartOffset).as("b"))
      .distinct()
    val edges = e0.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .pinned
    def coreDeg(alive: DataFrame): DataFrame = edges
      .join(alive.select(col("n").as("au")), col("u") === col("au"),
        "left_semi")
      .join(alive.select(col("n").as("av")), col("v") === col("av"),
        "left_semi")
      .groupBy(col("u")).agg(count(lit(1)).as("dg"))
    var alive = edges.select(col("u").as("n")).distinct().pinned
    for (_ <- 1 to rounds) {
      alive = coreDeg(alive).where(col("dg") >= KcoreK)
        .select(col("u").as("n")).pinned
    }
    alive.join(coreDeg(alive), col("n") === col("u"), "left")
      .select(col("n").as("node"),
        when(coalesce(col("dg"), lit(0L)) < KcoreK, raise_error(lit(
          s"graph_kcore: peeling not converged after $rounds " +
            "rounds; increase rounds")))
          .otherwise(col("dg")).as("core_deg"))
      .orderBy("node")
  }

  /** Generic distributed connected components — min-label propagation
    * with pointer jumping and round-1 graph contraction, over an
    * arbitrary undirected pair set `(a, b)` and node set `(v)` (nodes
    * absent from every pair stay singleton components). Returns
    * `(v, l)` with l = the component's minimum node id, unsorted.
    * Promoted from [[TextSimOps.clusterCC]]'s inlined form in r11 so
    * graph keys and the dedup family share ONE audited implementation.
    *
    * Each round is propagate (min label over the 1-hop neighborhood)
    * THEN shortcut (pointer jump, l ← l(l(v))), so converged radius
    * roughly doubles per round and the budget needed is O(log diameter)
    * — the converged radius after r rounds is 2^(r+1)−2 (InvariantSpec's
    * chain-guard contract). With `checked = true` the plan appends ONE
    * guard propagate round and raises at runtime if any label still
    * changed: stationarity under monotone min-propagation implies labels
    * are constant per component and each component's constant is its min
    * member id (l(v) ≤ v always), so an unconverged or wrong assignment
    * can never be silently emitted.
    *
    * Scale notes (100 TB): both edge directions come from ONE pass over
    * the pair subtree (a union of two selects would execute it twice);
    * the edge list is the ONE deliberate materialization — every round
    * references it, and leaving it lazy re-executes the entire pair
    * generation once per round whenever exchange/stage reuse declines to
    * dedup the copies (measured: 20 s → 53 s run-to-run at sf0.1 purely
    * on that reuse lottery). localCheckpoint pins it on the executors —
    * exactly what GraphX does per iteration; on a cluster with
    * lineage-loss concerns swap for a reliable checkpoint directory
    * (`spark.graft.checkpointDir`). Each round's assignment is pinned
    * too: Spark performs no CSE across self-joins, so the shortcut's
    * assign ⋈ assign shape would re-execute the whole upstream 3^rounds
    * times if left lazy. After round 1 the graph CONTRACTS: endpoints
    * map through the round-1 labels, now-internal edges drop, distinct —
    * the contracted edge set is inter-cluster-edge-sized (tiny), rounds
    * 2..N run on label vertices, and the final labels compose through
    * the round-1 map. Exactness: contraction preserves connectivity
    * (quotient graph) and the component min survives as a label (the min
    * member m has no smaller neighbor, so l₁(m) = m). */
  private[graft] def ccCore(nodes: DataFrame, pairs: DataFrame,
      rounds: Int, checked: Boolean, errName: String): DataFrame = {
    val edges = pairs
      .select(explode(array(
        struct(col("a").as("ev"), col("b").as("eu")),
        struct(col("b").as("ev"), col("a").as("eu")))).as("e"))
      .select(col("e.ev").as("ev"), col("e.eu").as("eu"))
      .union(nodes.select(col("v").as("ev"), col("v").as("eu")))
      .pinned
    def stepOn(e: DataFrame)(a: DataFrame): DataFrame = e
      .join(a.select(col("v").as("eu2"), col("l").as("nl")),
        col("eu") === col("eu2"))
      .groupBy(col("ev")).agg(min(col("nl")).as("mn"))
      .select(col("ev").as("v"), col("mn").as("l"))
    def step(a: DataFrame): DataFrame = stepOn(edges)(a)
    // shortcut: l ← l(l(v)). Labels are always member ids (l(v) ≤ v,
    // same component), so the label-to-vertex join is total.
    def jump(a: DataFrame): DataFrame = {
      val p = a.pinned
      p.join(p.select(col("v").as("v2"), col("l").as("l2")),
          col("l") === col("v2"))
        .select(col("v"), col("l2").as("l"))
    }
    // Round 1 runs on the full graph — identical label state to the
    // uncontracted formulation's round 1 (the convergence-guard test
    // depends on exactly this state at a 1-round budget).
    var assign = jump(step(nodes.select(col("v"), col("v").as("l"))))
    if (rounds >= 2) {
      val a1 = assign.pinned
      val labs = a1.select(col("l")).distinct()
      val ec = edges
        .join(a1.select(col("v").as("cv"), col("l").as("lv")),
          col("ev") === col("cv"))
        .join(a1.select(col("v").as("cu"), col("l").as("lu")),
          col("eu") === col("cu"))
        .where(col("lv") =!= col("lu"))
        .select(col("lv").as("ev"), col("lu").as("eu"))
        .distinct()
        .union(labs.select(col("l").as("ev"), col("l").as("eu")))
        .pinned
      var sub = labs.select(col("l").as("v"), col("l").as("l"))
      for (_ <- 2 to rounds) sub = jump(stepOn(ec)(sub))
      assign = a1
        .join(sub.select(col("v").as("sv"), col("l").as("fl")),
          col("l") === col("sv"))
        .select(col("v"), col("fl").as("l"))
    }
    if (!checked) assign
    else step(assign)
      .join(assign.select(col("v").as("v0"), col("l").as("l0")),
        col("v") === col("v0"))
      .select(col("v"),
        when(col("l") =!= col("l0"), raise_error(lit(
          s"$errName: label propagation not converged after " +
            s"$rounds rounds — graph diameter exceeds the round budget; " +
            "increase rounds")))
          .otherwise(col("l")).as("l"))
  }

  /** Per-node triangle participation counts over an undirected DISTINCT
    * edge set `(x, y)` with x < y — the degree-oriented algorithm (see
    * the `graph_triangle_count` entry). Factored out so
    * RewriteEquivalenceSpec can fuzz it against brute force on
    * adversarial synthetic graphs (planted hubs, cliques). Nodes with
    * zero triangles are absent from the output. */
  private[graft] def triangleCounts(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("x"), col("y"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val withDeg = und
      .join(deg.select(col("n").as("x2"), col("dg").as("dx")),
        col("x") === col("x2"))
      .join(deg.select(col("n").as("y2"), col("dg").as("dy")),
        col("y") === col("y2"))
    val lower = col("dx") < col("dy") ||
      (col("dx") === col("dy") && col("x") < col("y"))
    val dir = withDeg.select(
        when(lower, col("x")).otherwise(col("y")).as("u"),
        when(lower, col("y")).otherwise(col("x")).as("v"))
      .pinned // referenced 3× below (CC discipline)
    val tri = dir
      .join(dir.select(col("u").as("v2"), col("v").as("w")),
        col("v") === col("v2"))
      .join(dir.select(col("u").as("u3"), col("v").as("w3")),
        col("u") === col("u3") && col("w") === col("w3"), "left_semi")
      .select(col("u"), col("v"), col("w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
  }

  val oracle: Map[String, String] = Map(
    "graph_pagerank" -> {
      def iter(i: Int) =
        s"s$i AS (SELECT v AS node, sum(r // deg) AS m " +
          s"FROM ed JOIN r${i - 1} ON ed.u = r${i - 1}.node GROUP BY v), " +
          s"r$i AS (SELECT n.node, CAST(${15 * One / 100} + " +
          s"(85 * coalesce(m, 0)) // 100 AS BIGINT) AS r " +
          s"FROM n LEFT JOIN s$i USING (node))"
      "WITH e AS (SELECT DISTINCT l_suppkey AS u, " +
        s"l_partkey + $PartOffset AS v FROM lineitem), " +
        "dg AS (SELECT u, count(*) AS deg FROM e GROUP BY u), " +
        "ed AS (SELECT e.u, e.v, dg.deg FROM e JOIN dg USING (u)), " +
        "n AS (SELECT u AS node FROM e UNION SELECT v FROM e), " +
        s"r0 AS (SELECT node, CAST($One AS BIGINT) AS r FROM n), " +
        iter(1) + ", " + iter(2) + ", " + iter(3) + " " +
        "SELECT node, r FROM r3 ORDER BY r DESC, node LIMIT 50"
    },
    "graph_kcore" -> {
      def round(i: Int) =
        s"d$i AS (SELECT u, count(*) AS dg FROM ed " +
          s"JOIN a${i - 1} x ON ed.u = x.n JOIN a${i - 1} y ON ed.v = y.n " +
          "GROUP BY u), " +
          s"a$i AS (SELECT u AS n FROM d$i WHERE dg >= $KcoreK)"
      "WITH e0 AS (SELECT DISTINCT l_suppkey AS a, " +
        s"l_partkey + $PartOffset AS b FROM lineitem " +
        "WHERE l_quantity <= 2), " +
        "ed AS (SELECT a AS u, b AS v FROM e0 " +
        "UNION ALL SELECT b AS u, a AS v FROM e0), " +
        "a0 AS (SELECT DISTINCT u AS n FROM ed), " +
        (1 to KcoreRounds).map(round).mkString(", ") + ", " +
        s"dg7 AS (SELECT u, count(*) AS dg FROM ed " +
        s"JOIN a$KcoreRounds x ON ed.u = x.n " +
        s"JOIN a$KcoreRounds y ON ed.v = y.n GROUP BY u) " +
        s"SELECT n AS node, CAST(coalesce(dg, 0) AS BIGINT) AS core_deg " +
        s"FROM a$KcoreRounds LEFT JOIN dg7 ON n = u ORDER BY node"
    },
    "graph_cc" ->
      ("WITH RECURSIVE e0 AS (SELECT DISTINCT l_suppkey AS a, " +
        s"l_partkey + $PartOffset AS b FROM lineitem " +
        "WHERE l_quantity = 1 AND l_orderkey % 7 = 0), " +
        "ed AS (SELECT a AS v, b AS u FROM e0 " +
        "UNION ALL SELECT b AS v, a AS u FROM e0), " +
        "n AS (SELECT a AS node FROM e0 UNION SELECT b FROM e0), " +
        "reach(v, l) AS (SELECT node, node FROM n " +
        "UNION SELECT ed.v, r.l FROM ed JOIN reach r ON ed.u = r.v) " +
        "SELECT v AS node, min(l) AS comp FROM reach " +
        "GROUP BY v ORDER BY node"),
    "graph_degree_dist" ->
      ("WITH e AS (SELECT DISTINCT l_suppkey AS u, l_partkey AS v " +
        "FROM lineitem), " +
        "d AS (SELECT v, count(*) AS deg FROM e GROUP BY 1) " +
        "SELECT deg, count(*) AS nodes FROM d GROUP BY 1 ORDER BY deg"),
    "graph_common_neighbors" ->
      ("WITH e AS (SELECT DISTINCT l_suppkey AS u, l_partkey AS v " +
        "FROM lineitem WHERE l_orderkey % 5 = 0) " +
        "SELECT a.u AS u1, b.u AS u2, count(*) AS cn " +
        "FROM e a JOIN e b ON a.v = b.v AND a.u < b.u " +
        "GROUP BY 1, 2 ORDER BY cn DESC, u1, u2 LIMIT 50"),
    "graph_triangle_count" ->
      ("WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p " +
        "FROM lineitem WHERE l_orderkey % 5 = 0), " +
        "und AS (SELECT DISTINCT a.p AS x, b.p AS y FROM lp a " +
        "JOIN lp b ON a.o = b.o AND a.p < b.p), " +
        "dgr AS (SELECT n, count(*) AS dg FROM (SELECT x AS n FROM und " +
        "UNION ALL SELECT y AS n FROM und) GROUP BY n), " +
        "d AS (SELECT CASE WHEN dx.dg < dy.dg OR (dx.dg = dy.dg AND x < y) " +
        "THEN x ELSE y END AS u, " +
        "CASE WHEN dx.dg < dy.dg OR (dx.dg = dy.dg AND x < y) " +
        "THEN y ELSE x END AS v " +
        "FROM und JOIN dgr dx ON und.x = dx.n JOIN dgr dy ON und.y = dy.n), " +
        "wg AS (SELECT e1.u AS u, e1.v AS v, e2.v AS w FROM d e1 " +
        "JOIN d e2 ON e1.v = e2.u), " +
        // (u,v) is unique in d (und is distinct), so the closing-edge
        // inner join cannot duplicate a wedge — same as Spark's semi
        "tri AS (SELECT wg.u, wg.v, wg.w FROM wg " +
        "JOIN d e3 ON e3.u = wg.u AND e3.v = wg.w) " +
        "SELECT node, count(*) AS tri_cnt FROM " +
        "(SELECT u AS node FROM tri UNION ALL SELECT v FROM tri " +
        "UNION ALL SELECT w FROM tri) GROUP BY node " +
        "ORDER BY tri_cnt DESC, node LIMIT 50"),
    "graph_bfs_hops" -> {
      def round(i: Int) =
        s"d$i AS (SELECT node, CAST(min(hops) AS INTEGER) AS hops FROM (" +
          s"SELECT node, hops FROM d${i - 1} " +
          s"UNION ALL SELECT e2.v AS node, d${i - 1}.hops + 1 AS hops " +
          s"FROM e2 JOIN d${i - 1} ON e2.u = d${i - 1}.node) GROUP BY node)"
      "WITH e AS (SELECT DISTINCT l_suppkey AS u, " +
        s"l_partkey + $PartOffset AS v FROM lineitem), " +
        "e2 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), " +
        "d0 AS (SELECT CAST(1 AS BIGINT) AS node, 0 AS hops), " +
        round(1) + ", " + round(2) + ", " + round(3) + ", " + round(4) + " " +
        "SELECT node, hops FROM d4 ORDER BY node"
    })
}
