package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Embedding-similarity operators beyond brute-force kNN (driver north
  * star): cosine near-dup pairs and a random-hyperplane LSH-bucketed ANN —
  * the scale path where brute force stops being an option.
  *
  * Scale notes: `dedup_embed` is EXACT all-pairs at a low threshold
  * (dot ≥ 0.3), and on this corpus that is inherently Θ(N²) compute —
  * measured at sf0.01: the embeddings are unit-norm near-uniform vectors
  * (990 of 124 750 pairs qualify, 94% of them in [0.3, 0.4), no cluster
  * gap; qualifying angles reach 72.5°), so no LSH/SRP candidate scheme
  * can reach recall 1 while pruning (at that angle a hyperplane bit
  * agrees with probability ~0.6 — any bucketing that prunes misses
  * near-threshold pairs). What DOES break at 100× is a broadcast
  * nested-loop join (one side must fit in every executor); the scale
  * design here is [[tiledPairs]]: a symmetric blocked self-join that
  * shuffles each vector to O(B) block-pair keys, bounding per-task
  * memory to 2 blocks = 2N/B vectors and distributing the N²/2 dot
  * products evenly — B scales as √(N²/target-work-per-task). When
  * approximate recall is acceptable, `knn_ann_srp`'s bucketing bounds
  * candidates (each table splits the corpus 2⁴ ways; the bits/tables
  * knobs trade recall for cost — at 100 TB the bucket id becomes the
  * shuffle/bucketing key so each query touches a handful of partitions,
  * an IVF-style layout).
  */
object SimilarityOps {
  /** Block count for [[tiledPairs]] — B(B+1)/2 = 36 block-pair tasks at
    * B = 8; per-task memory is 2N/B rows. At larger N, raise B ∝ N /
    * rows-per-block: replication factor is ~B per side, task count B²/2. */
  private val TileB = 8

  /** Symmetric blocked (tiled) self-join over `embeddings`-shaped input:
    * emits every unordered pair {u, v} (within equal `grp` values)
    * exactly once as (grp..., a = min id, b = max id, va, vb), via an
    * EQUI-join on (grp, block-pair) keys — never a broadcast nested
    * loop, never a driver-side broadcast of the corpus. Vector u with
    * block β(u) = hash(vec_id) mod B is replicated to the block-pair
    * rows {(i, β) : i ≤ β} ∪ {(β, j) : β ≤ j}; pair {u, v} meets in
    * exactly one (min(βu, βv), max(βu, βv)) task; diagonal tasks keep
    * ia < ib, off-diagonal tasks keep everything (sides are disjoint
    * blocks) and normalize (a, b) by least/greatest — sound because
    * every downstream use (dot product) is symmetric in the pair. */
  private[graft] def tiledPairs(emb: DataFrame,
      grp: Seq[String], payload: Seq[String] = Seq.empty): DataFrame = {
    val ss = emb.sparkSession
    import ss.implicits._
    val bp = (for (i <- 0 until TileB; j <- i until TileB) yield (i, j))
      .toDF("bi", "bj")
    val e = emb.withColumn("blk", pmod(hash(col("vec_id")), lit(TileB)))
    val left = e.join(broadcast(bp), col("blk") === col("bi"))
      .select(grp.map(col) ++ payload.map(p => col(p).as(p + "_a")) ++
        Seq(col("vec_id").as("ia"),
          col("embedding").as("xa"), col("bi"), col("bj")): _*)
    val right = e.join(broadcast(bp), col("blk") === col("bj"))
      .select(grp.map(g => col(g).as(s"${g}_r")) ++
        payload.map(p => col(p).as(p + "_b")) ++ Seq(
          col("vec_id").as("ib"), col("embedding").as("xb"),
          col("bi").as("bi_r"), col("bj").as("bj_r")): _*)
    val cond = grp.map(g => col(g) === col(s"${g}_r"))
      .foldLeft(col("bi") === col("bi_r") && col("bj") === col("bj_r"))(_ && _)
    // per-side payload columns (p_a / p_b) ride the pair rows; they are
    // NORMALIZED with the (a, b) ordering so p_a always belongs to `a`
    // — sound for the same reason least/greatest is: downstream uses
    // are symmetric in the pair.
    val ordered = col("ia") < col("ib")
    left.join(right, cond)
      .where(col("bi") =!= col("bj") || col("ia") < col("ib"))
      .select(grp.map(col) ++ payload.flatMap(p => Seq(
        when(ordered, col(p + "_a")).otherwise(col(p + "_b")).as(p + "_a"),
        when(ordered, col(p + "_b")).otherwise(col(p + "_a")).as(p + "_b")))
        ++ Seq(
          least(col("ia"), col("ib")).as("a"),
          greatest(col("ia"), col("ib")).as("b"),
          when(ordered, col("xa")).otherwise(col("xb")).as("va"),
          when(ordered, col("xb")).otherwise(col("xa")).as("vb")): _*)
  }

  private def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.DotProductF32(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** Deterministic random hyperplanes: 8 tables × 4 bits, seeded. */
  private lazy val planes: IndexedSeq[IndexedSeq[Array[Float]]] = {
    val rnd = new scala.util.Random(42L)
    IndexedSeq.fill(8)(IndexedSeq.fill(4)(
      Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
  }

  private def bucket(v: Column, table: Int): Column =
    (0 until 4).map { j =>
      when(dot(v, typedLit(planes(table)(j))) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** IVF coarse quantizer: nlist seeded unit-norm centroid directions.
    * Data-independent so cell assignment is a pure map-side expression
    * (no training pass, no collect, no shuffle) and bit-deterministic
    * across runs and partitionings. */
  private val IvfNlist = 16
  private val IvfNprobe = 6
  private[graft] lazy val ivfCentroids: IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(7L)
    IndexedSeq.fill(IvfNlist) {
      val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
  }

  /** Per-row array of the vector's dot with every centroid. */
  private def centroidDots(v: Column): Column =
    array(ivfCentroids.map(c => dot(v, typedLit(c))): _*)

  /** Trained IVF centroids (one Lloyd step over the seeded assignment):
    * per-cell per-dimension means in exact DECIMAL (deterministic —
    * double sums are partition-order dependent), L2-normalized, as a
    * ≤nlist-row (tcell, cvec) dim table for broadcast. */
  private[graft] def ivfMeans(emb: DataFrame): DataFrame =
    emb
      .withColumn("cds", centroidDots(col("embedding")))
      .withColumn("cell", expr("array_position(cds, array_max(cds))"))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("x").cast(DecimalType(28, 12))) / count(lit(1)))
        .cast("double").as("m"))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell").as("tcell"),
        expr("transform(pm, p -> p.m)").as("raw"))
      .withColumn("nrm", sqrt(expr(
        "aggregate(raw, 0D, (a, x) -> a + x * x)")))
      .select(col("tcell"),
        expr("transform(raw, x -> CAST(x / nrm AS FLOAT))").as("cvec"))

  /** Nearest-trained-centroid per vector from a (vec_id, tcell, cd)
    * scored frame: 2-phase max-of-struct argmax (no window), tie-broken
    * deterministically to the smallest cell id. → (vec_id, cell). */
  private[graft] def ivfArgmax(scored: DataFrame): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("cd"), (-col("tcell")).as("nt"))).as("best"))
      .select(col("vec_id"), (-col("best.nt")).as("cell"))

  /** The write-time IVF layout key: every vector's trained cell —
    * partitioning/bucketing `embeddings` by this column makes an
    * nprobe-cell query a PARTITION-PRUNED scan (asserted in
    * SourceSinkSpec), the claim behind knn_ivf's 100 TB story. */
  private[graft] def ivfAssignment(emb: DataFrame): DataFrame =
    ivfArgmax(emb.crossJoin(broadcast(ivfMeans(emb)))
      .withColumn("cd", dot(col("embedding"), col("cvec"))))

  val queries: Map[String, QFn] = Map(
    // exact all-pairs cosine threshold — tiled (see object scaladoc for
    // why LSH candidate generation cannot apply at τ = 0.3 on this data
    // and why tiling, not broadcast, is the distributed shape).
    // SCALE CONTRACT: recall-1 at cos ≥ 0.3 on
    // near-uniform unit vectors is Θ(N²) compute BY SEMANTICS — the
    // plan bounds memory, nothing can bound work. The measured
    // renegotiation trade (DESIGN §3/§11/§14.2): the
    // IVF-cell-partitioned form stays near-flat where exact grows
    // quadratically (2.6→7.2 s vs 3.3→34.7 s over 4k→16k vectors,
    // crossover ≈4k at nlist=16) at 0.83 cross-cell edge recall
    // (r12 top-3 multi-probe) on this IVF-hostile corpus. A 100 TB
    // run keeps exactness WITHIN cells and switches to knn_graph_ivf
    // / knn_ann_srp's existing plans across them — renegotiate the
    // key, don't scale this one.
    "dedup_embed" -> ((s: SparkSession, d: String) =>
      tiledPairs(t(s, d, "embeddings"), Seq.empty)
        .select(col("a"), col("b"), round6(dot(col("va"), col("vb"))).as("cos"))
        .where(col("cos") >= 0.3)
        .orderBy("a", "b")),

    // Exact k-NN GRAPH construction (k = 3 cosine neighbors for EVERY
    // vector) — the batch primitive under embedding-space dedup
    // clustering, label propagation, and graph-based ANN indexes
    // (NN-Descent/HNSW all start from or refine exactly this). Composes
    // the two flagship scale components: [[tiledPairs]] bounds per-task
    // memory for the O(N²) pair generation (no broadcast nested loop),
    // and the pair→both-directions explode feeds TopKPerGroupExec so
    // the per-node ranking shuffle carries ≤ k rows per (node ×
    // partition), never the N² candidate lists. At 100 TB the same
    // plan runs per IVF cell (knn_ivf's layout) — brute force within a
    // cell, this operator's shape unchanged. The trailing row_number
    // ranks only the ≤ k survivors on the exchange's existing hash
    // partitioning (the win_topk_physical pattern).
    "knn_graph" -> ((s: SparkSession, d: String) =>
      knnGraph(t(s, d, "embeddings"), 3).orderBy("node", "rn")),

    // ⊘ approximate k-NN graph at scale — the composition the exact
    // knn_graph's scaladoc promises, made real: vectors group by their
    // TRAINED IVF cell (ivfAssignment — one Lloyd step, no collect)
    // and the same tiledPairs → explode → TopKPerGroupExec plan runs
    // WITHIN each cell (tiledPairs' grp key), so pair work drops from
    // Θ(N²) to Θ(Σ_cell n_c²) ≈ N²/nlist while each block-pair task
    // keeps the bounded-memory contract. Neighbors crossing a cell
    // boundary are missed — the IVF recall trade, measured in
    // ExtOpsSpec against the exact graph (no oracle: approximate).
    // At 100 TB the cell is also the storage partition key (knn_ivf's
    // layout), so each task reads only its cells' files. Honest local
    // measurement: at sf0.1 (2 000 vectors) this is SLOWER than the
    // exact graph (2.0 s vs 1.7 s steady at p=3) — the fixed training
    // agg outweighs the N²→N²/nlist·p² pair cut at tiny N; the
    // crossover is where N²·d work dominates the (cell × dim)
    // training agg (measured ≈4k vectors, DESIGN §14.2).
    "knn_graph_ivf" -> ((s: SparkSession, d: String) => {
      val emb = t(s, d, "embeddings")
      knnGraphMultiProbe(emb, 3).orderBy("node", "rn")
    }),

    // ⊘ approximate ANN, IVF layout — no oracle; recall vs knn_cosine in
    // ExtOpsSpec. r4: centroids are TRAINED (one Lloyd step over the
    // seeded assignment — the r3 "trained centroids" stub made real),
    // entirely in DataFrame ops: per-cell per-dimension means accumulate
    // in exact DECIMAL (double sums are partition-order nondeterministic,
    // SURVEY §7.3.2), are L2-normalized, and flow as a 16-row broadcast
    // dim — no driver collect anywhere. Every vector is then reassigned
    // to its nearest trained centroid via a 2-phase max-of-struct argmax
    // (deterministic tie-break on cell id), the query probes its nprobe=6
    // best cells, and only those cells' vectors are exact-ranked.
    // 100 TB path: the trained `cell` is the write-time partition/bucket
    // key, so a probe is partition pruning — the scan touches
    // nprobe/nlist of the corpus; training cost is one explode +
    // (cell × dim)-sized agg per refresh, amortized across every query.
    "knn_ivf" -> ((s: SparkSession, d: String) => {
      val emb = t(s, d, "embeddings")
      val means = ivfMeans(emb)
      val scored = emb.crossJoin(broadcast(means))
        .withColumn("cd", dot(col("embedding"), col("cvec")))
      val assign = ivfArgmax(scored)
        .select(col("vec_id").as("av"), col("cell").as("acell"))
      // the query's top-nprobe trained cells
      val qcells = scored.where(col("vec_id") === 0)
        .orderBy(col("cd").desc, col("tcell")).limit(IvfNprobe)
        .select(col("tcell").as("qcell"))
      val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      emb.where(col("vec_id") =!= 0)
        .join(assign, col("vec_id") === col("av"))
        .join(broadcast(qcells), col("acell") === col("qcell"), "leftsemi")
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round6(dot(col("embedding"), col("qe"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
    }),

    // ⊘ approximate ANN — no oracle; recall vs knn_cosine in ExtOpsSpec.
    "knn_ann_srp" -> ((s: SparkSession, d: String) => {
      val emb = t(s, d, "embeddings")
      val bucketed = (0 until 8).foldLeft(emb) { (df, ti) =>
        df.withColumn(s"b$ti", bucket(col("embedding"), ti))
      }
      val q = bucketed.where(col("vec_id") === 0)
        .select(col("embedding").as("qe") +:
          (0 until 8).map(ti => col(s"b$ti").as(s"qb$ti")): _*)
      val sameBucket = (0 until 8)
        .map(ti => col(s"b$ti") === col(s"qb$ti"))
        .reduce(_ || _)
      bucketed.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .where(sameBucket)
        .select(col("vec_id"),
          round6(dot(col("embedding"), col("qe"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
    }),

    // Int8 scalar quantization — the ANN storage-layout op: per vector,
    // symmetric absmax scale (q = round-half-up(x/scale), scale =
    // absmax/127) shrinks the 100 TB embedding store 4× before the IVF/
    // SRP layouts above partition it. Pure map-side per-row expressions;
    // exactness across engines holds because every step (float→double
    // widening, one division, +0.5, floor) is the same correctly-rounded
    // IEEE op on both sides — no libm, no engine rounding mode. Summary
    // columns (exact integer q-sums, l1, max) rather than the raw
    // arrays keep the contract row narrow; the arrays themselves are
    // what a real pipeline writes.
    "embed_quantize" -> ((s: SparkSession, d: String) => {
      t(s, d, "embeddings")
        .withColumn("amax",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("qs", expr(
          "CASE WHEN amax = 0D THEN transform(embedding, " +
            "x -> CAST(0 AS BIGINT)) " +
            "ELSE transform(embedding, x -> CAST(floor(" +
            "CAST(x AS DOUBLE) / (amax / 127.0D) + 0.5D) AS BIGINT)) END"))
        .select(col("vec_id"),
          round6(col("amax") / lit(127.0)).as("scale6"),
          expr("aggregate(qs, CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("q_sum"),
          expr("aggregate(qs, CAST(0 AS BIGINT), (a, x) -> a + abs(x))")
            .as("q_l1"),
          expr("array_max(qs)").as("q_max"))
        .orderBy("vec_id")
    }))

  /** Exact k-NN cosine graph over an `(vec_id, embedding, …)` frame —
    * each node's k highest-cosine neighbors, ranked. `grp` non-empty
    * restricts pairing to equal values of those columns (e.g. the
    * trained IVF cell — the knn_graph_ivf composition; pair work drops
    * to Θ(Σ_g n_g²)). Shape: [[tiledPairs]] (each unordered pair's dot
    * computed once, bounded task memory) → both-direction explode →
    * TopKPerGroupExec (≤k rows per node × partition shuffled) →
    * row_number on the exchange's partitioning. */
  private[graft] def knnGraph(emb: DataFrame, k: Int,
      grp: Seq[String] = Seq.empty): DataFrame =
    knnGraphFromPairs(tiledPairs(emb, grp)
      .select(col("a"), col("b"),
        round6(dot(col("va"), col("vb"))).as("cos")), k)

  /** The k-NN-graph tail over any duplicate-free (a, b, cos) pair
    * stream: both-direction explode → TopKPerGroupExec (≤k rows per
    * node × partition shuffled) → row_number on the exchange's
    * partitioning. Split out (r11) so the multi-probe IVF candidate
    * generator reuses it. */
  private[graft] def knnGraphFromPairs(pairs: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val directed = pairs.select(explode(array(
        struct(col("a").as("node"), col("b").as("nbr"), col("cos")),
        struct(col("b").as("node"), col("a").as("nbr"), col("cos"))))
        .as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"),
        col("e.cos").as("cos"))
    val top = GraftOps.topKPerGroup(directed, Seq("node"),
      Seq(("cos", false), ("nbr", true)), k)
    val w = Window.partitionBy("node")
      .orderBy(col("cos").desc, col("nbr"))
    top.withColumn("rn", row_number().over(w))
      .select(col("node"), col("nbr"), col("cos"), col("rn"))
  }

  /** Multi-probe IVF k-NN graph: every vector candidates in its
    * TOP-p trained cells (p = [[IvfGraphProbes]]) instead of one. The
    * single-probe form loses any true neighbor whose home cell
    * differs — on THIS corpus's near-uniform vectors that was most of
    * them (measured edge recall 0.19); with probing a pair is found
    * iff the two vectors' top-p cell SETS intersect (p=2: 0.563; p=3:
    * measured in ExtOpsSpec). Pair work rises from Θ(Σ n_c²) to
    * ≤ p² × that (each cell's occupancy ≤ p-folds) — same asymptotic
    * family, same per-task memory bound via [[tiledPairs]]. p is the
    * standard IVF recall/cost dial: at 100 TB it tunes per-query
    * against the measured curve, and the
    * REPLICATION stays on candidate generation only — the stored
    * layout (knn_ivf's partition key) keeps one home cell per vector.
    *
    * Duplicate-free without a distinct shuffle: a pair whose cell sets
    * share SEVERAL cells would meet once per shared cell, so each
    * meeting carries both sides' full probe lists as tiledPairs
    * payload and the pair is emitted only in the LEAST shared cell
    * (the minhash first-colliding-band trick; `least` skips the null
    * arms of the membership `when`s). */
  private[graft] val IvfGraphProbes = 3
  private[graft] def knnGraphMultiProbe(emb: DataFrame,
      k: Int): DataFrame = {
    val p = IvfGraphProbes
    val means = ivfMeans(emb)
    val scored = emb.crossJoin(broadcast(means))
      .withColumn("cd", dot(col("embedding"), col("cvec")))
    // top-p trained cells per vector: 16 scored rows fold into one
    // sorted p-prefix — deterministic (sort on (-cd, tcell); the
    // collect_list's order is irrelevant under sort_array)
    val cs = (1 to p).map(i => col("cs")(i - 1)("tcell").as(s"c$i"))
    val topP = scored.groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct((-col("cd")).as("nc"),
        col("tcell")))).as("cs"))
      .select(col("vec_id").as("tv") +: cs: _*)
    val pcols = (1 to p).map(i => s"c$i")
    val probed = emb.join(topP, col("vec_id") === col("tv"))
      .select(col("vec_id") +: col("embedding") +: pcols.map(col) :+
        explode(array(pcols.map(col): _*)).as("cell"): _*)
    val minShared = least(pcols.map { ca =>
      when(pcols.map(cb => col(s"${ca}_a") === col(s"${cb}_b"))
        .reduce(_ || _), col(s"${ca}_a"))
    }: _*)
    val pairs = tiledPairs(probed, Seq("cell"), pcols)
      .where(col("cell") === minShared)
      .select(col("a"), col("b"),
        round6(dot(col("va"), col("vb"))).as("cos"))
    knnGraphFromPairs(pairs, k)
  }

  private def oDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val oracle: Map[String, String] = Map(
    "knn_graph" ->
      ("WITH p AS (SELECT a.vec_id AS node, b.vec_id AS nbr, " +
        oRound6(oDot("a.embedding", "b.embedding")) + " AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id), " +
        "r AS (SELECT node, nbr, cos, row_number() OVER " +
        "(PARTITION BY node ORDER BY cos DESC, nbr) AS rn FROM p) " +
        "SELECT node, nbr, cos, rn FROM r WHERE rn <= 3 " +
        "ORDER BY node, rn"),
    "dedup_embed" ->
      ("SELECT a.vec_id AS a, b.vec_id AS b, " +
        oRound6(oDot("a.embedding", "b.embedding")) + " AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE " + oRound6(oDot("a.embedding", "b.embedding")) + " >= 0.3 " +
        "ORDER BY a, b"),
    "embed_quantize" ->
      ("WITH e AS (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) " +
        "AS amax FROM embeddings), " +
        "q AS (SELECT vec_id, amax, CASE WHEN amax = 0 THEN " +
        "list_transform(embedding, x -> CAST(0 AS BIGINT)) ELSE " +
        "list_transform(embedding, x -> CAST(floor(" +
        "CAST(x AS DOUBLE) / (amax / 127.0) + 0.5) AS BIGINT)) END AS qs " +
        "FROM e) " +
        "SELECT vec_id, " + oRound6("amax / 127.0") + " AS scale6, " +
        "CAST(list_sum(qs) AS BIGINT) AS q_sum, " +
        "CAST(list_sum(list_transform(qs, x -> abs(x))) AS BIGINT) AS q_l1, " +
        "CAST(list_max(qs) AS BIGINT) AS q_max " +
        "FROM q ORDER BY vec_id"))
}
