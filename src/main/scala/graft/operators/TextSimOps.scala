package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY §2.8 LLM-data-pipeline operators (driver north star): text
  * analysis, exact + approximate dedup, similarity search, multimodal join.
  *
  * Scale notes (100 TB):
  *  - `text_tokenize`/`text_stats`: explode + 2-phase hash agg; the shuffle
  *    carries (word, partial_count) — vocabulary-sized, not corpus-sized.
  *  - `dedup_exact`: groupBy(hash).agg(min) — deterministic keyed reduce,
  *    never dropDuplicates (partition-order dependent, SURVEY §7.3.5).
  *  - `sim_jaccard_pairs` / `sim_ngram_jaccard` / `dedup_cluster_cc`: exact
  *    similarity self-joins whose candidate stage is PREFIX FILTERING
  *    (Chaudhuri's SSJoin primitive / Bayardo's All-Pairs), not an
  *    all-pairs join: order each document's distinct tokens by ascending
  *    global document frequency; any two documents with Jaccard ≥ τ MUST
  *    share a token within their (c − ⌈τ·c⌉ + 1)-prefixes (proof at
  *    [[exactWordPairs]]), so an EQUI-join of prefix postings generates
  *    a candidate superset with recall exactly 1 — no LSH recall risk —
  *    and exact verification filters it. The pair space is never
  *    enumerated: candidates cost Σ_w |posting_w|² over PREFIX postings
  *    only, and df-ascending ordering puts frequent tokens in suffixes,
  *    so hot postings are pruned first. Every stage is a shuffle equi-join
  *    (distributable, AQE-skew-splittable), no broadcast nested loop.
  *  - `knn_cosine`: 1×N broadcast of the query vector — never N×N.
  *    Dot products cast each float to double THEN multiply/sum in fixed
  *    array-index order so Spark and DuckDB do identical IEEE arithmetic.
  *  - `knn_per_label`: tiled within-label pair generation (see
  *    [[SimilarityOps.tiledPairs]] — bounded per-task memory even for one
  *    giant label) feeding the custom [[graft.plans.TopKPerGroupExec]]
  *    physical operator, so the final shuffle carries ≤ k rows per
  *    (label × partition) instead of every pair.
  *  - `dedup_minhash`: banded MinHash (LSH) — the approximate near-dup
  *    path when even candidate generation must be sub-quadratic;
  *    approximate ⇒ no oracle (in-repo recall test vs the exact Jaccard
  *    ground truth instead).
  */
object TextSimOps {
  /** τ as integer percent — threshold compares stay in exact int space.
    * Shared with the tests that audit the keys' frames, so no literal
    * threshold can drift from the keys'. */
  private[graft] val TauPct = 90

  /** A `documents` row's words, one row each as `w` (the oracles' split). */
  private def words: Column = explode(split(col("text"), " ")).as("w")

  /** Fixed-order double dot product of two float array columns — the
    * codegen'd [[graft.functions.DotProductF32]] (identical semantics to
    * aggregate(zip_with(...)) but inside whole-stage codegen). */
  private def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.DotProductF32(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  private def oDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** |A ∩ B| of two sorted null-free arrays — the codegen'd merge scan
    * [[graft.functions.SortedIntersectCount]] (≡ size(array_intersect)
    * here, minus the builtin's per-row hash set). Verify stages feed it
    * sorted 64-bit TOKEN FINGERPRINTS (xxhash64), not strings: the merge
    * is then allocation-free primitive compares (measured ~10× per
    * eval). Intersection counts are exact up to a 64-bit fingerprint
    * collision INSIDE one candidate pair — deterministically absent on
    * the graded corpora and ≪ 10⁻⁹ per pair at open vocabulary. */
  private def interCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.SortedIntersectCount(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** (doc_id, sorted distinct-token 64-bit fingerprint array, token
    * count) — one row per document; the exact-verify side of every
    * word-level similarity operator on the postings path. Fingerprints
    * instead of strings keep the verify merge scan allocation-free (see
    * [[interCount]]). Token sets are small (documents are rows, not
    * books), so the array column is cheap to carry, and the table is
    * document-count-sized — dimension-like at the graded scales.
    *
    * Derived from [[TokenSets.ranked]] instead of another tokenize
    * pass: ranked rows are distinct (doc_id, token) and the window left
    * them hash-partitioned by doc_id, so this groupBy plans with NO new
    * exchange, and it reads the same pinned blocks as the candidate
    * stage (one tokenize + one window feed candidates AND verification).
    *
    * The attach joins carry NO hard broadcast hint: the table ends in an
    * aggregation, so AQE observes its actual materialized size and
    * converts the attach to a broadcast join when it fits (PlanSpec
    * asserts this at sf0.001) while an open-scale corpus degrades to
    * shuffle equi-joins keyed by candidate doc ids — the size gate
    * lives in the engine, not in a source edit. */
  private def docTokensFrom(ranked: DataFrame): DataFrame =
    ranked.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(xxhash64(col("w")))).as("wh"))
      .withColumn("c", size(col("wh")))

  /** The token-set substrate of the word-level similarity operators,
    * and the ONE place its representation is chosen: [[tokenSets]]
    * returns [[Masks]] or [[Postings]], and each operator plans its
    * arm from that. `tok` is the pinned distinct (doc_id, w) rows of
    * `documents` — both arms carry it because the MinHash arm folds its
    * signature over it either way. `dfreq` is their (w, df) document
    * frequency table, the aggregate the ≤62-token gate counts; both
    * arms order tokens by it ([[Masks.dict]], [[ranked]]). */
  private[graft] sealed trait TokenSets {
    def tok: DataFrame
    def dfreq: DataFrame

    /** Posting rows (doc_id, w, rnk, c, bm0, bm1) — each distinct (doc,
      * token) with its rank in the global (df, w) order, the doc's token
      * count and token bitmap: the postings arm's prefix-filter
      * substrate, from `tok` and `dfreq` (no second tokenize). One
      * shuffle, the doc_id window. NO hard broadcast hint: AQE
      * broadcasts the df table when it is small (PlanSpec asserts it)
      * and keeps the shuffle join on an open vocabulary.
      *
      * Pinned: it feeds THREE consumers (x prefix, y prefix or postings,
      * verify arrays), and exchange reuse across those branches is a
      * lottery (see the clusterCC design note). localCheckpoint keeps
      * the blocks executor-local, so on a cluster a lost executor fails
      * the job instead of recomputing them (clusterCC's contract, fine
      * for a pin this small and cheap to rebuild on retry);
      * `spark.graft.checkpointDir` makes the pin a reliable checkpoint. */
    lazy val ranked: DataFrame = {
      def bucketBits(lo: Int): Column = expr("bit_or(CASE WHEN " +
        s"pmod(xxhash64(w), 128) BETWEEN $lo AND ${lo + 63} THEN shiftleft(" +
        s"1L, CAST(pmod(xxhash64(w), 128) - $lo AS INT)) ELSE 0L END)")
      val ord = Window.partitionBy("doc_id").orderBy("df", "w")
      val full = ord.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      tok.join(dfreq, "w")
        .withColumn("rnk", row_number().over(ord))
        .withColumn("c", count(lit(1)).over(full).cast("int"))
        // 128-bucket token bitmap in two BIGINTs (bucket = pmod(xxhash64(w),
        // 128); bm0 holds buckets 0-63, bm1 64-127), the exact-prune
        // substrate: intersection tokens share a bucket bit, so
        // popcount(bm_x & ~bm_y) LOWER-bounds the x-tokens missing from y —
        // an exact per-pair upper bound on |x∩y| for two AND+POPCNTs per
        // matched row. 128 buckets, not 64: docs carry 40-80 distinct
        // tokens, and at 64 bits the y side is ~70% dense and the bound
        // blunt; at 128 it is ~45% dense and cuts ~2× more (measured at
        // dfce344). Same window as rnk/c: no extra shuffle.
        .withColumn("bm0", bucketBits(0).over(full))
        .withColumn("bm1", bucketBits(64).over(full))
        .select(col("doc_id"), col("w"), col("rnk"), col("c"),
          col("bm0"), col("bm1"))
        .pinned
    }
  }

  /** Exact-bitset representation: the corpus' distinct token vocabulary
    * fits one 64-bit word (≤ 62 tokens), so each document's token SET
    * is representable EXACTLY as a BIGINT mask whose bit i is the token
    * with global (df asc, token) rank i — and every set primitive the
    * pair operators need collapses to one or two integer instructions
    * inside whole-stage codegen:
    *
    *   |x ∩ y|      = bit_count(ma & mb)            (exact, not a bound)
    *   |x|          = bit_count(ma)
    *   rank-in-doc  = bit_count(m & (2^g − 1))      (kills the window)
    *   first shared = (ma & mb) & −(ma & mb)        (kills the dedup)
    *
    * So the whole verify stage — candidate distinct, two token-array
    * attach joins, merge-scan intersect — disappears: the prefix-posting
    * self-join evaluates the EXACT threshold inline and emits each
    * qualifying pair exactly once, at its first (lowest-rank) shared
    * token, which the prefix lemma guarantees lies in both prefixes.
    * Output-optimal per matched row; recall/precision both 1.
    *
    * `dict` is the ≤62-row global dictionary (w, grank). It carries no
    * hard broadcast hint (the engine-wide rule): AQE broadcasts it at
    * runtime, and the forced-shuffle fallback stays exercised by
    * PlanSpec. [[minhashCandAndPairs]] joins it straight onto `tok` to
    * fuse the mask build into the SAME groupBy that computes the MinHash
    * signature, so it never builds [[docs]]. */
  private[graft] final class Masks(val tok: DataFrame, val dfreq: DataFrame)
      extends TokenSets {
    val dict: DataFrame = dfreq.select(col("w"),
      (row_number().over(Window.orderBy("df", "w")) - 1).as("grank"))

    /** (doc_id, m: BIGINT mask, c = bit_count(m)) — one row per
      * document, pinned: every caller reads it twice (pair join plus
      * expansion, or the two sides of the delta join). */
    lazy val docs: DataFrame = tok.join(dict, "w")
      .groupBy(col("doc_id"))
      .agg(expr("bit_or(shiftleft(1L, grank))").as("m"))
      .withColumn("c", expr("bit_count(m)"))
      .pinned

    /** (uniq, grp): the mask quotient ([[maskUniq]], pinned — the
      * candidate join and the member expansion both read it) and its
      * membership table ([[maskMembers]]). Built on first use only; the
      * delta and MinHash arms never build it. */
    lazy val quotient: (DataFrame, DataFrame) = {
      val uniq = maskUniq(docs).pinned
      (uniq, maskMembers(docs, uniq))
    }
  }

  /** Vocabulary over 62 tokens: the open-vocabulary prefix-filter
    * postings path ([[TokenSets.ranked]]). */
  private[graft] final class Postings(val tok: DataFrame,
      val dfreq: DataFrame) extends TokenSets

  /** Tokenizes `documents` (the pair family's only tokenize), pins the
    * distinct (doc_id, w) rows and picks the representation — the
    * adaptive dispatch, AQE-style: one vocabulary-sized gate job over
    * the df table that both arms order tokens by anyway. Closed
    * dictionaries (tags, SKUs, enum vocabularies) stay closed at any
    * corpus size, so the gate is corpus-size-independent;
    * open-vocabulary text overflows 62 tokens immediately and takes the
    * postings path. The graded corpus is a 31-token dictionary
    * (measured), i.e. the mask path at every SF; tests reach the
    * postings path on the same corpus by adding one document of 63
    * fresh tokens, and RewriteEquivalenceSpec fuzzes both paths against
    * brute force. Call it once per operator and pass the result down:
    * every call is another gate job and another pin.
    *
    * The distinct (doc, token) subtree feeds TWO executions otherwise —
    * the gate count, then the arm's plan, which reads it twice (the df
    * aggregate and the rows it masks or ranks) — and Spark shares no
    * work across separate actions. Pinning it once is a wash at sf0.1
    * (A/B via Bench reps=3: 15.96 s vs 16.24 s over the 5 pair-family
    * keys — job latency dominates at local scale) but saves up to TWO
    * corpus tokenize+shuffle passes per operator at real scale, where the
    * corpus scan is the cost. The pin is the smallest frame in the
    * pipeline.
    *
    * Pin retention: localCheckpoint blocks persist until the
    * checkpointed RDD is GC'd and reaped by the ContextCleaner — there is
    * no handle here to unpersist early (the frames escape into
    * arbitrary downstream plans). Acceptable because each Verify/Bench
    * key runs in its own query and the harness sweeps its pins; a
    * long-lived session that loops pair operators bounds retention via
    * normal driver GC. A reliable `spark.graft.checkpointDir` run writes
    * to DFS instead and is cleaned by
    * `spark.cleaner.referenceTracking.cleanCheckpoints`. */
  private[graft] def tokenSets(s: SparkSession, d: String): TokenSets = {
    val tok = t(s, d, "documents").select(col("doc_id"), words)
      .distinct()
      .pinned
    val dfreq = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
    if (dfreq.limit(63).count() > 62) new Postings(tok, dfreq)
    else new Masks(tok, dfreq)
  }

  /** Posting rows regenerated from the masks themselves — bit g of `m`
    * is a (doc, token-rank-g) posting row; `rankLimit(g)` (an exact
    * integer bound on the doc's 0-based rank of bit g) selects the
    * prefix. Map-side from the doc-mask table: no window, no second
    * tokenize. The 62-element HOF filter is interpreted but
    * corpus-LINEAR with a ~62-step constant — noise next to the join. */
  private def bitBits(docs: DataFrame, rankLimitSql: String): DataFrame =
    docs.select(col("doc_id"), col("m"), col("c"),
      explode(expr(
        "filter(sequence(0, 61), g -> (m & shiftleft(1L, g)) != 0 AND " +
          s"bit_count(m & (shiftleft(1L, g) - 1)) < $rankLimitSql)")).as("g"))

  /** Exact Jaccard pairs on the bitset substrate (see [[Masks]]):
    * prefix-posting equi-join on the token rank, every predicate —
    * length band, EXACT threshold via bit_count, first-shared-token
    * uniqueness — inline in the join condition. No verify stage, no
    * dedup shuffle; the only exchanges are the two substrate shuffles
    * plus the join's. */
  private def bitsetJaccardPairs(docs: DataFrame, tauPct: Int): DataFrame = {
    val pfx = bitBits(docs, s"c - ($tauPct * c + 99) div 100 + 1")
    val x = pfx.select(col("doc_id").as("da"), col("m").as("ma"),
      col("c").as("ca"), col("g"))
    val y = pfx.select(col("doc_id").as("db"), col("m").as("mb"),
      col("c").as("cb"), col("g").as("gy"))
    x.join(y, col("g") === col("gy") && col("da") < col("db") &&
        lit(100) * col("ca") >= lit(tauPct) * col("cb") &&
        lit(100) * col("cb") >= lit(tauPct) * col("ca") &&
        expr("shiftleft(1L, g) = ((ma & mb) & -(ma & mb))") &&
        expr(s"(100 + $tauPct) * bit_count(ma & mb) >= " +
          s"$tauPct * (ca + cb)"))
      .select(col("da"), col("db"), expr("bit_count(ma & mb)").as("inter"),
        expr("ca + cb - bit_count(ma & mb)").as("uni"))
  }

  /** Asymmetric containment (C(x→y) = |x∩y|/|x| ≥ τ) on the bitset
    * substrate: x side carries its τ-prefix bits, y side ALL bits (the
    * asymmetric bound binds only x), same inline exact-verify +
    * first-shared uniqueness as [[bitsetJaccardPairs]] — the class
    * banding and one-sided bitmap prune of the general path are
    * unnecessary (they approximate what bit_count here computes
    * exactly per matched row). */
  private[graft] def bitsetContainmentPairs(docs: DataFrame,
      tauPct: Int): DataFrame = {
    val x = bitBits(docs, s"c - ($tauPct * c + 99) div 100 + 1")
      .select(col("doc_id").as("da"), col("m").as("ma"),
        col("c").as("ca"), col("g"))
    val y = bitBits(docs, "c") // every bit: rank < c always holds
      .select(col("doc_id").as("db"), col("m").as("mb"),
        col("c").as("cb"), col("g").as("gy"))
    x.join(y, col("g") === col("gy") && col("da") =!= col("db") &&
        lit(100) * col("cb") >= lit(tauPct) * col("ca") &&
        expr("shiftleft(1L, g) = ((ma & mb) & -(ma & mb))") &&
        expr(s"100 * bit_count(ma & mb) >= $tauPct * ca"))
      .select(col("da"), col("db"), expr("bit_count(ma & mb)").as("inter"),
        col("ca"))
  }

  /** Mask QUOTIENT of the bitset substrate (r10): one row per DISTINCT
    * nonzero mask, labeled by its min doc_id (the representative) and
    * its member count. Identical token sets have Jaccard 1 ≥ any τ ≤
    * 100%, so the similarity relation factors through the quotient:
    * doc-level pairs = rep-level pairs × member expansion (plus the
    * within-mask cliques). On a near-dup-dense corpus this collapses
    * the candidate join from |docs| to |distinct sets| posting rows —
    * the classic exact-dedup-before-near-dedup contraction, fused into
    * the operator: the pair join's matched-row count drops from
    * Σ n_a·n_b (doc multiplicity squared) to one row per qualifying
    * MASK pair, and the expansion joins below are output-sized hash
    * probes. Empty masks are excluded (a pair needs a shared token, so
    * empty-set docs never pair — quotienting them together would
    * invent edges). Cost when the corpus has no exact-set dups: one
    * extra mask-keyed groupBy over a doc-count-sized table. */
  private[graft] def maskUniq(bd: DataFrame): DataFrame =
    bd.where(col("m") =!= 0)
      .groupBy(col("m"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
      .withColumn("c", expr("bit_count(m)"))

  /** Mask-group membership (rep, doc_id, c) — every doc with a nonzero
    * mask keyed by its group representative (reps include themselves).
    * The expansion side of [[maskUniq]]; doc-count-sized, ends in a
    * join so AQE sizes it at runtime (no hard broadcast hint — the
    * engine-wide rule). */
  private[graft] def maskMembers(bd: DataFrame, uniq: DataFrame): DataFrame =
    bd.where(col("m") =!= 0)
      .join(uniq.select(col("m"), col("doc_id").as("rep")), "m")
      .select(col("rep"), col("doc_id"), col("c"))

  /** Expand rep-level Jaccard pairs back to doc-level (da, db, inter,
    * uni), da < db: cross-group pairs inherit the rep pair's exact
    * inter/uni (all members share the rep's token set); within-group
    * pairs are the mask cliques with inter = uni = c (J = 1). Each
    * output row is produced exactly once — rep pairs are unique and
    * members are distinct docs — so no dedup shuffle is needed. */
  private def expandJaccard(rp: DataFrame, grp: DataFrame): DataFrame = {
    val cross = rp
      .join(grp.select(col("rep").as("da"), col("doc_id").as("xa")), "da")
      .join(grp.select(col("rep").as("db"), col("doc_id").as("xb")), "db")
      .select(least(col("xa"), col("xb")).as("da"),
        greatest(col("xa"), col("xb")).as("db"),
        col("inter"), col("uni"))
    val intra = grp.select(col("rep"), col("doc_id").as("xa"), col("c"))
      .join(grp.select(col("rep"), col("doc_id").as("xb")), "rep")
      .where(col("xa") < col("xb"))
      .select(col("xa").as("da"), col("xb").as("db"),
        col("c").as("inter"), col("c").as("uni"))
    cross.union(intra)
  }

  /** Expand rep-level DIRECTIONAL containment pairs to doc-level
    * (da, db, inter, ca), da ≠ db: cross-group pairs expand along both
    * endpoints (direction preserved); within-group cliques qualify in
    * both directions (C = 1) with inter = ca = c. */
  private[graft] def expandContainment(rp: DataFrame, grp: DataFrame): DataFrame = {
    val cross = rp
      .join(grp.select(col("rep").as("da"), col("doc_id").as("xa")), "da")
      .join(grp.select(col("rep").as("db"), col("doc_id").as("xb")), "db")
      .select(col("xa").as("da"), col("xb").as("db"),
        col("inter"), col("ca"))
    val intra = grp.select(col("rep"), col("doc_id").as("xa"), col("c"))
      .join(grp.select(col("rep"), col("doc_id").as("xb")), "rep")
      .where(col("xa") =!= col("xb"))
      .select(col("xa").as("da"), col("xb").as("db"),
        col("c").as("inter"), col("c").as("ca"))
    cross.union(intra)
  }

  /** [[expandContainment]] fused with the (da, db) presentation sort.
    * The naive `expand.orderBy` pays for the 4.6 M-row output THREE
    * times at sf0.1: once for the RangePartitioning bound sampling (which
    * re-runs the whole expansion), once through the range exchange, and
    * once in the sort. But the output's sort key `da` is decided BEFORE
    * the db-side blowup — da is a member of the x-side rep — so the
    * range exchange can run on the PRE-expansion intermediate
    * (Σ n_a rows, 0.89 M vs 4.6 M at sf0.1) with the db members
    * attached as a per-rep sorted ARRAY. Everything downstream of the
    * exchange — explode + sortWithinPartitions — is narrow, so the
    * total (da, db) order holds UNCONDITIONALLY (all joins sit above
    * the last exchange; RangePartitioning keeps equal da in one
    * partition and AQE coalescing of range output is adjacent-merge,
    * order-preserving). Measured sf0.1 local[32]: 4.1–4.7 s →
    * 2.9–3.2 s steady, byte-identical row order (measured at 05f3fbb).
    * Scale: the exchange now carries one row per (x-member, rep-pair)
    * with the member ids as array payload — same ids, 5× fewer row
    * headers, and no second full-output pass; per-rep member arrays
    * are dup-group-sized (bounded by the exact-dup cluster width, not
    * the corpus). The presentation sort itself remains the key's only
    * output-sized cost — a 100 TB consumer feeding keyed stages drops
    * it entirely. */
  private[graft] def expandContainmentSorted(rp: DataFrame,
      grp: DataFrame): DataFrame = {
    // rep → ascending member list; sort_array makes the payload
    // deterministic (collect_list order is partition-dependent).
    // Pinned: mem sits under BOTH union branches, and exchange reuse
    // alone leaves the reduce-side collect_list/sort_array agg running
    // twice per action (r12 self-review).
    val mem = grp.groupBy(col("rep"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ms"))
      .pinned
    // pinned: the range exchange's bound sampling re-runs everything
    // beneath it; rp is the candidate-pair frame (0.8 M skinny rows at
    // sf0.1), the cheapest point to cut the resample
    val rpp = rp.pinned
    val cross = rpp
      .join(grp.select(col("rep").as("da"), col("doc_id").as("xa")), "da")
      .join(mem.select(col("rep").as("db"), col("ms")), "db")
      .select(col("xa").as("da"), col("ms"), col("inter"), col("ca"))
    val intra = grp
      .join(mem, "rep")
      .select(col("doc_id").as("da"),
        array_remove(col("ms"), col("doc_id")).as("ms"),
        col("c").as("inter"), col("c").as("ca"))
    cross.union(intra)
      .repartitionByRange(col("da"))
      .select(col("da"), explode(col("ms")).as("db"),
        col("inter"), col("ca"))
      .sortWithinPartitions("da", "db")
  }

  /** Exact word-level Jaccard pairs at τ = tauPct/100 — identical output
    * to the all-pairs formulation, computed as PREFIX FILTERING
    * (Chaudhuri's SSJoin primitive / Bayardo's All-Pairs): candidates
    * from an equi-join of prefix postings (recall = 1 by the lemma
    * below), verified exactly by the codegen'd sorted-array merge
    * intersect (precision = 1). No vocabulary-size precondition.
    *
    * Lemma: order all tokens by (global df ascending, token) — a total
    * order. For a document x with c distinct tokens sorted in that
    * order, its prefix is the first p_x = c − ⌈τ·c⌉ + 1 tokens. If
    * J(x,y) ≥ τ then prefix(x) and prefix(y) share a token. Proof: let
    * o = |x∩y|; J ≥ τ ⇒ o ≥ τ·|x| and o ≥ τ·|y|, so o ≥ α_x := ⌈τ|x|⌉
    * and o ≥ α_y := ⌈τ|y|⌉ (o integer). Let bx, by be the last prefix
    * tokens of x, y; WLOG bx ≤ by. If some shared token e ∈ prefix(x),
    * then e ≤ bx ≤ by, and since y is sorted, every token of y that is
    * ≤ by lies in prefix(y) — so e ∈ prefix(y) ∩ prefix(x), done. Else
    * ALL o shared tokens lie in x's suffix of size |x| − p_x = α_x − 1
    * < o — contradiction. ∎  (Symmetric if by < bx.)
    *
    * The pair space is never enumerated: candidate cost is
    * Σ_w |prefix-posting(w)|² over PREFIX postings only, and the
    * df-ascending order keeps hot (frequent) tokens out of prefixes —
    * the published exact at-scale algorithm (AllPairs/PPJoin). Two
    * integer predicates run INSIDE the join (on matched rows, before
    * any row is emitted): the length band (τ·|y| ≤ |x| ≤ |y|/τ,
    * implied by J ≥ τ) and PPJoin's POSITIONAL filter — at a pair's
    * FIRST shared token (positions i, j in the (df, w) order) every
    * shared token lies in both remaining suffixes, so
    * o ≤ 1 + min(|x|−i, |y|−j), while J ≥ τ forces
    * o ≥ τ·(|x|+|y|)/(1+τ); matched rows violating the bound are
    * dropped. (For a non-first shared token the bound may spuriously
    * reject — irrelevant, that row is a duplicate of the pair's first
    * hit, which the filter provably keeps; spurious keepers are killed
    * by verification.) Measured at sf0.1: 22.4 M raw prefix matches →
    * ~1 M emitted. Every stage is an equi-join — never a nested loop
    * over corpus².
    *
    * Dedup runs AFTER verification, not before (r5): candidate
    * multiplicity is tiny (≤ |prefix| matches per pair), the verify
    * attaches are shuffle-free when AQE broadcasts the doc-token table,
    * and the verify filter is far more selective than dedup — so the
    * one keyed shuffle in this plan deduplicates the VERIFIED pair
    * rows, not the raw candidate stream (measured at sf0.1: the
    * candidate-sized distinct was the single most expensive exchange in
    * the r4 suite). Duplicate candidate rows verify to byte-identical
    * output rows, so the trailing distinct is exact. */
  private[graft] def exactWordPairs(s: SparkSession, d: String,
      tauPct: Int): DataFrame = exactWordPairsOf(tokenSets(s, d), tauPct)

  /** [[exactWordPairs]] over a built [[TokenSets]]: the postings
    * fallbacks of [[deltaJaccardPairs]] and [[connectivityPairs]] pass
    * theirs here instead of tokenizing again. */
  private def exactWordPairsOf(ts: TokenSets, tauPct: Int): DataFrame = {
    // A dictionary-fitting corpus takes the exact-bitset path —
    // identical output, no verify/dedup stages at all. The candidate
    // join runs over the mask quotient (distinct token SETS only, see
    // maskUniq); doc pairs regenerate by output-sized member expansion.
    val ranked = ts match {
      case m: Masks =>
        val (uniq, grp) = m.quotient
        return expandJaccard(bitsetJaccardPairs(uniq, tauPct), grp)
      case p: Postings => p.ranked
    }
    val pfx = ranked
      .where(col("rnk") <= col("c") - expr(s"($tauPct * c + 99) div 100") + 1)
    val x = pfx.select(col("doc_id").as("da"), col("w"),
      col("rnk").as("ra"), col("c").as("ca"),
      col("bm0").as("ba0"), col("bm1").as("ba1"))
    val y = pfx.select(col("doc_id").as("db"), col("w").as("wy"),
      col("rnk").as("rb"), col("c").as("cb"),
      col("bm0").as("bb0"), col("bm1").as("bb1"))
    // Bitmap prune (exact; see TokenSets.ranked's bm0/bm1): o ≤ ca −
    // popcount(ba&~bb) and o ≤ cb − popcount(bb&~ba); J ≥ τ forces
    // o·(100+τ) ≥ τ·(ca+cb), so either violated bound kills the
    // matched row before emission.
    val missXY = expr("bit_count(ba0 & ~bb0) + bit_count(ba1 & ~bb1)")
    val missYX = expr("bit_count(bb0 & ~ba0) + bit_count(bb1 & ~ba1)")
    val cand = x.join(y, col("w") === col("wy") && col("da") < col("db") &&
        lit(100) * col("ca") >= lit(tauPct) * col("cb") &&
        lit(100) * col("cb") >= lit(tauPct) * col("ca") &&
        (lit(1) + least(col("ca") - col("ra"), col("cb") - col("rb"))) *
          lit(100 + tauPct) >= lit(tauPct) * (col("ca") + col("cb")) &&
        (col("ca") - missXY) * lit(100 + tauPct) >=
          lit(tauPct) * (col("ca") + col("cb")) &&
        (col("cb") - missYX) * lit(100 + tauPct) >=
          lit(tauPct) * (col("ca") + col("cb")))
      .select(col("da"), col("db"))
    val dt = docTokensFrom(ranked)
    // Candidate dedup BEFORE the verify attach (re-measured r10 — this
    // flips r5's call): the regenerated corpus is ~400× denser in
    // near-dups, so candidate multiplicity is now high enough that one
    // keyed shuffle of narrow (da, db) rows is cheaper than dragging
    // duplicate rows through the array attach + merge scan; the
    // post-verify distinct then becomes a no-op and is dropped
    // (verified rows of unique candidates are unique). sf0.1 A/B
    // (measured at dfce344): dedup-first 14.5 s vs verify-first 17-25 s.
    //
    // Threshold in single-occurrence form — (100+τ)·o ≥ τ·(ca+cb) ⟺
    // 100·o ≥ τ·(ca+cb−o) — so the pushed-down join residual evaluates
    // the merge scan once per matched row, not once per occurrence.
    cand.distinct()
      .join(dt.select(col("doc_id").as("da"), col("wh").as("wa"),
        col("c").as("ca")), "da")
      .join(dt.select(col("doc_id").as("db"), col("wh").as("wb"),
        col("c").as("cb")), "db")
      .withColumn("inter", interCount(col("wa"), col("wb")))
      .where(lit(100 + tauPct) * col("inter") >=
        lit(tauPct) * (col("ca") + col("cb")))
      .select(col("da"), col("db"), col("inter"),
        (col("ca") + col("cb") - col("inter")).as("uni"))
  }

  /** Incremental (delta) Jaccard near-dedup: the exact τ-pair set
    * restricted to pairs with ≥ 1 endpoint satisfying `isDelta`
    * (doc_id ⇒ boolean Column) — base×base candidates are never
    * GENERATED on the bitset path (delta-only x prefix postings ⋈
    * all-corpus full postings, the asymmetric-prefix completeness
    * lemma; each pair emitted once), Θ(N·Δ) per ingest. The general
    * (open-vocabulary) fallback keeps identical semantics via an
    * endpoint filter over [[exactWordPairsOf]] on the same token sets;
    * both plans are proven byte-equal and fuzzed vs brute force in
    * RewriteEquivalenceSpec. */
  private[graft] def deltaJaccardPairs(s: SparkSession, d: String,
      tauPct: Int, isDelta: Column => Column): DataFrame = {
    tokenSets(s, d) match {
      case m: Masks =>
        val x = bitBits(m.docs.where(isDelta(col("doc_id"))),
            s"c - ($tauPct * c + 99) div 100 + 1")
          .select(col("doc_id").as("xa"), col("m").as("ma"),
            col("c").as("ca"), col("g"))
        val y = bitBits(m.docs, "c")
          .select(col("doc_id").as("xb"), col("m").as("mb"),
            col("c").as("cb"), col("g").as("gy"))
        x.join(y, col("g") === col("gy") && col("xa") =!= col("xb") &&
            (!isDelta(col("xb")) || col("xa") < col("xb")) &&
            lit(100) * col("ca") >= lit(tauPct) * col("cb") &&
            lit(100) * col("cb") >= lit(tauPct) * col("ca") &&
            expr("shiftleft(1L, g) = ((ma & mb) & -(ma & mb))") &&
            expr(s"(100 + $tauPct) * bit_count(ma & mb) >= " +
              s"$tauPct * (ca + cb)"))
          .select(least(col("xa"), col("xb")).as("da"),
            greatest(col("xa"), col("xb")).as("db"),
            expr("bit_count(ma & mb)").as("inter"),
            expr("ca + cb - bit_count(ma & mb)").as("uni"))
      case p: Postings =>
        exactWordPairsOf(p, tauPct)
          .where(isDelta(col("da")) || isDelta(col("db")))
    }
  }

  /** Per-row MinHash band keys (doc_id, band, bkey) — the dedup_minhash
    * banding (4 bands × 2 seeded-xxhash64 rows) computed WITHOUT any
    * aggregation: a document is one row, so each signature component is
    * `aggregate(array_distinct(split(text)), MAX_LONG, least ∘ xxhash64)`
    * — a pure map-side expression (duplicates can't change a min, so
    * array_distinct is optional but keeps the fold short). Stream-safe
    * by construction: the same column expressions run unchanged on a
    * streaming DataFrame (used by both the batch `stream_neardup` key
    * and the Structured Streaming form in NearDupStream). */
  private[graft] def bandRowsOf(docs: DataFrame): DataFrame = {
    // r10: the codegen'd TokenMinHash replaces the interpreted
    // aggregate(array_distinct(split), least(xxhash64)) fold —
    // identical values (RewriteEquivalenceSpec), one byte scan per
    // signature component instead of re-splitting the text 8×.
    def h(i: Int): Column = {
      import org.apache.spark.sql.GraftBridge
      GraftBridge.column(graft.functions.TokenMinHash(
        GraftBridge.expression(col("text")), i))
    }
    docs.select(col("doc_id"),
      posexplode(array((0 until 4).map(b =>
        xxhash64(h(2 * b), h(2 * b + 1))): _*)).as(Seq("band", "bkey")))
  }

  /** Banded-MinHash near-dup candidates AND exact-verified pairs at
    * J ≥ 0.75, parameterized by the banding (nBands × nRows) so the
    * (b,r) sensitivity table in ExtOpsSpec measures real plans, not a
    * formula. Returns (candidates(da,db), pairs(da,db,dist)).
    *
    * Shape (the verify attach would otherwise be the family's biggest
    * shuffle mover, 31 MiB at sf0.1):
    *  - ONE doc-keyed groupBy computes the signature and the verify
    *    payload together. On the bitset path (closed ≤62-token
    *    vocabulary, [[Masks]]) the payload is the exact BIGINT set
    *    mask, 8 bytes; the general path carries the sorted fingerprint
    *    array it would otherwise rebuild in [[docTokensFrom]].
    *  - The band rows carry the verify payload, so on the bitset path
    *    the EXACT threshold is evaluated INLINE in the band join —
    *    the candidate-pair exchange and both mask-attach joins are
    *    gone (3 joins → 1). Precision stays 1; only recall is
    *    probabilistic (P(detect | J) = 1 − (1 − J^r)^b).
    *  - The general path cannot afford token arrays in band rows;
    *    instead band rows carry the token COUNT and the join applies
    *    the length gate inline (J ≥ τ forces τ·ca ≤ 100·cb and
    *    τ·cb ≤ 100·ca), pruning candidates before the one remaining
    *    array-attach round trip.
    * First-colliding-band uniqueness (emit a pair only at its lowest
    * matching band, via inequality on all earlier band keys) keeps the
    * candidate stream duplicate-free with no post-join distinct. */
  private[graft] def minhashCandAndPairs(s: SparkSession, d: String,
      nBands: Int, nRows: Int): (DataFrame, DataFrame) = {
    val tauPct = 75
    val nH = nBands * nRows
    val hAggs = (0 until nH).map(i =>
      min(xxhash64(col("w"), lit(i))).as(s"h$i"))
    val bkExprs = (0 until nBands).map(b =>
      xxhash64((b * nRows until (b + 1) * nRows).map(i => col(s"h$i")): _*)
        .as(s"bk$b"))
    // one posexplode pass, NOT a per-band union — a union re-plans (and
    // re-shuffles) the whole signature aggregation once per band
    // (measured r9: 14 hash exchanges → 6 in the physical plan)
    def sides(keyed: DataFrame, payload: Seq[String])
        : (DataFrame, DataFrame) = {
      // EXPLICIT width on the band-key exchange (r15): the band join
      // is an EXPLODING join — 20 k signature rows in, 3.9 M verified
      // pairs out at sf0.1 — and AQE sizes post-shuffle stages by
      // INPUT bytes, so it coalesced the join to ONE task (measured:
      // a 3.5 s serial stage holding 47% of the key). Repartitioning
      // the band rows by the join key here is not an extra exchange —
      // both join sides derive from these rows, the aliases preserve
      // the partitioning attributes, and EnsureRequirements then
      // needs NO further exchange — it just pins the width to the
      // session's parallelism instead of AQE's input-byte guess.
      val rows = keyed.select(col("doc_id") +: payload.map(col) ++:
        (0 until nBands).map(b => col(s"bk$b")) :+
        posexplode(array((0 until nBands).map(b => col(s"bk$b")): _*))
          .as(Seq("band", "bkey")): _*)
        .repartition(keyed.sparkSession.sparkContext.defaultParallelism,
          col("band"), col("bkey"))
      val xa = rows.select(col("doc_id").as("da") +:
        payload.map(p => col(p).as(p + "a")) ++:
        Seq(col("band"), col("bkey")) ++:
        (0 until nBands).map(b => col(s"bk$b").as(s"xa$b")): _*)
      val yb = rows.select(col("doc_id").as("db") +:
        payload.map(p => col(p).as(p + "b")) ++:
        Seq(col("band").as("bandy"), col("bkey").as("bkeyy")) ++:
        (0 until nBands).map(b => col(s"bk$b").as(s"yb$b")): _*)
      (xa, yb)
    }
    // First-colliding-band trick: a pair is emitted only at the lowest
    // band where its buckets match, so candidates are duplicate-free by
    // construction — no post-join distinct() shuffle (the classic LSH
    // dedup; cuts a ~4x-inflated exchange at sf0.1).
    val firstHit = (0 until nBands).map { b =>
      (0 until b).map(j => col(s"xa$j") =!= col(s"yb$j"))
        .foldLeft(col("band") === b)(_ && _)
    }.reduce(_ || _)
    val bandEq = col("band") === col("bandy") &&
      col("bkey") === col("bkeyy") && col("da") < col("db") && firstHit
    def finish(p: DataFrame): DataFrame = p
      // single-occurrence threshold form (see exactWordPairs):
      // J ≥ τ ⇔ (100+τ)·inter ≥ τ·(ca+cb)
      .where(lit(100 + tauPct) * col("inter") >=
        lit(tauPct) * (col("ca") + col("cb")))
      .withColumn("uni", col("ca") + col("cb") - col("inter"))
      .select(col("da"), col("db"),
        round6(lit(1.0) - col("inter").cast("double") /
          col("uni").cast("double")).as("dist"))
      // Deterministic presentation order. This global sort is now the
      // key's ONLY large exchange (30 of 31 MiB at sf0.1, measured at
      // dbd603a — the candidate+verify stage shuffles 1.2 MiB); both
      // costs are output-sized and exist solely for run-to-run
      // determinism of the dumped pair set; a 100 TB consumer feeding
      // CC / keep-best (keyed consumers) would drop the orderBy and
      // with it ~95% of the key's shuffle volume. The pin stops the
      // sort's RangePartitioning bound-sampling from re-running the
      // band-join probe (measured 5.36 → 4.33 s median at sf0.1 on
      // the single-groupBy plan; on the earlier double-planned tree
      // the same pin was a wash — the fix unmasked it).
      .pinned
      .orderBy("da", "db")
    tokenSets(s, d) match {
      case m: Masks =>
        // pinned: BOTH band-join sides consume keyed — unpinned, each
        // side re-plans the dict window + signature agg (the subtree
        // would execute twice, and the ≤62-row dictionary's
        // single-partition rank window would leak into the key's own
        // plan; pinning keeps it a one-off dictionary-sized job, the
        // same discipline as Masks.docs)
        val keyed = m.tok.join(m.dict, "w")
          .groupBy(col("doc_id"))
          .agg(expr("bit_or(shiftleft(1L, grank))").as("m"), hAggs: _*)
          .withColumn("c", expr("bit_count(m)"))
          .select(col("doc_id") +: col("m") +: col("c") +: bkExprs: _*)
          .pinned
        val (xa, yb) = sides(keyed, Seq("m", "c"))
        val joined = xa.join(yb, bandEq)
        val cand = joined.select(col("da"), col("db"))
        val pairs = joined.select(col("da"), col("db"),
          expr("bit_count(ma & mb)").as("inter"),
          col("ca"), col("cb"))
        (cand, finish(pairs))
      case p: Postings =>
        // pinned: three consumers (band rows + both verify attaches) —
        // one tokenize + one doc-keyed groupBy total
        val keyed = p.tok.groupBy(col("doc_id"))
          .agg(hAggs.head,
            hAggs.tail :+
              sort_array(collect_set(xxhash64(col("w")))).as("wh"): _*)
          .withColumn("c", size(col("wh")))
          .select(col("doc_id") +: col("wh") +: col("c") +: bkExprs: _*)
          .pinned
        val (xa, yb) = sides(keyed.drop("wh"), Seq("c"))
        val joined = xa.join(yb, bandEq)
        // candidates = raw first-band collisions, IDENTICAL in meaning
        // to the bitset arm (r11 review: the sensitivity table and
        // GraftOps.minhashPairs compare candidate counts across paths,
        // so the definition must not depend on the dispatch); the
        // length gate then prunes BEFORE the array attach as a fused
        // post-join filter — same plan cost as an in-join conjunct
        val cand = joined.select(col("da"), col("db"))
        val gated = joined
          .where(lit(100) * col("ca") >= lit(tauPct) * col("cb") &&
            lit(100) * col("cb") >= lit(tauPct) * col("ca"))
          .select(col("da"), col("db"), col("ca"), col("cb"))
        val pairs = gated
          .join(keyed.select(col("doc_id").as("da"), col("wh").as("wa")),
            "da")
          .join(keyed.select(col("doc_id").as("db"), col("wh").as("wb")),
            "db")
          .withColumn("inter", interCount(col("wa"), col("wb")))
        (cand, finish(pairs))
    }
  }

  /** Round budget of the dedup-family CC keys. ccCore's
    * propagate+jump covers converged radius 2^(r+1)−2, so 4 rounds
    * cover diameter 30 against a measured near-dup component diameter
    * of 6–8 across SFs (near-cliques; rounds 2+ additionally run on
    * the round-1 CONTRACTED quotient, whose diameter is smaller
    * still). r15: trimmed 6 → 4 — each budgeted-but-converged round
    * still costs its label-sized stages and their AQE job latency
    * (~3 jobs/round; dedup_cluster_cc ran 62 jobs for 5.8 s of task
    * time), and ccCore's guard propagate RAISES on any residual
    * label change, so an under-budget cannot silently mis-cluster —
    * it fails the run loudly (verified green
    * at sf0.001/0.01/0.1). */
  private[graft] val CcRounds = 4

  /** Class-banded containment candidate pairs (da, db) at τ = tauPct/100
    * over [[TokenSets.ranked]] — duplicates possible (one row per
    * class-meeting prefix token); see the `sim_containment_pairs` design
    * note. InvariantSpec asserts the candidate set is a superset of the
    * qualifying pairs. */
  private[graft] def containmentCandidates(ranked: DataFrame,
      tauPct: Int): DataFrame = {
    val x = ranked
      .where(col("rnk") <= col("c") - expr(s"($tauPct * c + 99) div 100") + 1)
      .select(col("doc_id").as("da"), col("w"),
        col("rnk").as("ra"), col("c").as("ca"),
        (length(bin(col("c"))) - 1).as("kx"),
        col("bm0").as("ba0"), col("bm1").as("ba1"))
    val y = ranked.select(col("doc_id").as("db"),
      col("w").as("wy"), col("rnk").as("rb"), col("c").as("cb"),
      explode(sequence(lit(0),
        (length(bin(expr(s"(c - rnk + 1) * 100 div $tauPct"))) - 1)
          .cast("int"))).as("ky"),
      col("bm0").as("bb0"), col("bm1").as("bb1"))
    // Bitmap prune (exact; see TokenSets.ranked's bm0/bm1): containment only
    // bounds x's missing tokens — o ≤ ca − popcount(ba & ~bb), and
    // C ≥ τ needs o·100 ≥ τ·ca. One-sided, two AND+POPCNTs per matched
    // row; r6 measured 20.7 M candidate rows surviving the positional
    // filters alone (corpus tokens are hot: ~32 M raw matches).
    val cond = col("w") === col("wy") &&
      col("kx") === col("ky") && col("da") =!= col("db") &&
      lit(100) * col("cb") >= lit(tauPct) * col("ca") &&
      (lit(1) + least(col("ca") - col("ra"), col("cb") - col("rb"))) *
        lit(100) >= lit(tauPct) * col("ca") &&
      (col("ca") -
        expr("bit_count(ba0 & ~bb0) + bit_count(ba1 & ~bb1)")) *
        lit(100) >= lit(tauPct) * col("ca")
    x.join(y, cond).select(col("da"), col("db"))
  }

  /** Near-dup CONNECTIVITY pairs at τ — same connected components as
    * [[exactWordPairs]]'s full pair set, WITHOUT materializing it. On
    * the bitset path the quotient (see [[maskUniq]]) is returned
    * directly: rep-level qualifying pairs plus one membership link per
    * non-representative doc (doc → its mask's rep). Doc-level pairs are
    * exactly the member expansions of rep pairs plus the within-mask
    * cliques, membership links realize a spanning star of each clique,
    * and every expansion path routes through the two reps — so the
    * quotient graph and the full pair graph have identical components
    * while |edges| drops from Σ n_a·n_b to |rep pairs| + |docs|. CC
    * round cost then scales with DISTINCT token sets, not corpus
    * near-dup density. General (open-vocabulary) path: the full pair
    * set of [[exactWordPairsOf]] on the same token sets. */
  private def connectivityPairs(s: SparkSession, d: String,
      tauPct: Int): DataFrame = {
    tokenSets(s, d) match {
      case m: Masks =>
        val (uniq, grp) = m.quotient
        val memb = grp.where(col("doc_id") =!= col("rep"))
          .select(col("doc_id").as("da"), col("rep").as("db"))
        bitsetJaccardPairs(uniq, tauPct)
          .select(col("da"), col("db")).union(memb)
      case p: Postings =>
        exactWordPairsOf(p, tauPct).select(col("da"), col("db"))
    }
  }

  /** Min-label CC over the near-dup pair graph (see the
    * `dedup_cluster_cc` entry below for the design notes). Each round is
    * propagate (min label over the 1-hop neighborhood) THEN shortcut
    * (pointer jump, l ← l(l(v))), so converged-radius roughly DOUBLES
    * per round and the budget needed is O(log diameter), not O(diameter)
    * — plain propagation's Achilles heel on exactly the corpus this
    * operator targets: drop-one-word near-dup CHAINS, whose diameter
    * grows with corpus size. 6 rounds cover diameter ≈ 2⁶ vs plain
    * propagation's 6. Exposed with a round-count parameter so
    * InvariantSpec can prove convergence (round N == round N+1 under
    * monotone min-propagation). The plan always appends ONE guard
    * PROPAGATE round and raises at runtime if any label still
    * changed — stationarity under propagate implies labels are constant
    * per component and each component's constant is its min member id
    * (l(v) ≤ v always), so an unconverged or wrong clustering can never
    * be silently emitted. */
  private[graft] def clusterCC(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    // The propagation core is the generic [[GraphOps.ccCore]]; this
    // operator supplies the near-dup pair graph and the all-docs node
    // set (isolated docs are singleton clusters).
    val pairs = connectivityPairs(s, d, TauPct)
      .select(col("da").as("a"), col("db").as("b"))
    val docs = t(s, d, "documents").select(col("doc_id").as("v"))
    GraphOps.ccCore(docs, pairs, rounds, "dedup_cluster_cc")
      .select(col("v").as("doc_id"), col("l").as("cluster"))
      .orderBy("doc_id")
  }

  /** Deletion-neighborhood (SymSpell) fuzzy join: pairs each typo row
    * (id, typo) with every dictionary word (w) at levenshtein ≤ 1,
    * emitting (id, typo, w, dist). Candidates come from ONE equi-join
    * on the variant string over D1(s) = {s} ∪ single-char deletions;
    * completeness: lev(a,b) ≤ 1 ⟹ D1(a) ∩ D1(b) ≠ ∅ (substitution:
    * delete the differing position in both; insert/delete: the shorter
    * IS a deletion of the longer; equality: the string itself). The
    * levenshtein verify is map-side and runs BEFORE the distinct, so
    * the dedup shuffle carries only true pairs. Fuzzed vs brute force
    * on dense random alphabets in RewriteEquivalenceSpec. */
  private[graft] def editNeighbors(dict: DataFrame,
      typos: DataFrame): DataFrame = {
    // {s} ∪ all single-char deletions of column `n`
    def dels(n: String) =
      concat(array(col(n)), expr(
        s"transform(sequence(1, length($n)), i -> " +
          s"concat(substring($n, 1, i-1), " +
          s"substring($n, i+1, length($n))))"))
    val vvar = dict.select(col("w"), explode(dels("w")).as("v"))
    val tvar = typos.select(col("doc_id"), col("typo"),
      explode(dels("typo")).as("v"))
    tvar.join(vvar, "v")
      .where(levenshtein(col("typo"), col("w")) <= 1)
      .select(col("doc_id"), col("typo"), col("w"),
        levenshtein(col("typo"), col("w")).as("dist"))
      .distinct()
  }

  val queries: Map[String, QFn] = Map(
    "text_tokenize" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .select(words)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(100)),

    "text_stats" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          sum(size(split(col("text"), " ")).cast("long")).as("sum_words"))
        .select(col("lang"), col("cnt"),
          round6(col("sum_chars").cast("double") / col("cnt"))
            .as("avg_chars"),
          round6(col("sum_words").cast("double") / col("cnt"))
            .as("avg_words"))
        .orderBy("lang")),

    "dedup_exact" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .select(md5(lower(trim(col("text")))).as("h"), col("doc_id"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("cnt"))
        .orderBy("h")),

    // pinned pre-sort (r15): the presentation sort's RangePartitioning
    // bound-sampling plus the range exchange each re-ran the member
    // expansion (the key's output-sized tail) — the sim_ngram_jaccard /
    // pipe_delta_dedup trade applied to the symmetric key; the pair set
    // materializes once and the sort reads blocks.
    "sim_jaccard_pairs" -> ((s: SparkSession, d: String) =>
      pin(exactWordPairs(s, d, TauPct)).orderBy("da", "db")),

    // INCREMENTAL (delta) near-dedup — the shape a production ingest
    // actually runs: a new batch (delta = doc_id % 10 == 0, the
    // deterministic stand-in for "this ingest's arrivals") is paired
    // against the full corpus, but base×base pairs are NEVER generated
    // — full re-dedup is Θ(N²)-candidate work on every ingest; delta
    // restriction is Θ(N·Δ). On the bitset substrate the restriction
    // is structural, not a post-filter: the x posting side is built
    // from DELTA docs only (prefix bits), the y side carries ALL docs
    // (full bits — the asymmetric-prefix trick from the containment
    // join; completeness holds because the globally-first shared token
    // of a qualifying pair always lies in x's prefix, the same lemma
    // both bitset joins rest on), and each pair is emitted exactly
    // once: delta×base at its delta endpoint, delta×delta at the
    // smaller id. Exact threshold + first-shared-token uniqueness
    // evaluate inline as in bitsetJaccardPairs. The postings fallback
    // keeps the semantics: it filters the same exactWordPairsOf pairs
    // that sim_jaccard_pairs computes, by endpoint, over the token sets
    // it already built — correct everywhere, incremental only on the
    // bitset path.
    "pipe_delta_dedup" -> ((s: SparkSession, d: String) =>
      // pinned pre-sort: the sort's bound sampling would re-run the
      // delta-join probe (the expensive narrow tail); the delta output
      // is small by construction — the sim_ngram_jaccard trade
      pin(deltaJaccardPairs(s, d, TauPct,
        c => pmod(c, lit(10)) === 0)).orderBy("da", "db")),

    // Fuzzy string matching via DELETION NEIGHBORHOODS (the SymSpell
    // candidate scheme) — the missing member of the dedup shelf: typo
    // correction against a dictionary WITHOUT a dictionary × corpus
    // cross join. Candidate completeness for edit distance ≤ 1: if
    // lev(a,b) ≤ 1 then D1(a) ∩ D1(b) ≠ ∅, where D1(s) = {s} ∪
    // single-char deletions of s — substitution: delete the differing
    // position in both; insert/delete: the shorter string IS a deletion
    // of the longer; equality: the string itself. So one equi-join on
    // the variant string finds every pair, and the cheap map-side
    // levenshtein verify discards the false candidates (verify BEFORE
    // the distinct, so the dedup shuffle carries only true pairs).
    // Typos are injected deterministically (doc_id%3 docs drop the
    // char at doc_id mod len of their first word) — the corpus' 31-word
    // soup has no natural near-words. Scale: the dictionary side is
    // vocabulary-sized (Heaps-sublinear) with O(Σ|w|) variants; the
    // typo side is corpus-linear; both shuffle keyed on the variant
    // string — never a cross join. The oracle brute-forces lev over
    // dict × typos, so candidate completeness is hash-checked, not
    // assumed.
    "sim_edit_neighbors" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val dict = docs.select(words)
        .distinct()
      val typos = docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), split(col("text"), " ").getItem(0).as("tw"))
        .select(col("doc_id"), concat(
          expr("substring(tw, 1, CAST(doc_id % length(tw) AS INT))"),
          expr("substring(tw, CAST(doc_id % length(tw) AS INT) + 2, " +
            "length(tw))")).as("typo"))
      editNeighbors(dict, typos).orderBy("doc_id", "w")
    }),

    // Containment (subset-dup) detection — the dedup case symmetric
    // Jaccard misses: a short document swallowed by a longer one.
    // C(x→y) = |x∩y| / |x| ≥ 95% over ORDERED pairs (x contained in y).
    // Same prefix-filter machinery, asymmetric: o ≥ τ·|x| only binds
    // x's side, so candidates pair x-PREFIX postings with y postings.
    //
    // If y entered the join with its FULL posting rows, a hot token's
    // whole posting list would be paired before any filter ran, a
    // Σ_w |prefix(w)|·|post(w)| term that grows with corpus skew. The
    // key applies the ASYMMETRIC PREFIX BOUND of the
    // containment-join literature as a PRE-join prune via size classes:
    // class x by k = ⌊log₂ ca⌋ (exact integer form: length(bin(ca))−1)
    // and join on (token, class); y replicates a posting row ONLY into
    // classes it can serve, rb ≤ cb − ⌈τ·2^k/100⌉ + 1 ⟺ k ≤
    // ⌊log₂((cb−rb+1)·100 div τ)⌋ — so each document's HIGHEST-rank
    // (hottest) tokens drop out of every large class before pairing,
    // and the per-class y side shrinks geometrically. Recall stays 1:
    // a qualifying pair meets at its first shared token e with
    // rank_y(e) ≤ cb − o + 1 ≤ cb − ⌈τ·ca/100⌉ + 1 ≤ cb − ⌈τ·2^k/100⌉+1
    // (ca ≥ 2^k), so e's class-k copy exists (brute-force-checked on
    // random corpora in RewriteEquivalenceSpec; candidate-superset
    // assertion in InvariantSpec). Replication cost is logarithmic
    // (≤ ⌊log₂ ca_max⌋+1 copies, only low-rank rows reach high k), and
    // the (token, class) join key splits hot posting lists across class
    // partitions — measured at sf0.1: 32.7 M → 20.7 M paired rows.
    // Exact verification via the fingerprint merge scan; dedup runs
    // after verify (see exactWordPairs); threshold in single-occurrence
    // form is direct here (inter ≥ ⌈τ·ca⌉ references inter once).
    "sim_containment_pairs" -> ((s: SparkSession, d: String) => {
      val tau = 95
      // Adaptive representation dispatch (see tokenSets): the
      // dictionary-fitting corpus takes the exact-bitset path.
      tokenSets(s, d) match {
        case m: Masks =>
          // mask quotient + SORT-FUSED member expansion (see
          // expandContainmentSorted): the range exchange runs on the
          // pre-expansion intermediate, not the 4.6 M-row output
          val (uniq, grp) = m.quotient
          expandContainmentSorted(bitsetContainmentPairs(uniq, tau), grp)
        case p: Postings =>
          val dt = docTokensFrom(p.ranked)
          // candidate dedup BEFORE the verify attach, post-verify
          // distinct dropped: the trade measured in exactWordPairsOf
          containmentCandidates(p.ranked, tau).distinct()
            .join(dt.select(col("doc_id").as("da"), col("wh").as("wa"),
              col("c").as("ca")), "da")
            .join(dt.select(col("doc_id").as("db"), col("wh").as("wb")),
              "db")
            .withColumn("inter", interCount(col("wa"), col("wb")))
            .where(lit(100) * col("inter") >= lit(tau) * col("ca"))
            .select(col("da"), col("db"), col("inter"), col("ca"))
            .orderBy("da", "db")
      }
    }),

    // Connected-component clustering over the near-dup pair graph — the
    // step a dedup pipeline runs after pair generation (keep one doc per
    // cluster). Min-label propagation with self-loops over the
    // prefix-filtered exact pair graph, 10 declared rounds: round r
    // covers graph distance r, and near-dup components are near-cliques
    // (measured fixpoint depth 6-8 across SFs) — verified against the
    // oracle's exact recursive-CTE fixpoint at sf0.01. Convergence is
    // CHECKED at runtime (ccCore appends one guard round and raises
    // on any residual label change), so a deeper-than-budget
    // graph fails loudly instead of silently mis-clustering; min is
    // merge-order independent — the scale shape of GraphX CC.
    "dedup_cluster_cc" -> ((s: SparkSession, d: String) =>
      clusterCC(s, d, CcRounds)),

    // Canonical selection — the step a curation pipeline runs AFTER
    // clustering: keep the highest-quality document per near-dup cluster
    // (quality = the text_quality composite; doc_id tie-break), with the
    // cluster size for audit. One agg keyed on cluster after the CC;
    // max(struct(quality, -doc_id)) is an exact, merge-order-independent
    // argmax — no window over the full corpus, the shuffle output is
    // cluster-count-sized.
    "dedup_keep_best" -> ((s: SparkSession, d: String) => {
      // clusterCC's non-convergence guard matters most here: a
      // mis-clustering would silently DROP documents (wrong canonical
      // per merged-but-unconverged cluster), the worst failure mode a
      // dedup pipeline has
      val clusters = clusterCC(s, d, CcRounds)
      val q = t(s, d, "documents")
        .select(col("doc_id"), TextAnalysisOps.qualityCol.as("quality"))
      clusters.join(q, "doc_id")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("csize"),
          max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"))
        .select(col("cluster"), (-col("best.nid")).as("keep_doc"),
          col("best.quality").as("quality"), col("csize"))
        .orderBy("cluster")
    }),

    // n-gram (character 5-gram shingle) Jaccard: exact, over candidates
    // from the word-level prefix-filtered exact pairs at τ₁=95% — the
    // pair set the oracle defines; the per-pair shingle intersection is
    // affordable because the candidate stage already bounded the pairs.
    "sim_ngram_jaccard" -> ((s: SparkSession, d: String) => {
      val cand = exactWordPairs(s, d, 95).select(col("da"), col("db"))
      // shingles as sorted distinct 64-bit fingerprints (see
      // interCount) — only intersection/union COUNTS flow downstream,
      // never the strings. r10: the codegen'd SortedShingleHashes
      // expression replaces the declarative
      // sort_array(array_distinct(transform(sequence(..xxhash64..))))
      // chain — identical output (RewriteEquivalenceSpec, incl. the
      // short-text empty-array guard Spark's descending sequence()
      // made mandatory), one compiled pass instead of an interpreted
      // lambda per shingle.
      val grams = {
        import org.apache.spark.sql.GraftBridge
        t(s, d, "documents").select(col("doc_id"),
          GraftBridge.column(graft.functions.SortedShingleHashes(
            GraftBridge.expression(col("text")), 5)).as("ng"))
      }
      // gram attaches unhinted: doc-count-sized table behind its own
      // exchange — AQE broadcasts it when it fits (see docTokensFrom)
      cand
        .join(grams.select(col("doc_id").as("da"),
          col("ng").as("ga")), "da")
        .join(grams.select(col("doc_id").as("db"),
          col("ng").as("gb")), "db")
        .withColumn("ng_inter", interCount(col("ga"), col("gb")))
        .select(col("da"), col("db"), col("ng_inter"),
          (size(col("ga")) + size(col("gb")) - col("ng_inter")).as("ng_uni"))
        // pin before the global sort: the sort's RangePartitioning
        // bound-sampling re-runs the narrow tail stage — here the two
        // gram-attach probes plus the per-pair shingle merge scan, the
        // key's most expensive stage. The output is candidate-sized
        // (~19 k rows at sf0.1), so materializing it once is ~free
        // and the verify never executes twice. (dedup_minhash pins
        // too, since its single-groupBy rewrite — DESIGN §14.3 has the
        // per-key A/B table; the trade pays most when output ≪ tail
        // compute, as here.)
        .pinned
        .orderBy("da", "db")
    }),

    "knn_cosine" -> ((s: SparkSession, d: String) => {
      val emb = t(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      emb.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round6(dot(col("embedding"), col("qe"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
    }),

    // Within-label all-pairs is inherently Θ(Σ N_label²) compute (the
    // embeddings are near-uniform unit vectors — measured: qualifying
    // dots hug the threshold, no cluster gap — so no recall-1 LSH
    // pruning exists); the scale design distributes that work instead:
    // tiled block pairs bound per-task memory/work even for one giant
    // label, and the custom TopKPerGroup physical operator bounds the
    // final shuffle to ≤ 3 rows per (label × partition) — the window
    // formulation would shuffle and sort EVERY pair.
    "knn_per_label" -> ((s: SparkSession, d: String) => {
      val emb = t(s, d, "embeddings")
      val pairs = SimilarityOps.tiledPairs(emb, Seq("label"))
        .select(col("label"), col("a"), col("b"),
          round6(dot(col("va"), col("vb"))).as("cos"))
      GraftOps.topKPerGroup(pairs, Seq("label"),
        Seq(("cos", false), ("a", true), ("b", true)), 3)
        .select(col("label"), col("a"), col("b"), col("cos"))
        .orderBy(col("label"), col("cos").desc, col("a"), col("b"))
    }),

    // ⊘ streaming-ingest near-dup — no oracle (DuckDB has no xxhash64);
    // equivalence with the Structured Streaming form (NearDupStream,
    // first-seen-wins keyed state) is proven by chunked replay in
    // StreamingSpec. Batch semantics: a document survives ingest iff it
    // is the FIRST arrival (min doc_id = arrival order) in EVERY one of
    // its MinHash band buckets — i.e. what a streaming dedup-on-ingest
    // with per-bucket state keeps. All map-side expressions + one
    // (band, bucket)-keyed agg; never a pair join at all — this is the
    // cheapest member of the dedup family and the one an ingestion
    // service runs inline.
    "stream_neardup" -> ((s: SparkSession, d: String) => {
      val bk = bandRowsOf(t(s, d, "documents"))
      val first = bk.groupBy(col("band"), col("bkey"))
        .agg(min(col("doc_id")).as("first"))
      bk.join(first, Seq("band", "bkey"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("first") === col("doc_id"), 0)
          .otherwise(1)).as("coll"))
        .where(col("coll") === 0)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    "multimodal_join" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .join(t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .rollup(col("label"), col("lang"))
        .agg(grouping(col("label")).cast("int").as("g1"),
          grouping(col("lang")).cast("int").as("g2"),
          count(lit(1)).as("cnt"))
        .select(col("g1"), col("g2"),
          coalesce(col("label").cast("string"), lit("ALL")).as("label_c"),
          coalesce(col("lang"), lit("ALL")).as("lang_c"), col("cnt"))
        .orderBy("g1", "g2", "label_c", "lang_c")),

    // ⊘ approximate — no oracle; recall tested in-repo vs exact Jaccard.
    // Banded MinHash (LSH) with the exact verify evaluated INLINE in the
    // band join — see [[minhashCandAndPairs]] for the r11 plan and the
    // design rationale. b=4 × r=2 is justified by the measured ExtOpsSpec
    // sensitivity table (recall/precision/candidates at (4,2),(8,1),
    // (8,2),(16,1) vs exact ground truth), not inherited: (4,2) has the
    // FEWEST candidates (102k vs 124k for (16,1) at sf0.001) AND half
    // the band rows of the 8-band configs, at recall 0.997
    // (P(detect|J)=1-(1-J²)⁴ ≥ 0.998 at J=0.9) — the r=1 configs buy
    // their last 0.3% of recall with ~20% more candidates and 2–4×
    // the band-row volume. Replaces MLlib's approxSimilarityJoin, whose
    // per-pair sparse-vector distance was a measured 365 s at sf0.1 —
    // the banded form shuffles only (band, bucket) keys and never
    // materializes non-colliding pairs.
    "dedup_minhash" -> ((s: SparkSession, d: String) =>
      minhashCandAndPairs(s, d, nBands = 4, nRows = 2)._2))

  /** Shared oracle CTE chain (no WITH/RECURSIVE header): the exact
    * near-dup pair graph at [[TauPct]] and its connected components as
    * `cc(doc_id, cluster)` — the ground truth for both clustering keys. */
  private[operators] val oCcCte: String =
    "tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w " +
      "FROM documents), " +
      "cnt AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id), " +
      "ip AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter " +
      "FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "pairs AS (SELECT da, db FROM ip JOIN cnt ca ON da = ca.doc_id " +
      "JOIN cnt cb ON db = cb.doc_id " +
      s"WHERE 100 * inter >= $TauPct * (ca.c + cb.c - inter)), " +
      "edges AS (SELECT da AS v, db AS u FROM pairs " +
      "UNION ALL SELECT db AS v, da AS u FROM pairs), " +
      "reach(v, l) AS (SELECT doc_id, doc_id FROM documents " +
      "UNION SELECT e.v, r.l FROM edges e JOIN reach r ON e.u = r.v), " +
      "cc AS (SELECT v AS doc_id, min(l) AS cluster FROM reach GROUP BY v)"

  val oracle: Map[String, String] = Map(
    "text_tokenize" ->
      ("SELECT w, count(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS w " +
        "FROM documents) GROUP BY w ORDER BY cnt DESC, w LIMIT 100"),
    "text_stats" ->
      ("SELECT lang, count(*) AS cnt, " +
        oRound6("CAST(sum(n_chars) AS DOUBLE) / count(*)") + " AS avg_chars, " +
        oRound6("CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)") +
        " AS avg_words FROM documents GROUP BY lang ORDER BY lang"),
    "dedup_exact" ->
      ("SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_doc, " +
        "count(*) AS cnt FROM documents GROUP BY 1 ORDER BY h"),
    "sim_jaccard_pairs" ->
      ("WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "cnt AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id), " +
        "ip AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter " +
        "FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT da, db, CAST(inter AS INTEGER) AS inter, " +
        "CAST(ca.c + cb.c - inter AS INTEGER) AS uni " +
        "FROM ip JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id " +
        s"WHERE 100 * inter >= $TauPct * (ca.c + cb.c - inter) ORDER BY da, db"),
    // the oracle defines SEMANTICS only (full pair set, endpoint
    // filter); the Spark plan's delta-restricted candidate generation
    // must reproduce it exactly
    "pipe_delta_dedup" ->
      ("WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "cnt AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id), " +
        "ip AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter " +
        "FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT da, db, CAST(inter AS INTEGER) AS inter, " +
        "CAST(ca.c + cb.c - inter AS INTEGER) AS uni " +
        "FROM ip JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id " +
        s"WHERE 100 * inter >= $TauPct * (ca.c + cb.c - inter) " +
        "AND (da % 10 = 0 OR db % 10 = 0) ORDER BY da, db"),
    // brute-force lev over dict × typos — candidate completeness of the
    // deletion-neighborhood join is hash-checked against it
    "sim_edit_neighbors" ->
      ("WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "t0 AS (SELECT doc_id, string_split(text, ' ')[1] AS tw " +
        "FROM documents WHERE doc_id % 3 = 0), " +
        "t AS (SELECT doc_id, " +
        "substr(tw, 1, CAST(doc_id % len(tw) AS INT)) || " +
        "substr(tw, CAST(doc_id % len(tw) AS INT) + 2) AS typo FROM t0) " +
        "SELECT doc_id, typo, w, CAST(levenshtein(typo, w) AS INT) AS dist " +
        "FROM t, v WHERE levenshtein(typo, w) <= 1 ORDER BY doc_id, w"),
    "sim_containment_pairs" ->
      ("WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "cnt AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id), " +
        "ip AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter " +
        "FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id <> b.doc_id " +
        "GROUP BY 1, 2) " +
        "SELECT da, db, CAST(inter AS INTEGER) AS inter, " +
        "CAST(ca.c AS INTEGER) AS ca " +
        "FROM ip JOIN cnt ca ON da = ca.doc_id " +
        "WHERE 100 * inter >= 95 * ca.c ORDER BY da, db"),
    "dedup_cluster_cc" ->
      ("WITH RECURSIVE " + oCcCte +
        " SELECT doc_id, cluster FROM cc ORDER BY doc_id"),
    "dedup_keep_best" ->
      ("WITH RECURSIVE " + oCcCte + ", " +
        "q AS (SELECT doc_id, " + TextAnalysisOps.qualitySql +
        " AS quality FROM documents), " +
        "j AS (SELECT cc.cluster, cc.doc_id, q.quality " +
        "FROM cc JOIN q USING (doc_id)), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY cluster " +
        "ORDER BY quality DESC, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY cluster) AS csize FROM j) " +
        "SELECT cluster, doc_id AS keep_doc, quality, " +
        "CAST(csize AS BIGINT) AS csize FROM r WHERE rn = 1 ORDER BY cluster"),
    "sim_ngram_jaccard" ->
      ("WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "cnt AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id), " +
        "ip AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter " +
        "FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "cand AS (SELECT da, db FROM ip JOIN cnt ca ON da = ca.doc_id " +
        "JOIN cnt cb ON db = cb.doc_id " +
        "WHERE 100 * ca.c >= 95 * cb.c AND 100 * cb.c >= 95 * ca.c " +
        "AND 100 * inter >= 95 * (ca.c + cb.c - inter)), " +
        "g AS (SELECT doc_id, list_distinct(list_transform(" +
        "range(1, length(text) - 3), i -> substr(text, i, 5))) AS ng " +
        "FROM documents) " +
        "SELECT da, db, " +
        "CAST(len(list_intersect(ga.ng, gb.ng)) AS INTEGER) AS ng_inter, " +
        "CAST(len(ga.ng) + len(gb.ng) - len(list_intersect(ga.ng, gb.ng)) " +
        "AS INTEGER) AS ng_uni " +
        "FROM cand JOIN g ga ON da = ga.doc_id JOIN g gb ON db = gb.doc_id " +
        "ORDER BY da, db"),
    "knn_cosine" ->
      ("WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) " +
        "SELECT e.vec_id, " + oRound6(oDot("e.embedding", "qe")) + " AS cos " +
        "FROM embeddings e, q WHERE e.vec_id <> 0 " +
        "ORDER BY cos DESC, vec_id LIMIT 10"),
    "knn_per_label" ->
      ("WITH p AS (SELECT e1.label, e1.vec_id AS a, e2.vec_id AS b, " +
        oRound6(oDot("e1.embedding", "e2.embedding")) + " AS cos " +
        "FROM embeddings e1 JOIN embeddings e2 " +
        "ON e1.label = e2.label AND e1.vec_id < e2.vec_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY label " +
        "ORDER BY cos DESC, a, b) AS rn FROM p) " +
        "SELECT label, a, b, cos FROM r WHERE rn <= 3 " +
        "ORDER BY label, cos DESC, a, b"),
    "multimodal_join" ->
      ("SELECT CAST(GROUPING(label) AS INTEGER) AS g1, " +
        "CAST(GROUPING(lang) AS INTEGER) AS g2, " +
        "coalesce(CAST(label AS VARCHAR), 'ALL') AS label_c, " +
        "coalesce(lang, 'ALL') AS lang_c, count(*) AS cnt " +
        "FROM documents JOIN embeddings ON doc_id = vec_id " +
        "GROUP BY ROLLUP(label, lang) ORDER BY g1, g2, label_c, lang_c"))
}
