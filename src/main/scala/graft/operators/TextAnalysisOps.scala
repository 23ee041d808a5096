package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text-analysis operators (driver north star): quality scoring,
  * corpus-profile language ID, SimHash, rolling-hash fingerprints.
  *
  * Scale notes: everything is explode + 2-phase hash agg or per-row
  * codegen'd expressions; the language-ID profile (top-10 tokens per
  * lang) is vocabulary-sized and broadcast.
  */
object TextAnalysisOps {
  private val Stops = Seq("a", "the", "of", "and", "to", "in")

  /** token md5 → top-60-bit integer, identically derivable in DuckDB via
    * CAST(concat('0x', substr(md5(w),1,15)) AS BIGINT). */
  private def tokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  val queries: Map[String, QFn] = Map(
    "text_quality" -> ((s: SparkSession, d: String) => {
      val withToks = t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("alpha_raw",
          length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
            col("n_chars"))
        .withColumn("stop_raw",
          size(filter(col("toks"), w => w.isInCollection(Stops)))
            .cast("double") / col("n_tokens"))
      withToks.select(
        col("doc_id"), col("n_tokens"),
        round6((col("n_chars") - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens")).as("avg_tok_len"),
        round6(col("alpha_raw")).as("alpha_ratio"),
        round6(col("stop_raw")).as("stop_ratio"),
        round6(lit(0.5) * col("alpha_raw") +
          lit(0.5) * (lit(1.0) - col("stop_raw"))).as("quality"))
        .orderBy("doc_id")
    }),

    // Token-distribution Shannon entropy per document — the diversity/
    // repetitiveness quality signal (low entropy = template/spam text;
    // complements text_repetition's n-gram view with a whole-distribution
    // one). Determinism discipline (the text_lm_score pattern): entropy
    // H = log2(n) − (Σ c·log2 c)/n needs log2 over an unordered group
    // sum, so each per-token term is FIXED-POINT INTEGER
    // (L6(c) = floor(10⁶·log2 c) — a pure function of the count c, so
    // any ulp drift in log2 is the same on every row with that c and
    // cannot reorder partial sums), integer-summed, with one double
    // division + round6 at the output boundary. Shape: tokenize explode
    // → (doc, token) 2-phase count → doc-keyed agg; the shuffle carries
    // counts, never text — the same plan at any corpus size.
    "text_entropy" -> ((s: SparkSession, d: String) => {
      val cnts = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      cnts.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * floor(lit(1000000.0) * log2(col("c"))).cast("long"))
            .as("s6"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round6(log2(col("n_tokens")) - col("s6").cast("double") /
            (col("n_tokens") * lit(1000000L)).cast("double")).as("entropy"))
        .orderBy("doc_id")
    }),

    // Feature hashing (the hashing trick, Weinberger et al. / sklearn
    // HashingVectorizer): tokens map to a FIXED 256-bucket feature
    // space via a stable hash — the featurizer that needs no
    // vocabulary pass, no broadcast dictionary, and a bounded schema
    // regardless of corpus vocabulary (what makes it the 100 TB
    // featurizer: one map-side hash + one (doc, bucket) 2-phase count;
    // contrast text_tfidf_top's vocabulary-sized idf dim). Bucket =
    // first 8 md5 hex chars mod 256 — engine-portable (the
    // sample_stratified md5 discipline), deterministic, and
    // reingestion-stable. Output = the sparse (doc, bucket, count)
    // triplets; collisions are the technique's documented trade.
    "text_feature_hash" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"),
          (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
            % 256).as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bucket")),

    // Token counting two ways (north star): whitespace split and a
    // BPE-ish regex segmentation (letter runs / digit runs / punct runs —
    // the GPT-2 pre-tokenizer shape, ASCII-simplified so both engines'
    // regex dialects agree exactly).
    "text_token_count" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]+"), lit(0))).as("bpe_tokens"))
        .orderBy("doc_id")),

    // Language ID against corpus-derived profiles: top-10 tokens per lang
    // (by frequency, token tie-break); prediction = argmax profile overlap
    // over a doc's distinct tokens, lang tie-break. Deterministic, and a
    // faithful miniature of n-gram-profile LID (Cavnar-Trenkle shape).
    "text_langid" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val tok = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      val prof = tok.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("w"))))
        .where(col("rn") <= 10)
        .select(col("lang").as("plang"), col("w"))
      val dtok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w")).distinct()
      dtok.join(broadcast(prof), "w")
        .groupBy(col("doc_id"), col("plang"))
        .agg(count(lit(1)).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang"))))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("plang").as("pred_lang"), col("score"))
        .orderBy("doc_id")
    }),

    // 60-bit SimHash over md5-derived token bits, weighted by term count.
    "text_simhash" -> ((s: SparkSession, d: String) => {
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
        .withColumn("h", tokenHash(col("w")))
      tok.select(col("doc_id"), col("cnt"), col("h"),
        explode(sequence(lit(0), lit(59))).as("i"))
        .groupBy(col("doc_id"), col("i"))
        .agg(sum(col("cnt") *
          (expr("(shiftright(h, i) & 1)") * 2 - 1)).as("wsum"))
        .groupBy(col("doc_id"))
        .agg(sum(expr("if(wsum > 0, shiftleft(cast(1 as bigint), i), " +
          "cast(0 as bigint))")).as("fp"))
        .orderBy("doc_id")
    }),

    // Rolling-hash fingerprints via the codegen'd ShingleHash64
    // expression. Oracled because the hash is a
    // CLOSED FORM over the UTF-8 bytes — fp_full = Σ bᵢ·31^(n−1−i)
    // mod 2⁶⁴ (positional polynomial, not inherently iterative), and
    // the k=8 window hash never exceeds 255·Σ₀⁷31^t < 2⁴³, so min-over-
    // windows needs no wraparound at all. DuckDB side: bytes via
    // hex(encode(text)) pairs (byte-faithful for ANY UTF-8, validated
    // against a non-ASCII probe doc), powers of 31 mod 2⁶⁴ from a
    // recursive CTE in HUGEINT, signed-64 fold at the end.
    "text_fingerprint" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.GraftBridge
      def sh(c: Column, k: Int): Column =
        GraftBridge.column(
          graft.functions.ShingleHash64(GraftBridge.expression(c), k))
      t(s, d, "documents").select(
        col("doc_id"),
        sh(col("text"), 0).as("fp_full"),
        sh(col("text"), 8).as("fp_min8"))
        .orderBy("doc_id")
    }),

    // Within-document repetition signals (the Gopher/MassiveText filter
    // family): duplicate word-{2,3}-gram fraction and the most-frequent
    // 2-gram's share — the standard "is this boilerplate / degenerate
    // repetition" quality gates. Shape: explode n-grams + two-phase hash
    // agg per n, join the two doc-sized summaries — the shuffle carries
    // (doc, gram, partial count), never the text, and every stat is an
    // exact integer until the final single division (round6'd).
    "text_repetition" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      def gramStats(n: Int) = docs
        .select(col("doc_id"), wordGrams(n).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as(s"n$n"),
          count(lit(1)).as(s"d$n"), max(col("c")).as(s"mx$n"))
      def frac(num: Column, den: Column): Column =
        round6(when(coalesce(den, lit(0L)) > 0,
          num.cast("double") / den).otherwise(lit(0.0)))
      docs.select(col("doc_id"))
        .join(gramStats(2), Seq("doc_id"), "left")
        .join(gramStats(3), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n2"), lit(0L)).as("n2"),
          coalesce(col("d2"), lit(0L)).as("d2"),
          frac(col("n2") - col("d2"), col("n2")).as("dup2_frac"),
          frac(col("mx2"), col("n2")).as("top2_frac"),
          coalesce(col("n3"), lit(0L)).as("n3"),
          coalesce(col("d3"), lit(0L)).as("d3"),
          frac(col("n3") - col("d3"), col("n3")).as("dup3_frac"))
        .orderBy("doc_id")
    }),

    // Corpus-LM quality scoring (the CCNet-style language-model filter):
    // score each document by its average add-1-smoothed bigram
    // probability under the corpus's own bigram model — low scores mark
    // out-of-distribution/garbled text. Determinism discipline: the
    // standard form is avg log-prob (perplexity), but log() is not
    // correctly-rounded IEEE and ulp drift across libms could flip a
    // round6 boundary — so the probability is FIXED-POINT INTEGER
    // (p6 = (10⁶·(c+1)) div (cu+V)), integer-summed, with exactly ONE
    // exact-integer double division at the output boundary (the
    // graph_pagerank discipline). Shape: bigram explode → two
    // vocabulary-sized model aggs (broadcast at the attach joins) →
    // one doc-keyed agg; the shuffle carries (gram, partial count),
    // never text.
    "text_lm_score" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val bg = docs.select(col("doc_id"), wordGrams(2).as("g"))
      val c = bg.groupBy(col("g")).agg(count(lit(1)).as("c"))
      val cu = bg.groupBy(substring_index(col("g"), " ", 1).as("w1"))
        .agg(count(lit(1)).as("cu"))
      val v = docs.select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct(col("w")).as("vsz"))
      val per = bg.join(broadcast(c), "g")
        .withColumn("w1", substring_index(col("g"), " ", 1))
        .join(broadcast(cu), "w1")
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          expr("(1000000 * (c + 1)) div (cu + vsz)").as("p6"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p6")).as("score6"))
      docs.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("score6"), lit(0L)).as("score6"),
          round6(when(coalesce(col("n_bigrams"), lit(0L)) > 0,
            col("score6").cast("double") /
              (col("n_bigrams") * lit(1000000L)).cast("double"))
            .otherwise(lit(0.0))).as("avg_p"))
        .orderBy("doc_id")
    }),

    // TF-IDF top terms: each doc's 3 most distinctive tokens by exact
    // integer weight tf · ((10⁶·N) div df) — the log-free IDF ratio
    // keeps the ranking hash-oracle-able (log-IDF reorders nothing at
    // fixed N: x ↦ log is monotone in N/df; ties broken by token). The
    // top-3 runs on the custom TopKPerGroupExec, so the final shuffle
    // carries ≤ 3 rows per (doc × partition), never the full (doc,
    // token) matrix — the same flagship reuse as knn_per_label.
    "text_tfidf_top" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("nd"))
      val weighted = tf.join(broadcast(dfreq), "w")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("w"),
          (col("tf") * expr("(1000000 * nd) div df")).as("wt"))
      GraftOps.topKPerGroup(weighted, Seq("doc_id"),
        Seq(("wt", false), ("w", true)), 3)
        .select(col("doc_id"), col("w"), col("wt"))
        .orderBy(col("doc_id"), col("wt").desc, col("w"))
    }),

    // Cross-document shared-span detection (the word-level miniature of
    // exact-substring training-data dedup, Lee et al.'s "Deduplicating
    // Training Data Makes Language Models Better" shape): for each doc,
    // how many of its distinct word 3-gram spans occur in ≥2 documents.
    // Shape: distinct (doc, span) postings → span-keyed doc-frequency agg
    // → posting⋈df equi-join → per-doc agg; every stage is a shuffle
    // equi-join/agg on the span key (AQE-skew-splittable), the pair space
    // is never enumerated, and at open scale the span string becomes its
    // 64-bit hash (same counts; the string form here keeps the DuckDB
    // oracle exact).
    "dedup_span_shared" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val spans = docs.select(col("doc_id"), wordGrams(3).as("g"))
        .distinct()
      val dfreq = spans.groupBy(col("g")).agg(count(lit(1)).as("nd"))
      val per = spans.join(dfreq, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long")
            .as("shared_spans"))
      docs.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("shared_spans"), lit(0L)).as("shared_spans"),
          round6(when(coalesce(col("n_spans"), lit(0L)) > 0,
            col("shared_spans").cast("double") / col("n_spans"))
            .otherwise(lit(0.0))).as("shared_frac"))
        .orderBy("doc_id")
    }),

    // PII masking — the scrubbing pass every training-data pipeline runs
    // before anything else sees the text. The corpus is PII-free word
    // soup, so the key INJECTS deterministic PII first (doc_id%3==0 →
    // an email, ==1 → a phone, ==2 → untouched — the no-op proof), then
    // masks with codegen'd regexp_replace chains (replace-ALL on both
    // engines; DuckDB needs the explicit 'g'). Patterns are
    // ASCII-simple so Java regex and DuckDB's RE2 agree exactly; the
    // hash compare runs over the full masked STRING, so any
    // match-boundary divergence fails loudly. Per-row expression work,
    // no shuffle except the output sort — embarrassingly 100 TB-safe.
    "text_pii_mask" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .withColumn("inj",
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com now")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(col("text"), lit(" call 555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
              lit(" today")))
          .otherwise(col("text")))
        .withColumn("masked", regexp_replace(regexp_replace(col("inj"),
          "[a-z0-9]+@[a-z0-9]+\\.[a-z]+", "<EMAIL>"),
          "555-[0-9]{4}", "<PHONE>"))
        .select(col("doc_id"), col("masked"),
          col("masked").contains("<EMAIL>").as("has_email"),
          col("masked").contains("<PHONE>").as("has_phone"))
        .orderBy("doc_id")))

  /** Word n-gram array of `text` (space-joined, overlapping), empty for
    * docs with < n tokens — Spark's sequence() DESCENDS for end < start,
    * so the short-doc guard is mandatory (same trap as sim_ngram_jaccard).
    * This is the declarative REFERENCE form; the hot paths explode
    * [[wordGrams]] instead (r10) — the codegen'd custom Generator with
    * identical output (proven equal in RewriteEquivalenceSpec), minus
    * the interpreted transform/slice/concat_ws lambda chain that made
    * the per-document keys allocation-bound. */
  private[operators] def grams(n: Int): Column = expr(
    s"CASE WHEN size(split(text, ' ')) >= $n THEN " +
      s"transform(sequence(1, size(split(text, ' ')) - ${n - 1}), " +
      s"i -> concat_ws(' ', slice(split(text, ' '), i, $n))) " +
      "ELSE CAST(array() AS array<string>) END")

  /** Generator form of [[grams]] — one output row per gram, computed by
    * the codegen'd [[graft.functions.WordGramGenerator]] (one byte scan
    * per row, one byte-slice per gram). Use in place of
    * `explode(grams(n))`. */
  private[operators] def wordGrams(n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.WordGramGenerator(
      GraftBridge.expression(col("text")), n))
  }

  /** Oracle-side mirror of [[grams]]: 1-based list indexing, range() is
    * end-exclusive and already empty for short docs. */
  private[operators] def oGrams(n: Int): String = {
    val parts = (0 until n).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"SELECT doc_id, $parts AS g FROM tk, " +
      s"LATERAL (SELECT unnest(range(1, len(toks) - ${n - 2})) AS i) u"
  }

  private[operators] val alphaSql =
    "CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars"
  private[operators] val stopSql =
    "CAST(len(list_filter(string_split(text, ' '), w -> list_contains(" +
      Stops.mkString("['", "', '", "']") + ", w))) AS DOUBLE) / " +
      "len(string_split(text, ' '))"

  /** The text_quality composite score as a reusable Column (identical
    * arithmetic to the `text_quality` key; PipelineOps reuses it). */
  private[graft] def qualityCol: Column = {
    val toks = split(col("text"), " ")
    val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
      .cast("double") / col("n_chars")
    val stop = size(filter(toks, w => w.isInCollection(Stops)))
      .cast("double") / size(toks)
    round6(lit(0.5) * alpha + lit(0.5) * (lit(1.0) - stop))
  }

  /** Integer recovery of [[qualityCol]]'s round6 fixed point (one
    * definition for pipe_dataset_card and pipe_quality_cut, r12
    * self-review): quality is round6 = k/10⁶, so floor(q·10⁶ + 0.5)
    * is integral in IEEE and the long cast is exact in BOTH engines —
    * never bare-cast a non-integral double (Spark truncates where
    * DuckDB rounds). */
  private[graft] def q6Col: Column = q6Of(qualityCol)

  /** The same fixed-point recovery over an ALREADY-DERIVED quality
    * column (r13 review: a caller that has `quality` in scope must
    * reuse it, not re-derive [[qualityCol]] through [[q6Col]] — two
    * independent derivations of one quantity can desynchronize). */
  private[graft] def q6Of(quality: Column): Column =
    floor(quality * lit(1e6) + lit(0.5)).cast("long")

  /** Oracle-side mirror of [[qualityCol]]. */
  private[operators] val qualitySql: String =
    oRound6(s"0.5 * ($alphaSql) + 0.5 * (1.0 - ($stopSql))")

  val oracle: Map[String, String] = Map(
    // ShingleHash64 parity (r15): bs = UTF-8 bytes from hex pairs
    // (hex(encode(text)) hoisted into its own CTE — DuckDB does not
    // hoist the loop-invariant call out of the lambda, measured 2.2×);
    // fp_full = polynomial mod 2^64 via HUGEINT powers (recursive CTE
    // sized by the longest doc); fp_min8 = exact BIGINT min over 8-byte
    // windows (255 * sum(31^0..31^7) < 2^43 — no wrap); n <= 8 falls
    // back to the full hash exactly like the k >= n branch in Scala.
    // NULL text → NULL,NULL like the null-safe Expression (the n IS
    // NULL guard; without it the coalesce-for-empty-string turned a
    // NULL doc into fp_full = 0 while fp_min8 stayed NULL).
    "text_fingerprint" ->
      ("WITH b0 AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "octet_length(encode(text)) AS n FROM documents), " +
        "b AS (SELECT doc_id, n, list_transform(range(n), i -> " +
        "((strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1) * 16 + " +
        "strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 1)::BIGINT) AS bs " +
        "FROM b0), " +
        "pw AS (SELECT list(p ORDER BY i) AS ps FROM (" +
        "WITH RECURSIVE r(i, p) AS (SELECT 0, 1::HUGEINT UNION ALL " +
        "SELECT i+1, (p * 31) % 18446744073709551616::HUGEINT FROM r " +
        "WHERE i < (SELECT max(n) FROM b)) SELECT i, p FROM r)), " +
        "h AS (SELECT doc_id, n, " +
        "coalesce(list_sum(list_transform(range(n), i -> bs[i+1] * ps[n-i])), 0) " +
        "% 18446744073709551616::HUGEINT AS m, " +
        "CASE WHEN n <= 8 THEN " +
        "coalesce(list_sum(list_transform(range(n), i -> bs[i+1]::HUGEINT * ps[n-i])), 0) " +
        "ELSE list_min(list_transform(range(n-7), s -> " +
        "bs[s+1]*27512614111 + bs[s+2]*887503681 + bs[s+3]*28629151 + " +
        "bs[s+4]*923521 + bs[s+5]*29791 + bs[s+6]*961 + bs[s+7]*31 + bs[s+8])) " +
        "END AS mn FROM b, pw) " +
        "SELECT doc_id, CAST(CASE WHEN n IS NULL THEN NULL " +
        "WHEN m >= 9223372036854775808::HUGEINT " +
        "THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT) AS fp_full, " +
        "CAST(mn AS BIGINT) AS fp_min8 FROM h ORDER BY doc_id"),
    "text_feature_hash" ->
      ("SELECT doc_id, " +
        "CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 " +
        "AS bucket, count(*) AS cnt " +
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) GROUP BY doc_id, bucket " +
        "ORDER BY doc_id, bucket"),
    "text_entropy" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2), " +
        "p AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "count(*) AS n_distinct, " +
        "CAST(sum(c * CAST(floor(1000000 * log2(c)) AS BIGINT)) AS BIGINT) " +
        "AS s6 FROM c GROUP BY 1) " +
        "SELECT doc_id, n_tokens, n_distinct, " +
        oRound6("log2(n_tokens) - CAST(s6 AS DOUBLE) / " +
          "(n_tokens * 1000000)") + " AS entropy " +
        "FROM p ORDER BY doc_id"),
    "text_pii_mask" ->
      ("WITH i AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 3 = 0 THEN text || ' contact user' || " +
        "CAST(doc_id AS VARCHAR) || '@example.com now' " +
        "WHEN doc_id % 3 = 1 THEN text || ' call 555-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' " +
        "ELSE text END AS inj FROM documents), " +
        "m AS (SELECT doc_id, regexp_replace(regexp_replace(inj, " +
        "'[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'), " +
        "'555-[0-9]{4}', '<PHONE>', 'g') AS masked FROM i) " +
        "SELECT doc_id, masked, contains(masked, '<EMAIL>') AS has_email, " +
        "contains(masked, '<PHONE>') AS has_phone FROM m ORDER BY doc_id"),
    "text_quality" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
        oRound6("CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE) " +
          "/ len(string_split(text, ' '))") + " AS avg_tok_len, " +
        oRound6(alphaSql) + " AS alpha_ratio, " +
        oRound6(stopSql) + " AS stop_ratio, " +
        oRound6(s"0.5 * ($alphaSql) + 0.5 * (1.0 - ($stopSql))") + " AS quality " +
        "FROM documents ORDER BY doc_id"),
    "text_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS INTEGER) " +
        "AS bpe_tokens FROM documents ORDER BY doc_id"),
    "text_langid" ->
      ("WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "pc AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY 1, 2), " +
        "prof AS (SELECT lang AS plang, w FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY lang ORDER BY cnt DESC, w) AS rn FROM pc) WHERE rn <= 10), " +
        "dtok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, plang, count(*) AS score FROM dtok " +
        "JOIN prof USING (w) GROUP BY 1, 2) " +
        "SELECT doc_id, plang AS pred_lang, score FROM (SELECT *, row_number() " +
        "OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn FROM sc) " +
        "WHERE rn = 1 ORDER BY doc_id"),
    "text_simhash" ->
      ("WITH tok AS (SELECT doc_id, w, count(*) AS cnt FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1, 2), " +
        "th AS (SELECT doc_id, cnt, CAST(concat('0x', substr(md5(w), 1, 15)) " +
        "AS BIGINT) AS h FROM tok), " +
        "bits AS (SELECT doc_id, i, sum(cnt * (2 * ((h >> i) & 1) - 1)) AS wsum " +
        "FROM th, (SELECT unnest(range(0, 60)) AS i) ii GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(sum(CASE WHEN wsum > 0 THEN (CAST(1 AS BIGINT) << i) " +
        "ELSE 0 END) AS BIGINT) AS fp FROM bits GROUP BY doc_id ORDER BY doc_id"),
    "text_repetition" -> {
      def agg(n: Int) =
        s"c$n AS (SELECT doc_id, g, count(*) AS c FROM (${oGrams(n)}) GROUP BY 1, 2), " +
          s"a$n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n$n, " +
          s"CAST(count(*) AS BIGINT) AS d$n, CAST(max(c) AS BIGINT) AS mx$n " +
          s"FROM c$n GROUP BY 1)"
      def frac(num: String, den: String) = oRound6(
        s"CASE WHEN coalesce($den, 0) > 0 THEN CAST($num AS DOUBLE) / $den " +
          "ELSE 0.0 END")
      "WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        agg(2) + ", " + agg(3) + " " +
        "SELECT d.doc_id, coalesce(n2, 0) AS n2, coalesce(d2, 0) AS d2, " +
        frac("n2 - d2", "n2") + " AS dup2_frac, " +
        frac("mx2", "n2") + " AS top2_frac, " +
        "coalesce(n3, 0) AS n3, coalesce(d3, 0) AS d3, " +
        frac("n3 - d3", "n3") + " AS dup3_frac " +
        "FROM documents d LEFT JOIN a2 USING (doc_id) " +
        "LEFT JOIN a3 USING (doc_id) ORDER BY doc_id"
    },
    "text_lm_score" ->
      ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        s"bg AS (${oGrams(2)}), " +
        "c AS (SELECT g, count(*) AS c FROM bg GROUP BY 1), " +
        "cu AS (SELECT split_part(g, ' ', 1) AS w1, count(*) AS cu " +
        "FROM bg GROUP BY 1), " +
        "v AS (SELECT count(DISTINCT w) AS vsz FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)), " +
        "p AS (SELECT doc_id, (1000000 * (c + 1)) // (cu + vsz) AS p6 " +
        "FROM bg JOIN c USING (g) " +
        "JOIN cu ON split_part(bg.g, ' ', 1) = cu.w1, v), " +
        "per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "CAST(sum(p6) AS BIGINT) AS score6 FROM p GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams, " +
        "coalesce(score6, 0) AS score6, " +
        oRound6("CASE WHEN coalesce(n_bigrams, 0) > 0 THEN " +
          "CAST(score6 AS DOUBLE) / (n_bigrams * 1000000) ELSE 0.0 END") +
        " AS avg_p " +
        "FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id"),
    "text_tfidf_top" ->
      ("WITH tf AS (SELECT doc_id, w, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
        "GROUP BY 1, 2), " +
        "df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS nd FROM documents), " +
        "wt AS (SELECT doc_id, tf.w, tf * ((1000000 * nd) // df) AS wt " +
        "FROM tf JOIN df USING (w), n), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY wt DESC, w) AS rn FROM wt) " +
        "SELECT doc_id, w, CAST(wt AS BIGINT) AS wt FROM r WHERE rn <= 3 " +
        "ORDER BY doc_id, wt DESC, w"),
    "dedup_span_shared" ->
      ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        s"sp AS (SELECT DISTINCT doc_id, g FROM (${oGrams(3)})), " +
        "df AS (SELECT g, count(*) AS nd FROM sp GROUP BY g), " +
        "per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
        "CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_spans " +
        "FROM sp JOIN df USING (g) GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans, " +
        "coalesce(shared_spans, 0) AS shared_spans, " +
        oRound6("CASE WHEN coalesce(n_spans, 0) > 0 " +
          "THEN CAST(shared_spans AS DOUBLE) / n_spans ELSE 0.0 END") +
        " AS shared_frac " +
        "FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id"))
}
