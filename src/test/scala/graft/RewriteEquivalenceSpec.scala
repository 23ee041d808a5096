package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import graft.functions.{ShingleGenerator, SortedIntersectCount}

/** r4 rewrite equivalence on RANDOM data (seeded), beyond the shipped
  * corpus: the prefix-filter candidate stage must lose NO qualifying
  * pair (the recall-1 lemma, checked empirically), the tiled block
  * self-join must enumerate exactly the unordered pair set, the sorted
  * merge intersect must equal the builtin, and the custom Generator
  * must equal its declarative formulation. These guard the claims the
  * graded corpus alone cannot (its vocabulary and similarity structure
  * are degenerate).
  */
class RewriteEquivalenceSpec extends SparkTestBase {
  private val rnd = new scala.util.Random(20260812L)

  /** `sf` plus one pad document (see [[PaddedCorpus]]): the same corpus
    * on the postings arm. */
  private lazy val (padded, padId) = PaddedCorpus.of(spark, sf)

  /** `sf` takes the masks arm and [[padded]] the postings arm — so the
    * "same corpus, both plans" tests below really compare two plans. */
  private def assertArms(): Unit = {
    assert(PaddedCorpus.arm(spark, sf) == "masks",
      "the corpus did not take the masks arm")
    assert(PaddedCorpus.arm(spark, padded) == "postings",
      "the padded corpus did not take the postings arm")
  }

  private def padFree(what: String, pairs: Set[_ <: Product]): Unit =
    assert(!pairs.exists(p => p.productElement(0) == padId ||
        p.productElement(1) == padId),
      s"$what: the pad document $padId is in an output pair")

  test("prefix-filtered exact Jaccard equals brute force on random corpora") {
    val ss = spark
    import ss.implicits._
    for (trial <- 1 to 3) {
      val vocabSize = Seq(15, 80, 400)(trial - 1) // tiny → realistic
      val n = 250
      // half fresh random docs, half near-dup perturbations of earlier
      // docs (drop or add one word) so every trial has qualifying pairs
      val base = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      val docs = (0L until n).map { id =>
        val words =
          if (id >= 2 && id % 2 == 1) {
            val src = base(rnd.nextInt(base.length))
            if (rnd.nextBoolean() && src.length > 1) src.drop(1)
            else src :+ s"w${rnd.nextInt(vocabSize)}"
          } else Seq.fill(10 + rnd.nextInt(8))(s"w${rnd.nextInt(vocabSize)}")
        base += words
        (id, words.mkString(" "))
      }
      val dir = Files.createTempDirectory(s"graft_pfx$trial").toString
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = operators.TextSimOps.exactWordPairs(spark, dir, 90)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getInt(2), r.getInt(3))).toSet
      // brute force over all pairs, same integer threshold arithmetic
      val sets = docs.map { case (id, text) => id -> text.split(" ").toSet }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size; uni = sa.size + sb.size - inter
        if 100 * inter >= 90 * uni
      } yield (a, b, inter, uni)).toSet
      assert(got == want,
        s"trial $trial (vocab $vocabSize): missing=${(want -- got).take(5)} " +
          s"extra=${(got -- want).take(5)}")
      assert(want.nonEmpty, s"trial $trial degenerate (no qualifying pairs)")
      // same corpus, asymmetric containment (ordered pairs, τ = 95%)
      val gotC = SparkEntry.queries("sim_containment_pairs")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getInt(2), r.getInt(3))).toSet
      val wantC = (for {
        (a, sa) <- sets; (b, sb) <- sets if a != b
        inter = (sa & sb).size
        if inter > 0 && 100 * inter >= 95 * sa.size
      } yield (a, b, inter, sa.size)).toSet
      assert(gotC == wantC,
        s"containment trial $trial: missing=${(wantC -- gotC).take(5)} " +
          s"extra=${(gotC -- wantC).take(5)}")
      assert(wantC.nonEmpty, s"containment trial $trial degenerate")
      // same corpus, delta-restricted near-dedup: the brute-force pair
      // set filtered to pairs touching a delta (id % 10 == 0) endpoint
      // — on vocab 15 the bitset path runs, on 80/400 the general
      // fallback, so BOTH delta plans fuzz against brute force here
      val gotD = SparkEntry.queries("pipe_delta_dedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getInt(2), r.getInt(3))).toSet
      val wantD = want.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
      assert(gotD == wantD,
        s"delta trial $trial: missing=${(wantD -- gotD).take(5)} " +
          s"extra=${(gotD -- wantD).take(5)}")
      // facade generality: an arbitrary (non-modular) delta predicate
      val gotR = operators.GraftOps
        .deltaJaccardPairs(spark, dir, 90, c => c < 50)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getInt(2), r.getInt(3))).toSet
      val wantR = want.filter(p => p._1 < 50 || p._2 < 50)
      assert(gotR == wantR,
        s"range-delta trial $trial: missing=${(wantR -- gotR).take(5)} " +
          s"extra=${(gotR -- wantR).take(5)}")
    }
  }

  test("bitset fast path equals the general prefix-filter path (r10)") {
    // the adaptive dispatch (TextSimOps.tokenSets): on a ≤62-token
    // dictionary the pair operators run the exact-bitset plan; the same
    // corpus plus one pad document of fresh tokens runs the
    // open-vocabulary plan. The pad joins nothing, so both plans give
    // byte-equal pair sets — Jaccard AND containment — and the same
    // clusters apart from the pad's own singleton.
    assertArms()
    def jac(dir: String) = operators.TextSimOps.exactWordPairs(spark, dir, 90)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    def con(dir: String) = SparkEntry.queries("sim_containment_pairs")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    def cc(dir: String) = SparkEntry.queries("dedup_cluster_cc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (fastJ, fastC, fastCC) = (jac(sf), con(sf), cc(sf))
    val (genJ, genC, genCC) = (jac(padded), con(padded), cc(padded))
    padFree("jaccard", genJ)
    padFree("containment", genC)
    assert(genCC.filter(r => r._1 == padId || r._2 == padId) ==
        Set((padId, padId)),
      "the pad document is not a singleton cluster")
    assert(fastJ == genJ,
      s"jaccard: onlyFast=${(fastJ -- genJ).take(5)} " +
        s"onlyGeneral=${(genJ -- fastJ).take(5)}")
    assert(fastC == genC,
      s"containment: onlyFast=${(fastC -- genC).take(5)} " +
        s"onlyGeneral=${(genC -- fastC).take(5)}")
    assert(fastCC == genCC - ((padId, padId)),
      s"clusters: onlyFast=${(fastCC -- genCC).take(5)} " +
        s"onlyGeneral=${(genCC -- fastCC).take(5)}")
    assert(fastJ.nonEmpty && fastC.nonEmpty, "degenerate corpus")
    assert(fastCC.map(_._2).size < fastCC.size, "no multi-member cluster")
  }

  test("expandContainmentSorted: pre-expansion range exchange emits the " +
    "EXACT row order of expand-then-orderBy (r12)") {
    // The r12 containment tail moves the range exchange BEFORE the
    // db-side member blowup (expandContainmentSorted scaladoc); the
    // parity gate compares row-by-row, so total (da, db) order — not
    // just the pair set — is the contract. Assert sequence equality
    // (order included) against the naive expand → orderBy form on the
    // sf corpus and on a synthetic corpus dense in exact-dup groups
    // (many multi-member masks exercise intra-clique + cross expansion
    // interleaving at the same da).
    val ss = spark
    import ss.implicits._
    val dense = (0L until 120L).map { id =>
      // 12 NESTED token sets (mask g = w0..w(g+2), sizes 3..14), each
      // shared by 10 docs → every mask group has 10 members (intra
      // cliques) AND every smaller mask is a proper subset of every
      // larger one, so CROSS-group containment pairs exist by
      // construction (C = 1 from the smaller side) — the r12
      // self-review found the previous equal-size distinct masks
      // could never produce a cross pair at C ≥ 0.95, leaving the
      // cross/intra interleaving this test targets unexercised.
      val g = id % 12
      val words = (0 to (g + 2).toInt).map(j => s"w$j")
      (id, words.mkString(" "))
    }
    val dir = Files.createTempDirectory("graft_contsort").toString
    dense.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    for (corpus <- Seq(sf, dir)) {
      val (uniq, grp) = operators.TextSimOps.tokenSets(spark, corpus) match {
        case m: operators.TextSimOps.Masks => m.quotient
        case _ => fail(s"corpus $corpus did not take the masks arm")
      }
      def rp() = operators.TextSimOps.bitsetContainmentPairs(uniq, 95)
      if (corpus != sf)
        assert(rp().limit(1).count() == 1,
          "dense corpus produced no CROSS-group candidate pairs — " +
            "the interleaving under test is not exercised")
      val want = operators.TextSimOps.expandContainment(rp(), grp)
        .orderBy("da", "db").collect().toSeq
      val got = operators.TextSimOps.expandContainmentSorted(rp(), grp)
        .collect().toSeq
      assert(got == want, s"corpus $corpus: first drift at index " +
        s"${got.zip(want).indexWhere(p => p._1 != p._2)} of ${want.size}")
      assert(want.nonEmpty, s"corpus $corpus degenerate")
    }
  }

  test("dedup_minhash: inline-mask verify (bitset) equals the " +
    "array-attach verify (general path)") {
    // both paths share the SAME signature and banding (min
    // seeded-xxhash64 over the distinct token set is representation-
    // independent), so the verified pairs among the corpus' documents
    // are identical and the exact verify — inline bit_count on the
    // bitset path, sorted-fingerprint merge count on the general path —
    // must produce byte-equal pairs; the pad document verifies into none.
    assertArms()
    def mh(dir: String) = SparkEntry.queries("dedup_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val (fast, gen) = (mh(sf), mh(padded))
    padFree("dedup_minhash", gen)
    assert(fast == gen,
      s"onlyFast=${(fast -- gen).take(5)} onlyGeneral=${(gen -- fast).take(5)}")
    assert(fast.nonEmpty, "degenerate corpus")
  }

  test("pipe_delta_dedup: delta-restricted bitset join equals the " +
    "endpoint-filtered general path") {
    // the delta path never GENERATES base×base candidates; the general
    // fallback (the padded corpus) filters the full pair set — same
    // pair set required
    assertArms()
    def delta(dir: String) = SparkEntry.queries("pipe_delta_dedup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    val (fast, gen) = (delta(sf), delta(padded))
    padFree("pipe_delta_dedup", gen)
    assert(fast == gen,
      s"onlyFast=${(fast -- gen).take(5)} onlyGeneral=${(gen -- fast).take(5)}")
    // every pair touches the delta batch and base×base never appears
    assert(fast.forall(p => p._1 % 10 == 0 || p._2 % 10 == 0))
    assert(fast.nonEmpty, "degenerate corpus")
  }

  test("tiledPairs enumerates every unordered pair exactly once") {
    val ss = spark
    import ss.implicits._
    val emb = (0L until 150).map { id =>
      (id, Array.fill(4)(rnd.nextFloat()), s"lab${id % 3}")
    }.toDF("vec_id", "embedding", "label")
    val flat = operators.SimilarityOps.tiledPairs(emb, Seq.empty)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(flat.length == flat.distinct.length, "duplicate pairs")
    assert(flat.toSet == (for (a <- 0L until 150; b <- a + 1 until 150)
      yield (a, b)).toSet)
    val byLabel = operators.SimilarityOps.tiledPairs(emb, Seq("label"))
      .select("label", "a", "b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(byLabel.length == byLabel.distinct.length)
    assert(byLabel.toSet == (for {
      a <- 0L until 150; b <- a + 1 until 150 if a % 3 == b % 3
    } yield (s"lab${a % 3}", a, b)).toSet)
  }

  test("tiledPairs payload columns stay attached to their own side") {
    // r11: payload columns are normalized with the (a, b) ordering —
    // p_a must always be a's value and p_b b's, and the embeddings
    // (va, vb) must follow the same normalization, regardless of which
    // tile the pair met in or which side of the block join each vector
    // rode. Payload = a bijection of vec_id so the check is exact.
    val ss = spark
    import ss.implicits._
    val emb = (0L until 120).map { id =>
      (id, Array.fill(4)(rnd.nextFloat()), id * 1000 + 7)
    }.toDF("vec_id", "embedding", "tag")
    val rows = operators.SimilarityOps
      .tiledPairs(emb, Seq.empty, Seq("tag"))
      .select("a", "b", "tag_a", "tag_b").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) * 1000 + 7,
        s"tag_a ${r.getLong(2)} not a's (${r.getLong(0)})")
      assert(r.getLong(3) == r.getLong(1) * 1000 + 7,
        s"tag_b ${r.getLong(3)} not b's (${r.getLong(1)})")
    }
    // embeddings follow the same ordering: va's first component must
    // equal the component stored for `a` (checked via a self-join)
    val first = emb.select(col("vec_id"), element_at(col("embedding"), 1)
      .as("f0")).collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
    val vrows = operators.SimilarityOps
      .tiledPairs(emb, Seq.empty, Seq("tag"))
      .select(col("a"), col("b"), element_at(col("va"), 1).as("fa"),
        element_at(col("vb"), 1).as("fb")).collect()
    vrows.foreach { r =>
      assert(r.getFloat(2) == first(r.getLong(0)), "va is not a's vector")
      assert(r.getFloat(3) == first(r.getLong(1)), "vb is not b's vector")
    }
  }

  test("degree-oriented triangle counting equals brute force on hub graphs") {
    val ss = spark
    import ss.implicits._
    for (trial <- 1 to 3) {
      val n = Seq(30, 60, 100)(trial - 1)
      // adversarial mix: a planted hub connected to everything (the
      // shape that blows up naive neighbor-pairing), random cliques of
      // size 4-6, plus random noise edges
      val es = scala.collection.mutable.Set[(Long, Long)]()
      (1 until n).foreach(i => es += ((0L, i.toLong))) // hub 0
      for (_ <- 1 to 6) {
        val k = 4 + rnd.nextInt(3)
        val mem = Seq.fill(k)(rnd.nextInt(n).toLong).distinct.sorted
        for (a <- mem; b <- mem if a < b) es += ((a, b))
      }
      for (_ <- 1 to 3 * n) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) es += ((a, b)) else if (b < a) es += ((b, a))
      }
      val und = es.toSeq.toDF("x", "y")
      val got = operators.GraphOps.triangleCounts(und)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute force: every ordered triple a<b<c with all three edges
      val adj = es.toSet
      val want = scala.collection.mutable.Map[Long, Long]()
      for (a <- 0L until n; b <- a + 1 until n; c <- b + 1 until n)
        if (adj((a, b)) && adj((a, c)) && adj((b, c))) {
          want(a) = want.getOrElse(a, 0L) + 1
          want(b) = want.getOrElse(b, 0L) + 1
          want(c) = want.getOrElse(c, 0L) + 1
        }
      assert(want.nonEmpty, s"trial $trial degenerate (no triangles)")
      assert(got == want.toMap,
        s"trial $trial (n=$n, ${es.size} edges): " +
          s"diff=${(got.toSet diff want.toSet).take(5)} / " +
          s"${(want.toSet diff got.toSet).take(5)}")
    }
  }

  test("SortedIntersectCount equals size(array_intersect) — longs and strings") {
    val ss = spark
    import ss.implicits._
    val rows = Seq.fill(300) {
      def arr() = Seq.fill(rnd.nextInt(12))(rnd.nextInt(30).toLong)
        .distinct.sorted
      (arr(), arr())
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq.empty[Long], Seq.empty[Long]))
    val df = rows.toDF("xa", "xb")
      .withColumn("sa", expr("transform(xa, v -> concat('t', v))"))
      .withColumn("sb", expr("transform(xb, v -> concat('t', v))"))
      // string arrays sorted by STRING order (t10 < t2), as callers do
      .withColumn("sa", sort_array(col("sa")))
      .withColumn("sb", sort_array(col("sb")))
    def ic(a: String, b: String) = GraftBridge.column(SortedIntersectCount(
      GraftBridge.expression(col(a)), GraftBridge.expression(col(b))))
    val bad = df.select(
      ic("xa", "xb").as("gl"), size(array_intersect(col("xa"), col("xb"))).as("wl"),
      ic("sa", "sb").as("gs"), size(array_intersect(col("sa"), col("sb"))).as("ws"))
      .where(col("gl") =!= col("wl") || col("gs") =!= col("ws"))
    assert(bad.count() == 0, bad.collect().take(3).mkString("; "))
  }

  test("grid-bucketed interval overlap equals brute force on adversarial intervals") {
    val ss = spark
    import ss.implicits._
    val w = 100L // small bucket width to force multi-bucket spans
    for (trial <- 1 to 3) {
      val n = 200
      val iv = (0 until n).map { i =>
        val user = (i % 37).toLong
        // adversarial mix: boundary-aligned starts/ends, zero-length
        // intervals, spans of 0..5 buckets, exact duplicates
        val s0 = rnd.nextInt(20) match {
          case 0 => (rnd.nextInt(10) * w)           // bucket-aligned
          case 1 => (rnd.nextInt(10) * w) - 1       // one before boundary
          case _ => rnd.nextInt(1000).toLong
        }
        val len = rnd.nextInt(4) match {
          case 0 => 0L                              // instant interval
          case 1 => w * (1 + rnd.nextInt(5))        // exact multiples
          case _ => rnd.nextInt(300).toLong
        }
        (user, i.toLong, s0, s0 + len)
      }
      val df = iv.toDF("user_id", "sid", "s0", "s1")
      val got = operators.TimeOps.overlapPairs(df, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = (for {
        a <- iv; b <- iv
        if a._1 < b._1 && a._3 <= b._4 && b._3 <= a._4
      } yield (a._1, a._2, b._1, b._2,
          math.min(a._4, b._4) - math.max(a._3, b._3))).toSet
      assert(got == want, s"trial $trial: ${got.size} vs ${want.size}")
      assert(want.nonEmpty)
    }
  }

  test("grid-bucketed nearest join equals brute force on adversarial timelines") {
    val ss = spark
    import ss.implicits._
    val tol = 100L // small tolerance to force boundary cases
    for (trial <- 1 to 3) {
      val nl = 150; val nr = 150
      def ts(): Long = rnd.nextInt(20) match {
        case 0 => rnd.nextInt(10) * tol       // bucket-aligned
        case 1 => rnd.nextInt(10) * tol - 1   // one before boundary
        case _ => rnd.nextInt(1000).toLong
      }
      val ls = (0 until nl).map(i => ((i % 23).toLong, i.toLong, ts()))
      val rs = (0 until nr).map(i => ((i % 23).toLong,
        1000L + i, ts()))
      val l = ls.toDF("user_id", "l_id", "l_ts")
        .select(col("l_id"), col("user_id"), col("l_ts"))
      val r = rs.toDF("ru", "r_id", "r_ts")
        .select(col("r_id"), col("ru"), col("r_ts"))
      val got = operators.JoinOps.nearestJoin(l, r, tol)
        .collect().map(x => (x.getLong(0),
          if (x.isNullAt(3)) -1L else x.getLong(3),
          if (x.isNullAt(5)) -1L else x.getLong(5))).toSet
      val want = ls.map { case (u, lid, lts) =>
        val cand = rs.filter(x => x._1 == u && math.abs(lts - x._3) <= tol)
          .map(x => (math.abs(lts - x._3), x._3, x._2))
        if (cand.isEmpty) (lid, -1L, -1L)
        else { val m = cand.min; (lid, m._3, m._1) }
      }.toSet
      assert(got == want, s"trial $trial: ${got.size} vs ${want.size}")
      // every trial must exercise both matched and unmatched left rows
      assert(want.exists(_._2 == -1L) && want.exists(_._2 != -1L))
    }
  }

  test("cdcApply equals an in-memory reference on random change logs") {
    val ss = spark
    import ss.implicits._
    for (trial <- 1 to 3) {
      val nKeys = 60
      val base = (0L until nKeys).map(k => (k, s"s$k", k * 1.5))
      // random log: unique (k, ver) pairs, ops I/U/D over a key space
      // that half-overlaps the base (I on fresh keys, U/D anywhere),
      // multiple versions per key so "latest wins" is actually tested;
      // ~1 in 5 U/I payload columns is NULL — an applied op must set
      // the column to NULL verbatim, not retain the base value
      val log = (0 until 150).map { i =>
        val k = rnd.nextInt(nKeys + 30).toLong
        val op = rnd.nextInt(3) match {
          case 0 => "I"; case 1 => "U"; case 2 => "D"
        }
        val st2 = if (rnd.nextInt(5) == 0) null else s"n$i"
        val pr2: Option[Double] =
          if (rnd.nextInt(5) == 0) None else Some(i * 0.25)
        (k, i, op, st2, pr2) // ver = i → unique per (k, ver)
      }
      val got = operators.EtlOps.cdcApply(
        base.toDF("k", "st", "pr"),
        log.toDF("k", "ver", "op", "st2", "pr2"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) Option.empty[Double] else Some(r.getDouble(2))))
        .toSet
      // reference: latest op per key, applied with plain Scala
      val latest = log.groupBy(_._1).map { case (k, es) =>
        k -> es.maxBy(_._2)
      }
      val baseMap = base.map(b => b._1 -> b).toMap
      val want = ((baseMap.keySet ++ latest.keySet).flatMap { k =>
        (baseMap.get(k), latest.get(k)) match {
          case (_, Some((_, _, "D", _, _))) => None
          case (b, Some((_, _, _, st2, pr2))) => Some((k, st2, pr2))
          case (Some((_, st, pr)), None) => Some((k, st, Some(pr)))
          case (None, None) => None
        }
      }): Set[(Long, String, Option[Double])]
      assert(got == want,
        s"trial $trial: missing=${(want -- got).take(5)} " +
          s"extra=${(got -- want).take(5)}")
      assert(want.nonEmpty)
    }
  }

  test("deletion-neighborhood join equals brute-force levenshtein on dense alphabets") {
    val ss = spark
    import ss.implicits._
    // 3-letter alphabet, lengths 1..5 → the string space is DENSE:
    // near-pairs abound, including the boundary cases the corpus never
    // produces (length-1 words, equal strings, pure inserts/deletes)
    def randWord(): String =
      Seq.fill(1 + rnd.nextInt(5))(('a' + rnd.nextInt(3)).toChar).mkString
    for (trial <- 1 to 3) {
      val dict = Seq.fill(80)(randWord()).distinct.map(Tuple1(_))
        .toDF("w")
      val typos = (0 until 60).map(i => (i.toLong, randWord()))
        .toDF("doc_id", "typo")
      val got = operators.TextSimOps.editNeighbors(dict, typos)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getInt(3))).toSet
      val want = typos.crossJoin(dict)
        .where(levenshtein(col("typo"), col("w")) <= 1)
        .select(col("doc_id"), col("typo"), col("w"),
          levenshtein(col("typo"), col("w")).as("dist"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getInt(3))).toSet
      assert(got == want,
        s"trial $trial: missing=${(want -- got).take(5)} " +
          s"extra=${(got -- want).take(5)}")
      // the trial must exercise dist-0 and dist-1 matches
      assert(want.exists(_._4 == 0) && want.exists(_._4 == 1))
    }
  }

  test("snapshotDiff recovers the effective changes of a random edit") {
    val ss = spark
    import ss.implicits._
    for (trial <- 1 to 3) {
      val nKeys = 60
      val base = (0L until nKeys).map(k => (k, k * 1.5))
      // random second snapshot: delete some keys, reprice some, insert
      // fresh keys — the three changelog classes a diff must emit
      val after = base.flatMap { case (k, p) =>
        rnd.nextInt(4) match {
          case 0 => None // deleted
          case 1 => Some((k, p + 1.0 + rnd.nextInt(5))) // repriced
          case _ => Some((k, p)) // untouched → must NOT appear
        }
      } ++ (0 until 15).map(i => (nKeys + i.toLong, i * 0.25))
      val got = operators.EtlOps.snapshotDiff(
        base.toDF("k", "p"), after.toDF("k", "p"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) Option.empty[Double] else Some(r.getDouble(2)),
          if (r.isNullAt(3)) Option.empty[Double] else Some(r.getDouble(3))))
        .toSet
      val bm = base.toMap
      val am = after.toMap
      val want = (bm.keySet ++ am.keySet).flatMap { k =>
        (bm.get(k), am.get(k)) match {
          case (Some(p), None) => Some((k, "D", Some(p), None))
          case (None, Some(p)) => Some((k, "I", None, Some(p)))
          case (Some(p0), Some(p1)) if p0 != p1 =>
            Some((k, "U", Some(p0), Some(p1)))
          case _ => None
        }
      }
      assert(got == want,
        s"trial $trial: missing=${(want -- got).take(5)} " +
          s"extra=${(got -- want).take(5)}")
      // every trial must exercise all three change classes
      assert(Set("D", "I", "U").subsetOf(want.map(_._2)))
    }
  }

  test("ShingleGenerator equals the declarative transform(sequence) form") {
    val ss = spark
    import ss.implicits._
    val texts = Seq("", "ab", "abcde", "abcdef", "hello world spark") ++
      Seq.fill(50)(Seq.fill(rnd.nextInt(30))(
        ('a' + rnd.nextInt(4)).toChar).mkString)
    val df = texts.toDF("text")
    val gen = df.select(GraftBridge.column(ShingleGenerator(
      GraftBridge.expression(col("text")), 5)).as("sh"))
      .collect().map(_.getString(0)).sorted.toSeq
    val decl = df.select(explode(expr(
      "CASE WHEN length(text) >= 5 THEN transform(sequence(1, " +
        "length(text) - 4), i -> substring(text, i, 5)) " +
        "ELSE CAST(array() AS array<string>) END")).as("sh"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(gen == decl, s"${gen.length} vs ${decl.length}")
  }

  test("WordGramGenerator equals explode(grams(n)) — corpus and " +
    "adversarial strings") {
    val ss = spark
    import ss.implicits._
    import graft.functions.WordGramGenerator
    // adversarial: empty, single token, exact-n tokens, multi-space
    // (empty tokens kept by split), leading/trailing space, unicode
    // multibyte, long random token soups
    val texts = Seq("", "one", "a b", "a b c", "a  b", " a b", "a b ",
      "héllo wörld ünïcode tokens", "a      b c") ++
      Seq.fill(60)(Seq.fill(1 + rnd.nextInt(12))(
        s"w${rnd.nextInt(9)}").mkString(" "))
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val gen = df.select(GraftBridge.column(WordGramGenerator(
        GraftBridge.expression(col("text")), n)).as("g"))
        .collect().map(_.getString(0)).sorted.toSeq
      val decl = df.select(explode(expr(
        s"CASE WHEN size(split(text, ' ')) >= $n THEN " +
          s"transform(sequence(1, size(split(text, ' ')) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(split(text, ' '), i, $n))) " +
          "ELSE CAST(array() AS array<string>) END")).as("g"))
        .collect().map(_.getString(0)).sorted.toSeq
      assert(gen == decl,
        s"n=$n: ${gen.length} vs ${decl.length}; " +
          s"firstDiff=${gen.zip(decl).find(p => p._1 != p._2)}")
    }
  }

  test("SortedShingleHashes equals the declarative " +
    "sort_array(array_distinct(transform(xxhash64))) chain") {
    val ss = spark
    import ss.implicits._
    import graft.functions.SortedShingleHashes
    val texts = Seq("", "abc", "abcd", "abcde", "abcdef", "aaaaaaa",
      "héllo wörld ünïcode", "abcde abcde abcde") ++
      Seq.fill(50)(Seq.fill(rnd.nextInt(40))(
        ('a' + rnd.nextInt(5)).toChar).mkString)
    val df = texts.toDF("text")
    val gen = df.select(GraftBridge.column(SortedShingleHashes(
        GraftBridge.expression(col("text")), 5)).as("ng"))
      .collect().map(_.getSeq[Long](0)).toSeq
    val decl = df.select(sort_array(array_distinct(expr(
        "CASE WHEN length(text) >= 5 THEN " +
          "transform(sequence(1, length(text) - 4), " +
          "i -> xxhash64(substring(text, i, 5))) " +
          "ELSE CAST(array() AS array<bigint>) END"))).as("ng"))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(gen == decl,
      s"firstDiff=${gen.zip(decl).zipWithIndex.find(p => p._1._1 != p._1._2)}")
  }

  test("TokenMinHash equals the declarative aggregate(least(xxhash64)) fold") {
    val ss = spark
    import ss.implicits._
    import graft.functions.TokenMinHash
    val texts = Seq("", "one", "a b c", "a  b", " lead", "trail ",
      "héllo wörld tokens", "dup dup dup") ++
      Seq.fill(50)(Seq.fill(1 + rnd.nextInt(10))(
        s"t${rnd.nextInt(7)}").mkString(" "))
    val df = texts.toDF("text")
    for (i <- Seq(0, 3, 7)) {
      val gen = df.select(GraftBridge.column(TokenMinHash(
        GraftBridge.expression(col("text")), i)).as("h"))
        .collect().map(_.getLong(0)).toSeq
      val decl = df.select(expr(
        "aggregate(array_distinct(split(text, ' ')), " +
          s"CAST(${Long.MaxValue} AS BIGINT), " +
          s"(a, x) -> least(a, xxhash64(x, $i)))").as("h"))
        .collect().map(_.getLong(0)).toSeq
      assert(gen == decl, s"seed $i: firstDiff=" +
        gen.zip(decl).zipWithIndex.find(p => p._1._1 != p._1._2))
    }
  }
}
