package graft

import org.apache.spark.sql.functions._

/** Dev tool (r10, extended r11): measured scaling evidence for the
  * pair/CC family. Two corpus modes, selected by the 4th arg:
  *
  *  - `closed` (r10): union k deterministically PERTURBED copies of
  *    the base corpus (copy j > 0 drops one word at a doc-and-copy-
  *    dependent position and offsets doc_id by j·10⁷ — near-dup
  *    structure grows with the corpus instead of collapsing into
  *    exact-dup cliques the mask quotient would absorb for free).
  *    The vocabulary stays ≤62 tokens, so every measured point rides
  *    the exact-bitset fast path.
  *  - `open` (r11, VERDICT r10 #1): union k copies whose tokens are
  *    SUFFIXED per copy (w → w_cJ), so the vocabulary grows k× and
  *    the operators take the general df-ordered prefix-filter path —
  *    the plan an open-vocabulary real corpus runs. Copies share no
  *    tokens, so the exact pair set is k× the base corpus' (cross-
  *    copy similarity is 0): qualifying pairs grow LINEARLY while the
  *    pair SPACE grows quadratically, which is precisely the regime
  *    where a pair-space-bound plan would blow up and a candidate-
  *    bound plan stays linear. The probe prints pairs/sec and shuffle
  *    write bytes per point so DESIGN §12 can show the general path
  *    is candidate-bound.
  *
  * Output feeds DESIGN §12's scaling tables. Usage:
  * Test/runMain graft.ScaleProbe [baseSfDir] [outRoot] [k1,k2,…]
  *   [closed|open]. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val ks = if (args.length > 2) args(2).split(",").toSeq.map(_.toInt)
      else Seq(1, 2, 4, 8)
    val mode = if (args.length > 3) args(3) else "closed"
    val spark = Harness.session(Harness.cpus)
    val meter = new ShuffleWriteMeter(spark)
    val docs = Tables.t(spark, base, "documents")
    val nBase = docs.count()
    for (k <- ks) {
      val dir = s"$outRoot/${mode}_x$k"
      val copies = (0 until k).map { j =>
        val renumbered = col("doc_id") + lit(j * 10000000L)
        mode match {
          case "open" =>
            // per-copy token suffixing: vocab grows k×, copies share
            // no tokens — general path for every k (the base corpus
            // alone is 31 tokens; 2×31 > 62 already at k=2, and the pad
            // document below takes k=1 there too, for a uniform plan)
            docs.select(renumbered.as("doc_id"),
              concat_ws(" ", expr(
                s"transform(split(text, ' '), w -> concat(w, '_c$j'))"))
                .as("text"),
              col("lang"), col("source"), col("n_chars"))
          case _ =>
            if (j == 0) docs
            else docs
              .withColumn("toks", split(col("text"), " "))
              .withColumn("p",
                pmod(col("doc_id") + lit(j), size(col("toks"))))
              .select(renumbered.as("doc_id"),
                concat_ws(" ", expr(
                  "filter(toks, (t, i) -> i != p)")).as("text"),
                col("lang"), col("source"), col("n_chars"))
        }
      }
      val corpus = copies.reduce(_ union _).coalesce(4)
      // `open` at k=1 still has a ≤62-token vocab; one pad document of
      // fresh tokens (it joins no pair) puts every rung on the general
      // plan, so the whole curve measures ONE code path
      if (mode == "open") PaddedCorpus.write(corpus, dir)
      else corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val (np, tp, wPairs) = meter.measure(
        operators.TextSimOps.exactWordPairs(spark, dir, 90).count())
      val (nc, tc, wCc) = meter.measure(
        operators.TextSimOps.clusterCC(spark, dir, 6).count())
      // r11: the banded-MinHash arm THE MODE SELECTS — under `open`
      // (padded above) the general path (signature + fingerprint
      // arrays in one groupBy, length-gated array-attach verify), the
      // curve DESIGN §12.1 publishes; under `closed` the bitset arm.
      // Label mh_ rows by the mode when reading them into tables.
      val (nm, tm, wMh) = meter.measure(
        operators.TextSimOps.minhashCandAndPairs(spark, dir, 4, 2)
          ._2.count())
      println(f"[scale-$mode] k=$k%d docs=${nBase * k}%7d pairs=$np%9d " +
        f"pairs_s=$tp%6.2f pairs_shufMiB=${wPairs / 1048576.0}%7.1f " +
        f"cc_rows=$nc%6d cc_s=$tc%6.2f cc_shufMiB=${wCc / 1048576.0}%7.1f " +
        f"mh_pairs=$nm%9d mh_s=$tm%6.2f mh_shufMiB=${wMh / 1048576.0}%7.1f")
    }
    spark.stop()
  }
}
