package graft

import org.apache.spark.sql.functions._

/** Dev tool (r15, VERDICT r14 #4): scaling ladder for the similarity
  * shelf's two biggest keys — `sim_containment_pairs` (3.0-3.7 s at
  * sf0.1) and `sim_ngram_jaccard` (3.5-4.4 s) — in the §12.1 regime:
  * k× documents corpora with per-copy token SUFFIXING (w → w_cJ), so
  * copies share no vocabulary and every cross-copy pair dies at both
  * keys' τ=95 gates in BOTH directions (containment is asymmetric —
  * the first cut of this probe appended tokens instead, which leaves
  * base→superset containment at 100% and the output superlinear).
  * Within-copy pairs replicate the base corpus exactly (suffixing is
  * a vocabulary bijection), so qualifying pairs grow exactly k× while
  * the pair space grows k²× — the regime that separates a
  * candidate-bound plan (linear) from a pair-space-bound one
  * (quadratic). Every rung (k=1 included) carries one pad document of
  * fresh tokens ([[PaddedCorpus]]), so every rung takes the general
  * arm: the suffixed vocabulary leaves the ≤62-token bitset
  * dictionary by k=3 anyway, and one dispatch arm per curve is the
  * point — the closed/bitset arm's ladder is DESIGN §12.
  * Shuffle-write bytes (task-metrics listener, §12.1) are the scale
  * signal; wall at these sizes is latency-dominated.
  * Usage: SimScaleProbe [baseSfDir] [outRoot]. */
object SimScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_sim_scale"
    val spark = Harness.session(Harness.cpus)
    val meter = new ShuffleWriteMeter(spark)
    val docs = Tables.t(spark, base, "documents")
    val baseCols = docs.columns
    val baseN = docs.count()
    ProbeScratch.runWith(outRoot) {
      for (k <- Seq(1, 2, 4, 8)) {
        val dir = s"$outRoot/x$k"
        PaddedCorpus.write((0 until k).map { j =>
          if (j == 0) docs
          else docs
            .withColumn("doc_id", col("doc_id") + lit(j * 10000000L))
            .withColumn("text", array_join(
              transform(split(col("text"), " "),
                w => concat(w, lit(s"_c$j"))), " "))
            .select(baseCols.map(col): _*)
        }.reduce(_ union _).coalesce(4), dir)
        val pinsBefore = Harness.pinSnapshot(spark)
        for (key <- Seq("sim_containment_pairs", "sim_ngram_jaccard")) {
          // fresh frame per timed draw (shuffle reuse on a shared
          // DataFrame object would fake a repeat)
          val (n, t, write) = meter.measure(
            SparkEntry.queries(key)(spark, dir)
              .queryExecution.toRdd.count())
          println(f"[simscale] k=$k%d docs=${baseN * k}%6d $key%-24s " +
            f"rows=$n%9d wall=$t%7.2fs shuffle=${write / 1048576.0}%8.1f MiB")
        }
        Harness.sweepPins(spark, pinsBefore)
        System.gc()
      }
    }
    spark.stop()
  }
}
