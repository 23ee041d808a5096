package graft

import org.apache.spark.sql.functions._

/** Dev tool (r10): locates the exact-vs-IVF kNN-graph crossover. Builds
  * k× embeddings corpora (vec_id-offset copies with deterministic
  * per-copy sign flips so copies are not identical vectors) and times
  * GraftOps.knnGraph exact vs per-trained-cell at each size. The exact
  * graph's dot work grows k²; the cell-partitioned variant pays a
  * fixed training aggregate plus ≈ k²/nlist pair work — the crossover
  * is where the quadratic term dominates. Usage:
  * Test/runMain graft.KnnScaleProbe [baseSfDir] [outRoot]. */
object KnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_knn_scale"
    val spark = Harness.session(Harness.cpus)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val emb = Tables.t(spark, base, "embeddings")
    // scratch discipline (r14 review — same hazard class the sibling
    // PercentileScaleProbe closes): sentinel-gated root, exception-safe
    // cleanup, never a write into a pre-existing data directory
    ProbeScratch.runWith(outRoot) {
    for (k <- Seq(1, 2, 4, 8)) {
      val dir = s"$outRoot/x$k"
      val pinsBefore = Harness.pinSnapshot(spark)
      (0 until k).map { j =>
        if (j == 0) emb
        else emb.select(
          (col("vec_id") + lit(j * 10000000L)).as("vec_id"),
          expr(s"transform(embedding, (x, i) -> " +
            s"CASE WHEN pmod(i + $j, 3) = 0 THEN -x ELSE x END)")
            .as("embedding"),
          col("label"))
      }.reduce(_ union _).coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val e2 = Tables.t(spark, dir, "embeddings")
      // pinned: the recall join below consumes both graphs AGAIN —
      // unpinned, the quadratic exact plan would execute twice per
      // rung (r13 review)
      val exact = Tables.pin(operators.GraftOps.knnGraph(e2, 3)
        .select(col("node"), col("nbr")))
      val (ne, te) = time(exact.count())
      // the shipped key's exact plan (r11: top-2 multi-probe)
      val ivf = Tables.pin(
        operators.SimilarityOps.knnGraphMultiProbe(e2, 3)
          .select(col("node"), col("nbr")))
      val (ni, ti) = time(ivf.count())
      // recall-at-scale (VERDICT r12 #6): edge recall vs the exact
      // graph at each corpus size, fixed nlist/probes — shows the
      // shipped 0.83 is a property of the probe policy, not of one SF
      val hits = ivf.join(exact, Seq("node", "nbr")).count()
      println(f"[knnscale] k=$k%d vecs=${2000 * k}%6d " +
        f"exact_rows=$ne%7d exact_s=$te%7.2f " +
        f"ivf_rows=$ni%7d ivf_s=$ti%7.2f " +
        f"edge_recall=${hits.toDouble / ne}%.3f")
      // sweep this rung's pins before the next: otherwise each larger
      // rung is timed under the block pressure of all earlier rungs
      Harness.sweepPins(spark, pinsBefore)
      System.gc()
    }
    }
    spark.stop()
  }
}
