package graft

import org.apache.spark.sql.functions._

/** Dev tool (r13): evidence for DESIGN §15.2.1's saturation claim —
  * the count-based percentile family's per-pass work is bounded by the
  * VALUE DOMAIN, so as a corpus grows over a bounded domain (the 100 TB
  * regime for cents prices), the tie-collapse factor grows with it and
  * everything after the single row-scaled collapse stays flat. Builds
  * k× row-duplicated lineitem corpora (same price domain by
  * construction — duplication IS saturation) and times the shipped
  * `agg_mad` key end-to-end, reporting rows, distinct tie blocks, and
  * wall time per k. Linear-in-rows wall with a flat block count is the
  * claim; super-linear wall would falsify it.
  * Usage: Test/runMain graft.PercentileScaleProbe [baseSfDir] [outRoot]. */
object PercentileScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_pct_scale"
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val pinsBefore = Harness.pinSnapshot(spark)
    val li = Tables.t(spark, base, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    // scratch discipline: ProbeScratch refuses a pre-existing
    // NON-scratch outRoot before any write (ADVICE r13 + r14 review),
    // and deletes the claimed root even when a rung throws — don't
    // leave up to 15 lineitem copies under /tmp
    ProbeScratch.runWith(outRoot) {
    for (k <- Seq(1, 2, 4, 8)) {
      val dir = s"$outRoot/x$k"
      // k row-duplicated copies: the price DOMAIN is unchanged, so the
      // (group, cents) tie blocks saturate exactly k-fold. coalesce to
      // the session's parallelism so the corpus layout matches what
      // the canonical bench reads (r13 review: a fixed 8 skewed the
      // written layout under SPARK_GRAFT_CPUS=32)
      (0 until k).map(_ => li).reduce(_ union _).coalesce(cpus)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val rows = Tables.t(spark, dir, "lineitem").count()
      val blocks = Tables.t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          (Tables.dec2(col("l_extendedprice")) * 100).cast("long"))
        .count().count()
      // warm run absorbs codegen, timed run is steady-state shape
      SparkEntry.queries("agg_mad")(spark, dir)
        .queryExecution.toRdd.count()
      // sweep dead localCheckpoint pins from prior runs/sizes before
      // timing: without it, the k=8 run executes under the block
      // pressure of every earlier run's pins, and a super-linear
      // reading could be pin accumulation rather than the algorithmic
      // scaling this probe exists to measure
      Harness.sweepPins(spark, pinsBefore)
      System.gc()
      val (n, t) = time(
        SparkEntry.queries("agg_mad")(spark, dir)
          .queryExecution.toRdd.count())
      println(f"[pctscale] k=$k%d rows=$rows%8d blocks=$blocks%7d " +
        f"collapse=${rows.toDouble / blocks}%5.2fx mad_s=$t%6.2f rows_out=$n")
    }
    }
    spark.stop()
  }
}
