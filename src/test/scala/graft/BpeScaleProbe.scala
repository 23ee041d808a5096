package graft

import org.apache.spark.sql.functions._

/** Dev tool (r12): measures pipe_bpe_apply's central scale claim —
  * the corpus crosses the wire ONCE (the word-frequency table);
  * every learn-apply step after is VOCABULARY-sized. k× corpora built
  * from doc_id-offset copies keep the vocabulary CONSTANT while the
  * corpus grows k×, so end-to-end time should grow only in the word
  * table build while the 4 merge steps stay flat. The word-table-only
  * timing isolates the corpus-sized stage from the step chain.
  * Usage: java -cp classes:test-classes:jars graft.BpeScaleProbe
  * [baseSfDir] [outRoot]. */
object BpeScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_bpe_scale"
    val spark = Harness.session(Harness.cpus)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // Two regimes (the ScaleProbe closed/open discipline):
    //  - closed: doc_id-offset copies share the base vocabulary, so
    //    the word table's ROW COUNT is constant while the corpus grows
    //    k× — steps must stay flat, only the corpus-sized word-table
    //    build may grow.
    //  - open: tokens are suffixed per copy (w → w_cJ), so the
    //    VOCABULARY itself grows k× — steps are allowed to grow with
    //    the vocabulary (their declared size), never faster.
    val docs = Tables.t(spark, base, "documents")
    val mode = if (args.length > 2) args(2) else "both"
    val regimes =
      if (mode == "both") Seq("closed", "open") else Seq(mode)
    for (regime <- regimes; k <- Seq(1, 2, 4, 8)) {
      val dir = s"$outRoot/$regime/x$k"
      (0 until k).map { j =>
        val d = if (j == 0) docs
          else docs.withColumn("doc_id", col("doc_id") + lit(j * 10000000L))
        if (regime == "open" && j > 0)
          d.withColumn("text",
            concat(regexp_replace(col("text"), " ", s"_c$j "), lit(s"_c$j")))
        else d
      }.reduce(_ union _).coalesce(8)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val nd = Tables.t(spark, dir, "documents").count()
      // corpus-sized stage alone: the word-frequency table
      val (nw, tw) = time(operators.PipelineOps.bpeSeq0(spark, dir).count())
      // end-to-end: word table + 4 vocabulary-sized learn-apply steps
      val (no, te) = time(
        SparkEntry.queries("pipe_bpe_apply")(spark, dir)
          .queryExecution.toRdd.count())
      println(f"[bpescale] $regime%-6s k=$k%d docs=$nd%7d vocab=$nw%7d " +
        f"wordtable_s=$tw%6.2f end_to_end_s=$te%6.2f " +
        f"steps_s=${te - tw}%6.2f rows=$no%3d")
    }
    spark.stop()
  }
}
