package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writers of the scaling corpora behind DESIGN §12, §12.1, §14.2,
  * §15.2.1, §15.4 and §16.5. Each writes one corpus directory and times
  * nothing: `tools/ab.py --keys k1,k2 --data <dir>` measures it. Copy j
  * of a k× corpus offsets its id column by j·[[IdStride]]. Writes use
  * Spark's default save mode, `ErrorIfExists`: a table that already
  * exists under the output directory is never overwritten.
  *
  * Usage: Test/runMain graft.Corpora <kind> <k> <sfDir> <outDir> with
  * kind closed, open, embeddings or rows; or graft.Corpora
  * <rowgroups|padded> <sfDir> <outDir>. */
object Corpora {
  val IdStride = 10000000L

  /** `documents` as k near-dup copies: copy j > 0 drops the word at
    * position (doc_id + j) mod |words|, so near-dup structure grows
    * with the corpus while the vocabulary stays the base's. */
  def closed(docs: DataFrame, k: Int, dir: String): Unit =
    copies(k, 4) { j =>
      if (j == 0) docs
      else docs
        .withColumn("toks", split(col("text"), " "))
        .withColumn("p", pmod(col("doc_id") + lit(j), size(col("toks"))))
        .select(offset("doc_id", j),
          concat_ws(" ", expr("filter(toks, (t, i) -> i != p)")).as("text"),
          col("lang"), col("source"), col("n_chars"))
    }.write.parquet(s"$dir/documents.parquet")

  /** `documents` as k copies with disjoint vocabularies: copy j
    * suffixes every token (w → w_cj). Within-copy pairs are the base's
    * (suffixing is a bijection) and cross-copy pairs are empty, so
    * exact pairs grow k× while the pair space grows k²×. Written
    * through [[PaddedCorpus.write]], so every k takes the postings arm. */
  def open(docs: DataFrame, k: Int, dir: String): Unit =
    PaddedCorpus.write(copies(k, 4) { j =>
      docs
        .withColumn("doc_id", col("doc_id") + lit(j * IdStride))
        .withColumn("text", array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_c$j"))), " "))
    }, dir)

  /** `embeddings` as k copies: copy j > 0 negates the components i with
    * (i + j) mod 3 = 0, so no two copies hold the same vector. */
  def embeddings(emb: DataFrame, k: Int, dir: String): Unit =
    copies(k, 4) { j =>
      if (j == 0) emb
      else emb.select(offset("vec_id", j),
        expr(s"transform(embedding, (x, i) -> " +
          s"CASE WHEN pmod(i + $j, 3) = 0 THEN -x ELSE x END)")
          .as("embedding"),
        col("label"))
    }.write.parquet(s"$dir/embeddings.parquet")

  /** `lineitem`'s (l_returnflag, l_extendedprice) duplicated k times:
    * the price domain is unchanged, so `agg_mad`'s (group, cents) tie
    * blocks stay the base's while the rows grow k×. */
  def rows(li: DataFrame, k: Int, dir: String): Unit = {
    val cols = li.select(col("l_returnflag"), col("l_extendedprice"))
    copies(k, Harness.cpus)(_ => cols).write.parquet(s"$dir/lineitem.parquet")
  }

  /** Every table of `sfDir` rewritten as one file of at least
    * min(rows, [[Harness.cpus]]) row groups, where the testdata has one,
    * so a scan can split each file into as many tasks as cores. */
  def rowGroups(spark: SparkSession, sfDir: String, dir: String): Unit =
    for (f <- new java.io.File(sfDir).list() if f.endsWith(".parquet")) {
      val df = Tables.t(spark, sfDir, f.stripSuffix(".parquet"))
      df.coalesce(1).write.option("parquet.block.row.count.limit",
        math.max(1L, df.count() / Harness.cpus)).parquet(s"$dir/$f")
    }

  private def copies(k: Int, files: Int)(copy: Int => DataFrame): DataFrame =
    (0 until k).map(copy).reduce(_ union _).coalesce(files)

  private def offset(id: String, j: Int) = (col(id) + lit(j * IdStride)).as(id)

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    def in(sfDir: String, table: String) = Tables.t(spark, sfDir, table)
    try args match {
      case Array("closed", k, sfDir, out) =>
        closed(in(sfDir, "documents"), k.toInt, out)
      case Array("open", k, sfDir, out) =>
        open(in(sfDir, "documents"), k.toInt, out)
      case Array("embeddings", k, sfDir, out) =>
        embeddings(in(sfDir, "embeddings"), k.toInt, out)
      case Array("rows", k, sfDir, out) =>
        rows(in(sfDir, "lineitem"), k.toInt, out)
      case Array("rowgroups", sfDir, out) => rowGroups(spark, sfDir, out)
      case Array("padded", sfDir, out) =>
        PaddedCorpus.write(in(sfDir, "documents"), out)
      case _ => sys.error("usage: see the scaladoc of graft.Corpora")
    } finally spark.stop()
  }
}
