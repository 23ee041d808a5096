package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A corpus's `documents` plus ONE pad document, so the similarity
  * operators take the postings arm of [[operators.TextSimOps.tokenSets]]
  * on what is otherwise the same corpus. The pad document has
  * [[PadTokens]] fresh tokens — past the 62-token mask gate on its own —
  * and a doc_id no other document has. It shares no token with any
  * document, so it joins no pair and no multi-member cluster: the two
  * arms' outputs must be equal.
  *
  * Usage (a padded copy for a command-line run):
  * Test/runMain graft.PaddedCorpus <sfDir> <outDir> */
object PaddedCorpus {
  val PadTokens = 63
  private val Prefix = "graftpad"

  /** Writes `docs` plus the pad document to `dir`/documents.parquet
    * (overwriting) in as many files as `docs` has partitions, and
    * returns the pad document's doc_id. */
  def write(docs: DataFrame, dir: String): Long = {
    val clash = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(col("w").startsWith(Prefix)).limit(1).count()
    require(clash == 0, s"corpus already has a '$Prefix' token")
    val padId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val text = (0 until PadTokens).map(i => s"$Prefix$i").mkString(" ")
    val pad = docs.limit(1).select(docs.schema.fields.toSeq.map { f =>
      (f.name match {
        case "doc_id" => lit(padId)
        case "text" => lit(text)
        case "n_chars" => lit(text.length)
        case n => col(n)
      }).cast(f.dataType).as(f.name)
    }: _*)
    docs.union(pad).coalesce(docs.rdd.getNumPartitions)
      .write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    padId
  }

  /** A padded copy of `sfDir`'s documents in a fresh temporary
    * directory: (directory, pad doc_id). */
  def of(spark: SparkSession, sfDir: String): (String, Long) = {
    val dir = Files.createTempDirectory("graft_padded").toString
    (dir, write(Tables.t(spark, sfDir, "documents"), dir))
  }

  /** The arm [[operators.TextSimOps.tokenSets]] picks for `dir`:
    * "masks" or "postings". */
  def arm(spark: SparkSession, dir: String): String =
    operators.TextSimOps.tokenSets(spark, dir) match {
      case _: operators.TextSimOps.Masks => "masks"
      case _: operators.TextSimOps.Postings => "postings"
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PaddedCorpus <sfDir> <outDir>")
    val spark = Harness.session(Harness.cpus)
    try {
      val id = write(Tables.t(spark, args(0), "documents"), args(1))
      println(s"[padded] ${args(1)}/documents.parquet: pad doc_id $id, " +
        s"arm ${arm(spark, args(1))}")
    } finally spark.stop()
  }
}
