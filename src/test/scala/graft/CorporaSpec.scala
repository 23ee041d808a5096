package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** [[Corpora]]'s writers on the sf0.001 corpus: k× the base's rows with
  * the promised ids and vocabularies, and no write over an existing
  * table. */
class CorporaSpec extends SparkTestBase {
  private def t(dir: String, table: String) = Tables.t(spark, dir, table)
  private lazy val docs = t(sf, "documents")
  private lazy val n = docs.count()
  private def fresh() = Files.createTempDirectory("graft_corpora").toString
  private def files(dir: String) = Files.walk(Paths.get(dir)).iterator()
    .asScala.filter(Files.isRegularFile(_)).toSeq
  private def words(dir: String) = t(dir, "documents")
    .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
  private def vocab(dir: String) = words(dir).select("w").distinct()
    .collect().map(_.getString(0)).toSet

  test("closed keeps the base vocabulary and writes k×N unique doc_ids") {
    val dir = fresh()
    Corpora.closed(docs, 3, dir)
    val ids = t(dir, "documents").select("doc_id")
    assert(ids.count() == 3 * n && ids.distinct().count() == 3 * n)
    assert(vocab(dir) == vocab(sf))
    // copy 1 drops exactly one word of every document
    val copy1 = words(dir).where(col("doc_id") >= Corpora.IdStride &&
      col("doc_id") < 2 * Corpora.IdStride).count()
    assert(copy1 == words(sf).count() - n)
  }

  test("open copies share no token, and exact pairs grow exactly k×") {
    val Seq(d1, d2) = Seq(1, 2).map { k =>
      val dir = fresh(); Corpora.open(docs, k, dir); dir
    }
    assert(t(d2, "documents").count() == 2 * n + 1)
    val shared = words(d2).groupBy(col("w"))
      .agg(countDistinct(floor(col("doc_id") / Corpora.IdStride)).as("c"))
      .where(col("c") > 1).count()
    assert(shared == 0)
    assert(PaddedCorpus.arm(spark, d1) == "postings")
    val Seq(p1, p2) = Seq(d1, d2)
      .map(operators.TextSimOps.exactWordPairs(spark, _, 90).count())
    assert(p1 > 0 && p2 == 2 * p1, s"k=1 $p1 pairs, k=2 $p2")
  }

  test("embeddings and rows write k×N rows, embeddings with unique vec_ids") {
    val (emb, li) = (t(sf, "embeddings"), t(sf, "lineitem"))
    val (e, r) = (fresh(), fresh())
    Corpora.embeddings(emb, 3, e)
    Corpora.rows(li, 3, r)
    val ids = t(e, "embeddings").select("vec_id")
    assert(ids.count() == 3 * emb.count())
    assert(ids.distinct().count() == 3 * emb.count())
    assert(t(r, "lineitem").count() == 3 * li.count())
  }

  test("a write into an existing corpus throws and leaves its files " +
    "byte-identical") {
    val dir = fresh()
    Corpora.closed(docs, 1, dir)
    def snapshot = files(dir).map(p => p -> Files.readAllBytes(p).toSeq).toMap
    val before = snapshot
    intercept[AnalysisException](Corpora.closed(docs, 2, dir))
    intercept[AnalysisException](Corpora.open(docs, 2, dir))
    assert(snapshot == before)
  }

  test("rowgroups rewrites every table with several row groups per file, " +
    "and the preflight passes on it") {
    // named like the source, so the preflight checks its row counts too
    val dir = s"${fresh()}/sf0.001"
    Corpora.rowGroups(spark, sf, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val tables = files(dir).filter(_.toString.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.toString), conf))
      try assert(r.getRowGroups.size >=
        math.min(r.getRecordCount, Harness.cpus.toLong), f.toString)
      finally r.close()
      f.getParent.getFileName.toString
    }
    assert(tables.sorted ==
      new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted.toSeq)
    assert(Preflight.problems(spark, dir).isEmpty)
  }
}
