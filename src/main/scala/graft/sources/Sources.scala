package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.GraftOps

/** Multi-format batch source surface: parquet (primary), csv, json, orc —
  * all schema-explicit (inference is never used, SURVEY §1.3). Exercised
  * end-to-end by SourceSinkSpec round-trips. (No avro: the spark-avro
  * DATASOURCE jar is absent from /opt/spark/jars — only avro core libs
  * ship — so `format("avro")` fails to resolve; SURVEY §0's env table
  * overstated this.)
  */
object Sources {
  def read(spark: SparkSession, format: String, path: String,
      schema: StructType): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val r = spark.read.schema(schema)
    format match {
      case "csv" => r.option("header", "true").csv(path)
      case "json" => r.json(path)
      case "orc" => r.orc(path)
      case _ => r.parquet(path)
    }
  }

  def write(df: DataFrame, format: String, path: String): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    format match {
      case "csv" => w.option("header", "true").csv(path)
      case "json" => w.json(path)
      case "orc" => w.orc(path)
      case _ => w.parquet(path)
    }
  }
}

/** Batch sink abstraction — the reference's role was ingestion into a
  * keyed store (Cassandra raw keyspace: block / transaction /
  * exchange_rates, idempotent by partition key; SURVEY §0 [PUBLIC] — the
  * checkout is empty, no file:line exists). The spark-cassandra-connector
  * jar is not available offline (SURVEY env table), so the store-specific
  * member of this family cannot be built here; the trait fixes the
  * surface it would implement, and [[KeyedUpsertSink]] provides the
  * idempotence semantics store-independently.
  */
trait Sink {
  def write(df: DataFrame, table: String): Unit
}

/** Plain parquet-directory sink (what Verify uses per query). */
final class ParquetSink(root: String) extends Sink {
  override def write(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/$table")
}

/** Append-mode parquet sink — the per-micro-batch target for streaming
  * ingestion (each foreachBatch call lands one batch). */
final class ParquetAppendSink(root: String) extends Sink {
  override def write(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).parquet(s"$root/$table")
}

/** Cluster-scale layout: partition by low-cardinality columns (e.g. a
  * date bucket) so downstream readers partition-prune; at 100 TB this —
  * not file count — is what makes per-day queries cheap. */
final class PartitionedParquetSink(root: String, partitionCols: Seq[String])
  extends Sink {
  override def write(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(s"$root/$table")
}

/** Bucketed (hash-clustered) parquet table sink — the co-located
  * fact⋈fact join layout: two tables bucketed on their join key with
  * the same bucket count join with ZERO exchange, because the scan
  * itself reports the hash partitioning. At 100 TB this is the single
  * biggest join lever there is: the shuffle that dominates every
  * fact⋈fact plan is paid ONCE at write time and amortized over every
  * subsequent join/aggregation on that key (DESIGN §3). Bucket
  * metadata lives in the session catalog, so this sink writes a TABLE
  * (saveAsTable), not a bare directory; the input is pre-repartitioned
  * by the bucket expression so each bucket gets exactly one file, and
  * sortBy keeps files internally ordered (SMJ still re-sorts — Spark
  * ≥3 reports no bucket sort order unless the legacy
  * bucketedTableScanOutputOrdering flag is set — but the within-bucket
  * sort is exchange-free, spillable, and near-linear on pre-sorted
  * runs; the EXCHANGE elimination is the scale win). */
final class BucketedParquetSink(numBuckets: Int, bucketCols: Seq[String])
  extends Sink {
  override def write(df: DataFrame, table: String): Unit =
    df.repartition(numBuckets, bucketCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}

/** Size-aware compaction sink — the small-file remedy: streaming
  * ingestion (one file per micro-batch per partition) and fine-grained
  * upserts fragment a table into thousands of KB-sized files, and at
  * 100 TB file-open/footer overhead then dominates scan time and driver
  * file-listing memory. Compaction = read the fragmented table, coalesce
  * to ceil(input_bytes / targetBytes) files, rewrite. Uses
  * `repartition` (round-robin, parallel) rather than `coalesce`:
  * coalesce(n) would collapse the READ parallelism of the upstream scan
  * to n tasks, while a rewrite wants full-width reads feeding n writers;
  * the one extra shuffle is the price of balanced output files
  * (round-robin gives uniform rows/file regardless of input skew).
  * Input size comes from the file system listing, not a data scan, so
  * planning is metadata-only. The real-cluster refinement (per-partition
  * compaction with a bin-packing file assignment, as table formats'
  * OPTIMIZE does) keeps this exact shape per partition directory. */
final class CompactingParquetSink(root: String, targetBytes: Long)
  extends Sink {
  override def write(df: DataFrame, table: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$root/$table")
    val fs = path.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(path).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/__compact_$table")
    df.repartition(n).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // swap via rename-aside: a delete-then-rename would leave a window
    // where a crash strands the data in __compact_<table> with NO live
    // table path. Renaming the live directory aside first means
    // every failure point leaves a recoverable directory: before the
    // second rename the table survives at __old_<table>; after it, the
    // swap is complete and __old is garbage. Rename is atomic per
    // directory on HDFS-like file systems, so readers see old-or-new,
    // never a missing path (a reader holding the old listing across the
    // swap is the same race any non-transactional table format has —
    // the real-cluster refinement is a manifest/table-format commit).
    val old = new org.apache.hadoop.fs.Path(s"$root/__old_$table")
    fs.delete(old, true) // leftover from a previous crashed swap
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact swap: cannot move $path aside")
    if (!fs.rename(tmp, path)) {
      // restore the original table; if THAT also fails the table is
      // absent at its live path, so the error must say where the data
      // survives (a swallowed restore failure would make the exception
      // claim less than the operator knows)
      if (!fs.rename(old, path))
        throw new java.io.IOException(
          s"compact swap: cannot install $tmp AND restore failed — " +
            s"table data survives at $old; move it back to $path manually")
      throw new java.io.IOException(s"compact swap: cannot install $tmp")
    }
    fs.delete(old, true)
  }
}

/** Idempotent keyed upsert semantics (the reference's Cassandra write
  * discipline): within a batch, exactly one row per key survives —
  * deterministically the one with the highest `versionCol` (NULL versions
  * lose), with equal-version duplicates tie-broken by every remaining
  * orderable payload column ascending (NULL first), never "whichever
  * partition wrote last". Wrap any store-specific [[Sink]] with this to
  * make re-ingestion runs idempotent.
  *
  * Shape: one hash top-1 per key ([[graft.operators.GraftOps.topKPerGroup]]
  * with k = 1) — a per-partition hash map keeps each key's best row, ONE
  * exchange on the key carries at most one row per key per partition, and
  * a final hash map picks the survivor. No sort and no window.
  *
  * A frame declared unique on the key columns (or on a subset of them —
  * [[graft.operators.GraftOps.uniqueOn]], as
  * [[graft.streaming.IngestPipeline]] declares each deduplicated batch)
  * has nothing to resolve: it is written straight through, with no
  * exchange and no hash map.
  *
  * Memory: each hash map holds one copied row, one copied key and one
  * queue per distinct key of its partition, on the JVM heap, charged to
  * the task's execution memory. When Spark's memory manager denies the
  * next page, the partition switches to a spilling external sort, as the
  * window's sort spilled; unique-key inputs nobody declared unique (a
  * batch write of a deduplicated table) take that sort once their rows
  * fill the task's share of the pool.
  * Unorderable payload columns (e.g. maps) do not take part in the
  * tie-break: duplicates differing only in those stay unspecified.
  */
final class KeyedUpsertSink(delegate: Sink, keyCols: Seq[String],
    versionCol: String) extends Sink {
  override def write(df: DataFrame, table: String): Unit = {
    val tieBreak = df.schema.fields.toSeq
      .filterNot(f => keyCols.contains(f.name) || f.name == versionCol)
      .filter(f => RowOrdering.isOrderable(f.dataType))
      .map(_.name)
    delegate.write(GraftOps.topKPerGroup(df, keyCols,
      (versionCol -> false) +: tieBreak.map(_ -> true), k = 1), table)
  }
}
