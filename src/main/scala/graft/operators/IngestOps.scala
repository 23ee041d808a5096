package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Non-parquet ingest + partition-pruned read keys:
  * SURVEY §2.1 declared CSV/JSON readers and Hive-style partition
  * layouts "capability, no key" — these keys make the claims testable
  * end-to-end against the DuckDB oracle.
  *
  * Each key derives a DETERMINISTIC fixture from the corpus tables at
  * the given sfDir (written under target/fixtures/<sf>/ on every call —
  * byte-stable: single sorted partition for the text forms), then runs
  * the real Spark reader over it. The oracle reads the SAME fixture
  * with DuckDB's `read_csv`/`read_json` (absolute path, valid for the
  * sf0.01 correctness run), so a parser-semantics divergence — quote
  * escaping, null encoding, missing JSON fields, whitespace — fails the
  * hash compare instead of hiding behind a parquet-only surface.
  *
  * Messiness contract (the TRY_CAST ingest story a real lake needs):
  * empty → NULL user ids, "n/a" numerics, padded integers, fields with
  * embedded delimiters/quotes (RFC4180 doubled-quote escaping — Spark's
  * csv reader is configured escape='"' to match DuckDB's default),
  * JSON rows with missing fields and nested structs. All derived from
  * `event_id` residues, so every SF exercises every mess class.
  *
  * Scale note: fixture WRITING is test scaffolding; the graded shape is
  * the READ — schema-explicit (inference nowhere, SURVEY §1.3), and for
  * the partitioned layout the day filter must reach the scan as a
  * PartitionFilter with files-read < files-total (PlanSpec asserts
  * both). At 100 TB the identical `partitionBy(day)` layout is what
  * makes per-day queries cheap — this is the read-side proof.
  */
object IngestOps {
  private val DayUs = 86400000000L
  /** 2024-01-05; inside the 19723..19752 event-day range at every SF. */
  private val PrunedDay = 19727L

  /** Fixture root derived from the PROCESS cwd, not a baked repo path,
    * so a moved checkout keeps working. */
  private[graft] def fixtureRoot(d: String): String =
    s"${new java.io.File("target/fixtures").getAbsolutePath}/" +
      new java.io.File(d).getName

  /** Fixture writes memoized per (JVM, path): writers are deterministic
    * per sfDir and the path embeds the SF, so re-running a key re-reads
    * the identical bytes instead of re-writing them. This is what keeps
    * the write scaffolding out of Bench's timed region: the
    * first call — Bench's untimed prepare, or attempt 1 — pays the
    * write; every later call is read-only. */
  private val writtenOnce =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def once(path: String)(body: => Unit): String =
    writtenOnce.getOrElseUpdate(path, { body; path })

  /** One deterministic text file: single partition, sorted by `sortCol`
    * before the line projection, so fixture bytes are run-invariant. */
  private def writeLines(base: DataFrame, line: Column, path: String,
      sortCol: String = "event_id"): Unit =
    base.repartition(1).sortWithinPartitions(sortCol)
      .select(line.as("value"))
      .write.mode(SaveMode.Overwrite).text(path)

  /** Raw line-delimited text corpus: one `doc_id \t lang \t text` line
    * per document. The corpus text is single-line and tab-free by
    * construction, and Preflight's documents domain check asserts
    * exactly that (tab/newline in text reports as named drift), so a
    * regeneration that breaks this fixture's delimiting fails by name
    * before any key runs. */
  private[graft] def writeTextFixture(s: SparkSession, d: String): String = {
    val path = s"${fixtureRoot(d)}/documents_txt"
    once(path) {
      writeLines(t(s, d, "documents"),
        concat_ws("\t", col("doc_id"), col("lang"), col("text")),
        path, sortCol = "doc_id")
    }
  }

  /** RFC4180 field: double the quotes, wrap in quotes. */
  private def q4180(c: Column): Column =
    concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\""))

  private[graft] def writeCsvFixture(s: SparkSession, d: String): String = {
    val path = s"${fixtureRoot(d)}/events_csv"
    once(path) {
    val e = events(s, d)
    val c0 = col("event_id").cast("string")
    val c1 = when(pmod(col("event_id"), lit(11)) === 0, lit(""))
      .otherwise(col("user_id").cast("string"))
    val messyType = when(pmod(col("event_id"), lit(13)) === 0,
        concat(col("event_type"), lit("\"x,"), col("event_type")))
      .otherwise(col("event_type"))
    val c3 = when(pmod(col("event_id"), lit(7)) === 0, lit("n/a"))
      .otherwise(col("value").cast("string"))
    val c4 = when(pmod(col("event_id"), lit(5)) === 0,
        concat(lit(" "), col("ts_us").cast("string"), lit(" ")))
      .otherwise(col("ts_us").cast("string"))
    writeLines(e, concat_ws(",", c0, c1, q4180(messyType), c3, c4), path)
    }
  }

  private[graft] def writeJsonFixture(s: SparkSession, d: String): String = {
    val path = s"${fixtureRoot(d)}/events_json"
    once(path) {
    val e = events(s, d)
    // to_json drops null fields (default ignoreNullFields) — the %11/%7
    // residues therefore produce rows with MISSING keys, which is the
    // schema-tolerance case a JSON ingest must handle; props round-trips
    // string→struct→nested object so the reader parses real nesting.
    val doc = struct(
      col("event_id"),
      when(pmod(col("event_id"), lit(11)) === 0, lit(null).cast("long"))
        .otherwise(col("user_id")).as("user_id"),
      struct(col("event_type").as("t"),
        when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value")).as("m"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("props"))
    writeLines(e, to_json(doc), path)
    }
  }

  /** ORC fixture with COMPLEX types — struct + array columns — so the
    * read side exercises ORC's nested decoding, not just flat scalars
    * (SourceSinkSpec's round-trip uses flat columns only). Avro is the
    * one reader that stays "capability, no key": the spark-avro
    * datasource jar is not in /opt/spark/jars (only the Avro core
    * libs), so `format("avro")` cannot resolve offline. */
  private[graft] def writeOrcFixture(s: SparkSession, d: String): String = {
    val path = s"${fixtureRoot(d)}/events_orc"
    once(path) {
    events(s, d)
      .select(
        col("event_id"), col("user_id"),
        struct(col("event_type").as("t"), col("value").as("v")).as("m"),
        array(col("event_type"),
          concat(lit("x"), pmod(col("event_id"), lit(5)).cast("string")))
          .as("tags"),
        col("ts_us"))
      .write.mode(SaveMode.Overwrite).orc(path)
    }
  }

  /** Two parquet generations under one root: gen=1 lacks the `etype`
    * column that gen=2 carries — the additive schema-evolution shape
    * every long-lived lake table accumulates. */
  private[graft] def writeEvoFixture(s: SparkSession, d: String): String = {
    val path = s"${fixtureRoot(d)}/events_evo"
    once(path) {
    val e = events(s, d)
    e.where(pmod(col("event_id"), lit(2)) === 0)
      .select(col("event_id"), col("user_id"), col("value"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/gen=1")
    e.where(pmod(col("event_id"), lit(2)) =!= 0)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type").as("etype"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/gen=2")
    }
  }

  private[graft] def writePartitionedFixture(s: SparkSession, d: String): String = {
    val path = s"${fixtureRoot(d)}/events_byday"
    once(path) {
    events(s, d)
      .withColumn("day", expr(s"ts_us div $DayUs"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"), col("day"))
      .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(path)
    }
  }

  /** Small day-dimension parquet (one row per distinct event day, tag =
    * day mod 3) — the filtered-dim side that makes dynamic partition
    * pruning observable: the fact-side day set is only known once the
    * dim filter runs, so static pruning CANNOT remove partitions and
    * any skipped file is DPP's doing. */
  private[graft] def writeDayDimFixture(s: SparkSession, d: String): String = {
    val path = s"${fixtureRoot(d)}/day_dim"
    once(path) {
    events(s, d)
      .select(expr(s"ts_us div $DayUs").as("day")).distinct()
      .withColumn("tag", pmod(col("day"), lit(3L)))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path)
    }
  }

  val queries: Map[String, QFn] = Map(
    // Messy-CSV ingest: schema-explicit all-VARCHAR read (inference
    // nowhere), then TRY_CAST/trim cleaning — the junk row survives as
    // NULL, never a job abort. quote/escape both '"' = RFC4180 doubling,
    // the dialect DuckDB's reader speaks by default.
    "scan_csv_messy" -> ((s: SparkSession, d: String) => {
      val path = writeCsvFixture(s, d)
      s.read
        .schema("c0 STRING, c1 STRING, c2 STRING, c3 STRING, c4 STRING")
        .option("header", "false").option("quote", "\"").option("escape", "\"")
        .csv(path)
        .select(
          expr("try_cast(c0 AS bigint)").as("event_id"),
          expr("try_cast(c1 AS bigint)").as("user_id"),
          col("c2").as("etype"),
          expr("try_cast(c3 AS double)").as("value"),
          expr("try_cast(trim(c4) AS bigint)").as("ts_us"))
        .orderBy("event_id")
    }),

    // Raw text-file ingest (spark.read.text) — how LLM corpora actually
    // arrive: line-delimited UTF-8, structure recovered by parsing, not
    // declared by a container format. One `value` column in, explicit
    // split + try_cast out (inference nowhere); the oracle reads the
    // ORIGINAL parquet, so the whole write→read→parse round-trip must
    // be byte-exact (a delimiter-handling or encoding divergence fails
    // the hash). Map-side only after the read; at 100 TB the text
    // source splits by line boundaries exactly like any other
    // FileFormat — no structural difference from the CSV path.
    "scan_text_lines" -> ((s: SparkSession, d: String) => {
      val path = writeTextFixture(s, d)
      s.read.text(path)
        .select(split(col("value"), "\t").as("f"))
        .select(expr("try_cast(f[0] AS bigint)").as("doc_id"),
          col("f")(1).as("lang"), col("f")(2).as("text"))
        .withColumn("n_tokens",
          size(split(col("text"), " ")).cast("bigint"))
        .orderBy("doc_id")
    }),

    // JSON-lines ingest with an explicit nested schema: missing keys →
    // NULL, nested struct fields projected out. No inference, no
    // permissive-mode surprises — the declared schema IS the contract.
    "scan_json_events" -> ((s: SparkSession, d: String) => {
      val path = writeJsonFixture(s, d)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, " +
          "m STRUCT<t: STRING, value: DOUBLE>, props STRUCT<k: BIGINT>")
        .json(path)
        .select(col("event_id"), col("user_id"),
          col("m.t").as("etype"), col("m.value").as("value"),
          col("props.k").as("k"))
        .orderBy("event_id")
    }),

    // ORC ingest with nested types: schema-explicit read (inference
    // nowhere), a predicate on a NESTED struct field that must reach
    // the ORC scan as a pushed filter (nestedPredicatePushdown covers
    // orc by default; PlanSpec asserts), struct/array element
    // projection. Oracle reads the ORIGINAL parquet — the ORC
    // round-trip must change nothing.
    "scan_orc_nested" -> ((s: SparkSession, d: String) => {
      val path = writeOrcFixture(s, d)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, " +
          "m STRUCT<t: STRING, v: DOUBLE>, tags ARRAY<STRING>, ts_us BIGINT")
        .orc(path)
        .where(col("m")("t") =!= "error")
        .select(col("event_id"), col("user_id"),
          col("m.t").as("etype"), col("m.v").as("v"),
          element_at(col("tags"), 2).as("tag1"), col("ts_us"))
        .orderBy("event_id")
    }),

    // Additive schema evolution: older files lack a column newer files
    // carry; mergeSchema unions the per-file schemas and NULL-fills the
    // missing column — the read contract that lets a 100 TB table add
    // columns without rewriting history. The oracle reconstructs the
    // same rows from the ORIGINAL parquet, so a wrong fill (dropped
    // rows, misaligned columns, non-NULL garbage) fails the hash.
    "scan_schema_evolve" -> ((s: SparkSession, d: String) => {
      val path = writeEvoFixture(s, d)
      s.read.option("mergeSchema", "true").parquet(path)
        .select(col("event_id"), col("user_id"), col("value"),
          col("etype"), col("gen").cast("bigint").as("gen"))
        .orderBy("event_id")
    }),

    // Hive-style partition pruning: one day out of 30 — the scan must
    // carry a PartitionFilter and touch only that day's files (PlanSpec
    // asserts files-read < files-total; the oracle checks the values
    // against the unpartitioned source).
    "scan_partition_pruned" -> ((s: SparkSession, d: String) => {
      val path = writePartitionedFixture(s, d)
      s.read.parquet(path)
        .where(col("day") === PrunedDay)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("day").cast("bigint").as("day"))
        .orderBy("event_id")
    }),

    // Bucketed co-located fact⋈fact join — the single biggest join
    // lever at 100 TB (DESIGN §3): both sides written bucketBy the
    // join key with equal bucket counts, so the join's shuffle is paid
    // ONCE at write time and the read-side join plans with ZERO
    // exchange (PlanSpec asserts SMJ + no Exchange + Bucketed: true
    // with broadcast disabled). This key adds the ORACLE dimension the
    // plan assertion can't: the layout round-trip must be value-exact
    // against the plain join over the original parquet.
    "join_bucketed_colocate" -> ((s: SparkSession, d: String) => {
      writeBucketedTables(s, d)
      s.table("graft_li_bkt").join(s.table("graft_ord_bkt"), "k")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // DYNAMIC partition pruning — the 100 TB star-join read pattern:
    // the fact's day set comes from a FILTERED dim (tag = 1 → 1/3 of
    // days), so static pruning cannot fire; Catalyst injects a
    // dynamicpruningexpression on the fact scan's partition column,
    // reusing the dim broadcast as the IN-set (PlanSpec asserts the
    // subquery is present and that the scan skips files). SURVEY §4
    // called DPP inert on the single-file corpus — the partitioned
    // fixture makes it demonstrable.
    "join_dpp_partitioned" -> ((s: SparkSession, d: String) => {
      val fact = s.read.parquet(writePartitionedFixture(s, d))
      val dim = s.read.parquet(writeDayDimFixture(s, d))
        .where(col("tag") === 1L)
      fact.join(dim, "day")
        .groupBy(col("day").cast("bigint").as("day"))
        .agg(count(lit(1)).as("cnt"), sumDec(col("value")).as("sum_v"))
        .orderBy("day")
    }))

  /** Bucketed fact tables for `join_bucketed_colocate`, written once per
    * JVM (same memo discipline as the file fixtures). saveAsTable
    * (Overwrite) only overwrites tables the CURRENT catalog knows; a
    * fresh JVM with a stale warehouse dir (a prior run's leftover)
    * throws LOCATION_ALREADY_EXISTS instead — so drop both the catalog
    * entry (same-JVM re-run) and the on-disk location (fresh-JVM
    * re-run) before writing. */
  private def writeBucketedTables(s: SparkSession, d: String): Unit =
    once(s"bucketed-tables:$d") {
      Seq("graft_li_bkt", "graft_ord_bkt").foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = new org.apache.hadoop.fs.Path(
          s"${s.conf.get("spark.sql.warehouse.dir")}/$tbl")
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      val sink = new graft.sources.BucketedParquetSink(8, Seq("k"))
      sink.write(t(s, d, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_extendedprice")),
        "graft_li_bkt")
      sink.write(t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus")),
        "graft_ord_bkt")
    }

  /** Pre-materializes every fixture this module's keys read, so a
    * caller that wants write scaffolding OUT of a timed region (Bench)
    * can pay it once up front; the per-key `once` memo then
    * makes the in-key write calls no-ops. */
  private[graft] def prepareFixtures(s: SparkSession, d: String): Unit = {
    writeCsvFixture(s, d); writeJsonFixture(s, d); writeOrcFixture(s, d)
    writeEvoFixture(s, d); writePartitionedFixture(s, d)
    writeDayDimFixture(s, d); writeBucketedTables(s, d)
  }

  /** Oracle reads the fixture the Verify run just wrote. The fixture
    * SF is the `graft.oracle.sf` system property, which Verify sets
    * from ITS OWN sfDir argument before dumping oracle_sql.json, and
    * otherwise sf0.01, the graded scale. `oracle` is a def so the
    * path resolves at dump time, not class-load time — a Verify run at
    * another SF must not emit oracle SQL aimed at a stale fixture — and
    * the root follows the process cwd like [[fixtureRoot]]. */
  def oracle: Map[String, String] = {
    val OracleFixtures = s"${new java.io.File("target/fixtures").getAbsolutePath}/" +
      sys.props.getOrElse("graft.oracle.sf", "sf0.01")
    Map(
    "scan_csv_messy" ->
      ("SELECT TRY_CAST(c0 AS BIGINT) AS event_id, " +
        "TRY_CAST(c1 AS BIGINT) AS user_id, c2 AS etype, " +
        "TRY_CAST(c3 AS DOUBLE) AS value, " +
        "TRY_CAST(trim(c4) AS BIGINT) AS ts_us " +
        s"FROM read_csv('$OracleFixtures/events_csv/*.txt', " +
        "columns={'c0':'VARCHAR','c1':'VARCHAR','c2':'VARCHAR'," +
        "'c3':'VARCHAR','c4':'VARCHAR'}, header=false, delim=','," +
        " quote='\"', escape='\"', nullstr='') ORDER BY event_id"),
    "scan_json_events" ->
      ("SELECT event_id, user_id, m.t AS etype, m.\"value\" AS \"value\", " +
        "props.k AS k " +
        s"FROM read_json('$OracleFixtures/events_json/*.txt', " +
        "format='newline_delimited', columns={'event_id':'BIGINT'," +
        "'user_id':'BIGINT','m':'STRUCT(t VARCHAR, \"value\" DOUBLE)'," +
        "'props':'STRUCT(k BIGINT)'}) ORDER BY event_id"),
    // oracle reads the ORIGINAL parquet (the scan_orc_nested
    // discipline): the text write→read→parse round-trip must be
    // byte-exact against the source of truth
    "scan_text_lines" ->
      ("SELECT doc_id, lang, text, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents ORDER BY doc_id"),
    "join_bucketed_colocate" ->
      ("SELECT o_orderstatus, count(*) AS cnt, " +
        oSumDec("l_extendedprice") + " AS sum_price " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "scan_schema_evolve" ->
      ("SELECT event_id, user_id, value, " +
        "CASE WHEN event_id % 2 <> 0 THEN event_type END AS etype, " +
        "CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS gen " +
        "FROM events ORDER BY event_id"),
    "scan_orc_nested" ->
      ("SELECT event_id, user_id, event_type AS etype, value AS v, " +
        "'x' || CAST(event_id % 5 AS VARCHAR) AS tag1, " +
        "epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type <> 'error' ORDER BY event_id"),
    "scan_partition_pruned" ->
      (s"SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        s"epoch_us(ts) // $DayUs AS day FROM events " +
        s"WHERE epoch_us(ts) // $DayUs = $PrunedDay ORDER BY event_id"),
    "join_dpp_partitioned" ->
      (s"WITH e AS (SELECT epoch_us(ts) // $DayUs AS day, value FROM events) " +
        "SELECT day, count(*) AS cnt, " + oSumDec("value") + " AS sum_v " +
        "FROM e WHERE day % 3 = 1 GROUP BY day ORDER BY day"))
  }
}
