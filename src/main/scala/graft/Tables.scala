package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table registry + determinism helpers (SURVEY §1.3, §7.3).
  *
  * All testdata tables are fixed-schema single parquet files. The one
  * interop trap: `events.ts` has shipped as two different physical types
  * across driver testdata generations — INT64 TIMESTAMP(NANOS,false)
  * (rounds ≤7; Spark refuses it without the legacy nanosAsLong flag and
  * then reads it as LongType ns) and INT64 TIMESTAMP(MICROS, NTZ)
  * (rounds ≥8; Spark reads it natively as TIMESTAMP_NTZ). [[events]]
  * dispatches on the read dtype and normalizes either to the same
  * epoch-microsecond BIGINT `ts_us` (= DuckDB `epoch_us(ts)`), so every
  * downstream operator and oracle is generation-independent.
  *
  * Scale note (100 TB design): loaders return plain DataFrames so Catalyst
  * retains full pushdown/pruning freedom; nothing is cached or collected
  * here. On a real cluster the same registry would point at partitioned
  * (date-bucketed) parquet roots and the same code would partition-prune.
  */
object Tables {
  /** Driver-fixed query signature (SparkEntry contract). */
  type QFn = (SparkSession, String) => DataFrame

  /** Leaf-relation memo (r11): `spark.read.parquet` lists the path and
    * reads footers for schema on EVERY call — ~50-70 ms per table that
    * each of the 161 keys re-paid on each invocation. A real deployment
    * resolves a table through a catalog ONCE; this map is that catalog
    * for the fixed corpus. Only the analyzed leaf plan is reused — each
    * downstream query still builds its own QueryExecution, so conf
    * changes (shuffle width, AQE) and pushdown/pruning apply per query
    * exactly as before. Keyed by session so a restarted session
    * re-resolves. The corpus is read-only (TESTDATA.md); anything
    * engine-written goes through the sources/IngestOps readers, never
    * this registry. */
  // Stopped sessions are evicted EXPLICITLY on the next access (ADVICE
  // r11: a WeakHashMap here was self-defeating — the memoized
  // DataFrames strongly reference their session, so weak keys could
  // never be collected and stopped contexts were pinned for the JVM
  // lifetime anyway). An isStopped sweep at each lookup is O(live
  // sessions) — in practice 1 — and needs no listener plumbing.
  // All access synchronizes on the map itself.
  private val leafMemo = new java.util.HashMap[SparkSession,
    scala.collection.mutable.Map[(String, String), DataFrame]]()

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Source fan-out (repartition-after-read for the corpus' single-
    // row-group files — guide §2.5 "input skew: one huge unsplittable
    // file") was TRIED and REVERTED in r15: every table ships as one
    // parquet row group, so each query's first stage runs one task,
    // but a conditional repartition(defaultParallelism) at the
    // registry measured as a wash on the tokenize-heavy family and a
    // clear structural LOSS on map-only full-output keys (expr_cast:
    // the added full-row exchange + sort-before-repartition costs more
    // than the serial scan it relieves). OPTIMIZATION_r15.md has the
    // numbers.
    def read() = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
    // Sweep stopped sessions on EVERY lookup, not only memoized ones
    // (ADVICE r12): a JVM whose last t() calls all take the
    // non-memoized branch must still release a stopped session's
    // cached plans. O(live sessions) — in practice 1.
    leafMemo.synchronized {
      val it = leafMemo.entrySet().iterator()
      while (it.hasNext)
        if (it.next().getKey.sparkContext.isStopped) it.remove()
    }
    // Memoize ONLY the read-only corpus root (trailing slash: sibling
    // dirs like /root/testdata_scratch must NOT match): a parquet read
    // freezes its file listing (InMemoryFileIndex), so memoizing a dir
    // that a probe or test later OVERWRITES would serve deleted part
    // files. Synthetic probe corpora (/tmp) and test fixtures
    // (target/) are exactly those dirs — always re-resolve them.
    if (sfDir.stripSuffix("/").startsWith("/root/testdata/") ||
        sfDir.stripSuffix("/") == "/root/testdata")
      leafMemo.synchronized {
        leafMemo.computeIfAbsent(spark,
          _ => scala.collection.mutable.Map.empty)
          .getOrElseUpdate((sfDir, name), read())
      }
    else read()
  }

  /** events with `ts_us`: epoch-µs BIGINT, type-dispatched over the two
    * testdata generations (see header). The UTC session timezone makes
    * `cast(ts_ntz as timestamp)` value-preserving, so `unix_micros` equals
    * DuckDB's `epoch_us(ts)` exactly; on the old ns LongType read,
    * floor-division matches DuckDB's ns→µs truncation. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "events")
    val tsUs = df.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case _: TimestampNTZType => expr("unix_micros(cast(ts as timestamp))")
      case TimestampType => expr("unix_micros(ts)")
      case other => throw new IllegalStateException(
        s"events.ts read as unexpected type $other — testdata regenerated " +
          "again? Extend Tables.events dispatch.")
    }
    df.withColumn("ts_us", tsUs)
  }

  val AllTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Registers every corpus table as a temp view (events with `ts_us`
    * pre-normalized) so the whole surface is reachable via spark.sql.
    * Memoized per session on the CURRENT sfDir (the prepareFixtures
    * precedent: view setup is one-time scaffolding in any real SQL
    * deployment — 10 footer reads + analysis measured 0.73 s at sf0.1,
    * ~40% of the sql_surface key). A different sfDir re-registers (the
    * views are overwritten), and the memo tracks that switch. */
  private val registeredSf = new java.util.WeakHashMap[SparkSession, String]()
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    // atomic check-register-record: two concurrent callers with
    // different sfDirs must not interleave registrations (a mixed-
    // corpus catalog recorded as 'registered' would be permanent —
    // r11 review); the lock serializes the whole view swap
    registeredSf.synchronized {
      if (registeredSf.get(spark) != sfDir) {
        AllTables.foreach { n =>
          val df = if (n == "events") events(spark, sfDir)
            else t(spark, sfDir, n)
          df.createOrReplaceTempView(n)
        }
        registeredSf.put(spark, sfDir)
      }
    }

  /** Pin an iteratively-reused frame (lineage truncation for the CC /
    * PageRank / BFS round discipline — each round references the prior
    * frame ≥2×, and an unpinned chain re-executes 2^rounds times).
    *
    * Default is `localCheckpoint(eager=false)`: executor-local blocks, no
    * DFS round-trip — right for local mode and benchmarks. Its cluster
    * caveat (VERDICT r6 item 3): executor loss discards the blocks AND the
    * truncated lineage, failing the job. Setting
    * `spark.graft.checkpointDir=<dfs path>` switches every pin in the
    * engine to a RELIABLE `checkpoint()` into that directory, the
    * fault-tolerant form a 1000-executor run wants; one config flip, no
    * code change. */
  def pin(df: DataFrame): DataFrame = pin(df, eager = false)

  /** [[pin]] with an explicit materialization mode. `eager = true`
    * computes the pinned frame NOW, as its own job, instead of lazily
    * inside whatever action first touches it. Use it when the pinned
    * frame feeds ≥2 BROADCAST subtrees of one query: Spark builds
    * broadcast relations on a thread pool, so several broadcast-build
    * jobs can start while the pin's blocks are still uncomputed and
    * each races to compute the same partitions (getOrCompute dedups
    * storage, not work — r15, measured on agg_mad: 5.5 s one-shot vs
    * 2.5 s staged for identical stages). Eager materialization is a
    * scheduling barrier, so keep lazy pins in iterative chains whose
    * rounds are tiny (DESIGN §14.1: barriers cost more than the work
    * they dedup when each round is a sub-100 ms stage). */
  def pin(df: DataFrame, eager: Boolean): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        if (s.sparkContext.getCheckpointDir.isEmpty)
          s.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager = eager)
      case _ => df.localCheckpoint(eager = eager)
    }
  }

  /** Postfix form of [[pin]] for call-site brevity in iterative ops. */
  implicit class PinSyntax(private val df: DataFrame) {
    def pinned: DataFrame = pin(df)
  }

  val D18_2: DecimalType = DecimalType(18, 2)

  /** Money column → DECIMAL(18,2) (SURVEY §7.3.2: double sums are
    * partition-order nondeterministic; decimal sums are exact). */
  def dec2(c: Column): Column = c.cast(D18_2)

  /** Deterministic money sum: accumulate in DECIMAL(18,2) (exact,
    * partition-order independent), emit DOUBLE. The final cast is the
    * correctly-rounded IEEE conversion of one exact decimal value, so
    * Spark and DuckDB produce bit-identical float64 — whereas emitting
    * DECIMAL itself is hash-unsafe downstream: a comparer that floats one
    * side sees "253942.00" vs "253942.0" on trailing-zero values. */
  def sumDec(c: Column): Column = sum(dec2(c)).cast("double")

  /** Money min/max/single-value at the output boundary: exact decimal
    * compare, DOUBLE out (same rationale as [[sumDec]]). */
  def moneyOut(c: Column): Column = dec2(c).cast("double")

  /** Float-derived metrics: fixed evaluation order upstream + a pure-IEEE
    * round-to-6-decimals that both engines compute bit-identically:
    * floor(x*1e6 + 0.5)/1e6. (Spark's round() on doubles goes through the
    * shortest decimal string repr — HALF_UP on that string — while DuckDB
    * rounds numerically; they can disagree on ....x5 shortest-reprs. The
    * floor formulation is mult/add/floor/div, all correctly-rounded IEEE
    * ops, so it is engine-independent.) */
  def round6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  /** The engine's ONE percentile-over-groups primitive (VERDICT r11
    * #4/#6 — agg_mad, agg_percentile, pipe_quality_cut and
    * pipe_dataset_card each hand-rolled it). Exact `percentile(e, p)`
    * by default: the graded, oracle-matched path, whose contract is
    * that every group's values buffer on one reducer
    * (ObjectHashAggregate) — the cost of an EXACT order statistic.
    * Setting `spark.graft.agg.approxPercentile=<accuracy>` swaps
    * EVERY caller to `percentile_approx`'s mergeable Greenwald–Khanna
    * sketch at that accuracy — bounded reducer memory, map-side
    * combinable, the 100 TB path; rank error ≤ n/accuracy
    * (InvariantSpec bounds the realized divergence on this corpus).
    * The sketch result is cast to DOUBLE so both paths emit the same
    * schema (percentile_approx returns the INPUT type; exact
    * percentile returns DOUBLE). */
  def groupPercentile(s: SparkSession, e: String, p: Double): Column =
    if (percentileSketchOn(s)) {
      val acc = s.conf.get("spark.graft.agg.approxPercentile")
      // Validate HERE, naming the conf key: a bare toInt would throw
      // a keyless NumberFormatException from deep inside plan build
      // on natural spellings like "1e4" or "10000.0", and 0/-1 would
      // fail later inside percentile_approx (r12 self-review).
      val ad = try acc.trim.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.agg.approxPercentile must be a positive " +
            s"integer accuracy (e.g. 10000), got '$acc'")
      }
      // Reject non-integral spellings instead of silently truncating
      // ('10000.9' → 10000 would betray the error message's promise;
      // ADVICE r12). '1e4' / '10000.0' remain accepted — integral.
      require(ad > 0 && ad == math.rint(ad) && ad <= Int.MaxValue.toDouble,
        "spark.graft.agg.approxPercentile must be a " +
          s"positive integer accuracy (e.g. 10000), got '$acc'")
      val a = ad.toInt
      percentile_approx(expr(e), lit(p), lit(a)).cast("double")
    } else expr(s"percentile($e, $p)")

  /** THE single predicate deciding whether the percentile family runs
    * the GK sketch — shared by [[groupPercentile]] and every
    * count-based exact caller (r12 self-review: two hand-rolled
    * copies of this gate could silently drift, splitting the family
    * across paths under one conf value). */
  def percentileSketchOn(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.agg.approxPercentile")
      .exists(_.trim.nonEmpty)

  /** Oracle-side sum helper, mirrored text of [[sumDec]]. */
  def oSumDec(sqlExpr: String): String =
    s"CAST(sum(CAST($sqlExpr AS DECIMAL(18,2))) AS DOUBLE)"

  /** Oracle-side mirror of [[moneyOut]]. */
  def oMoneyOut(sqlExpr: String): String =
    s"CAST(CAST($sqlExpr AS DECIMAL(18,2)) AS DOUBLE)"

  /** Oracle-side mirror of [[round6]]. */
  def oRound6(sqlExpr: String): String =
    s"floor(($sqlExpr) * 1000000 + 0.5) / 1000000"
}
