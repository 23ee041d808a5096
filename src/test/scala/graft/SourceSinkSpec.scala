package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources._

/** Multi-format round-trips (SURVEY §2.1 capability row) + sink
  * semantics: every supported format reads back what it wrote, and the
  * keyed-upsert sink keeps exactly the highest-version row per key. */
class SourceSinkSpec extends SparkTestBase {
  private def tmp(): String = Files.createTempDirectory("graft_src_").toString

  private lazy val li = graft.Tables.t(spark, sf, "lineitem")
    .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_returnflag") // format-portable columns (no NTZ timestamps in csv/avro)

  // no avro: the spark-avro datasource jar is not in /opt/spark/jars
  Seq("parquet", "csv", "json", "orc").foreach { fmt =>
    test(s"$fmt round-trip preserves rows") {
      val dir = s"${tmp()}/t"
      Sources.write(li, fmt, dir)
      val back = Sources.read(spark, fmt, dir, li.schema)
      assert(back.count() == li.count())
      val a = li.orderBy("l_orderkey", "l_linenumber").collect().map(_.toString)
      val b = back.orderBy("l_orderkey", "l_linenumber").collect().map(_.toString)
      assert(a.sameElements(b), s"$fmt round-trip altered values")
    }
  }

  test("scan_text_lines reconstructs the documents table byte-exactly") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("scan_text_lines")(spark, sf)
      .select("doc_id", "lang", "text")
    val src = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    assert(got.count() == src.count(), "text round-trip changed row count")
    assert(got.exceptAll(src).count() == 0 && src.exceptAll(got).count() == 0,
      "text write->read->parse round-trip altered values")
    // derived token count agrees with a direct computation on the source
    val bad = SparkEntry.queries("scan_text_lines")(spark, sf)
      .join(src.select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("nt")), "doc_id")
      .where(col("n_tokens") =!= col("nt")).count()
    assert(bad == 0, s"$bad docs with diverging token counts")
  }

  test("prepareFixtures writes every fixture the ingest keys read") {
    // Bench and perfbench prepare fixtures before the timed region; a
    // fixture it misses is written by the key's first try instead,
    // inside the timing. A copy of the corpus under a fresh directory
    // name has no fixture written in this JVM yet, so only
    // prepareFixtures can have written what the keys then find.
    val corpus = Files.createTempDirectory("graft_fixprep_").toFile
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, corpus.toPath.resolve(f.getName)))
    val d = corpus.getPath
    val root = new java.io.File(operators.IngestOps.fixtureRoot(d))
    def files(): Map[String, Long] =
      if (!root.exists()) Map.empty
      else {
        val w = Files.walk(root.toPath)
        try w.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
          .toMap
        finally w.close()
      }
    try {
      operators.IngestOps.prepareFixtures(spark, d)
      val prepared = files()
      assert(prepared.nonEmpty, s"prepareFixtures wrote nothing under $root")
      for ((k, q) <- operators.IngestOps.queries.toSeq.sortBy(_._1)) {
        q(spark, d).queryExecution.toRdd.count()
        val now = files()
        val changed = (now.keySet ++ prepared.keySet)
          .filter(p => now.get(p) != prepared.get(p))
        assert(changed.isEmpty, s"$k added or rewrote ${changed.size} " +
          s"fixture files, e.g. ${changed.toSeq.sorted.take(3).mkString(", ")}")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      org.apache.commons.io.FileUtils.deleteQuietly(corpus)
    }
  }

  test("CompactingParquetSink collapses a fragmented table, content intact") {
    val root = tmp()
    // fragment: 40 micro-batch-sized files (the streaming-ingest shape)
    li.repartition(40).write.parquet(s"$root/t")
    def files() = new java.io.File(s"$root/t").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = files()
    assert(before >= 40, s"fixture not fragmented: $before files")
    val bytes = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target a quarter of the input → expect ~4 balanced output files
    val frag = spark.read.parquet(s"$root/t")
    new CompactingParquetSink(root, bytes / 4 + 1).write(frag, "t")
    val after = files()
    assert(after <= 5, s"compaction left $after files (from $before)")
    val back = spark.read.parquet(s"$root/t")
    assert(back.count() == li.count())
    // (l_orderkey, l_linenumber) repeats in the raw corpus (FIXTURES.md),
    // so no column subset is a total order — compare the full-row
    // multiset, sorted on the row's entire string form
    val a = li.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.sameElements(b), "compaction altered table content")
  }

  test("KeyedUpsertSink keeps exactly the max-version row per key") {
    val root = tmp()
    val sink = new KeyedUpsertSink(new ParquetSink(root),
      Seq("l_orderkey", "l_linenumber"), "l_quantity")
    // duplicate every row with a lower "version" (quantity - 0.5);
    // NB (l_orderkey, l_linenumber) is not unique in the raw corpus, so
    // the expectation is the distinct-key count, not the row count
    val dup = li.unionByName(li.withColumn("l_quantity", col("l_quantity") - 0.5))
    sink.write(dup, "li")
    val back = spark.read.parquet(s"$root/li")
    val nKeys = li.select("l_orderkey", "l_linenumber").distinct().count()
    assert(back.count() == nKeys, "upsert did not dedup by key")
    assert(back.where(col("l_quantity") =!= floor(col("l_quantity"))).count() == 0,
      "a lower-version row survived")
  }

  test("KeyedUpsertSink picks equal-version duplicates deterministically") {
    val ss = spark
    import ss.implicits._
    // two rows per key with the SAME version but different payloads —
    // the survivor must be the payload-order minimum, not whichever
    // partition was scanned first
    val rows = (1 to 50).flatMap(k =>
      Seq((k.toLong, 1L, "b_payload"), (k.toLong, 1L, "a_payload")))
    val df = rows.toDF("k", "v", "payload").repartition(8)
    val survivors = (1 to 3).map { _ =>
      val root = tmp()
      new KeyedUpsertSink(new ParquetSink(root), Seq("k"), "v")
        .write(df, "t")
      spark.read.parquet(s"$root/t").orderBy("k")
        .select("payload").as[String].collect().toSeq
    }
    assert(survivors.head.forall(_ == "a_payload"),
      "tie-break should order by payload columns ascending")
    assert(survivors.distinct.size == 1, "equal-version survivor varied across runs")
  }

  /** Sink that keeps the frame it is handed, so a test can inspect what
    * a wrapping sink would have written. */
  private final class CapturingSink extends Sink {
    var last: DataFrame = _
    override def write(df: DataFrame, table: String): Unit = last = df
  }

  private def upserted(df: DataFrame, keyCols: Seq[String],
      versionCol: String): DataFrame = {
    val cap = new CapturingSink
    new KeyedUpsertSink(cap, keyCols, versionCol).write(df, "t")
    cap.last
  }

  /** The window formulation KeyedUpsertSink used to run: the reference
    * semantics its hash top-1 must reproduce row for row. */
  private def windowReference(df: DataFrame, keyCols: Seq[String],
      versionCol: String): DataFrame = {
    val tieBreak = df.schema.fields.toSeq
      .filterNot(f => keyCols.contains(f.name) || f.name == versionCol)
      .filter(f => RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(versionCol).desc +: tieBreak): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  private val upsertSchema = StructType(Seq(
    StructField("k1", LongType), StructField("k2", StringType),
    StructField("v", LongType), StructField("p1", StringType),
    StructField("p2", IntegerType),
    StructField("m", MapType(StringType, IntegerType))))

  /** Seeded batch over a small key/version/payload domain, so keys repeat
    * across partitions and versions tie; every column can be NULL except
    * the map, and some rows are copies that differ only in the map. */
  private def upsertBatch(seed: Long, n: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    def orNull[T](p: Double)(v: => T): Any = if (rnd.nextDouble() < p) null else v
    val base = (0 until n).map { i =>
      Row(orNull(0.1)(rnd.nextInt(6).toLong), orNull(0.1)(s"g${rnd.nextInt(3)}"),
        orNull(0.15)(rnd.nextInt(4).toLong), orNull(0.2)(s"p${rnd.nextInt(3)}"),
        orNull(0.2)(rnd.nextInt(3)), Map("i" -> i))
    }
    val mapOnly = base.take(n / 10).map(r =>
      Row.fromSeq(r.toSeq.init :+ Map("copy" -> rnd.nextInt(1000))))
    rnd.shuffle(base ++ mapOnly)
  }

  private def batchFrame(rows: Seq[Row], schema: StructType,
      partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions),
      schema)

  /** Row minus its map column, as a comparable string. */
  private def orderablePart(r: Row): String =
    r.toSeq.filterNot(_.isInstanceOf[scala.collection.Map[_, _]]).mkString("|")

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
    QueryStageExec}

  /** Every node of an executed plan, through AQE's stage wrappers. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  test("KeyedUpsertSink matches the row_number window reference on seeded " +
    "batches (NULL keys/versions/payloads, composite key, -0.0 keys, map payload)") {
    // The top-k passes run as tasks on a pool of their own (TopKTasks):
    // once on the hash maps (64 MB pool), once with every task denied its
    // first 1 MB page by a 256 KB pool, at its first row: the partial
    // pass, which has dropped no row yet, passes its input through, and
    // the final pass takes the external-sort fallback, which must honour
    // the same NULL orderings. The hash arm also matches the planned
    // query (partial → exchange → final).
    def check(forceFallback: Boolean): Unit = {
      val mode = if (forceFallback) "sort fallback" else "hash"
      def resolve(df: DataFrame, keys: Seq[String]): Seq[Row] = {
        val out = upserted(df, keys, "v")
        val mb = 1L << 20
        val run = TopKTasks.run(out, if (forceFallback) mb / 4 else 64 * mb, mb)
        assert(run.partialFallbacks == 0,
          s"${run.partialFallbacks} partial partitions sorted")
        if (forceFallback) {
          assert(run.partialPassThroughs > 0, "no partial partition passed through")
          assert(run.finalFallbacks > 0, "no partition fell back")
        } else {
          assert(run.partialPassThroughs == 0,
            s"${run.partialPassThroughs} partial partitions passed through")
          assert(run.finalFallbacks == 0, s"${run.finalFallbacks} partitions fell back")
          assert(out.collect().map(orderablePart).sorted.toSeq ==
            run.rows.map(orderablePart).sorted, "tasks and planned query differ")
        }
        assert(run.held == 0, s"$mode: ${run.held} B still held after draining")
        run.rows
      }
      (1 to 4).foreach { seed =>
        val rows = upsertBatch(seed, 400)
        val df = batchFrame(rows, upsertSchema, 6)
        val keys = Seq("k1", "k2")
        val spread = df.withColumn("pid", spark_partition_id())
          .groupBy(keys.map(col): _*).agg(countDistinct("pid").as("np"))
          .where(col("np") > 1).count()
        assert(spread > 0, s"seed $seed: no key spans two partitions")
        val got = resolve(df, keys)
        val want = windowReference(df, keys, "v").collect().toSeq
        // the map cannot order, so rows differing only in it may resolve
        // either way: compare the rest as a multiset, then check that each
        // surviving map belongs to an input row with the same other values
        assert(got.map(orderablePart).sorted == want.map(orderablePart).sorted,
          s"$mode, seed $seed: upsert diverged from the window reference")
        val maps = rows.groupBy(orderablePart).map { case (k, rs) =>
          k -> rs.map(_.getAs[scala.collection.Map[String, Int]](5)).toSet }
        got.foreach { r =>
          assert(maps(orderablePart(r)).contains(
            r.getAs[scala.collection.Map[String, Int]](5)),
            s"$mode, seed $seed: survivor $r carries a map from another row")
        }
        // the semantics the reference encodes, stated directly
        assert(got.exists(r => r.isNullAt(0) && r.isNullAt(1)),
          s"$mode, seed $seed: the NULL composite key formed no group")
        val byKey = rows.groupBy(r => (r.get(0), r.get(1)))
        var nullTies = 0
        got.foreach { r =>
          val group = byKey((r.get(0), r.get(1)))
          if (r.isNullAt(2))
            assert(group.forall(_.isNullAt(2)), s"$mode: NULL version won over $group")
          val tied = group.filter(_.get(2) == r.get(2))
          if (tied.exists(_.isNullAt(3))) {
            assert(r.isNullAt(3), s"$mode: NULL payload lost a tie: $r")
            if (tied.exists(!_.isNullAt(3))) nullTies += 1
          }
        }
        assert(nullTies > 0, s"$mode, seed $seed: no tie between NULL and set payloads")
      }
      // float keys group like the window's partitioning: -0.0 and 0.0 are
      // one key, and the unique payload fixes the survivor
      val dSchema = StructType(Seq(StructField("d", DoubleType),
        StructField("v", LongType), StructField("p", IntegerType)))
      val rnd = new scala.util.Random(7)
      val dRows = (0 until 200).map(i => Row(
        Seq(0.0, -0.0, 1.5, Double.NaN, null)(rnd.nextInt(5)),
        rnd.nextInt(3).toLong, i))
      val ddf = batchFrame(dRows, dSchema, 5)
      val dGot = resolve(ddf, Seq("d")).map(_.toString).sorted
      val dWant = windowReference(ddf, Seq("d"), "v")
        .collect().map(_.toString).toSeq.sorted
      assert(dGot == dWant, s"$mode: ${dGot.mkString(",")} vs ${dWant.mkString(",")}")
      assert(dGot.length == 4, s"$mode: 0.0/-0.0 (or NaN) split: ${dGot.mkString(", ")}")
    }
    check(forceFallback = false)
    check(forceFallback = true)
  }

  test("KeyedUpsertSink plans as hash top-1 around one exchange, no sort or window") {
    val df = spark.range(0, 2000, 1, 4)
      .select((col("id") % 97).as("k"), (col("id") % 5).as("v"),
        col("id").cast("string").as("p"))
    val out = upserted(df, Seq("k"), "v")
    assert(out.collect().length == 97) // also lets AQE finalize the plan
    val plan = out.queryExecution.executedPlan
    val names = planNodes(plan).map(_.nodeName)
    assert(names.contains("TopKPerGroupPartial") &&
      names.contains("TopKPerGroupFinal"), s"no hash top-1 in:\n$plan")
    assert(planNodes(plan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]) == 1,
      s"expected exactly one exchange in:\n$plan")
    val banned = names.filter(n =>
      n == "Window" || n == "WindowGroupLimit" || n == "Sort")
    assert(banned.isEmpty, s"${banned.mkString(", ")} in:\n$plan")
  }

  private def topKExecs(p: SparkPlan): Seq[String] =
    planNodes(p).map(_.nodeName).filter(_.startsWith("TopKPerGroup"))
  private def topKExecs(df: DataFrame): Seq[String] =
    topKExecs(df.queryExecution.executedPlan)

  test("topKPerGroup over a frame unique on the group keys plans as the " +
    "frame, with the rows of the resolved plan") {
    def frames() = {
      val agg = spark.range(0, 2000, 1, 4)
        .select((col("id") % 97).as("k"), (col("id") % 5).as("v"),
          col("id").cast("string").as("p"))
        .groupBy("k").agg(max("v").as("v"), min("p").as("p"))
      Seq(Seq("k"), Seq("k", "v")).map(g => g ->
        operators.GraftOps.topKPerGroup(agg, g, Seq("v" -> false), 1))
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val elided = frames()
    val key = "spark.sql.optimizer.propagateDistinctKeys.enabled"
    spark.conf.set(key, "false")
    // built under the switch: a plan node caches its distinct keys
    val resolved = try frames().map { case (g, df) => g -> (rows(df), df) }
      finally spark.conf.unset(key)
    elided.zip(resolved).foreach { case ((g, on), (_, (want, off))) =>
      assert(rows(on) == want && want.length == 97,
        s"group ${g.mkString(",")}: elided rows differ from the resolved plan")
      assert(topKExecs(on).isEmpty,
        s"group ${g.mkString(",")}: top-k planned over a unique frame:\n" +
          on.queryExecution.executedPlan)
      assert(topKExecs(off).nonEmpty,
        s"group ${g.mkString(",")}: elided with distinct keys switched off")
    }
  }

  test("topKPerGroup over a frame unique only on a superset of the group " +
    "keys still resolves") {
    // unique on (k1, k2), grouped by k1: each k1 holds several rows
    val df = spark.range(0, 2000, 1, 4)
      .select((col("id") % 7).as("k1"), (col("id") % 5).as("k2"),
        col("id").as("v"))
      .groupBy("k1", "k2").agg(max("v").as("v"))
    val out = upserted(df, Seq("k1"), "v")
    val got = out.collect().map(_.toString).toSeq.sorted
    assert(topKExecs(out).nonEmpty, "top-1 elided over a non-unique key")
    assert(got.length == 7 &&
      got == windowReference(df, Seq("k1"), "v").collect()
        .map(_.toString).toSeq.sorted, s"wrong survivors: $got")
  }

  test("IngestPipeline's upsert on event_id writes each batch straight " +
    "through: no top-1, no exchange") {
    // two chronological chunks; the second re-sends 50 events of the
    // first, so the dedup drops rows and the sink sees each id once
    val dir = tmp()
    val ev = graft.Tables.events(spark, sf).orderBy("ts_us")
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .collect()
    val (h1, h2) = ev.splitAt(ev.length / 2)
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts_us", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    Seq(h1.toSeq, h2.toSeq ++ h1.takeRight(50)).zipWithIndex.foreach {
      case (rs, i) =>
        val f = new java.io.File(dir, s"chunk$i")
        batchFrame(rs, schema, 1).write.parquet(f.toString)
        val ts = System.currentTimeMillis() - 60000 + i * 2000L
        f.listFiles().foreach(_.setLastModified(ts))
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], SparkPlan)]
    val capture = new Sink {
      override def write(df: DataFrame, table: String): Unit = {
        val ids = df.collect().map(_.getAs[Long]("event_id")).toSeq
        seen.synchronized { seen += ids -> df.queryExecution.executedPlan }
      }
    }
    val q = graft.streaming.IngestPipeline.start(
      graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema),
      new KeyedUpsertSink(capture, Seq("event_id"), "ts_us"), "events_raw",
      s"${tmp()}/ckpt")
    q.awaitTermination(120000)
    q.exception.foreach(e => throw e)
    // one batch per chunk, plus any no-data batch the watermark runs
    assert(seen.count(_._1.nonEmpty) == 2, s"${seen.size} batches")
    seen.foreach { case (_, plan) =>
      assert(topKExecs(plan).isEmpty && !planNodes(plan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
        s"batch write resolved instead of writing through:\n$plan")
    }
    val ids = seen.flatMap(_._1)
    assert(ids.length == ids.distinct.length, "an event_id landed twice")
    assert(ids.toSet == ev.map(_.getLong(0)).toSet, "events lost")
  }

  test("Tables.t memoizes any directory until its files change") {
    val root = tmp()
    def write(n: Int): Unit = spark.range(n).toDF("x").write
      .mode("overwrite").parquet(s"$root/t.parquet")
    val sc = spark.sparkContext
    def jobs(group: String)(body: => Any): Unit = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    write(10)
    val first = graft.Tables.t(spark, root, "t")
    var second: DataFrame = null
    jobs("memo-hit") { second = graft.Tables.t(spark, root, "t") }
    // the status store applies job events in order: once the fence job
    // shows, any job of the lookup before it shows too
    jobs("memo-fence") { sc.parallelize(1 to 1, 1).count() }
    val deadline = System.currentTimeMillis() + 10000
    while (sc.statusTracker.getJobIdsForGroup("memo-fence").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup("memo-fence").nonEmpty)
    assert(second eq first, "an unchanged directory was read again")
    assert(sc.statusTracker.getJobIdsForGroup("memo-hit").isEmpty,
      "the memoized lookup ran a job")
    write(20)
    val third = graft.Tables.t(spark, root, "t")
    assert(!(third eq first) && third.count() == 20,
      "a rewritten directory was served from the memo")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val gone = intercept[org.apache.spark.sql.AnalysisException](
      graft.Tables.t(spark, root, "t"))
    assert(gone.getMessage.contains("t.parquet"), gone.getMessage)
  }

  test("PartitionedParquetSink lays out partition directories") {
    val root = tmp()
    new PartitionedParquetSink(root, Seq("l_returnflag")).write(li, "li")
    val dirs = new java.io.File(s"$root/li").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.exists(_.startsWith("l_returnflag=")))
    // partition pruning: reading one flag touches only that directory
    val one = spark.read.parquet(s"$root/li").where(col("l_returnflag") === "A")
    val plan = one.queryExecution.executedPlan.toString
    assert(one.count() == li.where(col("l_returnflag") === "A").count())
    assert(plan.contains("PartitionFilters") || plan.contains("l_returnflag"),
      "no partition filter in scan")
  }

  test("DSv2 ledger source: filters, columns, and slices all push down") {
    import graft.sources.LedgerRatesSource
    val fmt = classOf[LedgerRatesSource].getName
    // full scan matches the expression-derived table exactly
    val full = spark.read.format(fmt).load()
    val expect = spark.range(64).selectExpr("cast(id as int) as day")
      .crossJoin(spark.range(4).selectExpr("concat('r', id) as region"))
      .selectExpr("day", "region",
        "cast(100 + (day + length(region)) % 7 as bigint) as rate_pct")
    assert(full.orderBy("day", "region").collect().toSeq ==
      expect.orderBy("day", "region").collect().toSeq)
    // day bounds reach planInputPartitions: [16, 31] keeps 2 of 8 slices
    LedgerRatesSource.plannedPartitions.set(-1)
    val pruned = spark.read.format(fmt).load()
      .where(col("day") >= 16 && col("day") <= 31 && col("rate_pct") > 100)
      .select("day", "rate_pct")
    val rows = pruned.collect()
    assert(LedgerRatesSource.plannedPartitions.get() == 2,
      s"expected 2 planned slices, got ${LedgerRatesSource.plannedPartitions.get()}")
    // residual (rate_pct) filter still applied by Spark post-scan
    assert(rows.forall(r => r.getInt(0) >= 16 && r.getInt(0) <= 31))
    assert(rows.forall(_.getLong(1) > 100))
    assert(rows.length == expect.where(
      col("day").between(16, 31) && col("rate_pct") > 100).count())
  }

  test("DSv2 keyed store write: atomic commit, keyed last-write-wins, " +
    "idempotent re-ingestion") {
    import graft.sources.{KeyedStore, KeyedStoreSink}
    val fmt = classOf[KeyedStoreSink].getName
    val tbl = "t_" + System.nanoTime()
    val ss = spark
    import ss.implicits._
    // duplicate keys across versions, scattered over partitions: the
    // committed store must keep exactly the max-version row per key
    val feed = Seq(
      (1L, 1L, "a1"), (1L, 3L, "a3"), (1L, 2L, "a2"),
      (2L, 5L, "b5"), (2L, 5L, "b5"), // exact duplicate rows
      (3L, 1L, "c1"))
      .toDF("key", "version", "payload").repartition(4)
    feed.write.format(fmt).option("table", tbl).mode("append").save()
    val s1 = KeyedStore.snapshot(tbl)
    assert(s1 == Map(1L -> (3L, "a3"), 2L -> (5L, "b5"), 3L -> (1L, "c1")))
    // re-ingestion (the reference's operational contract): same feed
    // again must leave the store unchanged
    feed.write.format(fmt).option("table", tbl).mode("append").save()
    assert(KeyedStore.snapshot(tbl) == s1, "re-ingestion changed the store")
    // a later version for one key upserts only that key
    Seq((3L, 9L, "c9")).toDF("key", "version", "payload")
      .write.format(fmt).option("table", tbl).mode("append").save()
    assert(KeyedStore.snapshot(tbl) ==
      s1.updated(3L, (9L, "c9")), "versioned upsert wrong")
    KeyedStore.clear(tbl)
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    // ingestion reality at 100 TB: the raw store accumulates files
    // written under evolving schemas — readers must union columns, with
    // NULLs where an older generation lacks a column
    val root = tmp()
    val gen1 = li.select(col("l_orderkey"), col("l_linenumber"))
    val gen2 = li.select(col("l_orderkey"), col("l_linenumber"),
      col("l_quantity"))
    gen1.write.parquet(s"$root/t/g1")
    gen2.write.parquet(s"$root/t/g2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$root/t/g1", s"$root/t/g2")
    assert(merged.columns.toSet ==
      Set("l_orderkey", "l_linenumber", "l_quantity"))
    assert(merged.count() == 2 * li.count())
    assert(merged.where(col("l_quantity").isNull).count() == li.count(),
      "older-generation rows should read the new column as NULL")
  }

  test("IVF layout: partitioning by trained cell gives partition-pruned probes") {
    import org.apache.spark.sql.functions.input_file_name
    val emb = graft.Tables.t(spark, sf, "embeddings")
    val assigned = emb.join(
      operators.SimilarityOps.ivfAssignment(emb), "vec_id")
    val root = tmp()
    new PartitionedParquetSink(root, Seq("cell")).write(assigned, "emb_ivf")
    // probe 3 cells — the scan must touch ONLY those partition dirs
    val probed = spark.read.parquet(s"$root/emb_ivf")
      .where(col("cell").isin(1, 5, 9))
    val files = probed.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty, "probe read no files — empty cells?")
    assert(files.forall(f => Seq(1, 5, 9).exists(c => f.contains(s"cell=$c/"))),
      s"probe touched non-probed partitions: ${files.filterNot(f =>
        Seq(1, 5, 9).exists(c => f.contains(s"cell=$c/"))).take(3).mkString(", ")}")
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition filter in probe scan:\n$plan")
  }
}
