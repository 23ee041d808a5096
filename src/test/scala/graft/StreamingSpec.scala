package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException,
  Trigger}

/** SURVEY §5.5 / §2.9 ⊘ rows: the real Structured Streaming path —
  * chronological file-chunk replay of events with maxFilesPerTrigger=1 —
  * asserting (a) `EventStreams.dedup` keeps one row per event_id with
  * state bounded by the watermark,
  * (b) a brand-new row older than the watermark is DROPPED (late-data
  * semantics of `stream_late_data`), while a fresh row is kept,
  * (c) append-mode tumbling windows emit exactly the batch counts.
  */
class StreamingSpec extends SparkTestBase {
  private def freshDir(): String =
    Files.createTempDirectory("graft_stream_").toString

  /** Writes events (ordered by ts) into two chronological halves plus —
    * when `withLate` — a third chunk holding one very-late new row and one
    * fresh row, with strictly increasing file mtimes so the file source
    * replays in order. Chunk `resendChunk` also carries `resend(h1)`: rows
    * of chunk 1 sent again with their own event time. Returns (dir,
    * lateId, freshId, baseCount). */
  private def stageChunks(withLate: Boolean = true,
      resend: Seq[Row] => Seq[Row] = _ => Nil,
      resendChunk: Int = 3): (String, Long, Long, Long) = {
    val dir = freshDir()
    val ev = graft.Tables.events(spark, sf).orderBy("ts_us")
      .select("event_id", "ts_us", "user_id", "event_type", "value")
    val rows = ev.collect()
    val n = rows.length
    val (h1, h2) = rows.splitAt(n / 2)
    val minTs = rows.head.getLong(1)
    val maxTs = rows.last.getLong(1)
    val lateId = 9000001L
    val freshId = 9000002L
    val ss = spark
    import ss.implicits._
    def writeChunk(rs: Seq[(Long, Long, Long, String, Double)], i: Int): Unit = {
      val f = new java.io.File(dir, s"chunk$i")
      rs.toDF("event_id", "ts_us", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(f.toString)
      val ts = System.currentTimeMillis() - 60000 + i * 2000L
      f.listFiles().foreach(_.setLastModified(ts))
      f.setLastModified(ts)
    }
    def tup(r: Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))
    val again = resend(h1.toSeq).map(tup)
    def extra(i: Int) = if (i == resendChunk) again else Nil
    writeChunk(h1.map(tup).toSeq, 1)
    writeChunk(h2.map(tup).toSeq ++ extra(2), 2)
    if (withLate)
      writeChunk(Seq((lateId, minTs, 1L, "late", 0.0),
        (freshId, maxTs + 60L * 1000000L, 1L, "fresh", 0.0)) ++ extra(3), 3)
    (dir, lateId, freshId, n.toLong)
  }

  /** event_ids that chunk `i` of `dir` sends again after chunk 1. */
  private def resentIds(dir: String, i: Int): Set[Long] =
    spark.read.parquet(s"$dir/chunk1").select("event_id")
      .intersect(spark.read.parquet(s"$dir/chunk$i").select("event_id"))
      .collect().map(_.getLong(0)).toSet

  test("streaming dropDuplicates+watermark drops late rows, keeps fresh") {
    // EventStreams.dedup over the chunk replay; chunk 3 re-sends a
    // chunk-1 row with its own event time, which must land once
    val (dir, lateId, freshId, n) = stageChunks(resend = _.take(1))
    val again = resentIds(dir, 3)
    assert(again.size == 1)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val q = graft.streaming.EventStreams.dedup(
        graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0))
    assert(!ids.contains(lateId), "late row survived the watermark")
    assert(ids.contains(freshId), "fresh row was dropped")
    assert(ids.count(again.contains) == 1, "re-sent row did not land once")
    assert(ids.length == ids.toSet.size && ids.length == n + 1,
      s"expected ${n + 1} distinct rows, got ${ids.length}")
    // the watermark evicts the ids of the past: state holds the ids of
    // about one horizon, not every id the stream has seen
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows < n / 10, s"dedup state holds $stateRows of $n ids")
  }

  test("RocksDB state store runs the session_window replay identically") {
    // The 100 TB state path: the default HDFSBackedStateStoreProvider
    // keeps every key's state on the JVM heap — at cluster scale the
    // store must spill, which is exactly what the RocksDB provider
    // (bundled with Spark 4) exists for. Run the heaviest stateful
    // shape (session merge) under RocksDB and assert the emissions are
    // byte-identical to the default provider's — state backend is an
    // operational knob, never a semantics change.
    val (dir, _, _, _) = stageChunks(withLate = false)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    def run(name: String): Set[(Long, Long, Long, Long)] = {
      val q = graft.streaming.EventStreams.sessionWindows(
          graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    }
    val heap = run("sess_heap")
    val prev = spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      val rocks = run("sess_rocks")
      assert(rocks.nonEmpty && rocks == heap,
        s"RocksDB emissions diverged: ${(rocks diff heap).take(3)} / " +
          s"${(heap diff rocks).take(3)}")
    } finally prev match {
      case Some(v) => spark.conf
        .set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf
        .unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("IngestPipeline lands the deduped, late-dropped feed in the sink") {
    val (dir, lateId, freshId, n) = stageChunks()
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val sinkRoot = freshDir()
    val q = graft.streaming.IngestPipeline.start(
      graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema),
      new graft.sources.ParquetAppendSink(sinkRoot), "events_raw",
      s"${freshDir()}/ckpt")
    q.awaitTermination(120000)
    val ids = spark.read.parquet(s"$sinkRoot/events_raw")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(lateId), "late row reached the sink")
    assert(ids.contains(freshId), "fresh row missing from the sink")
    assert(ids.size == n + 1)
  }

  test("IngestPipeline kill/restart recovers from checkpoint exactly-once") {
    // the reference's operational contract: kill ingestion mid-stream,
    // restart from the checkpoint, and the keyed store still holds each
    // key exactly once (epoch replay is idempotent: same batch id →
    // same batch=<id> directory, overwritten). Chunk 2 re-sends chunk
    // 1's last rows with their own event time, inside the horizon of
    // chunk 1's watermark: only the dedup state restored from the
    // checkpoint can drop them.
    val (dir, lateId, freshId, n) = stageChunks(resendChunk = 2,
      resend = h1 => {
        val last = h1.last.getLong(1)
        h1.filter(_.getLong(1) > last - 5L * 60 * 1000000).takeRight(3)
      })
    val again = resentIds(dir, 2)
    assert(again.nonEmpty)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val sinkRoot = freshDir()
    val ckpt = s"${freshDir()}/ckpt"
    val sink = new graft.sources.KeyedUpsertSink(
      new graft.sources.ParquetSink(sinkRoot), Seq("event_id"), "ts_us")
    def run(s: graft.sources.Sink): StreamingQuery =
      graft.streaming.IngestPipeline.start(
        graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema),
        s, "events_raw", ckpt)
    // phase 1: the ingest dies in its second micro-batch (chunk 2),
    // before that batch writes or commits
    val dying: graft.sources.Sink = (df, table) =>
      if (table.endsWith("batch=1")) throw new IllegalStateException("killed")
      else sink.write(df, table)
    val q1 = run(dying)
    intercept[StreamingQueryException](q1.awaitTermination(120000))
    // phase 2: restart from the same checkpoint; AvailableNow replays
    // batch 1 under its id and drains the rest
    val q2 = run(sink)
    q2.awaitTermination(120000)
    val progress = q2.recentProgress
    assert(progress.head.batchId == 1, "batch 1 was not replayed")
    val dropped = progress.flatMap(_.stateOperators)
      .map(_.customMetrics.get("numDroppedDuplicateRows").longValue).sum
    assert(dropped == again.size,
      s"restored state dropped $dropped of ${again.size} re-sent rows")
    val ids = spark.read.parquet(s"$sinkRoot/events_raw")
      .select("event_id").collect().map(_.getLong(0))
    assert(ids.length == ids.toSet.size,
      s"${ids.length - ids.toSet.size} duplicate keys after recovery")
    assert(ids.toSet.size == n + 1,
      s"expected ${n + 1} distinct keys, got ${ids.toSet.size}")
    assert(!ids.contains(lateId) && ids.contains(freshId))
  }

  test("stream-stream interval join replay equals the batch stream_join") {
    // the SAME plan function (EventStreams.viewPurchaseJoin) runs over
    // the real readStream path — chronological 2-chunk replay, symmetric
    // hash join with watermarked state — and over the batch frame; the
    // emitted match set must be identical (chronological replay never
    // evicts a view before its purchase horizon has passed)
    val (dir, _, _, _) = stageChunks(withLate = false)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val joined = graft.streaming.EventStreams.viewPurchaseJoin(
      graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema))
    val q = joined.writeStream.format("memory").queryName("sjoin_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "view_id", "buy_id", "delay_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sorted.toSeq
    val got = canon(spark.table("sjoin_out"))
    val want = canon(graft.operators.TimeOps.queries("stream_join")(spark, sf))
    assert(want.nonEmpty, "batch stream_join produced no pairs")
    assert(got == want,
      s"streaming join diverged: got ${got.size} rows, want ${want.size}")
  }

  test("left-outer stream-stream join emits null matches on watermark expiry") {
    // outer rows can only be emitted once the watermark proves no
    // matching purchase can still arrive, so the replay appends a final
    // sentinel chunk — one far-future view AND one far-future purchase
    // under a user id that matches nothing — that pushes BOTH sides'
    // watermarks past every real row's horizon; after that flush the
    // streaming left-outer result (minus the sentinel rows) must equal
    // the batch key exactly, null matches included
    val (dir, _, _, _) = stageChunks(withLate = false)
    val maxTs = graft.Tables.events(spark, sf)
      .agg(max(col("ts_us"))).head.getLong(0)
    val sentinelUser = 999999L
    val ss = spark
    import ss.implicits._
    val f = new java.io.File(dir, "chunk9")
    Seq((9000101L, maxTs + 7200L * 1000000L, sentinelUser, "view", 0.0),
      (9000102L, maxTs + 7200L * 1000000L, sentinelUser, "purchase", 0.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(f.toString)
    val ts = System.currentTimeMillis() - 30000
    f.listFiles().foreach(_.setLastModified(ts))
    f.setLastModified(ts)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val joined = graft.streaming.EventStreams.viewPurchaseJoin(
      graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema),
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("sjoin_outer_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.where(col("user_id") =!= sentinelUser)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    val got = canon(spark.table("sjoin_outer_out")
      .select("user_id", "view_id", "buy_id", "delay_us"))
    val want = canon(
      graft.operators.TimeOps.queries("stream_join_outer")(spark, sf)
        .select("user_id", "view_id", "buy_id", "delay_us"))
    assert(want.count(_._3 == -1L) > 0, "corpus has no unconverted views")
    assert(got == want,
      s"streaming left-outer diverged: got ${got.size} rows " +
        s"(${got.count(_._3 == -1L)} null-matched), want ${want.size} " +
        s"(${want.count(_._3 == -1L)} null-matched)")
  }

  test("stream-stream joins replay at sf0.1: 100 k events, both-side " +
      "expiry sentinels (VERDICT r14 #8)") {
    // Same replay-equivalence contract as the two sf0.001 tests above,
    // at 100× the event volume and 4 chronological chunks — the scale
    // where per-microbatch watermark advancement and state eviction
    // actually cycle (each batch's watermark strands the previous
    // horizon's views; chronological order guarantees their purchases
    // already arrived, so the match set must STILL equal batch). The
    // final chunk is the both-sides sentinel: one far-future view AND
    // one far-future purchase under a match-nothing user, pushing both
    // watermarks past every real row so the left-outer form flushes
    // its null-matched rows (state expiry IS the outer join).
    val sf01 = "/root/testdata/sf0.1"
    val ss = spark
    import ss.implicits._
    val rows = graft.Tables.events(spark, sf01).orderBy("ts_us")
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    assert(rows.length == 100000, s"sf0.1 events drifted: ${rows.length}")
    val maxTs = rows.last._2
    val sentinelUser = 99999999L
    val dir = freshDir()
    val per = (rows.length + 3) / 4
    val chunks = rows.grouped(per).map(_.toSeq).toSeq :+ Seq(
      (90000101L, maxTs + 7200L * 1000000L, sentinelUser, "view", 0.0),
      (90000102L, maxTs + 7200L * 1000000L, sentinelUser, "purchase", 0.0))
    chunks.zipWithIndex.foreach { case (rs, i) =>
      val f = new java.io.File(dir, s"chunk$i")
      rs.toDF("event_id", "ts_us", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(f.toString)
      val ts = System.currentTimeMillis() - 60000 + i * 2000L
      f.listFiles().foreach(_.setLastModified(ts))
      f.setLastModified(ts)
    }
    val schema = spark.read.parquet(s"$dir/chunk0").schema
    def replay(joinType: String, name: String) = {
      val joined = graft.streaming.EventStreams.viewPurchaseJoin(
        graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema),
        joinType = joinType)
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(300000), s"$name sf0.1 replay timed out")
      spark.table(name)
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.where(col("user_id") =!= sentinelUser)
        .select("user_id", "view_id", "buy_id", "delay_us")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    val gotInner = canon(replay("inner", "sjoin_sf01"))
    val wantInner = canon(
      graft.operators.TimeOps.queries("stream_join")(spark, sf01))
    // volume sanity: the sf0.1 corpus yields 172 converted views (the
    // purchase rate is low) — guard against an empty/broken staging,
    // not a specific count
    assert(wantInner.size > 100,
      s"sf0.1 inner join volume suspiciously small: ${wantInner.size}")
    assert(gotInner == wantInner,
      s"sf0.1 streaming inner join diverged: got ${gotInner.size} rows, " +
        s"want ${wantInner.size}")
    val gotOuter = canon(replay("left_outer", "sjoin_outer_sf01"))
    val wantOuter = canon(
      graft.operators.TimeOps.queries("stream_join_outer")(spark, sf01))
    assert(wantOuter.count(_._3 == -1L) > 0,
      "sf0.1 corpus has no unconverted views")
    assert(gotOuter == wantOuter,
      s"sf0.1 streaming left-outer diverged: got ${gotOuter.size} rows " +
        s"(${gotOuter.count(_._3 == -1L)} null-matched), " +
        s"want ${wantOuter.size} " +
        s"(${wantOuter.count(_._3 == -1L)} null-matched)")
  }

  /** Chronological replay of the documents table in two doc_id-ordered
    * chunks through NearDupStream's first-seen-wins bucket state;
    * returns (admitted doc_id frame, corpus size). ONE replay
    * discipline shared by the equivalence and composite tests (r14
    * review — two hand-synced copies silently drifted apart is the
    * exact hazard). */
  private def streamAdmitted(queryName: String)
      : (org.apache.spark.sql.DataFrame, Int) = {
    val ss = spark
    import ss.implicits._
    val docsRows = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dir = freshDir()
    val (h1, h2) = docsRows.splitAt(docsRows.length / 2)
    Seq(h1, h2).zipWithIndex.foreach { case (rows, i) =>
      val f = new java.io.File(dir, s"chunk$i")
      rows.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(f.toString)
      val ts = System.currentTimeMillis() - 60000 + i * 2000L
      f.listFiles().foreach(_.setLastModified(ts))
      f.setLastModified(ts)
    }
    val schema = spark.read.parquet(s"$dir/chunk0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val hits = graft.streaming.NearDupStream.bucketHits(
      operators.TextSimOps.bandRowsOf(stream)
        .as[graft.streaming.NearDupStream.BandRow])
    val q = hits.writeStream.format("memory").queryName(queryName)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    // r14 review: a false return means the AvailableNow query is STILL
    // RUNNING — reading the memory table then yields a partial admitted
    // set and a misleading set-diff failure (and the query leaks into
    // later tests); fail with the real cause instead
    assert(q.awaitTermination(120000), "near-dup replay stream timed out")
    (spark.table(queryName)
      .groupBy("doc_id")
      .agg(max(col("collided").cast("int")).as("c"))
      .where("c = 0").select("doc_id"), docsRows.length)
  }

  test("streaming near-dup ingest equals the batch stream_neardup key") {
    // the streaming first-seen-wins bucket state must admit exactly
    // the docs the batch formulation (first = min doc_id per band
    // bucket) keeps
    val (admitted, total) = streamAdmitted("neardup_out")
    val streamedKept = admitted.collect().map(_.getLong(0)).toSet
    val batchKept = SparkEntry.queries("stream_neardup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(streamedKept == batchKept,
      s"stream-only=${(streamedKept -- batchKept).take(5)} " +
        s"batch-only=${(batchKept -- streamedKept).take(5)}")
    assert(batchKept.nonEmpty && batchKept.size < total,
      s"degenerate: kept ${batchKept.size} of $total")
  }

  test("streaming admitted set through the curation gate equals the batch composite") {
    // VERDICT r13 #6: pipe_curation_e2e positions dedup-on-ingest as its
    // streaming twin — prove the COMPOSITION: chronological replay →
    // NearDupStream admitted set → the shipped curation gate seam
    // (PipelineOps.curationGate) equals a batch composite spelled with
    // LITERAL expressions (r12 review discipline: the reference side is
    // an independent spelling, not the seam under test).
    val (admitted, total) = streamAdmitted("neardup_gate_out")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val got = canon(operators.PipelineOps.curationGate(
      operators.PipelineOps.qualityDocs(spark, sf), admitted))
    // batch composite, literal: first-arrival-per-bucket keep set, then
    // gate/split/summary as inline expressions with literal constants
    val bk = operators.TextSimOps.bandRowsOf(
      graft.Tables.t(spark, sf, "documents"))
    val firstKeep = bk
      .join(bk.groupBy(col("band"), col("bkey"))
        .agg(min(col("doc_id")).as("first")), Seq("band", "bkey"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("first") === col("doc_id"), 0)
        .otherwise(1)).as("coll"))
      .where(col("coll") === 0).select("doc_id")
    val want = canon(graft.Tables.t(spark, sf, "documents")
      .withColumn("quality", operators.TextAnalysisOps.qualityCol)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .join(firstKeep, "doc_id")
      .where(col("quality") >= 0.5)
      .withColumn("b",
        pmod(pmod(col("doc_id"), lit(1009)) * 31 + 7, lit(100)))
      .withColumn("split",
        when(col("b") < 80, "train")
          .when(col("b") < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_tokens")).cast("long").as("tokens"),
        min(col("quality")).as("min_q"))
      .orderBy("lang", "split"))
    assert(got == want, s"composite diverged: got $got want $want")
    assert(got.nonEmpty, "gate emitted no (lang, split) rows")
    val admittedN = admitted.count()
    assert(admittedN < total,
      s"degenerate replay: dedup admitted all $total docs")
    // Gate selectivity is corpus-dependent: the synthetic corpus's
    // quality floor sits above the 0.5 gate at EVERY SF (measured:
    // min q ≈ 0.72), so a "gate cut something" assertion would pin
    // the corpus, not the composition. The gate's cut DIRECTION is
    // pinned by the synthetic-frame curationGate test below; here the
    // composition equality plus row conservation is the contract.
    assert(got.map(_._3).sum <= admittedN)
  }

  test("curationGate cuts sub-gate docs and splits deterministically") {
    // synthetic frame: the corpus never exercises the 0.5 cut (floor
    // ≈ 0.72 at every SF), so without this the gate predicate's
    // direction/constant would be tested by NOTHING — a flipped >= or
    // a mistyped constant would still pass every oracle
    val ss = spark
    import ss.implicits._
    // ids chosen so the recomputed b = ((id%1009)*31+7)%100 lands in
    // ALL THREE split ranges (r14 review: with only train-landing ids
    // the val/test branches and both boundaries went unexercised —
    // 2,3,4 → b 69,0,31 train; 109 → 86 val; 6 → 93 test)
    val docs = Seq(
      (1L, "en", 0.49, 10L),   // sub-gate: must be cut
      (2L, "en", 0.50, 20L),   // boundary: >= keeps it; train
      (3L, "de", 0.80, 30L),   // train
      (4L, "en", 0.95, 40L),   // train
      (109L, "de", 0.90, 11L), // val
      (6L, "en", 0.85, 12L)    // test
    ).toDF("doc_id", "lang", "quality", "n_tokens")
    val keep = docs.select("doc_id")
    val out = operators.PipelineOps.curationGate(docs, keep)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val tot = out.map(_._3).sum
    assert(tot == 5L, s"gate kept $tot of 6 (want 5: doc 1 cut): $out")
    assert(out.forall(_._5 >= 0.5), s"sub-gate min_q leaked: $out")
    // split is a pure function of doc_id — recomputing must agree
    val expectSplit = Seq(2L, 3L, 4L, 109L, 6L).map { id =>
      val b = ((id % 1009) * 31 + 7) % 100
      id -> (if (b < 80) "train" else if (b < 90) "val" else "test")
    }.toMap
    assert(expectSplit.values.toSet == Set("train", "val", "test"),
      s"fixture regression: ids no longer span all splits: $expectSplit")
    val bySplit = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    expectSplit.values.toSet.foreach { (sp: String) =>
      assert(bySplit.getOrElse(sp, 0L) ==
        expectSplit.count(_._2 == sp).toLong,
        s"split $sp count mismatch: got $bySplit want $expectSplit")
    }
  }

  test("streaming tumbling windows equal batch counts (append mode)") {
    val (dir, _, _, _) = stageChunks(withLate = false)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .withColumn("tstamp", timestamp_micros(col("ts_us")))
      .withWatermark("tstamp", "10 minutes")
      .groupBy(window(col("tstamp"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("win_out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.Tables.events(spark, sf)
      .groupBy((col("ts_us") - (col("ts_us") % (3600L * 1000000L))).as("ws_us"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty, "append mode emitted no finalized windows")
    streamed.foreach { case (ws, cnt) =>
      assert(batch.get(ws).contains(cnt),
        s"window $ws: streamed $cnt vs batch ${batch.get(ws)}")
    }
  }

  test("native session_window streaming replay equals batch run and the key") {
    val (dir, _, _, _) = stageChunks(withLate = false)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // streaming: real readStream replay, append mode — a session emits
    // only once the watermark proves no event can still extend it
    val q = graft.streaming.EventStreams.sessionWindows(
        graft.streaming.EventStreams.readEvents(spark, s"$dir/*", schema))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = canon(spark.table("sess_out"))
    // batch: the SAME plan function on the batch frame
    val batchDf = graft.Tables.events(spark, sf)
      .withColumn("tstamp", timestamp_micros(col("ts_us")))
    val batch = canon(graft.streaming.EventStreams.sessionWindows(batchDf))
    assert(streamed.nonEmpty, "append mode emitted no finalized sessions")
    // replay equivalence: every emitted session is exactly a batch
    // session; the difference is precisely the watermark-open tail
    assert(streamed.subsetOf(batch),
      s"streaming emitted sessions the batch run does not have: " +
        s"${(streamed -- batch).take(3)}")
    val unflushed = batch -- streamed
    val horizon = graft.Tables.events(spark, sf)
      .agg(max(col("ts_us"))).collect()(0).getLong(0) - 600L * 1000000L
    unflushed.foreach { case (_, s0, _, dur) =>
      assert(s0 + dur + 1800L * 1000000L >= horizon,
        s"session starting $s0 closed before the final watermark " +
          "yet was never emitted — replay lost a finalized session")
    }
    // and the native form agrees with the oracle-able gaps-and-islands
    // key on this corpus (no exact-boundary gap exists — the two
    // semantics coincide; sid is a per-user ordinal the native form
    // does not carry, so compare the (user, start, cnt, dur) set)
    val viaKey = SparkEntry.queries("window_session")(spark, sf)
      .select(col("user_id"), col("s_start"), col("cnt"), col("dur_us"))
    assert(canon(viaKey) == batch,
      "native session_window diverged from the gaps-and-islands key")
  }

  test("streaming ingest through the DSv2 keyed store is exactly-once") {
    // the full reference chain: file-source replay → foreachBatch →
    // DSv2 store sink; keyed last-write-wins across micro-batches must
    // land exactly the batch argmax — duplicates across batches (the
    // same key re-sent) upsert instead of duplicating
    import graft.sources.{KeyedStore, KeyedStoreSink}
    val fmt = classOf[KeyedStoreSink].getName
    val tbl = "stream_" + System.nanoTime()
    val (dir, _, _, _) = stageChunks(withLate = false)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .select(col("user_id").as("key"), col("ts_us").as("version"),
        col("event_type").as("payload"))
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.format(fmt).option("table", tbl).mode("append").save()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // expected: per user, the payload at max ts (payload tie-break)
    val expect = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_us"), col("event_type"))).as("m"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getStruct(1).getLong(0), r.getStruct(1).getString(1))).toMap
    assert(KeyedStore.snapshot(tbl) == expect)
    KeyedStore.clear(tbl)
  }

  test("streaming OHLC windows equal the batch agg_ohlc bars") {
    // struct-extreme open/close are order-independent aggregates, so the
    // same expressions run unchanged under append-mode event-time windows
    val (dir, _, _, _) = stageChunks(withLate = false)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val key = struct(col("ts_us"), col("event_id"), col("value"))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .withColumn("tstamp", timestamp_micros(col("ts_us")))
      .withWatermark("tstamp", "10 minutes")
      .groupBy(window(col("tstamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        min(key).getField("value").as("open"),
        max(key).getField("value").as("close"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("cnt"), col("open"), col("hi"), col("lo"),
        col("close"))
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ohlc_out").collect()
      .map(r => (r.getString(1), r.getLong(0)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    val batch = SparkEntry.queries("agg_ohlc")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1) * 3600L * 1000000L) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    assert(streamed.nonEmpty, "append mode emitted no finalized bars")
    streamed.foreach { case (k, v) =>
      assert(batch.get(k).contains(v), s"bar $k: streamed $v vs ${batch.get(k)}")
    }
  }

  test("streaming funnel (mapGroupsWithState) equals the batch seq_funnel") {
    import graft.streaming.FunnelStream
    val (dir, _, _, _) = stageChunks(withLate = false)
    val schema = spark.read.parquet(s"$dir/chunk1").schema
    val ss = spark
    import ss.implicits._
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .as[FunnelStream.Ev]
    val q = FunnelStream.funnel(in)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // stage and t-values are monotone per user, so the max-struct row of
    // the accumulated update feed IS the final state
    val got = spark.table("funnel_out")
      .groupBy(col("user_id"))
      .agg(max(struct(col("stage"), col("t1"), col("t2"), col("t3"))).as("f"))
      .select(col("user_id"), col("f.t1"), col("f.t2"), col("f.t3"),
        col("f.stage"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    val expect = SparkEntry.queries("seq_funnel")(spark, sf).collect()
      .map { r =>
        def t(i: Int) = if (r.isNullAt(i)) -1L else r.getLong(i)
        r.getLong(0) -> (t(1), t(2), t(3), r.getInt(4))
      }.toMap
    assert(got == expect)
    assert(expect.values.exists(_._4 == 3), "corpus exercises no full funnel")
  }
}
