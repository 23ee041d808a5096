package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{SparkEntry, Tables}
import graft.operators.IngestOps
import graft.sources.{KeyedUpsertSink, ParquetSink, Sink}
import graft.streaming.{EventStreams, IngestPipeline}

/** Phase boundaries of one try, from `System.nanoTime`. The timed
  * section is [t0, t3] = build [t0, t1] + plan [t1, t2] + execute
  * [t2, t3]; nothing else runs inside it. `cpuNs` is the process CPU
  * time spent in it, `calib` the mean of the calibrations just before
  * and just after it (see [[Main.calibrate]]). */
final case class Phases(t0: Long, t1: Long, t2: Long, t3: Long, rows: Long,
    error: Option[Throwable], qe: Option[QueryExecution], cpuNs: Long,
    steal: Double, calib: Double) {
  def total: Double = (t3 - t0) / 1e9
  def cpu: Double = cpuNs / 1e9
  def build: Double = (t1 - t0) / 1e9
  def plan: Double = (t2 - t1) / 1e9
  def execute: Double = (t3 - t2) / 1e9
}

/** One ingest replay: its record, the drain and read-back phases, the
  * stream's progress reports, and the pin sweep after it. */
final case class Replay(rec: Map[String, Any], drain: Phases, rb: Phases,
    progress: Array[StreamingQueryProgress], pins: Int, sweepS: Double)

/** What one try left behind, measured outside its timed section. */
final case class TryOutcome(p: Phases, gcEnd: Long, sweepStart: Long,
    sweepEnd: Long, pins: Int, pinBytes: Long, compiles: Long,
    compileNs: Long, liveMb: Double)

/** Measurement engine of the benchmark. It drives graft only through
  * `SparkEntry.queries`, `Tables.t`, `EventStreams.readEvents`,
  * `IngestPipeline.start` and the `sources` sinks, and times each
  * layer from outside those calls. It writes a raw JSON record that
  * `perfbench/run.py` turns into metrics.
  *
  * Arguments are `name=value` pairs: mode (queries | ingest |
  * selftest | oracle), data, work, out, seed, seconds, passes, trace
  * (0 | 1), keys and tables (queries), chunks and late (ingest).
  * The JVM property `perfbench.cores` sets the Spark cores. */
object Main {
  private val Cpus = sys.props.get("perfbench.cores").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
  private val SetUps = 3
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(nano: Long): Long = (nano + epochNs) / 1000000L

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not name=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val work = new File(opt("work")).getAbsolutePath
    new File(work).mkdirs()
    val record = opt("mode") match {
      case "queries" => Queries(opt, work).run()
      case "ingest" => Ingest(opt, work).run()
      case "selftest" => SelfTest.run(opt("data"), work)
      case "oracle" => oracle(opt, work)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    val full = record ++ Seq("vm_hwm_mb" -> vmHwmMb(), "cpus" -> Cpus)
    Files.write(Paths.get(opt("out")),
      Json.write(scala.collection.immutable.ListMap(full: _*)).getBytes("UTF-8"))
  }

  /** The oracle SQL of each named key, for the stored DuckDB row
    * counts; a key without oracle SQL runs once and records its Spark
    * row count instead. Oracle SQL of the IngestOps keys reads fixtures
    * this mode writes under `work`. */
  def oracle(opt: Map[String, String], work: String): Seq[(String, Any)] = {
    val data = new File(opt("data")).getAbsolutePath
    val keys = opt("keys").split(",").toSeq
    val spark = newSession(work)
    if (keys.exists(IngestOps.queries.contains))
      IngestOps.prepareFixtures(spark, data)
    System.setProperty("graft.oracle.sf", new File(data).getName)
    val sql = SparkEntry.oracleSql
    val all = SparkEntry.queries
    val out = keys.map { k =>
      k -> sql.get(k).map(q => Map("sql" -> q)).getOrElse {
        val o = runTry(spark, data, all(k))
        Map("spark_rows" -> o.p.rows, "error" -> o.p.error.map(errorText))
      }
    }
    spark.stop()
    Seq("mode" -> "oracle", "keys" -> out.toMap)
  }

  def newSession(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      // room for every class the workload generates: with Spark's 100
      // entries the seeded key order decides which classes are evicted,
      // and so how much a steady try recompiles
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Process high-water resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally f.close()
  }

  def jvmStartS(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Process CPU seconds spent before `main`: JVM start-up and class
    * loading. Read first thing in `main`. */
  val jvmStartCpuS: Double = processCpuNs() / 1e9

  /** Runs `prepare` [[SetUps]] times, each on a fresh session, and
    * returns the last session with the wall and CPU seconds of every
    * set-up. */
  def setUps(work: String)(prepare: SparkSession => Unit)
      : (SparkSession, Seq[(Double, Double)]) = {
    var spark: SparkSession = null
    val times = (1 to SetUps).map { _ =>
      if (spark != null) spark.stop()
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      spark = newSession(work)
      prepare(spark)
      ((System.nanoTime() - t0) / 1e9, (processCpuNs() - c0) / 1e9)
    }
    // untimed: the calibration job reaches compiled code
    (1 to 4).foreach(_ => calibrate())
    (spark, times)
  }

  /** A run does a fixed number of steady passes after the cold one,
    * sized to take about `seconds`; a pass after the first is skipped
    * only if it is expected to end after twice that, which keeps a run
    * on an overloaded machine inside its time limit. */
  def morePasses(done: Int, passes: Int, begin: Long, lastPass: Double,
      seconds: Double): Boolean =
    done < 1 || done < passes &&
      (System.nanoTime() - begin) / 1e9 + lastPass <= 2 * seconds

  /** (steal, total) CPU ticks of the machine, from /proc/stat. Steal is
    * time the host ran something else on this machine's CPUs; it slows
    * every wall time measured here and is recorded to explain that. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    } finally f.close()
  }

  def stealShare(from: (Long, Long)): Double = {
    val (s1, t1) = cpuTicks()
    if (t1 > from._2) (s1 - from._1).toDouble / (t1 - from._2) else 0.0
  }

  private lazy val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process (all threads), in ns. Time the host steals
    * from the machine is not in it. */
  def processCpuNs(): Long = os.getProcessCpuTime


  /** CPU seconds of the live threads of this process, summed by thread
    * name with digits removed (JIT compilers, GC workers, task threads,
    * ...), from /proc/self/task. */
  def threadCpuS(): Map[String, Double] = {
    val hz = 100.0
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        Some(name.replaceAll("[0-9]+", "#") -> (f(11).toLong + f(12).toLong) / hz)
      } catch { case NonFatal(_) => None }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** The JIT compiler threads' stat files. The JVM runs a fixed number
    * of them (-XX:-UseDynamicNumberOfCompilerThreads). */
  private lazy val compilerThreads: Seq[java.nio.file.Path] =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten
      .map(t => Paths.get(t.getPath, "stat"))
      .filter(p => scala.util.Try(new String(Files.readAllBytes(p)))
        .toOption.exists(_.contains("CompilerThre")))

  /** CPU clock ticks of the JIT compiler threads so far. */
  def jitTicks(): Long = compilerThreads.map { p =>
    try {
      val stat = new String(Files.readAllBytes(p))
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    } catch { case NonFatal(_) => 0L }
  }.sum

  /** Waits until the JIT compiler threads have used no CPU for 60 ms (at
    * most 5 s). The JIT compiles in the background what an operation
    * made hot, so without the wait its CPU lands in whichever operation
    * runs next, by how fast the host runs the compiler threads. Called
    * before an operation's CPU clock starts and after its wall clock
    * stops, so the operation's CPU time holds the compiling it caused. */
  def settleJit(): Unit = {
    val end = System.nanoTime() + 5000000000L
    var last = jitTicks()
    var idle = 0
    while (idle < 3 && System.nanoTime() < end) {
      Thread.sleep(20)
      val now = jitTicks()
      if (now == last) idle += 1 else { idle = 0; last = now }
    }
  }

  private val calibKeys = new Array[Long](1 << 20)
  private val calibTable = new Array[Long](1 << 19)
  private var calibSink = 0L

  /** Thread CPU seconds of a fixed single-threaded job that allocates
    * nothing: sort 1M pseudo-random longs, then insert a quarter of them
    * into an open-addressing table. Run next to each operation, after the
    * JIT has settled, it tells how fast the host runs this machine's CPUs
    * at that moment; on a shared host that varies by ±15 % over minutes,
    * in CPU time as well as in wall time. */
  def calibrate(): Double = {
    val bean = ManagementFactory.getThreadMXBean
    val c0 = bean.getCurrentThreadCpuTime
    val a = calibKeys
    var x = 12345L
    var i = 0
    while (i < a.length) {
      x = x * 6364136223846793005L + 1442695040888963407L
      a(i) = x
      i += 1
    }
    java.util.Arrays.sort(a)
    val t = calibTable
    java.util.Arrays.fill(t, 0L)
    val mask = t.length - 1
    i = 0
    while (i < a.length) {
      val k = a(i) | 1L
      var h = java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask
      while (t(h) != 0L && t(h) != k) h = (h + 1) & mask
      t(h) = k
      i += 4
    }
    calibSink += t(0)
    (bean.getCurrentThreadCpuTime - c0) / 1e9
  }

  /** Heap in use after a full GC: the live set, pins included. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** The timed section of one try: build the key's frame, plan it, and
    * execute the full plan (`toRdd`, so no projection is pruned, as in
    * `graft.Bench`). `mark` is called at each phase start; it is a
    * no-op outside the traced pass. */
  def timedTry(spark: SparkSession, data: String, fn: Tables.QFn,
      mark: String => Unit): Phases = {
    var qe: QueryExecution = null
    var rows = -1L
    var err: Option[Throwable] = None
    settleJit()
    val cal0 = calibrate()
    val ticks = cpuTicks()
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    var t1 = -1L
    var t2 = -1L
    try {
      mark("build")
      val df = fn(spark, data)
      t1 = System.nanoTime()
      mark("plan")
      qe = df.queryExecution
      qe.executedPlan
      t2 = System.nanoTime()
      mark("execute")
      rows = qe.toRdd.count()
    } catch { case NonFatal(e) => err = Some(e) }
    val t3 = System.nanoTime()
    settleJit()
    val c3 = processCpuNs()
    val steal = stealShare(ticks)
    val cal3 = calibrate()
    if (t1 < 0) t1 = t3
    if (t2 < 0) t2 = t3
    Phases(t0, t1, t2, t3, rows, err, Option(qe), c3 - c0, steal,
      (cal0 + cal3) / 2)
  }

  /** One try with its untimed bracket: a GC before; after, a GC to read
    * the live heap, then the targeted sweep of the pins this try created. */
  def runTry(spark: SparkSession, data: String, fn: Tables.QFn,
      mark: String => Unit = _ => (), measurePins: Boolean = false)
      : TryOutcome = {
    val sc = spark.sparkContext
    System.gc()
    val gcEnd = System.nanoTime()
    val before = sc.getPersistentRDDs.keySet
    val c0 = compileCount()
    val n0 = compileNs()
    val p = timedTry(spark, data, fn, mark)
    val c1 = compileCount()
    val n1 = compileNs()
    val live = liveHeapMb()
    val sweepStart = System.nanoTime()
    val created = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    val bytes = if (!measurePins) 0L else {
      val ids = created.keySet
      sc.getRDDStorageInfo.filter(i => ids(i.id))
        .map(i => i.memSize + i.diskSize).sum
    }
    created.values.foreach(r =>
      try r.unpersist(blocking = true) catch { case NonFatal(_) => })
    TryOutcome(p, gcEnd, sweepStart, System.nanoTime(), created.size, bytes,
      c1 - c0, n1 - n0, live)
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" | ").take(500)

  /** Exchanges in the final (post-AQE) physical plan, subqueries too. */
  def exchanges(plan: SparkPlan): Int = {
    val here = plan match {
      case _: Exchange => 1
      case _ => 0
    }
    val next = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    here + next.map(exchanges).sum
  }

  /** Traced-pass record of one try: phase spans, layer counts. */
  def traceTry(t: Tracer, name: String,
      run: (String => Unit) => TryOutcome)
      : (TryOutcome, Int, Map[String, Int]) = {
    val sc = SparkSession.active.sparkContext
    val keyId = t.newId()
    val phaseIds = mutable.LinkedHashMap.empty[String, Int]
    val mark = (ph: String) => {
      val id = t.newId()
      phaseIds(ph) = id
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
    }
    sc.setLocalProperty(Tracer.SpanProp, keyId.toString)
    val o = try run(mark) finally sc.setLocalProperty(Tracer.SpanProp, null)
    val p = o.p
    val bounds = Map("build" -> (p.t0, p.t1), "plan" -> (p.t1, p.t2),
      "execute" -> (p.t2, p.t3))
    phaseIds.foreach { case (ph, id) =>
      val (a, b) = bounds(ph)
      t.record(Span(id, keyId, ph, epochMs(a), epochMs(b)))
    }
    t.record(Span(t.newId(), keyId, "pin sweep", epochMs(o.sweepStart),
      epochMs(o.sweepEnd), Map("pins" -> o.pins.toDouble,
        "pin_bytes" -> o.pinBytes.toDouble)))
    t.record(Span(keyId, -1, name, epochMs(p.t0), epochMs(o.sweepEnd)))
    (o, keyId, phaseIds.toMap)
  }

  /** Per-layer counts of one traced try. */
  def tryLayers(t: Tracer, o: TryOutcome, keyId: Int,
      phaseIds: Map[String, Int]): Map[String, Double] = {
    val build = t.jobsUnder(phaseIds.get("build").toSet)
    val all = t.jobsUnder(phaseIds.values.toSet + keyId)
    val exec = t.jobsUnder(phaseIds.get("execute").toSet)
    phaseIds.get("execute").foreach(t.recordJobSpans(_, exec))
    phaseIds.get("build").foreach(t.recordJobSpans(_, build))
    val p = o.p
    val idle = Tracer.uncovered(epochMs(p.t2), epochMs(p.t3),
      Tracer.stageIntervals(t, exec))
    Tracer.layerCounts(t, all) ++ Map(
      "operators.build_s" -> p.build,
      "operators.build_jobs" -> build.size.toDouble,
      "plans.plan_s" -> p.plan,
      "plans.exchanges" ->
        p.qe.filter(_ => p.error.isEmpty).map(q => exchanges(q.executedPlan))
          .getOrElse(0).toDouble,
      "sched.idle_s" -> idle / 1e3,
      "pin.count" -> o.pins.toDouble,
      "pin.bytes" -> o.pinBytes.toDouble,
      "pin.sweep_s" -> (o.sweepEnd - o.sweepStart) / 1e9,
      "execute_s" -> p.execute,
      "total_s" -> p.total,
      "cpu_s" -> p.cpu)
  }

  def spanRecords(t: Tracer): Seq[Map[String, Any]] = t.allSpans.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end, "counts" -> s.counts))

  def tryRecord(key: String, pass: Int, o: TryOutcome): Map[String, Any] = {
    val p = o.p
    Map("key" -> key, "pass" -> pass, "total_s" -> p.total, "cpu_s" -> p.cpu,
      "steal" -> p.steal, "calib_s" -> p.calib,
      "build_s" -> p.build, "plan_s" -> p.plan, "execute_s" -> p.execute,
      "rows" -> p.rows, "error" -> p.error.map(errorText),
      "pins" -> o.pins, "live_heap_mb" -> o.liveMb, "compiles" -> o.compiles,
      "compile_s" -> o.compileNs / 1e9)
  }
}

/** The query workloads: a closed loop with one client over a frozen key
  * list. A cold pass runs every key once, then `passes` steady passes,
  * each in a fresh seeded order (see [[Main.morePasses]]). */
final case class Queries(opt: Map[String, String], work: String) {
  import Main._

  def run(): Seq[(String, Any)] = {
    val data = new File(opt("data")).getAbsolutePath
    val keys = opt("keys").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val passes = opt("passes").toInt
    val rng = new scala.util.Random(opt("seed").toLong)
    val all = SparkEntry.queries
    val missing = keys.filterNot(all.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    val tables = opt("tables").split(",").toSeq
    val jvm = jvmStartS()
    val warmups = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val (spark, setups) = setUps(work) { s =>
      warmups += tables.map { n =>
        val t0 = System.nanoTime()
        Tables.t(s, data, n).count()
        n -> (System.nanoTime() - t0) / 1e9
      }
      if (keys.exists(IngestOps.queries.contains))
        IngestOps.prepareFixtures(s, data)
    }
    val tries = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ticks = cpuTicks()
    val begin = System.nanoTime()
    def pass(i: Int): Double = {
      val t0 = System.nanoTime()
      rng.shuffle(keys).foreach { k =>
        val o = runTry(spark, data, all(k))
        tries += tryRecord(k, i, o)
        o.p.error.foreach(e => System.err.println(s"[perfbench] $k: ${errorText(e)}"))
      }
      (System.nanoTime() - t0) / 1e9
    }
    pass(0)
    var last = 0.0
    var i = 0
    while (morePasses(i, passes, begin, last, seconds)) {
      i += 1
      last = pass(i)
    }
    val timed = (System.nanoTime() - begin) / 1e9
    val steal = stealShare(ticks)
    val threads = threadCpuS()
    val traced = if (opt("trace") != "1") None else {
      val t = new Tracer(spark.sparkContext)
      t.attach()
      val order = rng.shuffle(keys)
      val runs = order.map { k =>
        val (o, id, phases) = traceTry(t, k,
          mark => runTry(spark, data, all(k), mark, measurePins = true))
        (k, o, id, phases)
      }
      t.drain()
      t.detach()
      val perKey = runs.map { case (k, o, id, phases) =>
        k -> (tryLayers(t, o, id, phases) ++
          Map("rows" -> o.p.rows.toDouble))
      }
      Some(Map("keys" -> perKey.toMap,
        "errors" -> runs.flatMap { case (k, o, _, _) =>
          o.p.error.map(e => k -> errorText(e)) }.toMap,
        "spans" -> spanRecords(t)))
    }
    spark.stop()
    Seq("mode" -> "queries", "jvm_start_s" -> jvm,
      "jvm_start_cpu_s" -> jvmStartCpuS,
      "setups_s" -> setups.map(_._1), "setups_cpu_s" -> setups.map(_._2),
      "warmup_s" -> warmups.map(_.toMap).toSeq,
      "timed_s" -> timed, "steal_share" -> steal, "thread_cpu_s" -> threads,
      "tries" -> tries.toSeq,
      "traced" -> traced)
  }
}

/** The ingest workload: chronological chunk files replayed through
  * `IngestPipeline.start` into `KeyedUpsertSink(ParquetSink)`, one
  * micro-batch per chunk, then one read-back aggregate over the sink
  * through `Tables.t`. A replay is one operation; the first is cold, and
  * `passes` steady replays follow (see [[Main.morePasses]]). */
final case class Ingest(opt: Map[String, String], work: String) {
  import Main._

  private val Table = "events_raw"

  def readBack(s: SparkSession, root: String): DataFrame =
    Tables.t(s, root, Table).groupBy("event_type").agg(
      count(lit(1)).as("rows"), countDistinct(col("event_id")).as("ids"),
      sum(col("value")).as("value"))

  def run(): Seq[(String, Any)] = {
    val chunks = new File(opt("chunks")).getAbsolutePath
    val late = scala.io.Source.fromFile(opt("late")).getLines()
      .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
    val seconds = opt("seconds").toDouble
    val passes = opt("passes").toInt
    val jvm = jvmStartS()
    var schema: org.apache.spark.sql.types.StructType = null
    val (spark, setups) = setUps(work) { s =>
      schema = s.read.parquet(chunks).schema
    }
    val expected = spark.read.parquet(chunks).select("event_id").distinct()
      .collect().map(_.getLong(0)).toSet -- late
    val inputBytes = new File(chunks).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val replays = mutable.ArrayBuffer.empty[Map[String, Any]]
    var n = 0

    def replay(mark: String => Unit): Replay = {
      n += 1
      val root = s"$work/ingest/r$n/sink"
      val ckpt = s"$work/ingest/r$n/ckpt"
      System.gc()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val c0 = compileCount()
      val n0 = compileNs()
      // start + drain: the streaming query is built, started and run to
      // the end of the available chunks
      var progress = Array.empty[StreamingQueryProgress]
      val marks = mutable.ArrayBuffer.empty[Long]
      var err: Option[Throwable] = None
      settleJit()
      val cal0 = calibrate()
      val ticks = cpuTicks()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      var t1 = -1L
      try {
        // the stream thread inherits the span set here
        mark("drain")
        val q = IngestPipeline.start(
          EventStreams.readEvents(spark, chunks, schema),
          new CpuMarks(
            new KeyedUpsertSink(new ParquetSink(root), Seq("event_id"), "ts_us"),
            marks),
          s"$Table.parquet", ckpt)
        t1 = System.nanoTime()
        q.awaitTermination()
        progress = q.recentProgress
        q.exception.foreach(e => throw e)
      } catch { case NonFatal(e) => err = Some(e) }
      val t2 = System.nanoTime()
      settleJit()
      val cpu2 = processCpuNs()
      val steal = stealShare(ticks)
      val cal2 = calibrate()
      if (t1 < 0) t1 = t2
      val drain = Phases(t0, t1, t1, t2, progress.map(_.numInputRows).sum,
        err, None, cpu2 - cpu0, steal, (cal0 + cal2) / 2)
      val rb = timedTry(spark, root, readBack, mark)
      val compiles = compileCount() - c0
      val compiledNs = compileNs() - n0
      val live = liveHeapMb()
      // exactly-once check, untimed
      val problems = mutable.ArrayBuffer.empty[String]
      drain.error.foreach(e => problems += s"drain: ${errorText(e)}")
      rb.error.foreach(e => problems += s"read-back: ${errorText(e)}")
      if (problems.isEmpty) {
        val ids = Tables.t(spark, root, Table).select("event_id").collect()
          .map(_.getLong(0))
        val landed = ids.toSet
        if (ids.length != landed.size)
          problems += s"${ids.length - landed.size} event_ids landed twice"
        val lateLanded = landed.intersect(late).size
        if (lateLanded > 0) problems += s"$lateLanded late rows landed"
        val lost = (expected -- landed).size
        if (lost > 0) problems += s"$lost event_ids missing"
        val extra = (landed -- expected -- late).size
        if (extra > 0) problems += s"$extra unexpected event_ids"
      }
      val sweepStart = System.nanoTime()
      val pins = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
      pins.values.foreach(r =>
        try r.unpersist(blocking = true) catch { case NonFatal(_) => })
      val sweep = (System.nanoTime() - sweepStart) / 1e9
      val sinkFiles = listFiles(new File(s"$root/$Table.parquet"))
        .filter(_.getName.endsWith(".parquet"))
      val data = progress.filter(_.numInputRows > 0)
      val rec = Map("replay" -> n, "drain_s" -> drain.total,
        "drain_cpu_s" -> drain.cpu, "readback_cpu_s" -> rb.cpu,
        "drain_calib_s" -> drain.calib, "readback_calib_s" -> rb.calib,
        "drain_steal" -> drain.steal,
        "start_s" -> drain.build, "readback_s" -> rb.total,
        "readback_rows" -> rb.rows,
        "compiles" -> compiles, "compile_s" -> compiledNs / 1e9,
        "pins" -> pins.size, "pin_sweep_s" -> sweep, "live_heap_mb" -> live,
        "batches" -> progress.length,
        "batch_ms" -> data.map(_.durationMs.get("triggerExecution").toDouble).toSeq,
        "batch_cpu_ms" -> (cpu0 +: marks.toSeq).sliding(2).collect {
          case Seq(a, b) => (b - a) / 1e6 }.toSeq,
        "input_rows" -> data.map(_.numInputRows).sum,
        "input_bytes" -> inputBytes,
        "sink_files" -> sinkFiles.length,
        "sink_bytes" -> sinkFiles.map(_.length).sum,
        "problems" -> problems.toSeq)
      Replay(rec, drain, rb, progress, pins.size, sweep)
    }

    val ticks = cpuTicks()
    val begin = System.nanoTime()
    var last = 0.0
    var i = 0
    while (i == 0 || morePasses(i - 1, passes, begin, last, seconds)) {
      val t0 = System.nanoTime()
      replays += replay(_ => ()).rec
      last = (System.nanoTime() - t0) / 1e9
      i += 1
    }
    val timed = (System.nanoTime() - begin) / 1e9
    val steal = stealShare(ticks)
    val threads = threadCpuS()
    val traced = if (opt("trace") != "1") None else {
      val t = new Tracer(spark.sparkContext)
      t.attach()
      val sc = spark.sparkContext
      val replayId = t.newId()
      // the drain marks "drain"; the read-back marks build, plan, execute
      val phaseIds = mutable.LinkedHashMap.empty[String, Int]
      val mark = (ph: String) => {
        val id = t.newId()
        phaseIds(ph) = id
        sc.setLocalProperty(Tracer.SpanProp, id.toString)
      }
      val Replay(rec, drain, rb, progress, pins, sweep) =
        try replay(mark) finally sc.setLocalProperty(Tracer.SpanProp, null)
      t.drain()
      t.detach()
      val streamJobs = t.jobsUnder(phaseIds.get("drain").toSet)
      val rbJobs = t.jobsUnder(phaseIds.collect {
        case (ph, id) if ph != "drain" => id }.toSet)
      val drainSpan = t.newId()
      t.record(Span(replayId, -1, s"replay ${rec("replay")}",
        epochMs(drain.t0), epochMs(rb.t3)))
      t.record(Span(drainSpan, replayId, "drain", epochMs(drain.t0),
        epochMs(drain.t3)))
      // micro-batch spans from StreamingQueryProgress, jobs under the
      // batch whose window holds their start
      val batchSpans = progress.map { pr =>
        val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
        val dur = pr.durationMs.get("triggerExecution").toLong
        Span(t.newId(), drainSpan, s"batch ${pr.batchId}", start, start + dur,
          Map("input_rows" -> pr.numInputRows.toDouble))
      }
      batchSpans.foreach(t.record)
      batchSpans.foreach { b =>
        t.recordJobSpans(b.id,
          streamJobs.filter(j => j.start >= b.start && j.start <= b.end))
      }
      Seq(("build", rb.t0, rb.t1), ("plan", rb.t1, rb.t2),
        ("execute", rb.t2, rb.t3)).foreach { case (ph, a, b) =>
        phaseIds.get(ph).foreach(id =>
          t.record(Span(id, replayId, s"read-back $ph", epochMs(a), epochMs(b))))
      }
      phaseIds.get("execute").foreach(t.recordJobSpans(_, rbJobs))
      def dur(k: String) = progress.map(p =>
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / 1e3
      val state = progress.flatMap(_.stateOperators)
      val layers = Tracer.layerCounts(t, streamJobs ++ rbJobs) ++ Map(
        "operators.build_s" -> (drain.build + rb.build),
        "operators.build_jobs" ->
          t.jobsUnder(phaseIds.get("build").toSet).size.toDouble,
        "plans.plan_s" -> (rb.plan + dur("queryPlanning")),
        "plans.exchanges" -> rb.qe.filter(_ => rb.error.isEmpty)
          .map(q => exchanges(q.executedPlan)).getOrElse(0).toDouble,
        "sched.idle_s" -> Tracer.uncovered(epochMs(rb.t2), epochMs(rb.t3),
          Tracer.stageIntervals(t, rbJobs)) / 1e3,
        "stream.batches" -> progress.length.toDouble,
        "stream.plan_s" -> dur("queryPlanning"),
        "stream.source_s" -> (dur("latestOffset") + dur("getBatch")),
        "stream.commit_s" -> (dur("walCommit") + dur("commitOffsets")),
        "stream.state_rows" -> progress.lastOption.map(_.stateOperators
          .map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
        "stream.late_dropped" ->
          state.map(_.numRowsDroppedByWatermark).sum.toDouble,
        "sink.write_s" -> dur("addBatch"),
        "stream.trigger_s" -> dur("triggerExecution"),
        "pin.count" -> pins.toDouble,
        "pin.sweep_s" -> sweep,
        "drain_s" -> drain.total,
        "readback_s" -> rb.total,
        "total_s" -> (drain.total + rb.total),
        "cpu_s" -> (drain.cpu + rb.cpu))
      Some(Map("replay" -> rec, "layers" -> layers, "spans" -> spanRecords(t)))
    }
    spark.stop()
    Seq("mode" -> "ingest", "jvm_start_s" -> jvm,
      "jvm_start_cpu_s" -> jvmStartCpuS,
      "setups_s" -> setups.map(_._1), "setups_cpu_s" -> setups.map(_._2),
      "timed_s" -> timed, "steal_share" -> steal, "thread_cpu_s" -> threads,
      "expected_ids" -> expected.size,
      "late_ids" -> late.size, "replays" -> replays.toSeq, "traced" -> traced)
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else Seq(f)
}

/** Passes each micro-batch to `inner` and appends the process CPU time
  * at the end of its write to `marks`, so a batch's CPU cost is the
  * difference from the previous mark (or from the start of the drain). */
final class CpuMarks(inner: Sink, marks: mutable.ArrayBuffer[Long]) extends Sink {
  override def write(df: DataFrame, table: String): Unit = {
    inner.write(df, table)
    marks.synchronized(marks += Main.processCpuNs())
  }
}
