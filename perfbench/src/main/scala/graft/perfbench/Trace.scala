package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span at a layer boundary. Times are epoch milliseconds, the
  * clock Spark's listener events carry. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long, counts: Map[String, Double] = Map.empty)

/** Counts summed over the tasks of a set of stages. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var delayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inBytes = 0L
  var inRows = 0L
  var scanTasks = 0L

  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    delayMs += o.delayMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; inBytes += o.inBytes; inRows += o.inRows
    scanTasks += o.scanTasks
  }
}

final class StageRec(val id: Int, val job: Int) {
  var start = 0L
  var end = 0L
  var numTasks = 0
  var readsShuffle = false
  val totals = new TaskTotals
  val durations = mutable.ArrayBuffer.empty[Long]

  /** max / median task duration; 1 for stages of fewer than two tasks. */
  def straggler: Double =
    if (durations.size < 2) 1.0
    else {
      val s = durations.sorted
      val med = s(s.size / 2).toDouble
      if (med <= 0) 1.0 else s.last / med
    }
}

final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end = 0L
}

/** SparkListener that files every job under the span named by the
  * submitting thread's `perfbench.span` local property (inherited by the
  * broadcast, AQE and stream threads the job runs from), and every
  * stage and task under its job. Everything stays in memory until the
  * run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[(Int, Int), StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var markerJob = -1
  @volatile private var markerSeen = false

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = sc.removeSparkListener(this)

  private var nextId = 0
  def record(s: Span): Unit = synchronized { spans += s }
  def newId(): Int = synchronized { nextId += 1; nextId }

  /** Blocks until every event posted so far has reached this listener:
    * a marker job's end event is delivered after all earlier events. */
  def drain(): Unit = {
    markerSeen = false
    sc.setLocalProperty(SpanProp, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProp, null)
    val deadline = System.currentTimeMillis() + 60000
    while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(SpanProp)).orNull
    if (tag == Marker) markerJob = e.jobId
    else if (tag != null) {
      jobs(e.jobId) = new JobRec(e.jobId, tag.toInt, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    if (e.jobId == markerJob) markerSeen = true
  }

  private def stageRec(stageId: Int, attempt: Int): Option[StageRec] =
    stageJob.get(stageId).map(j =>
      stages.getOrElseUpdate((stageId, attempt), new StageRec(stageId, j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stageRec(i.stageId, i.attemptNumber()).foreach { s =>
        s.start = i.submissionTime.getOrElse(0L)
        s.end = i.completionTime.getOrElse(s.start)
        s.numTasks = i.numTasks
        s.readsShuffle = i.parentIds.nonEmpty
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageRec(e.stageId, e.stageAttemptId).foreach { s =>
      val t = s.totals
      val info = e.taskInfo
      t.tasks += 1
      s.durations += info.duration
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        // Spark UI scheduler delay (AppStatusUtils.schedulerDelay)
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        t.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spill += m.diskBytesSpilled
        t.inBytes += m.inputMetrics.bytesRead
        t.inRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) t.scanTasks += 1
      }
    }
  }

  /** Jobs filed under any of `spanIds`. */
  def jobsUnder(spanIds: Set[Int]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => spanIds(j.span)).toSeq
  }

  /** Stages of the jobs `js`, in start order. */
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => ids(s.job)).toSeq.sortBy(s => (s.start, s.id))
  }

  /** Records job and stage spans for `js` under the span `parent`. */
  def recordJobSpans(parent: Int, js: Seq[JobRec]): Unit = synchronized {
    js.foreach { j =>
      val jid = newIdUnlocked()
      spans += Span(jid, parent, s"job ${j.id}", j.start, j.end)
      stages.values.filter(_.job == j.id).toSeq.sortBy(_.start).foreach(s =>
        spans += Span(newIdUnlocked(), jid, s"stage ${s.id}", s.start, s.end,
          Map("tasks" -> s.totals.tasks.toDouble,
            "task_s" -> s.totals.runMs / 1e3,
            "shuffle_write_bytes" -> s.totals.shuffleWrite.toDouble,
            "shuffle_read_bytes" -> s.totals.shuffleRead.toDouble,
            "input_bytes" -> s.totals.inBytes.toDouble)))
    }
  }
  private def newIdUnlocked(): Int = { nextId += 1; nextId }

  def allSpans: Seq[Span] = synchronized { spans.toSeq.sortBy(s => (s.start, s.id)) }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val Marker = "marker"

  /** Wall time inside [from, to] that no interval of `iv` covers. */
  def uncovered(from: Long, to: Long, iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cur = from
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    math.max(0L, (to - from) - covered)
  }

  /** Layer counts of a set of jobs, keyed by per-layer metric name. */
  def layerCounts(t: Tracer, js: Seq[JobRec]): Map[String, Double] = {
    val st = t.stagesOf(js)
    val tot = new TaskTotals
    st.foreach(s => tot.add(s.totals))
    Map(
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.tasks" -> tot.tasks.toDouble,
      "sched.delay_s" -> tot.delayMs / 1e3,
      "scan.bytes" -> tot.inBytes.toDouble,
      "scan.rows" -> tot.inRows.toDouble,
      "scan.tasks" -> tot.scanTasks.toDouble,
      "scan.stage_s" ->
        st.filter(_.totals.inBytes > 0).map(s => s.end - s.start).sum / 1e3,
      "exec.task_s" -> tot.runMs / 1e3,
      "exec.cpu_s" -> tot.cpuNs / 1e9,
      "exec.gc_s" -> tot.gcMs / 1e3,
      "exec.straggler_ratio" ->
        (if (st.isEmpty) 1.0 else st.map(_.straggler).max),
      "shuffle.write_bytes" -> tot.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> tot.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> tot.fetchWaitMs / 1e3,
      "shuffle.spill_bytes" -> tot.spill.toDouble,
      "shuffle.partitions" ->
        st.filter(_.readsShuffle).map(_.numTasks.toDouble).sum)
  }

  /** Stage intervals of `js`, for idle-time accounting. */
  def stageIntervals(t: Tracer, js: Seq[JobRec]): Seq[(Long, Long)] =
    t.stagesOf(js).map(s => (s.start, s.end))
}
