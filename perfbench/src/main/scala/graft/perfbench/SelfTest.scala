package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Checks that a traced try's timed section is exactly build + plan +
  * execute: the phases tile [t0, t3], the GC ends before t0, the pin
  * sweep starts after t3, and every job the key ran started inside one
  * of its three phases. `run.py --selftest` runs it and fails on any
  * false check. */
object SelfTest {
  /** A key that shuffles and pins, so the sweep has work to do. */
  val Key = "agg_percentile"

  def run(data: String, work: String): Seq[(String, Any)] = {
    val spark = Main.newSession(work)
    val sc = spark.sparkContext
    val fn = graft.SparkEntry.queries(Key)
    val t = new Tracer(sc)
    t.attach()
    val (o, keyId, phases) = Main.traceTry(t, Key,
      mark => Main.runTry(spark, data, fn, mark, measurePins = true))
    t.drain()
    t.detach()
    val p = o.p
    val (from, to) = (Main.epochMs(p.t0), Main.epochMs(p.t3))
    val keyJobs = t.jobsUnder(phases.values.toSet + keyId)
    val checks = Seq(
      "ran without error" -> p.error.isEmpty,
      "returned rows" -> (p.rows > 0),
      "phases are build, plan, execute" ->
        (phases.keySet == Set("build", "plan", "execute")),
      "phases tile the timed section" ->
        (p.t0 <= p.t1 && p.t1 <= p.t2 && p.t2 <= p.t3 &&
          p.total == p.build + p.plan + p.execute),
      "gc ends before the timed section" -> (o.gcEnd <= p.t0),
      "pin sweep starts after the timed section" -> (o.sweepStart >= p.t3),
      "the key pinned and the sweep released every pin" ->
        (o.pins > 0 && sc.getPersistentRDDs.isEmpty),
      "no job ran outside a phase" -> t.jobsUnder(Set(keyId)).isEmpty,
      "execute ran jobs" -> t.jobsUnder(phases.get("execute").toSet).nonEmpty,
      "every job started inside the timed section" ->
        keyJobs.forall(j => j.start >= from && j.start <= to + 1))
    spark.stop()
    checks.filterNot(_._2).foreach { case (c, _) =>
      System.err.println(s"[perfbench selftest] FAILED: $c")
    }
    Seq("mode" -> "selftest", "key" -> Key, "checks" -> checks.toMap,
      "ok" -> checks.forall(_._2))
  }
}
