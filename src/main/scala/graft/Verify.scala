package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // IngestOps' oracles read fixtures this run writes — pin the oracle
    // fixture SF to THIS run's sfDir so the dumped SQL can never aim at
    // a stale fixture from a different scale.
    System.setProperty("graft.oracle.sf", new java.io.File(sfDir).getName)
    // SPARK_GRAFT_ONLY=k1,k2 restricts the dump to named keys (same
    // contract as Bench) — pair with parity.py's key-list argument for
    // a single-key cross-scale re-proof without a full-surface run.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Testdata-drift preflight: if the corpus was
    // regenerated with a different schema/row-count/domain,
    // name the drifted column in ONE line each BEFORE any key runs —
    // an r8-style drift then reads as a handful of [preflight] lines,
    // not 91 cascading stack traces. Non-fatal: keys that don't touch
    // the drifted column still produce comparable results.
    try Preflight.problems(spark, sfDir).foreach(p =>
      System.err.println(s"[preflight] TESTDATA DRIFT: $p"))
    catch { case e: Throwable =>
      System.err.println(s"[preflight] preflight itself failed: $e")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // the same end-of-key sweep as Bench: otherwise the pin-creating
        // keys' blocks stay resident for the rest of the run (DESIGN
        // §15.6)
        val pinsBefore = Harness.pinSnapshot(spark)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        Harness.sweepPins(spark, pinsBefore)
      }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
