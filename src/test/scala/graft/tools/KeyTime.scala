package graft.tools

/** Dev-only per-key repeat timer (test sourceset — never ships):
  * the r19 optimization loop needed an instrument with less window
  * noise than one-shot targeted Bench runs (their per-key in-region
  * JIT swings ±1 s run to run because a fresh JVM recompiles the
  * whole machinery for a handful of keys). This runs each selected
  * key R times inside ONE Bench-configured JVM with clearCache+GC
  * between iterations and prints every iteration: iteration 1 ≈ the
  * cold bench number, the tail ≈ steady-state plan cost with JIT
  * drained. Decisions in OPTIMIZATION_r19.md cite both.
  *
  * Usage: sbt "Test / runMain graft.tools.KeyTime <reps> key1 key2…"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object KeyTime {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val keys = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.HarnessConf.cpus, graft.GraftSession.AqeOff)
    def jitMs: Long = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported)
        c.getTotalCompilationTime else 0L
    }
    // small-SF warm passes, same role as Bench's schedule
    for (wd <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.001",
        "/root/testdata/sf0.01");
        k <- keys)
      graft.GraftSession.runKey(spark, k) {
        try graft.SparkEntry.queries(k)(spark, wd).count()
        catch { case scala.util.control.NonFatal(_) => }
      }
    System.gc()
    for (k <- keys) {
      val times = (1 to reps).map { _ =>
        val (dt, jit) = graft.GraftSession.runKey(spark, k) {
          val j0 = jitMs
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(k)(spark, sfDir).count()
          ((System.nanoTime() - t0) / 1e9, jitMs - j0)
        }
        System.gc()
        f"$dt%.3f(j$jit)"
      }
      println(s"[keytime] $k ${times.mkString(" ")}")
    }
    spark.stop()
  }
}
