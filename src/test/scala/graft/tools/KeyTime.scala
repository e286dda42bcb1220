package graft.tools

/** Dev-only per-key repeat timer (test sourceset — never ships):
  * the r19 optimization loop needed an instrument with less window
  * noise than one-shot targeted Bench runs (their per-key in-region
  * JIT swings ±1 s run to run because a fresh JVM recompiles the
  * whole machinery for a handful of keys). This warms the selected
  * keys with Bench's schedule and budget, then runs each key R times
  * inside ONE Bench-configured JVM through Bench's per-key timer and
  * prints every iteration: iteration 1 ≈ the cold bench number, the
  * tail ≈ steady-state plan cost with JIT drained. Decisions in
  * OPTIMIZATION_r19.md cite both.
  *
  * Usage: sbt "Test / runMain graft.tools.KeyTime <reps> key1 key2…"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object KeyTime {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val selected = args.toSeq.drop(1).map(k => k -> graft.SparkEntry.queries(k))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.HarnessConf.cpus, graft.GraftSession.AqeOff)
    graft.Bench.warm(spark, selected)
    for ((k, fn) <- selected) {
      val times = (1 to reps).map { _ =>
        val t = graft.Bench.time(spark, k, fn, sfDir)
        t.error.fold(f"${t.secs}%.3f(j${t.jitMs})")(e => s"FAILED($e)")
      }
      println(s"[keytime] $k ${times.mkString(" ")}")
    }
    spark.stop()
  }
}
