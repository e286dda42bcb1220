package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main: prints `.explain("formatted")` for selected
  * queries (all of them if no keys are given) on Bench's session conf
  * (AQE off, SPARK_GRAFT_CPUS wide) and per-key policy, so the printed
  * plans are the ones Bench times. Used to audit pushdown / broadcast /
  * codegen per SURVEY §4; findings are recorded in PLANS.md. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(HarnessConf.cpus, GraftSession.AqeOff)
    val keys = if (args.nonEmpty) args.toSet else SparkEntry.queries.keySet
    run(spark, keys, sfDir)
    spark.stop()
  }

  /** The session-lifecycle-free body, so a spec can smoke the audit
    * loop against the shared test session without main's stop(). */
  def run(spark: SparkSession, keys: Set[String], sfDir: String): Unit =
    SparkEntry.defs.filter(d => keys.contains(d.key)).foreach { d =>
      GraftSession.runKey(spark, d.key) {
        println(s"\n======== ${d.key} ========")
        d.run(spark, sfDir).explain("formatted")
      }
    }
}
