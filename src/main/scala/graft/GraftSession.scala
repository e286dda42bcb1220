package graft

import org.apache.spark.sql.SparkSession

/** The one way the harness mains (Bench, Verify, Explain and the dev
  * tools KeyTime and PlanSizeSurvey) build their session and run a
  * graded key on it, so the plans Verify certifies, Explain prints and
  * Bench times come from the same conf and the same per-key policy.
  *
  * The one deliberate difference is AQE: Bench, Explain and the timing
  * tools pass [[AqeOff]]; Verify keeps AQE ON, so every round runs both
  * the adaptive and the static planning paths over every key (PLANS.md,
  * "AQE at bench tier"). The graded results do not depend on it —
  * broadcasts and partitioning are explicit in every graded query.
  *
  * `SparkSpec` keeps its own builder on purpose: its `local[8]`,
  * 4 shuffle partitions, default broadcast threshold and immunity to
  * `SPARK_GRAFT_CONF` are the context the golden shuffle pins are
  * measured in.
  */
object GraftSession {

  private val Parts = "spark.sql.shuffle.partitions"

  /** AQE OFF for the timing tier — measured, not guessed: each AQE
    * query-stage barrier costs 50-200 ms of driver replanning, and at
    * the bench's MB scale that overhead dominates (113-query total
    * 86.5 s -> 78.4 s when disabled; dedup_cluster_cc's 15-stage
    * iterative plan alone 7.2 s -> 5.3 s). On a real cluster at TB
    * scale flip this ON (one conf): skew-join splits and runtime
    * SMJ->BHJ re-selection then pay for the barriers. */
  val AqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"

  /** The conf [[local]] applies, in order (a later entry wins): the
    * shared harness base, then the caller's `extra`, then the
    * `SPARK_GRAFT_CONF` entries in `env` (including `cluster`), so an
    * experiment sweep overrides everything. Pure, so a spec can pin
    * each driver's conf without building a session. */
  private[graft] def entries(cpus: Int, extra: Seq[(String, String)],
      warehouse: String, env: Option[String]): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cpus]",
      Parts -> cpus.toString,
      // Deployment tuning for this host (single node): let the planner
      // broadcast mid-size join sides; at cluster scale this knob is
      // sized per-executor instead.
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      // The events reader's TimestampNTZ cast is session-tz-dependent,
      // so an unpinned session on a non-UTC host would time and print
      // different session/window/date_trunc groupings than the plans
      // the hash gate certifies.
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.warehouse.dir" -> warehouse,
      "spark.ui.enabled" -> "false") ++
      extra ++ HarnessConf.envEntries(env)

  /** A `local[cpus]` harness session with [[entries]] applied; the
    * warehouse is a [[TempDirs]] scratch dir deleted at JVM exit. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
    entries(cpus, extra, TempDirs.create("graft-warehouse"),
      sys.env.get("SPARK_GRAFT_CONF"))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one graded key's `body` at the key's [[PartitionPolicy]]
    * width (unless `SPARK_GRAFT_CONF` pins the width, see
    * [[HarnessConf.policyActive]]), then restore the session width and
    * drop every cached relation. Queries that persist() intermediates
    * cannot unpersist them themselves — the action runs in `body`,
    * after they return (see [[QDef]]) — so the cache clear here keeps a
    * long session's footprint bounded and every key cold-cache.
    *
    * One key at a time per session: the width is session conf (see
    * PartitionPolicy's single-threaded assumption). */
  def runKey[T](spark: SparkSession, key: String)(body: => T): T = {
    val width = spark.conf.get(Parts)
    if (HarnessConf.policyActive)
      spark.conf.set(Parts, PartitionPolicy.forKey(key, width.toInt).toString)
    try body
    finally {
      spark.conf.set(Parts, width)
      spark.catalog.clearCache()
    }
  }
}
