package graft.tools

/** Dev-only registry survey (test sourceset — never ships): print
  * every graded key's executed-plan text size and paid-shuffle count
  * at sf0.001 with AQE off. Plan text size is a cheap proxy for
  * generated-code volume, i.e. for the per-key C2 JIT a cold bench
  * run pays inside its timed region — the order_rfm_segments r19
  * rewrite (381 KB → 53 KB plan) came out of exactly this ranking.
  *
  * Each line also carries a sha-256 of the key's oracle SQL and of
  * its executed plan text with the per-run parts normalized away
  * (expression ids `#123`, `plan_id=`, temp-directory paths, lambda
  * class names and identity hashes such as `Udx$WeightedAvgPrice$@1a2b`),
  * so two dumps taken before and after a refactor diff empty exactly
  * when no oracle and no executed plan changed: the move guard for
  * code that relocates operators between modules. `bytes` is the
  * normalized text's length, stable across runs for the same reason.
  *
  * Usage: sbt "Test / runMain graft.tools.PlanSizeSurvey [key…]"
  * (every key when none are given; the keys restrict the dump, so one
  * family's move guard diffs in seconds)
  */
object PlanSizeSurvey {
  private val tmp = java.util.regex.Pattern.quote(
    new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath)

  /** Executed-plan text with everything that differs between two runs
    * of the same code removed. */
  def normalizedPlan(plan: String): String =
    plan.replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll(tmp + "/[^\\s,\\]\\)]*", "<tmp>")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]+\\b", "@")

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8, graft.GraftSession.AqeOff,
      "spark.sql.shuffle.partitions" -> "4",
      // scan nodes cut their metadata (e.g. DataFilters) at 100 chars
      // before the ids are normalized, so the cut point would move with
      // the number of ids that earlier keys used
      "spark.sql.maxMetadataStringLength" -> Int.MaxValue.toString)
    val sf = graft.StaticPlans.sfStatic
    val keys = if (args.nonEmpty) args.toSet else graft.SparkEntry.queries.keySet
    graft.SparkEntry.defs.filter(d => keys.contains(d.key)).sortBy(_.key).foreach { d =>
      val k = d.key
      val oracle = sha256(d.oracle.getOrElse(""))
      try {
        val ep = d.run(spark, sf).queryExecution.executedPlan
        val plan = normalizedPlan(ep.toString)
        println(s"[plansize] $k oracle=$oracle plan=${sha256(plan)} " +
          s"paid=${graft.StaticPlans.paidShuffles(ep)} bytes=${plan.length}")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"[plansize] $k oracle=$oracle ERROR ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
