package graft

import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The registry-wide "same rows under another conf" check behind
  * [[WidthInvarianceSpec]] and [[ClusterProfileSpec]]. The base side is
  * [[StaticResults]] (the shared session, executed once per JVM). The
  * other side runs each key on its own `newSession()` carrying `conf`:
  * every entry is a session-level `spark.sql.*` conf, and
  * `dedup_cluster_cc` and `dedup_cluster_incremental` scope the session
  * width around their loops, so no two keys may share it. Rows compare
  * as sorted strings: the determinism protocol (exact integers, shared
  * float trees) makes equality bit-equality, and presentation ORDER BY
  * ties may legally permute across partition widths. */
object SameRows {

  /** One line per key in `keys` whose rows under `conf` differ from the
    * base session's, or that `precheck` rejects given its base rows.
    * Keys are checked `lanes` at a time, each worker pinned to the base
    * session as SparkSpec pins a test thread: run one at a time, the
    * 483 keys make a registry-wide check the longest suite of the
    * parallel JVM. Each (conf, key) verdict is kept for the JVM, so
    * callers that cover the same keys under the same conf share one
    * run per key; `label` and `precheck` must therefore be fixed per
    * conf. */
  def failures(spark: SparkSession, conf: Seq[(String, String)], label: String,
      keys: Seq[String],
      precheck: (String, Array[String]) => Option[String] = (_, _) => None
  ): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(lanes)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(keys) { k =>
      Future {
        org.apache.spark.sql.classic.SparkSession.setActiveSession(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
        verdicts.computeIfAbsent((conf, k), _ => check(spark, conf, label, k, precheck))
      }
    }, Duration.Inf).flatten
    finally pool.shutdown()
  }

  private val lanes = 4

  private val verdicts = new java.util.concurrent.ConcurrentHashMap[
    (Seq[(String, String)], String), Option[String]]()

  private def check(spark: SparkSession, conf: Seq[(String, String)], label: String,
      k: String, precheck: (String, Array[String]) => Option[String]): Option[String] =
    try {
      val base = StaticResults.rows(spark, k)
      val s2 = spark.newSession()
      conf.foreach { case (ck, cv) => s2.conf.set(ck, cv) }
      val other = SparkEntry.queries(k)(s2, StaticPlans.sfStatic)
        .collect().map(_.toString).sorted
      precheck(k, base).orElse(
        if (base.sameElements(other)) None
        else Some(s"$k: ${base.length} vs ${other.length} rows $label, " +
          "first diff: " + base.zip(other).find { case (a, b) => a != b }
            .map { case (a, b) => s"$a != $b" }.getOrElse("row count")))
    } catch {
      case e: Throwable =>
        Some(s"$k: ${e.toString.linesIterator.next()}")
    }
}
