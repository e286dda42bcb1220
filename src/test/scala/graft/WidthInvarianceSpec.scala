package graft

import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Shuffle-width invariance over the whole registry (the 100 TB
  * correctness property): the oracle certifies one partitioning, this
  * certifies that the answer does not move with
  * spark.sql.shuffle.partitions — a key whose rows changed with the
  * width would be wrong on a cluster even while hash-matching locally.
  * The round op specs run the same check over their own keys through
  * [[WidthInvarianceSpec.failures]].
  */
class WidthInvarianceSpec extends SparkSpec {

  test("every key returns the same rows at shuffle width 17 with AQE off") {
    val failures = WidthInvarianceSpec.failures(spark, SparkEntry.defs.map(_.key))
    assert(failures.isEmpty,
      s"width-invariance failures:\n${failures.mkString("\n")}")
  }
}

object WidthInvarianceSpec {

  val width = 17

  /** Keys whose result is empty at sf0.001, so neither width can
    * certify anything, each with its reason. They are still run at
    * width 17, and the check fails once one returns rows, so the set
    * cannot go stale. */
  private val emptyAtStaticTier = Map(
    "set_except" -> ("every supplier ships a line with l_quantity >= 49 " +
      "(10 of 10 at sf0.001, 100 of 100 at sf0.01)"))

  /** One line per key in `keys` whose rows differ between the two
    * widths, or that cannot certify anything. The base side is
    * [[StaticResults]] (width 4 on the shared session, already executed
    * for QueryRegistrySpec and ClusterProfileSpec). The other side runs
    * each key on its own `newSession()` at width 17 with AQE off, so 17
    * reduce tasks really run: with AQE on, the coalescer folds
    * sf0.001's few hundred KB back into one reduce task and both widths
    * execute the same plan. A session per key because
    * `dedup_cluster_cc` and `dedup_cluster_incremental` scope the
    * session width around their loops. Keys are checked `lanes` at a
    * time, each worker pinned to the base session as SparkSpec pins a
    * test thread: run one at a time, the 483 keys make this the
    * longest suite of the parallel JVM. Each key's verdict is kept for
    * the JVM, so the round specs' per-round callers and the
    * registry-wide test share one width-17 run per key. */
  def failures(spark: SparkSession, keys: Seq[String]): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(lanes)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(keys) { k =>
      Future {
        org.apache.spark.sql.classic.SparkSession.setActiveSession(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
        verdicts.computeIfAbsent(k, _ => check(spark, k))
      }
    }, Duration.Inf).flatten
    finally pool.shutdown()
  }

  private val lanes = 4

  private val verdicts =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  private def check(spark: SparkSession, k: String): Option[String] =
    try {
      val base = StaticResults.rows(spark, k)
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", width.toString)
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      val wide = SparkEntry.queries(k)(s2, StaticPlans.sfStatic)
        .collect().map(_.toString).sorted
      if (base.isEmpty && !emptyAtStaticTier.contains(k))
        Some(s"$k: empty result cannot certify anything")
      else if (base.nonEmpty && emptyAtStaticTier.contains(k))
        Some(s"$k: returns rows now, drop it from emptyAtStaticTier")
      else if (base.sameElements(wide)) None
      else Some(s"$k: ${base.length} vs ${wide.length} rows at width $width, " +
        "first diff: " + base.zip(wide).find { case (a, b) => a != b }
          .map { case (a, b) => s"$a != $b" }.getOrElse("row count"))
    } catch {
      case e: Throwable =>
        Some(s"$k: ${e.toString.linesIterator.next()}")
    }
}
