package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution

/** Shared per-JVM caches of every graded query's plans/results at the
  * static fixture tier — the registry-wide sweeps scale linearly with
  * the registry, and each independently re-planning (or re-executing)
  * all 483 keys is the dominant suite-wall-time term (VERDICT r14
  * item 1). One pass per JVM per representation instead:
  *
  *  - `analyzed` (parallel JVM): the expression gates
  *    (DecimalCastBoundsSpec, TranscendentalProtocolSpec) plus the
  *    schema lints (OutputTypesSpec, QueryRegistrySpec D12) walk one
  *    shared analysis pass. Analyzed plans are immutable trees, so
  *    sharing across concurrently-running suites is safe.
  *  - `physical` (plan-serial JVM): GoldenShufflesSpec (executedPlan
  *    exchange counts) and PlanInvariantsSpec (sparkPlan structure ×4
  *    tests) read one QueryExecution per key, built in ONE
  *    deterministic pass with exactly the audited golden-count
  *    context: AQE off (the adaptive wrapper hides children from
  *    collect()), cold cache (a persisting key constructed earlier
  *    would substitute InMemoryRelations into later plans), keys in
  *    sorted order. Callers are all SerialSuite, so the pass runs
  *    under the suite lock; the builder's own synchronized guards the
  *    first-toucher race regardless.
  *  - `StaticResults` (parallel JVM): ClusterProfileSpec's base side,
  *    QueryRegistrySpec's runs-at-sf0.001 smoke, WidthInvarianceSpec's
  *    width-4 side and the op specs' replays all need keys
  *    EXECUTED at the static tier on the base session — collect each
  *    key once and share its rows.
  */
object StaticPlans {
  val sfStatic = "/root/testdata/sf0.001"
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()

  def analyzed(spark: SparkSession, key: String): LogicalPlan =
    cache.computeIfAbsent(key,
      _ => SparkEntry.queries(key)(spark, sfStatic).queryExecution.analyzed)

  // ---- physical pass (plan-serial JVM) ------------------------------------

  private val physCache =
    new java.util.concurrent.ConcurrentHashMap[String, QueryExecution]()
  @volatile private var physBuilt = false

  /** The key's QueryExecution from the shared AQE-off cold-cache
    * pass; `.sparkPlan` and `.executedPlan` are both already forced
    * (inside the AQE-off window — they are lazy vals that would
    * otherwise capture whatever conf is active at first touch). */
  def physical(spark: SparkSession, key: String): QueryExecution = {
    ensurePhysical(spark)
    physCache.get(key)
  }

  private def ensurePhysical(spark: SparkSession): Unit = synchronized {
    if (!physBuilt) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.catalog.clearCache()
      try SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
        val qe = fn(spark, sfStatic).queryExecution
        qe.sparkPlan
        qe.executedPlan
        physCache.put(k, qe)
        // clearCache BETWEEN keys (r19, ADVICE r18): one key's
        // persist()ed subtree must not substitute an
        // InMemoryRelation into a LATER key's plan — that coupling
        // made the text_hapax_ratio pin depend on corpus_source_kl
        // planning first. Cold cache per key is also exactly the
        // Bench/Verify protocol the pins claim to reproduce.
        spark.catalog.clearCache()
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
      physBuilt = true
    }
  }

  /** Shuffles PAID by one cold execution of a plan (r19, ADVICE
    * r18): counts ShuffleExchangeExec nodes, recursing into each
    * InMemoryRelation's cachedPlan ONCE per distinct cache entry —
    * a persist() hides its upstream exchanges inside the IMR, but
    * they are still paid at materialization, so a pin that skipped
    * them went blind to exchange regressions inside cached
    * subtrees. Used by GoldenShufflesSpec AND tools.ShuffleAudit so
    * the tool regenerates exactly what the spec asserts. */
  def paidShuffles(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    val seen = new java.util.IdentityHashMap[AnyRef, AnyRef]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
        case scan: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
            if !seen.containsKey(scan.relation.cacheBuilder) =>
          seen.put(scan.relation.cacheBuilder, scan.relation.cacheBuilder)
          walk(scan.relation.cachedPlan)
      }.sum
    walk(plan)
  }
}

/** Shared per-JVM cache of every graded query's EXECUTED result at
  * the static tier on the base session (see [[StaticPlans]] scaladoc).
  * One cache of collected rows; `rows` derives the sorted strings the
  * registry-wide sweeps compare. */
object StaticResults {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()
  @volatile private var boundSession: SparkSession = null

  /** Results are always computed on the FIRST session any caller
    * passed (the base session, by convention) — the cache is keyed by
    * query key only. A caller handing a different session (e.g. a
    * conf-profiled newSession) would silently read base-session rows,
    * so that is a loud failure instead (ADVICE r15): profiled runs
    * must execute their own side directly, as [[SameRows]]
    * does. Rows come in the order `collect()` returned them, so
    * order-sensitive assertions (a key's presentation sort) still
    * hold; each caller gets its own copy of the array. */
  def collected(spark: SparkSession, key: String): Array[Row] = {
    synchronized { if (boundSession == null) boundSession = spark }
    require(spark eq boundSession,
      "StaticResults is bound to the first (base) session; " +
        "execute profiled-session queries directly instead")
    cache.computeIfAbsent(key,
      _ => SparkEntry.queries(key)(boundSession, StaticPlans.sfStatic).collect())
      .clone()
  }

  /** The key's rows as sorted strings. */
  def rows(spark: SparkSession, key: String): Array[String] =
    collected(spark, key).map(_.toString).sorted
}
