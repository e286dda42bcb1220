package graft

/** Per-query shuffle-partition presizing — the CC loop's
  * measured-cardinality trick (PLANS.md r6) generalized to the whole
  * registry (VERDICT r6 item 1).
  *
  * At the bench tier every graded query runs over MB-scale tables, so
  * most exchanges carry a few thousand rows — but a shuffle planned at
  * the session's 32 partitions launches 32 reduce tasks regardless of
  * volume, and a presentation `orderBy` additionally runs a range-
  * sampling job. Measured across three full-suite sweeps at sf0.1
  * (spark.sql.shuffle.partitions = 32 / 4 / 1, same code, same host
  * trough): 67.1 / 56.5 / 60.7 s. Four partitions is the global sweet
  * spot — map-side parallelism is untouched (scan splits and explicit
  * `repartition(defaultParallelism)` calls keep the heavy compute
  * session-wide; only the
  * reduce sides shrink), while 1 partition over-serializes the ~25
  * queries whose reduce stages still carry real rows (window families
  * over user_id, pair-join verifies, multi-join evolution keys).
  *
  * This is the same decision AQE's partition coalescer makes from
  * runtime statistics on a cluster; AQE is deliberately OFF at the
  * bench tier (its per-query-stage replan barriers dominate MB-scale
  * stages — PLANS.md r5), so the coalescing is applied statically
  * from measurement instead. At 100 TB none of this object applies:
  * the session default is sized for 64-256 MB shuffle partitions and
  * AQE coalesces the rest.
  *
  * The exceptions below are per-key MEASUREMENTS, not semantics: keys
  * where one of the other two sweep points beat the 4-partition run
  * by more than the ±0.07 s noise floor. They are re-validated (not
  * re-derived) per round; the golden exchange-count spec pins the
  * plan shapes independently.
  *
  * SINGLE-THREADED ASSUMPTION: the harness drivers scope
  * `spark.sql.shuffle.partitions` around one query at a time on their
  * session ([[GraftSession.runKey]]). Concurrent queries on a shared
  * session must scope via `spark.newSession()` instead.
  */
object PartitionPolicy {

  /** Bench-tier default: the measured full-suite sweet spot. */
  val DefaultParts = 4

  /** Keys whose reduce stages collapse to trivial volume even for
    * their innermost shuffle — a single reduce task beats 4 by more
    * than noise (no range-sampling job on the presentation sort, one
    * task launch per stage). */
  private[graft] val narrow: Set[String] = Set(
    "agg_collect_sorted", "dedup_exact_docs", "dedup_minhash_lsh",
    "join_star_3way", "lateral_topn_orders", "retention_cohorts",
    "source_orc_roundtrip", "source_partitioned_prune")

  /** Keys that keep the session width: their reduce sides do real
    * parallel work at bench scale (bm25's build-side stats feed a
    * 32-wide probe; the theta-range join and the FK-reconciliation
    * anti-joins carry order-item volume into the reduce). */
  private[graft] val wide: Set[String] = Set(
    "bm25_topdocs", "join_theta_range", "reconcile_orders_items")

  /** Shuffle-partition count for one graded query, never above the
    * session's configured width (a local[8] session keeps 8). */
  def forKey(key: String, sessionParts: Int): Int =
    if (wide(key)) sessionParts
    else if (narrow(key)) 1
    else math.min(DefaultParts, sessionParts)

  /** Round-robin spread to the session width, ONLY when the planned
    * input parallelism is narrower than half of it (r19, guide §2.5
    * input-skew class): the bench fixtures are single-split parquet
    * files (one row group), so heavy row-local work stacked on a
    * bare scan runs one task wide while the other cores idle. At
    * cluster scale the same scan splits naturally, the predicate is
    * false, and this is the identity — no extra exchange. The
    * planned-partition probe costs one physical planning of the
    * input subtree, no job. */
  def spreadIfNarrow(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val par = s.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions * 2 <= par)
      df.repartition(par)
    else df
  }
}
