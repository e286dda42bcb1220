package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded operator: a Spark implementation plus (usually) the
  * equivalent DuckDB SQL the driver hash-compares against.
  *
  * Keeping the pair adjacent in one value is the main defense against
  * Spark/oracle drift (SURVEY.md §7 "Oracle.scala adjacent to twins").
  *
  * CACHE-LIFECYCLE CONTRACT (registry-wide, ADVICE r18): a QDef's
  * `run` may persist() intermediates and does NOT unpersist them —
  * the returned plan must keep its recompute lineage, and several
  * keys' caches back the returned DataFrame itself. The EMBEDDING
  * CONTEXT owns cleanup: [[GraftSession.runKey]] calls
  * spark.catalog.clearCache() after each key's action (the shared
  * test passes clear the same way). A context that runs registry keys
  * without clearing between them will accumulate cached relations (and may log
  * 'Asked to cache already cached data' when canonically identical
  * subtrees recur across keys) — clear between keys, or accept the
  * session-lifetime cache. */
final case class QDef(
    key: String,
    oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)

object QDef {
  /** Query with a DuckDB oracle (the normal case). */
  def q(key: String, oracle: String)(run: (SparkSession, String) => DataFrame): QDef =
    QDef(key, Some(oracle.stripMargin.trim))(run)

  /** Sanctioned no-oracle query (sketches etc.) — driver records a
    * weaker rows-only check; correctness covered by scalatest. */
  def qNoOracle(key: String)(run: (SparkSession, String) => DataFrame): QDef =
    QDef(key, None)(run)
}
