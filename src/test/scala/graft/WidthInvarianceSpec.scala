package graft

import org.apache.spark.sql.SparkSession

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

  /** One line per key in `keys` whose rows differ between the base
    * session's width 4 and width 17 with AQE off, or that cannot
    * certify anything. AQE is off so 17 reduce tasks really run: with
    * AQE on, the coalescer folds sf0.001's few hundred KB back into one
    * reduce task and both widths execute the same plan. */
  def failures(spark: SparkSession, keys: Seq[String]): Seq[String] =
    SameRows.failures(spark,
      Seq("spark.sql.shuffle.partitions" -> width.toString,
        "spark.sql.adaptive.enabled" -> "false"),
      s"at width $width", keys, (k, base) =>
        if (base.isEmpty && !emptyAtStaticTier.contains(k))
          Some(s"$k: empty result cannot certify anything")
        else if (base.nonEmpty && emptyAtStaticTier.contains(k))
          Some(s"$k: returns rows now, drop it from emptyAtStaticTier")
        else None)
}
