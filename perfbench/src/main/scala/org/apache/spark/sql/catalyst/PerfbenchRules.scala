package org.apache.spark.sql.catalyst

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Analysis time read from Spark's process-wide rule metering. A
  * classic Dataset is analyzed when it is built, step by step, so a
  * query's analysis is spread over its construction; the metering sees
  * every step. Rule batches are visible only inside this package. */
object PerfbenchRules {
  /** Rules the session's analyzer runs and its optimizer does not. */
  def analyzerRules(spark: SparkSession): Set[String] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val analyzer = state.analyzer.batches.flatMap(_.rules.map(_.ruleName)).toSet
    analyzer -- state.optimizer.batches.flatMap(_.rules.map(_.ruleName))
  }

  /** Nanoseconds spent so far in each rule, process-wide. */
  def ruleNanos(): Map[String, Long] =
    RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim.split("\\s+")).collect {
      case Array(rule, _, "/", total, _, "/", _) if total.nonEmpty && total.forall(_.isDigit) =>
        rule -> total.toLong
    }.toMap
}
