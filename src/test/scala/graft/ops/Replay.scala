package graft.ops

import graft.{SparkSpec, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Driver-side replay primitives shared by the op specs: plain
  * Scala arithmetic plus the raw fixture rows at sf0.001, each
  * collected once per JVM. Nothing here calls product code (apart from
  * the `minhashPairs` candidate set the cluster replays start from),
  * so a replay built on it stays independent of the operator it
  * checks. */
object Replay {

  private def spark = SparkSpec.session

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def hexLong(h: String): Long = java.lang.Long.parseLong(h, 16)

  /** The first 32 bits of md5(decimal key) as an unsigned value. */
  def h32(k: Long): Long = hexLong(md5hex(k.toString).substring(0, 8))

  /** The prior/increment split of the incremental-dedup keys. */
  def isPrior(id: Long): Boolean = md5hex(id.toString).charAt(0) <= '7'

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** CAST(CAST(v AS DECIMAL(12,2)) * 100 AS BIGINT). */
  def cents(v: Double): Long =
    (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact

  /** CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) — the
    * ts_acf_lags cents spelling the ts/SPC keys reuse. */
  def cents4(v: Double): Long =
    (BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 100)
      .setScale(0, BigDecimal.RoundingMode.DOWN).toLongExact

  /** floor(price * 100 + 0.5) — the half-up cents spelling of the
    * orders keys (dq_schema_drift / PSI / Theil / Atkinson). */
  def centsHalfUp(v: Double): Long =
    math.floor(v * 100 + 0.5).toLong

  /** floor division on BigInt (both engines' `div`/`//` on nonneg). */
  def fdiv(a: BigInt, b: BigInt): BigInt = {
    require(a >= 0 && b > 0, "fdiv replay only spells nonneg operands")
    a / b
  }

  def eventDay(ts: java.sql.Timestamp): java.time.LocalDate =
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate

  // ---- raw fixture rows at sf0.001 -----------------------------------

  /** (o_orderkey, cents(o_totalprice)). */
  lazy val orderCents: Array[(Long, Long)] =
    Tables.orders(spark, sfStatic).select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), cents(r.getDouble(1))))

  lazy val orderRows: Array[(Long, Long, String, Double,
      java.time.LocalDate, String)] =
    Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        // o_orderdate is timestamp_ntz -> the Row cell is LocalDateTime
        r.getAs[java.time.LocalDateTime](4).toLocalDate, r.getString(5)))

  /** (l_returnflag, l_quantity, l_orderkey, l_partkey, l_suppkey). */
  lazy val liRows: Array[(String, Double, Long, Long, Long)] =
    Tables.lineitem(spark, sfStatic).select(col("l_returnflag"),
        col("l_quantity"), col("l_orderkey"), col("l_partkey"),
        col("l_suppkey")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

  /** (event_id, user_id, event_type, cents(value), ts). */
  lazy val eventCents: Array[(Long, Long, String, Long, java.sql.Timestamp)] =
    Tables.events(spark, sfStatic)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        cents(r.getDouble(3)), r.getTimestamp(4)))

  /** (event_id, ts, user_id, event_type, value). */
  lazy val eventRows: Array[(Long, java.sql.Timestamp, Long, String, Double)] =
    Tables.events(spark, sfStatic)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))

  /** (ts, user_id, event_type, value). */
  lazy val eventUserRows: Array[(java.sql.Timestamp, Long, String, Double)] =
    Tables.events(spark, sfStatic)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))

  /** (ts, event_type, value). */
  lazy val eventTypeRows: Array[(java.sql.Timestamp, String, Double)] =
    Tables.events(spark, sfStatic).select(col("ts"), col("event_type"),
        col("value")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))

  /** Per (event_type, UTC day): sum of cents(value). */
  lazy val dailyCents: Map[(String, java.time.LocalDate), Long] =
    eventRows.groupBy(e => (e._4, eventDay(e._2)))
      .map { case (k, xs) => k -> xs.map(e => cents(e._5)).sum }

  /** Per (event_type, UTC day): sum of cents4(value). */
  lazy val dailyCents4: Map[(String, java.time.LocalDate), Long] =
    eventTypeRows.groupBy(e => (e._2, eventDay(e._1)))
      .map { case (k, xs) => k -> xs.map(e => cents4(e._3)).sum }

  /** (doc_id, text, lang, source, n_chars). */
  lazy val docRows: Array[(Long, String, String, String, Long)] =
    Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))

  /** (doc_id, text, source). */
  lazy val docSources: Seq[(Long, String, String)] =
    docRows.map(d => (d._1, d._2, d._4)).toSeq

  /** (doc_id, lang, text). */
  lazy val docLangs: Array[(Long, String, String)] =
    docRows.map(d => (d._1, d._3, d._2))

  /** (vec_id, label, embedding). */
  lazy val embRows: Array[(Long, Int, Array[Float])] =
    Tables.embeddings(spark, sfStatic)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))

  /** The graded minhash candidate pairs (doc_a, doc_b). */
  lazy val lshPairs: Seq[(Long, Long)] =
    LlmExtras.minhashPairs(spark, sfStatic).select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
}
