package graft

import org.apache.spark.storage.StorageLevel

/** The harness session conf and the per-key runner every driver main
  * shares. Serial: runKey clears the context-global cache. */
class GraftSessionSpec extends SparkSpec with SerialSuite {

  private val P = "spark.sql.shuffle.partitions"

  test("runKey runs at the policy width, then restores the width and clears the cache") {
    val s = spark.newSession()
    s.conf.set(P, "6")
    // narrow → 1, default → min(4, 6), wide → the session's 6
    for ((key, policy) <- Seq("agg_collect_sorted" -> "1",
        "q1_pricing_summary" -> "4", "bm25_topdocs" -> "6")) {
      val expected = if (HarnessConf.policyActive) policy else "6"
      val df = s.range(10).toDF("id")
      val inside = GraftSession.runKey(s, key) {
        df.persist().count()
        assert(df.storageLevel != StorageLevel.NONE)
        s.conf.get(P)
      }
      assert(inside == expected, key)
      assert(s.conf.get(P) == "6", key)
      assert(df.storageLevel == StorageLevel.NONE, key)
    }
  }

  test("runKey restores the width and clears the cache when the body throws") {
    val s = spark.newSession()
    s.conf.set(P, "6")
    val df = s.range(10).toDF("id")
    val e = intercept[IllegalStateException] {
      GraftSession.runKey(s, "agg_collect_sorted") {
        df.persist().count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(s.conf.get(P) == "6")
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("entries are Bench's and Verify's builder confs, AQE the only difference") {
    val verify = Map(
      "spark.master" -> "local[32]",
      P -> "32",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.warehouse.dir" -> "/w",
      "spark.ui.enabled" -> "false")
    val bench = verify + ("spark.sql.adaptive.enabled" -> "false")
    val v = GraftSession.entries(32, Nil, "/w", None)
    val b = GraftSession.entries(32, Seq(GraftSession.AqeOff), "/w", None)
    assert(v.toMap == verify && v.size == verify.size)
    assert(b.toMap == bench && b.size == bench.size)
    // a caller entry overrides the base (PlanSizeSurvey's fixed width)
    assert(GraftSession.entries(8, Seq(P -> "4"), "/w", None).toMap.apply(P) == "4")
  }

  test("SPARK_GRAFT_CONF overrides a caller entry, cluster included") {
    val aqe = GraftSession.AqeOff._1
    val cluster = GraftSession.entries(32, Seq(GraftSession.AqeOff), "/w",
      Some("cluster")).toMap
    assert(cluster(aqe) == "true")
    val sweep = GraftSession.entries(32, Seq(GraftSession.AqeOff), "/w",
      Some(s"$aqe=true,$P=64")).toMap
    assert(sweep(aqe) == "true" && sweep(P) == "64")
  }
}
