package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_CONF parse is the gate that disables the per-key
  * PartitionPolicy during global sweeps — a false positive silently
  * un-presizes every bench query, a false negative silently defeats
  * the sweep (ADVICE r8: the old substring test had both failure
  * modes). Pure string-level tests; no session needed. */
class HarnessConfSpec extends AnyFunSuite {

  private val P = "spark.sql.shuffle.partitions"

  test("pinning the partitions key disables the policy") {
    assert(!HarnessConf.policyActiveFor(Some(s"$P=64")))
    assert(!HarnessConf.policyActiveFor(Some(s"spark.sql.adaptive.enabled=true,$P=8")))
  }

  test("no env, or entries not touching the key, keep the policy active") {
    assert(HarnessConf.policyActiveFor(None))
    assert(HarnessConf.policyActiveFor(Some("spark.sql.adaptive.enabled=false")))
  }

  test("a VALUE mentioning the key is not a pin (ADVICE r8)") {
    assert(HarnessConf.policyActiveFor(Some(s"spark.app.description=$P")))
  }

  test("a LONGER key with the partitions key as a prefix is not a pin (ADVICE r8)") {
    assert(HarnessConf.policyActiveFor(Some(s"$P.extra=8")))
  }

  test("parse splits on first '=' only and fails loudly on a bare segment") {
    assert(HarnessConf.parseEntries("a=b=c") == Seq(("a", "b=c")))
    val e = intercept[RuntimeException] { HarnessConf.parseEntries("a=1,oops") }
    assert(e.getMessage.contains("oops"))
  }

  test("cpuTicks reads monotone cumulative counters with steal <= total") {
    // /proc/stat is Linux-only: skip (not fail) on hosts where
    // cpuTicks returns its (-1,-1) unreadable sentinel (ADVICE r10).
    assume(HarnessConf.cpuTicks._2 > 0, "/proc/stat not readable here")
    val a = HarnessConf.cpuTicks
    val b = HarnessConf.cpuTicks
    assert(a._2 > 0 && a._1 >= 0 && a._1 <= a._2)
    assert(b._1 >= a._1 && b._2 >= a._2)
  }

  test("parseBenchQueriesLoose reads Bench's own artifact line exactly") {
    val line = """{"metric":"total","value":51.473,"unit":"sec","n_queries":3,""" +
      """"queries":{"q_a":1.500,"q_b":0.250,"q_c":3.000},""" +
      """"load_start":1.630,"steal_frac":0.000,"sf":"/x"}"""
    assert(HarnessConf.parseBenchQueriesLoose(line) ==
      Map("q_a" -> 1.5, "q_b" -> 0.25, "q_c" -> 3.0))
    // top-level numeric fields outside the object must NOT leak in
    assert(!HarnessConf.parseBenchQueriesLoose(line).contains("value"))
    // malformed / missing input degrades to empty, never throws
    assert(HarnessConf.parseBenchQueriesLoose("") == Map.empty)
    assert(HarnessConf.parseBenchQueriesLoose("""{"queries":{""") == Map.empty)
    assert(HarnessConf.parseBenchQueriesLoose("""{"queries":{"q":oops}}""") == Map.empty)
  }

  test("parseBenchQueriesLoose tolerates the driver's Python re-serialization") {
    // the driver wraps our line through json.dump: spaces after every
    // colon, and an escaped copy of the whole line inside "tail"
    // BEFORE the parsed object — the escaped \"queries\" must not
    // match, the spaced real one must.
    val art = """{"n": 12, "rc": 0, "sf": 0.1, """ +
      """"tail": "stderr \"queries\":{\"q_x\":9.999} noise", """ +
      """"parsed": {"metric": "total", "value": 51.4, """ +
      """"queries": {"q_a": 1.500, "q_b": 0.250}, "sf": "/x"}}"""
    assert(HarnessConf.parseBenchQueriesLoose(art) ==
      Map("q_a" -> 1.5, "q_b" -> 0.25))
    assert(HarnessConf.parseBenchQueriesLoose("""{"queries": {""") == Map.empty)
  }

  test("ratioMedian: shared-key median, odd/even, no-overlap sentinel") {
    val committed = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0, "z" -> 0.0)
    // odd count: ratios 2.0, 1.5, 1.0 -> median 1.5
    assert(HarnessConf.ratioMedian(
      Seq("a" -> 2.0, "b" -> 3.0, "c" -> 4.0), committed) == 1.5)
    // even count: ratios 2.0, 1.5 -> mean of the middle pair
    assert(HarnessConf.ratioMedian(Seq("a" -> 2.0, "b" -> 3.0), committed) == 1.75)
    // keys only on one side are ignored; zero committed time excluded
    assert(HarnessConf.ratioMedian(
      Seq("a" -> 2.0, "new" -> 9.0, "z" -> 1.0), committed) == 2.0)
    assert(HarnessConf.ratioMedian(Seq("only_new" -> 1.0), committed) == -1.0)
    assert(HarnessConf.ratioMedian(Nil, committed) == -1.0)
  }

  test("parseWarmSchedule: dir[:passes] list, default pass count, loud failure") {
    assert(HarnessConf.parseWarmSchedule("/a:3,/b:1") == Seq(("/a", 3), ("/b", 1)))
    assert(HarnessConf.parseWarmSchedule("/a") == Seq(("/a", 1)))
    assert(HarnessConf.parseWarmSchedule("") == Seq.empty)
    val e = intercept[RuntimeException] { HarnessConf.parseWarmSchedule("/a:x") }
    assert(e.getMessage.contains("/a:x"))
    intercept[RuntimeException] { HarnessConf.parseWarmSchedule("/a:1:2") }
    // every malformed-stage shape fails loudly rather than silently
    // dropping or mis-counting a warm stage (r11 review): trailing
    // colon (typo'd pass count), empty dir, oversized pass count
    intercept[RuntimeException] { HarnessConf.parseWarmSchedule("/a:") }
    intercept[RuntimeException] { HarnessConf.parseWarmSchedule(":3,/a:1") }
    intercept[RuntimeException] { HarnessConf.parseWarmSchedule("/a:9999") }
  }

  test("retimeSuspects: ratio + absolute-excess gates, worst-first cap, no-artifact empty") {
    val committed = Map("a" -> 1.0, "b" -> 1.0, "c" -> 0.05, "d" -> 2.0)
    // median 1.0: 'a' at 3.2x with 2.2s excess is the r13 burst shape
    assert(HarnessConf.retimeSuspects(
      Seq("a" -> 3.2, "b" -> 1.1, "d" -> 2.1), committed, 1.0) == Seq("a"))
    // a 4x ratio on a 50ms key is noise, not a burst (absolute gate)
    assert(HarnessConf.retimeSuspects(
      Seq("c" -> 0.2), committed, 1.0).isEmpty)
    // a slower WINDOW is not a burst: ratios near the median pass
    assert(HarnessConf.retimeSuspects(
      Seq("a" -> 1.5, "b" -> 1.4, "d" -> 2.9), committed, 1.45).isEmpty)
    // worst first, capped
    assert(HarnessConf.retimeSuspects(
      Seq("a" -> 3.0, "b" -> 4.0), committed, 1.0, cap = 1) == Seq("b"))
    // no committed artifact (sentinel median) -> never retime
    assert(HarnessConf.retimeSuspects(Seq("a" -> 9.0), committed, -1.0).isEmpty)
    // keys without a committed twin never select
    assert(HarnessConf.retimeSuspects(Seq("new" -> 9.0), committed, 1.0).isEmpty)
  }

  test("stealFrac attributes a window and guards degenerate brackets") {
    assert(HarnessConf.stealFrac((100L, 1000L), (520L, 2000L)) == 0.42)
    assert(HarnessConf.stealFrac((-1L, -1L), (520L, 2000L)) == -1.0)
    assert(HarnessConf.stealFrac((100L, 1000L), (-1L, -1L)) == -1.0)
    assert(HarnessConf.stealFrac((100L, 1000L), (100L, 1000L)) == -1.0)
  }
}
