package graft.tools

import graft.SparkSpec

/** The Explain driver is the plan-audit surface PLANS.md is built
  * from — registry drift (a key whose QDef throws during analysis,
  * a policy lookup that errors) would break the audit loop silently
  * since nothing else invokes Explain.main. Smoke it over a
  * representative key per family; `getOrCreate` inside the main
  * reuses the suite session, so this is cheap. */
class ExplainSmokeSpec extends SparkSpec with graft.SerialSuite {

  test("Explain.run prints plans for representative keys without throwing") {
    val keys = Seq("q1_pricing_summary", "join_star_3way", "dedup_simhash",
      "sim_lsh_bucketed", "win_distribution")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.Explain.run(spark, keys.toSet, "/root/testdata/sf0.001")
    }
    val printed = out.toString("UTF-8")
    for (k <- keys)
      assert(printed.contains(s"======== $k ========"), s"missing section for $k")
    assert(printed.contains("Physical Plan"), "no formatted plan output")
  }
}
