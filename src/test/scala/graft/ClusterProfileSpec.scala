package graft

/** Regime-independence gate for the at-scale profile (r13, VERDICT
  * r12 item 5): every registered graded query must return IDENTICAL
  * results under the bench-tier session and under the full
  * [[ClusterProfile]] (AQE + skew-join split + 200-wide shuffles +
  * cluster broadcast threshold). The graded plans claim their
  * broadcasts and partitioning explicitly, so no adaptive re-plan may
  * change an answer — this spec is that claim, mechanically, over the
  * whole registry.
  *
  * Every profile entry is a session-level `spark.sql.*` conf, so a
  * `newSession()` off the shared context carries the profile without a
  * second JVM; [[SameRows]] runs and compares the keys.
  */
class ClusterProfileSpec extends SparkSpec {

  test("profile integrity: session-settable entries, alias expansion, policy handoff") {
    val s2 = spark.newSession()
    ClusterProfile.entries.foreach { case (k, v) => s2.conf.set(k, v) }
    ClusterProfile.entries.foreach { case (k, v) =>
      assert(s2.conf.get(k) == v, s"$k did not take as a session conf")
    }
    // NOTE: no assert on the PARENT session's conf here — the
    // dedup_cluster_cc loop legitimately scopes the shared session's
    // shuffle width around its rounds (restored in finally), so a
    // concurrent suite could observe the transient value.
    assert(HarnessConf.expand("cluster") == ClusterProfile.conf)
    assert(HarnessConf.expand("a=b") == "a=b")
    // the profile pins shuffle.partitions, so the per-key presizing
    // policy must stand down exactly as it does for a manual sweep
    assert(!HarnessConf.policyActiveFor(Some("cluster")))
    assert(HarnessConf.policyActiveFor(Some("spark.sql.adaptive.enabled=true")))
  }

  test("every graded query returns identical results under the cluster profile") {
    val diffs = SameRows.failures(spark, ClusterProfile.entries,
      "under the cluster profile", SparkEntry.defs.map(_.key).sorted)
    assert(diffs.isEmpty,
      s"results changed under the cluster profile:\n${diffs.mkString("\n")}")
  }
}
