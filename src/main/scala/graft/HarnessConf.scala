package graft

/** Shared harness-session configuration for the driver mains
  * (Bench / Verify / Explain, through [[GraftSession]]).
  *
  * The drivers must agree on BOTH halves of the session-conf story,
  * or the hash gate and plan dumps certify different plans than the
  * bench times (ADVICE r7 — Bench honored the sweep hook, Verify and
  * Explain did not):
  *
  *  - `SPARK_GRAFT_CONF="k=v,k=v"` overrides any session conf — the
  *    experiment hook for global sweeps. Comma is the entry
  *    separator, so list-valued confs can't be set here; a segment
  *    without '=' fails loudly instead of a MatchError.
  *  - The per-key PartitionPolicy presizing is DISABLED whenever that
  *    env pins `spark.sql.shuffle.partitions`: a global sweep is
  *    exactly the experiment the per-key policy would silently
  *    defeat.
  */
object HarnessConf {

  /** SPARK_GRAFT_CONF parsed into (key, value) entries — ONE parse
    * shared by the session builder and policyActive, so the conf a
    * sweep sets and the conf the policy gate tests are the same string
    * split the same way (ADVICE r8: the old substring `contains` let
    * a VALUE mentioning the partitions key, or a longer key with it as
    * a prefix, disable the policy without pinning anything). */
  private[graft] def parseEntries(conf: String): Seq[(String, String)] =
    conf.split(',').toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => sys.error(s"SPARK_GRAFT_CONF entry without '=': '$kv'")
      }
    }

  /** `SPARK_GRAFT_CONF=cluster` expands to the full at-scale profile
    * (r13): one word selects every documented cluster setting in
    * [[ClusterProfile]], so the hash gate / bench / plan dumps can
    * all run under the profile without hand-copying conf strings. Any
    * other value keeps the literal k=v,k=v sweep syntax. */
  private[graft] def expand(conf: String): String =
    if (conf.trim == "cluster") ClusterProfile.conf else conf

  /** The session overrides a SPARK_GRAFT_CONF value sets, in order. */
  private[graft] def envEntries(conf: Option[String]): Seq[(String, String)] =
    conf.toSeq.map(expand).flatMap(parseEntries)

  /** Local width of the harness sessions (SPARK_GRAFT_CPUS). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Is the per-key shuffle presizing in force for this process? One
    * definition, so Bench (timing), Verify (hash gate), and Explain
    * (plan dumps) always flip together. Key EQUALITY against the
    * parsed entries — exactly the keys the session builder sets. */
  def policyActive: Boolean = policyActiveFor(sys.env.get("SPARK_GRAFT_CONF"))

  private[graft] def policyActiveFor(conf: Option[String]): Boolean =
    !envEntries(conf).exists(_._1 == "spark.sql.shuffle.partitions")

  /** 1-minute host load average from /proc/loadavg (-1.0 if
    * unreadable). Bench records it as JSON fields, Verify on stderr —
    * both drivers' artifacts attribute contention the same way
    * (VERDICT r8 item 3). */
  def load1: Double = try {
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
  } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Cumulative (steal, total) CPU ticks from /proc/stat's aggregate
    * cpu line ((-1,-1) if unreadable). Guest loadavg is blind to
    * hypervisor steal — round 10 measured same-code bench totals
    * spreading 63→91 s while loadavg looked quiet, with steal at ~42%
    * of user ticks in the slow window — so Bench brackets the run
    * with these and emits the window's steal fraction next to
    * load_start/load_end, making a stolen window attributable from
    * the artifact alone. */
  def cpuTicks: (Long, Long) = try {
    val parts = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    // Total = first 8 fields only (user nice system idle iowait irq
    // softirq steal): the kernel folds guest/guest_nice into user/nice
    // already, so summing all 10 would double-count guest time and
    // understate steal_frac on hosts running nested VMs (ADVICE r10).
    (if (parts.length > 7) parts(7) else 0L, parts.take(8).sum)
  } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  /** Steal fraction of all CPU ticks between two cpuTicks() brackets;
    * -1.0 when either bracket was unreadable or the window is empty. */
  def stealFrac(start: (Long, Long), end: (Long, Long)): Double =
    if (start._2 < 0 || end._2 < 0 || end._2 <= start._2) -1.0
    else (end._1 - start._1).toDouble / (end._2 - start._2)

  /** Per-query seconds parsed out of a Bench artifact's
    * `"queries":{...}` object (r11 — feeds `ratio_median`), both from
    * Bench's own line and from the driver's copy (r13, VERDICT r12
    * item 4), which Python's json.dump re-serializes with a space after
    * every colon (`"queries": {`). The object is machine-written flat
    * JSON (no nesting, keys are bare query names), so a scan to the
    * next '}' plus comma/colon splits is exact; whitespace between the
    * key, the colon and the brace is tolerated. The escaped
    * `\"queries\"` copies inside the driver artifact's "tail" string
    * can never match an UNESCAPED `"queries"` probe, so the first hit
    * is the parsed per-query object. Anything unparsable yields an
    * empty map rather than a throw — a missing or malformed artifact
    * must never fail a bench run. */
  private[graft] def parseBenchQueriesLoose(txt: String): Map[String, Double] = {
    val i = txt.indexOf("\"queries\"")
    if (i < 0) Map.empty else {
      val open = txt.indexOf('{', i)
      val end = if (open < 0) -1 else txt.indexOf('}', open)
      if (end < 0) Map.empty
      else txt.substring(open + 1, end).split(',')
        .flatMap { e =>
          e.split(':') match {
            case Array(k, v) =>
              try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble)
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
    }
  }

  /** Bench's warm schedule parsed from "dir[:passes],dir[:passes],…"
    * (r11). A malformed stage fails loudly — a silently dropped warm
    * stage would move JIT compilation back inside the timed regions,
    * which reads as a regression. */
  private[graft] def parseWarmSchedule(spec: String): Seq[(String, Int)] =
    spec.split(',').toSeq.filter(_.nonEmpty).map { stage =>
      // split with -1 keeps trailing empties: "dir:" must be a loud
      // error (a typo'd pass count), not a silent 1-pass stage.
      stage.split(":", -1) match {
        case Array(dir) if dir.nonEmpty => (dir, 1)
        case Array(dir, n) if dir.nonEmpty && n.nonEmpty &&
            n.length <= 3 && n.forall(_.isDigit) => (dir, n.toInt)
        case _ => sys.error(s"SPARK_GRAFT_WARM stage '$stage' is not dir[:passes]")
      }
    }

  /** Median of per-query time ratios current/committed over the keys
    * both runs measured; -1.0 when no keys are shared. The host-shift
    * attribution statistic: uniform ratios ≈ the median mean "window",
    * a lone outlier against a ~1 median means "this query". */
  private[graft] def ratioMedian(current: Seq[(String, Double)],
      committed: Map[String, Double]): Double = {
    val ratios = current.flatMap { case (k, v) =>
      committed.get(k).filter(_ > 0.0).map(v / _) }.sorted
    if (ratios.isEmpty) -1.0
    else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
    else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0
  }

  /** Burst-outlier selection for Bench's second-chance pass (r14,
    * VERDICT r13 item 1) — pure so the policy is unit-testable: a key
    * is a retime suspect when its ratio vs the committed same-code
    * artifact exceeds 2× the run's own shared-key median AND the
    * absolute excess over the window-adjusted expectation tops 0.2 s
    * (sub-0.2 s wobbles on fast keys are noise, not bursts). Worst
    * first, capped so a pathological run can't double its own wall
    * time re-timing itself. Empty when there is no committed artifact
    * to compare against (ratioMedian ≤ 0). */
  private[graft] def retimeSuspects(current: Seq[(String, Double)],
      committed: Map[String, Double], ratioMedian: Double,
      cap: Int = 20): Seq[String] =
    if (ratioMedian <= 0.0) Seq.empty
    else current.filter { case (k, dt) =>
      committed.get(k).exists(c => c > 0.0 &&
        dt / c > 2.0 * ratioMedian && dt - c * ratioMedian > 0.2)
    }.sortBy(-_._2).take(cap).map(_._1)
}
