package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the suite layout the build relies on: `build.sbt` sends the
  * suites named in `serialSuites` to the plan-serial JVM, so that set
  * must be exactly the suites mixing in [[SerialSuite]]; and a new op
  * spec is named after a module in `src/main/scala/graft/ops`, never
  * after the round that added a key. The round specs listed in
  * `roundSpecs` predate that rule and keep their names, because a
  * test is tracked by its suite and test name. It also rejects a
  * lineage copied key by key in `src/main/scala/graft/ops`: a
  * derivation two keys build alike is one shared CTE constant with its
  * Spark twin. */
class SuiteLayoutSpec extends AnyFunSuite {

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** (package, class name, source) for every class in src/test/scala. */
  private lazy val testClasses: Seq[(String, String, String)] =
    scala.util.Using.resource(Files.walk(Paths.get("src/test/scala"))) {
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    }.flatMap { p =>
      val src = read(p)
      val pkg = """(?m)^package ([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
      """(?m)^class (\w+)([^{]*)""".r.findAllMatchIn(src)
        .map(m => (pkg, m.group(1), m.group(2))).toList
    }

  test("build.sbt's serialSuites are exactly the suites that mix in SerialSuite") {
    val build = read(Paths.get("build.sbt"))
    val block = build.substring(build.indexOf("val serialSuites = Set("),
      build.indexOf("val (serial, par)"))
    val listed = "\"([\\w.]+)\"".r.findAllMatchIn(block).map(_.group(1)).toSet
    val mixing = testClasses.collect {
      case (pkg, cls, ext) if """\bSerialSuite\b""".r.findFirstIn(ext).isDefined =>
        s"$pkg.$cls"
    }.toSet
    assert(listed.nonEmpty && listed == mixing,
      s"only in build.sbt: ${listed -- mixing}; only in extends clauses: ${mixing -- listed}")
  }

  /** The round-named op specs that predate the family rule. */
  private val roundSpecs = Set("R5OpsSpec", "R11OpsSpec", "R11cOpsSpec",
    "R12OpsSpec") ++ ('b' to 't').map(c => s"R12${c}OpsSpec") ++
    Seq("R13", "R14", "R15", "R16", "R17", "R18", "R18b").map(_ + "OpsSpec") +
    "EdgeCasesR12Spec"

  test("new op specs are named after family modules, not rounds") {
    val opSpecs = testClasses.collect {
      case ("graft.ops", cls, _) if cls.endsWith("Spec") => cls
    }.toSet
    assert(roundSpecs.subsetOf(opSpecs), s"gone: ${roundSpecs -- opSpecs}; drop them from roundSpecs")
    val rounds = (opSpecs -- roundSpecs).filter(_.matches("""R\d+[a-z]?OpsSpec"""))
    assert(rounds.isEmpty, s"new round-named op specs: $rounds")
    val orphans = (opSpecs -- roundSpecs).filterNot(c =>
      Files.exists(Paths.get(s"src/main/scala/graft/ops/${c.stripSuffix("Spec")}.scala")))
    assert(orphans.isEmpty, s"op specs with no module in src/main/scala/graft/ops: $orphans")
  }

  /** Runs of identical lines in `src/main/scala/graft/ops` kept on
    * purpose, each named by a line it contains, with the reason. */
  private val keptRepeats = Map(
    "|         date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_sec" ->
      ("stream_session_windows and stream_custom_sessions open a " +
        "session at gaps of >= 1801 s and >= 1800 s: the run stops at " +
        "the threshold line, and their Spark sides are different stream " +
        "state machines, so there is no shared lineage to extract"))

  test("graft.ops holds no run of 10 identical lines twice") {
    val run = 10
    def counted(l: String) =
      l.nonEmpty && !l.startsWith("import ") && !l.startsWith("package ")
    val files = scala.util.Using.resource(
      Files.list(Paths.get("src/main/scala/graft/ops"))) {
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    }
    val windows = for {
      p <- files
      lines = read(p).split("\n", -1).map(_.trim).toVector
      i <- 0 to lines.size - run
      w = lines.slice(i, i + run) if w.forall(counted)
    } yield (w, s"${p.getFileName}:${i + 1}")
    val repeated = windows.groupBy(_._1).filter(_._2.size > 1)
    val (kept, copied) = repeated.partition { case (w, _) =>
      keptRepeats.keys.exists(w.contains) }
    assert(copied.isEmpty, "runs copied instead of shared: " +
      copied.values.map(_.map(_._2).mkString(" = ")).toSeq.sorted.mkString("; "))
    val stale = keptRepeats.keySet.filterNot(k => kept.keys.exists(_.contains(k)))
    assert(stale.isEmpty, s"no longer repeated, drop from keptRepeats: $stale")
  }
}
