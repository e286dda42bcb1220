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
  * test is tracked by its suite and test name. */
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
}
