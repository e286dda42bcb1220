package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The line the driver parses: [[Bench.artifactLine]] renders both
  * BENCH.json and BENCH_full.json. Pure string-level tests; no session
  * needed. */
class BenchLineSpec extends AnyFunSuite {

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  private def fieldNames(line: String): Seq[String] =
    parse(line).properties().asScala.toSeq.map(_.getKey)

  /** Renders the values a committed artifact line carries. */
  private def rerender(line: String): String = {
    val j = parse(line)
    def d(f: String) = j.get(f).asDouble
    def entries(f: String) = Option(j.get(f)).toSeq.flatMap(_.properties().asScala)
    Bench.artifactLine(d("value"), j.get("n_queries").asInt,
      entries("queries").map(e => e.getKey -> e.getValue.asDouble),
      Option(j.get("failed")).toSeq.flatMap(_.elements().asScala.map(_.asText)),
      d("load_start"), d("load_end"), d("steal_frac"),
      d("ratio_median"), d("ratio_median_prev"),
      Option(j.get("retimed_n")).map(_.asInt),
      entries("retimed").map(e =>
        (e.getKey, e.getValue.get(0).asDouble, e.getValue.get(1).asDouble)),
      j.get("sf").asText)
  }

  for (artifact <- Seq("BENCH.json", "BENCH_full.json"))
    test(s"re-rendering the committed $artifact reproduces it byte for byte") {
      val line = Files.readString(Paths.get(artifact)).stripSuffix("\n")
      assert(rerender(line) == line)
    }

  private val base = Seq("metric", "value", "unit", "n_queries", "queries")
  private val host = Seq("load_start", "load_end", "steal_frac",
    "ratio_median", "ratio_median_prev")

  test("field order, with and without the optional fields") {
    val bare = Bench.artifactLine(1.0, 1, Seq("q" -> 1.0), Nil,
      0.5, 0.6, 0.0, 1.0, -1.0, None, Nil, "/sf")
    assert(fieldNames(bare) == base ++ host :+ "sf")
    val full = Bench.artifactLine(3.0, 2, Seq("q" -> 1.0, "r" -> 2.0),
      Seq("x (IllegalStateException)"), 0.5, 0.6, 0.0, 1.0, -1.0, Some(1),
      Seq(("r", 2.0, 1.5)), "/sf")
    assert(fieldNames(full) ==
      (base :+ "failed") ++ host ++ Seq("retimed_n", "retimed", "sf"))
    assert(rerender(full) == full)
  }

  test("the compact line fits the driver's 2,000-character stdout window") {
    val longest = SparkEntry.defs.map(_.key).sortBy(k => (-k.length, k))
    val line = Bench.artifactLine(9999.999, 483,
      longest.take(25).map(_ -> 999.999), Nil, 99.999, 99.999, 0.999,
      99.999, 99.999, Some(20), longest.take(6).map(k => (k, 999.999, 999.999)),
      "/root/testdata/sf0.1")
    assert(line.length < 2000, s"${line.length} chars")
  }
}
