package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val tmp = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = { spark.stop(); Io.deleteTree(tmp) }

  private def partBytes(dir: Path): Seq[Seq[Byte]] = {
    val files = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString.take(10))
    files.toSeq.map(f => Files.readAllBytes(f).toSeq)
  }

  test("the same seed gives byte-identical base tables, sheet and codebook") {
    val base = tmp.resolve("base")
    for (name <- Seq("lineitem", "part", "documents")) {
      val df = Gen.tables(spark, 0.001, Gen.BaseSeed)(name)
      Gen.writeSingle(df, base.resolve(s"$name.parquet"))
      Gen.writeSingle(Gen.tables(spark, 0.001, Gen.BaseSeed)(name), base.resolve(s"$name-2.parquet"))
      assert(Files.readAllBytes(base.resolve(s"$name.parquet")).toSeq ==
        Files.readAllBytes(base.resolve(s"$name-2.parquet")).toSeq, name)
    }
    def sheet(seed: Long, dir: String): Path = {
      val p = tmp.resolve(dir)
      Gen.sheet(spark, base.toString, seed).write.parquet(p.toString)
      p
    }
    val a = partBytes(sheet(5, "s5a"))
    assert(a.size == 4)
    assert(a == partBytes(sheet(5, "s5b")))
    assert(a != partBytes(sheet(6, "s6")))
    assert(Gen.codebook(5) == Gen.codebook(5))
    assert(Gen.codebook(5) != Gen.codebook(6))
    Gen.writeSingle(Gen.codebookDf(spark, 5), tmp.resolve("cb1.parquet"))
    Gen.writeSingle(Gen.codebookDf(spark, 5), tmp.resolve("cb2.parquet"))
    assert(Files.readAllBytes(tmp.resolve("cb1.parquet")).toSeq ==
      Files.readAllBytes(tmp.resolve("cb2.parquet")).toSeq)
  }

  test("noisy annotations normalize onto the codebook, typos aside") {
    val rows = Gen.sheet(spark, tmp.resolve("base").toString, 5)
      .select(graft.pipeline.Harmonize.normalized(col("raw")).as("n")).distinct()
      .collect().map(_.getString(0)).toSet
    val clean = (for (t <- Gen.Types; b <- Gen.Brands) yield Gen.annotation(t, b)).toSet
    // a typo doubles the first letter of the type, of the brand, or both
    def untypo(r: String): Set[String] = {
      val b = r.replaceFirst("-bbrand-", "-brand-")
      Set(r.drop(1), b, b.drop(1))
    }
    val typos = rows -- clean
    assert(typos.nonEmpty, "some rows carry an unmappable typo")
    assert(typos.forall(r => untypo(r).exists(clean)), typos.filterNot(r => untypo(r).exists(clean)))
    assert(rows.intersect(clean).size > clean.size / 2)
  }

  test("the key sample is fixed, one registry key per family, and the seed fixes its order") {
    val registry = graft.SparkEntry.defs.map(_.key).toSet
    val keys = Workloads.sampleKeys
    assert(keys.forall(registry), keys.filterNot(registry))
    assert(keys.map(_.takeWhile(_ != '_')).distinct.size == keys.size)
    assert(Workloads.order(keys, 9) == Workloads.order(keys, 9))
    assert(Workloads.order(keys, 9).sorted == keys.sorted)
    assert((1 to 20).map(s => Workloads.order(keys, s)).distinct.size > 1)
  }

  test("the digest ignores row and partition order, and rounding noise") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.1 + 0.2, Map("x" -> 1, "y" -> 2), Seq(1.5f, 2.5f)),
      (2L, null, 3.0, Map("z" -> 3), Seq.empty[Float]),
      (3L, "c", Double.NaN, Map.empty[String, Int], null))
      .toDF("k", "s", "d", "m", "a")
    val reordered = Seq((3L, "c", Double.NaN, Map.empty[String, Int], null),
      (2L, null, 3.0, Map("z" -> 3), Seq.empty[Float]),
      (1L, "a", 0.3, Map("y" -> 2, "x" -> 1), Seq(1.5f, 2.5f)))
      .toDF("k", "s", "d", "m", "a")
    val d = Digest.of(df)
    assert(Digest.rows(d) == 3)
    assert(d == Digest.of(reordered))
    assert(d == Digest.of(df.repartition(3).orderBy(col("k").desc)))
    assert(d != Digest.of(df.filter(col("k") < 3)))
    assert(d != Digest.of(df.withColumn("s", lit("a"))))
    assert(d != Digest.of(df.withColumnRenamed("s", "t")))
  }

  test("a tail percentile needs ten samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.tail(xs, 0.9).isEmpty)
    assert(Stats.tail(xs :+ 100.0, 0.9).contains(Stats.quantile(xs :+ 100.0, 0.9)))
    assert(Stats.tail((1 to 999).map(_.toDouble), 0.99).isEmpty)
    assert(Stats.tail((1 to 1000).map(_.toDouble), 0.99).nonEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
    assert(Stats.selfTime(0, 100, Seq((-5L, 200L))) == 0)
    assert(Stats.covered(Seq((0L, 10L), (10L, 20L), (30L, 40L)), 5, 35) == 20)
    val t = new Tracer
    t.add(Span(1, -1, "op", "op", 0, 100))
    t.add(Span(2, 1, "op", "exec.action", 20, 90))
    t.add(Span(3, 2, "op", "exec.job", 30, 60))
    t.add(Span(4, 2, "op", "exec.job", 50, 80))
    val self = t.selfTimes()
    assert(self("op") == 30 && self("exec.action") == 20 && self("exec.job") == 60)
  }
}
