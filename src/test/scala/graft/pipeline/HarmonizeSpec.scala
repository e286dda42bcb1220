package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end harmonization pipeline over the part fixture: unpivot →
  * normalize → codebook → split → provenance → cube → partitioned
  * sink, with hand-checked invariants at each stage. */
class HarmonizeSpec extends SparkSpec {

  private def codebook = {
    import spark.implicits._
    Seq(
      ("p_retailprice", "economy", "ECO", "rule-eco"),
      ("p_size", "economy", "ECO", "rule-eco"),
      ("p_retailprice", "promo", "PRM", "rule-promo"),
      ("p_size", "promo", "PRM", "rule-promo"),
      ("p_retailprice", "large", "LRG", "rule-large"),
      ("p_size", "large", "LRG", "rule-large"))
      .toDF("attr", "raw_norm", "code", "rule_id")
  }

  test("pipeline harmonizes mapped types and reports unmappable ones") {
    val part = Tables.part(spark, "/root/testdata/sf0.001")
    val (cube, unmapped) = Harmonize.demoPipeline(part, codebook)

    val cubeRows = cube.collect()
    assert(cubeRows.nonEmpty)
    // codes only from the codebook; both measures present per code
    val codes = cubeRows.map(_.getAs[String]("code")).toSet
    assert(codes.subsetOf(Set("ECO", "PRM", "LRG")))
    assert(cube.select("attr").distinct().collect().map(_.getString(0)).toSet ==
      Set("p_retailprice", "p_size"))

    // unmappable = exactly the types not in the codebook, normalized,
    // once per measure attr, with their source counts and raw example
    val typeCounts = part.select("p_type").collect().map(_.getString(0))
      .groupBy(identity).map { case (t, ts) => t -> ts.length.toLong }
    val expected = for {
      attr <- Set("p_retailprice", "p_size")
      raw <- Set("MEDIUM", "SMALL", "STANDARD")
    } yield (attr, raw.toLowerCase(java.util.Locale.ROOT), typeCounts(raw), raw)
    val um = unmapped.collect().map(r => (r.getAs[String]("attr"),
      r.getAs[String]("raw_norm"), r.getAs[Long]("n_occurrences"),
      r.getAs[String]("example_raw"))).toSet
    assert(um == expected)

    // conservation: every part row yields 2 observations, split exactly
    val total = part.count() * 2
    val mappedCount = cube.agg(sum("n_obs")).head().getLong(0)
    val unmappedCount = unmapped.agg(sum("n_occurrences")).head().getLong(0)
    assert(mappedCount + unmappedCount == total)
  }

  test("measures survive harmonization exactly (decimal sums)") {
    val part = Tables.part(spark, "/root/testdata/sf0.001")
    val (cube, _) = Harmonize.demoPipeline(part, codebook)
    // sum over the cube equals a direct decimal sum over mapped source rows
    val direct = part
      .filter(lower(col("p_type")).isin("economy", "promo", "large"))
      .agg((sum(col("p_retailprice").cast("decimal(18,4)")) +
        sum(col("p_size").cast("decimal(18,4)"))).cast("double"))
      .head().getDouble(0)
    val viaCube = cube.agg(sum("sum_measure")).head().getDouble(0)
    assert(viaCube == direct)
  }

  test("noisy variants of one annotation normalize to one raw_norm and map") {
    import spark.implicits._
    val variants = Seq("ECONOMY ANODIZED STEEL", "economy anodized steel",
      "  Economy  Anodized   Steel  ", "Economy-Anodized-Steel", "ECONOMY_ANODIZED.STEEL",
      "--economy/anodized,steel!!", "\tEconomy\nAnodized\r\nSteel\n")
    val obs = variants.map(v => ("p_size", v)).toDF("attr", "raw")
    val cb = Seq(("p_size", "economy-anodized-steel", "ECO-AS", "rule-eco-as"))
      .toDF("attr", "raw_norm", "code", "rule_id")
    val out = Harmonize.applyCodebook(obs, cb)
      .select("raw_norm", "code").collect()
    assert(out.length == variants.size)
    assert(out.map(_.getString(0)).toSet == Set("economy-anodized-steel"))
    assert(out.map(_.getString(1)).toSet == Set("ECO-AS"))
    assert(Harmonize.unmappable(Harmonize.applyCodebook(obs, cb)).isEmpty)
  }

  test("normalization plans as the one-pass kernel, with no regexp_replace") {
    // a range, not a local Seq: over a LocalRelation,
    // ConvertToLocalRelation would evaluate the projection away
    val obs = spark.range(3).select(lit("p_size").as("attr"),
      concat(lit("Promo #"), col("id").cast("string")).as("raw"))
    val plan = Harmonize.applyCodebook(obs, codebook).queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.exists(_.isInstanceOf[graft.functions.Slug]))
    assert(!exprs.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace]))
  }

  test("partitioned sink writes one directory per code and prunes on read") {
    val part = Tables.part(spark, "/root/testdata/sf0.001")
    val (cube, _) = Harmonize.demoPipeline(part, codebook)
    val out = Files.createTempDirectory("graft-cube").toString
    Harmonize.writeCube(cube, out, "code")
    val back = spark.read.parquet(out).filter(col("code") === "ECO")
    assert(back.count() == cube.filter(col("code") === "ECO").count())
    assert(new java.io.File(s"$out/code=ECO").exists())
  }
}
