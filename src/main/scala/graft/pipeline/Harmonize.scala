package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's end-to-end harmonization pipeline — the reference's
  * core computation re-expressed Spark-first (SURVEY §0.1 / §1.1):
  *
  *   wide annotated table  → unpivot to observation-per-row
  *   → normalize raw strings → broadcast-join codebooks (rules-as-data)
  *   → split mapped / unmappable → attach provenance
  *   → aggregate measures over dimensions → partitioned sink.
  *
  * Every stage is a DataFrame → DataFrame function, so pipelines
  * compose and Catalyst optimizes across stage boundaries (filters
  * planted after the join still push below it, etc.). Codebooks
  * broadcast, so unpivot, normalization, the join, the split and
  * provenance are shuffle-free; only the two aggregations shuffle:
  * the unmappable report (stage 4b) and the cube (stage 6).
  */
object Harmonize {

  /** Stage 1: wide → long. `ids` stay per-observation; every column in
    * `values` becomes one (attr, val) observation row. */
  def unpivotObservations(
      wide: DataFrame, ids: Seq[String], values: Seq[String]): DataFrame =
    wide.unpivot(ids.map(col).toArray,
      values.map(c => col(c).cast(DoubleType).as(c)).toArray, "attr", "val")

  /** Stage 2: string normalization before codebook matching (the
    * slugify rule from graft.ops.Udx, applied plan-side): lowercase,
    * each run outside `[a-z0-9]` to one `-`, edge dashes trimmed.
    *
    * One compiled expression, `graft.functions.Slug`, does it in a
    * single pass over the UTF-8 bytes. It equals
    * `regexp_replace(regexp_replace(lower(c), '[^a-z0-9]+', '-'),
    * '^-+|-+$', '')` on every input: all-ASCII strings are lowered by
    * the ASCII table, as `lower` does; anything else is first lowered
    * by the function `lower` itself calls, under the same ICU
    * case-mapping setting, and every byte of a remaining non-ASCII
    * character (>= 0x80) is a separator, just as the regex counts the
    * character. SlugUtil's scaladoc has the full argument. */
  def normalized(c: Column): Column = graft.functions.VectorFunctions.slug(c)

  /** Stage 3: rules-as-data codebook lookup. `codebook` maps
    * (attr, raw_norm) → canonical code + rule id; it is data, not
    * code, exactly like the reference's harmonization rules. Rows
    * with no rule survive with NULL code (stage 4 splits them). */
  def applyCodebook(obs: DataFrame, codebook: DataFrame): DataFrame =
    obs.withColumn("raw_norm", normalized(col("raw")))
      .join(broadcast(codebook), Seq("attr", "raw_norm"), "left")

  /** Stage 4a: harmonized observations (a rule matched). */
  def mapped(joined: DataFrame): DataFrame = joined.filter(col("code").isNotNull)

  /** Stage 4b: the unmappable-rows report — the data-quality output
    * the reference produces for cells no rule covers. */
  def unmappable(joined: DataFrame): DataFrame =
    joined.filter(col("code").isNull)
      .select(col("attr"), col("raw"), col("raw_norm"))
      .groupBy(col("attr"), col("raw_norm"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("raw")).as("example_raw"))

  /** Stage 5: provenance — source file, rule id, load stamp column.
    * (input_file_name gives cell→file lineage; the rule id came from
    * the codebook join.) */
  def withProvenance(df: DataFrame): DataFrame =
    df.withColumn("prov_file", input_file_name())
      .withColumn("prov_rule", coalesce(col("rule_id"), lit("unmapped")))

  /** Stage 6: the cube — measures aggregated over harmonized
    * dimensions with exact decimal sums (Protocol D2). */
  def aggregateCube(df: DataFrame, dims: Seq[String], measure: String): DataFrame =
    df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_obs"),
        sum(col(measure).cast(DecimalType(18, 4))).cast(DoubleType).as("sum_measure"))

  /** Stage 7: partitioned sink — one directory per leading dimension,
    * so downstream reads partition-prune. */
  def writeCube(cube: DataFrame, outDir: String, partitionCol: String): Unit =
    cube.write.mode("overwrite").partitionBy(partitionCol).parquet(outDir)

  /** The composed pipeline over the `part` fixture: treats part rows
    * as annotated sheet cells (p_brand/p_type annotations; retailprice
    * and size as measures), harmonizes the type dimension through a
    * codebook, and cubes the measures. */
  def demoPipeline(part: DataFrame, codebook: DataFrame): (DataFrame, DataFrame) = {
    val obs = unpivotObservations(
      part.withColumnRenamed("p_type", "raw"),
      ids = Seq("p_partkey", "p_brand", "raw"),
      values = Seq("p_retailprice", "p_size"))
    val joined = applyCodebook(obs, codebook)
    val cube = aggregateCube(
      withProvenance(mapped(joined)),
      dims = Seq("code", "attr"), measure = "val")
    (cube, unmappable(joined))
  }
}
