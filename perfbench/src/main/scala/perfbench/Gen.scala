package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input generator.
  *
  * Base tables: the ten registry tables with the schemas and value
  * domains the engine's readers expect (`graft.Tables`), drawn from
  * hash functions of (seed, column salt, row id). No transcendental
  * or order-dependent function is used, so the same seed gives the
  * same rows on every run and host. Row counts follow the fixture
  * scale factors (lineitem = 6M × sf). Each table is one parquet
  * file, as the engine and the DuckDB oracle both read it.
  *
  * Chain inputs: a wide sheet (lineitem ⋈ part, four measures) whose
  * annotation strings carry seeded case and punctuation noise, and a
  * codebook that covers most of the normalized annotation values.
  */
object Gen {
  /** Seed of the base tables. The registry workloads' expected
    * digests are pinned to the tables this seed produces. */
  val BaseSeed = 42L

  val scales: Seq[String] = Seq("sf0.01", "sf0.1")

  def sfValue(sf: String): Double = sf.stripPrefix("sf").toDouble

  private val Vocab = Seq("query", "row", "stream", "the", "spark", "line",
    "small", "fast", "group", "customer", "batch", "sort", "value", "hash",
    "filter", "big", "data", "part", "column", "order", "scan", "a", "slow",
    "agg", "key", "window", "table", "merge", "vector", "join")
  val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Brands: Seq[String] = (1 to 25).map(i => s"Brand#$i")
  val Measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Non-negative 63-bit hash of (seed, salt, cols). */
  private def h(seed: Long, salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*).bitwiseAND(lit(Long.MaxValue))

  private def pick(values: Seq[String], hv: Column): Column =
    element_at(array(values.map(lit): _*), (pmod(hv, lit(values.size.toLong)) + 1).cast("int"))

  /** Two-decimal double from an integer number of cents in [lo, hi]. */
  private def cents(hv: Column, lo: Long, hi: Long): Column =
    ((pmod(hv, lit(hi - lo + 1)) + lo).cast("double") / 100.0)

  private def dayOffset(start: String, hv: Column, days: Int): Column =
    date_add(lit(start).cast("date"), pmod(hv, lit(days.toLong)).cast("int"))
      .cast("timestamp_ntz")

  def tables(spark: SparkSession, sf: Double, seed: Long): Map[String, DataFrame] = {
    def n(base: Double): Long = math.round(base * sf)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000)
    val nDocs = math.max(500L, n(50000)); val nVecs = math.max(500L, n(20000))
    val id = col("id")
    def hs(salt: String): Column = h(seed, salt, id)
    import spark.implicits._
    val region = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(hs("c_nation"), lit(25L)).cast("int").as("c_nationkey"),
      cents(hs("c_acctbal"), -99999, 999999).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        hs("c_seg")).as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(hs("s_nation"), lit(25L)).cast("int").as("s_nationkey"),
      cents(hs("s_acctbal"), -99999, 999999).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat(pick(Seq("blue", "old", "small", "new", "large", "hot", "cold", "red"),
        hs("p_adj")), lit(" "),
        pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"),
          hs("p_noun"))).as("p_name"),
      pick(Brands, hs("p_brand")).as("p_brand"),
      pick(Types, hs("p_type")).as("p_type"),
      (pmod(hs("p_size"), lit(50L)) + 1).cast("int").as("p_size"),
      ((id % 1000) + 9000).cast("double").divide(10.0).as("p_retailprice"))
    val orders = spark.range(nOrders).select(id.as("o_orderkey"),
      pmod(hs("o_cust"), lit(nCust)).as("o_custkey"),
      pick(Seq("F", "O", "P"), hs("o_status")).as("o_orderstatus"),
      cents(hs("o_total"), 100191, 49999318).as("o_totalprice"),
      dayOffset("1995-01-01", hs("o_date"), 2405).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        hs("o_prio")).as("o_orderpriority"))
    val lineitem = spark.range(nLine).select(
      pmod(hs("l_order"), lit(nOrders)).as("l_orderkey"),
      pmod(hs("l_part"), lit(nPart)).as("l_partkey"),
      pmod(hs("l_supp"), lit(nSupp)).as("l_suppkey"),
      (pmod(hs("l_line"), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(hs("l_qty"), lit(50L)) + 1).cast("double").as("l_quantity"),
      cents(hs("l_price"), 90068, 10499991).as("l_extendedprice"),
      cents(hs("l_disc"), 0, 10).as("l_discount"),
      cents(hs("l_tax"), 0, 8).as("l_tax"),
      pick(Seq("A", "N", "R"), hs("l_rf")).as("l_returnflag"),
      pick(Seq("F", "O"), hs("l_ls")).as("l_linestatus"),
      dayOffset("1995-01-02", hs("l_ship"), 2498).as("l_shipdate"))
    // ts rises with event_id over 30 days; value is skewed low (a
    // quarter of events triple their base amount).
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    val events = spark.range(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepMicros +
        pmod(hs("e_jitter"), lit(stepMicros))).cast("timestamp_ntz").as("ts"),
      pmod(hs("e_user"), lit(nUsers)).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), hs("e_type")).as("event_type"),
      (pmod(hs("e_value"), lit(10001L)) *
        when(pmod(hs("e_boost"), lit(4L)) === 0, 3).otherwise(1)).cast("double")
        .divide(100.0).as("value"),
      concat(lit("{\"k\": "), pmod(hs("e_k"), lit(100L)), lit("}")).as("props"))
    // One document in twenty repeats an earlier one with a trailing
    // "dup" token (near-duplicates); two such repeats of the same
    // source are exact duplicates of each other.
    val vocab = array(Vocab.map(lit): _*)
    val baseText = spark.range(nDocs).select(id, array_join(transform(
      sequence(lit(1L), pmod(hs("d_len"), lit(91L)) + 10),
      i => element_at(vocab, (pmod(h(seed, "d_tok", id, i), lit(Vocab.size.toLong)) + 1)
        .cast("int"))), " ").as("text"))
    val docKeys = spark.range(nDocs).select(id,
      when(id > 0 && pmod(hs("d_dup"), lit(20L)) === 0, pmod(hs("d_src"), id))
        .otherwise(id).as("src_id"))
    val documents = docKeys.join(baseText.select(col("id").as("src_id"), col("text")), "src_id")
      .select(col("id").as("doc_id"),
        when(col("src_id") =!= col("id"), concat(col("text"), lit(" dup")))
          .otherwise(col("text")).as("text"),
        when(pmod(h(seed, "d_lang", col("id")), lit(100L)) < 41, lit("en"))
          .otherwise(pick(Seq("de", "es", "fr", "zh"), h(seed, "d_lang2", col("id"))))
          .as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
    // Unit vectors from an Irwin-Hall (sum of four uniforms) draw.
    def unif(i: Column, k: Int): Column =
      pmod(h(seed, s"v$k", id, i), lit(1000000L)).cast("double") / 1000000.0
    val raw = spark.range(nVecs).select(id, transform(sequence(lit(1), lit(64)),
      i => unif(i, 0) + unif(i, 1) + unif(i, 2) + unif(i, 3) - 2.0).as("v"),
      pmod(hs("label"), lit(10L)).cast("int").as("label"))
    val embeddings = raw.select(col("id").as("vec_id"),
      transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0),
        (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
      col("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write `df` as the single parquet file `file`. */
  def writeSingle(df: DataFrame, file: Path): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val parts = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
    require(parts.length == 1, s"expected one part file in $tmp, got ${parts.length}")
    Files.move(parts.head, file, StandardCopyOption.REPLACE_EXISTING)
    Io.deleteTree(tmp)
  }

  /** Generate every base table at every scale into `root/<sf>/`. */
  def writeBase(spark: SparkSession, root: Path): Unit =
    for (sf <- scales) {
      val dir = root.resolve(sf)
      Files.createDirectories(dir)
      tables(spark, sfValue(sf), BaseSeed).foreach { case (name, df) =>
        writeSingle(df, dir.resolve(s"$name.parquet"))
      }
    }

  /** The chain's wide sheet over one scale's base tables: one row per
    * lineitem, one annotation cell holding its part's type and brand
    * as noisy text, four measures. Written as four hash-partitioned files so the scan
    * runs on four tasks. */
  def sheet(spark: SparkSession, sfDir: String, seed: Long): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val part = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey"), col("p_type"), col("p_brand"))
    val rowId = xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"), col("l_extendedprice"))
    val joined = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
    joined.select(
      Seq(col("l_orderkey"), col("l_linenumber"),
        concat(noisy(seed, "type", col("p_type"), rowId), lit(" "),
          noisy(seed, "brand", col("p_brand"), rowId)).as("raw")) ++
        Measures.map(col): _*)
      .repartition(4, col("l_orderkey"))
  }

  /** Seeded annotation noise: case, surrounding punctuation and
    * spacing (all removed by normalization), and in one row in fifty
    * a doubled letter that normalization keeps, so the row is
    * unmappable. */
  def noisy(seed: Long, salt: String, s: Column, rowId: Column): Column = {
    def hv(k: String) = h(seed, s"$salt-$k", rowId)
    val cased = pmod(hv("case"), lit(3L))
    val c1 = when(cased === 0, lower(s)).when(cased === 1, initcap(lower(s))).otherwise(s)
    val c2 = replace(c1, lit("#"), pick(Seq("#", " #", "-", " "), hv("sep")))
    val typo = pmod(hv("typo"), lit(50L)) === 0
    val c3 = when(typo, concat(substring(c2, 1, 1), c2)).otherwise(c2)
    concat(pick(Seq("", " ", "*", "("), hv("pre")), c3,
      pick(Seq("", ".", " ", ")", "!"), hv("post")))
  }

  /** Normalized annotation the codebook is keyed on: "<type>-<brand>". */
  def annotation(t: String, b: String): String =
    s"$t $b".toLowerCase.replaceAll("[^a-z0-9]+", "-").replaceAll("^-+|-+$", "")

  /** Seeded codebook: for each measure, every (type, brand) annotation
    * except one in twelve maps to a code and a rule id. */
  def codebook(seed: Long): Seq[(String, String, String, String)] = {
    val r = new scala.util.Random(seed)
    for {
      attr <- Measures
      (t, ti) <- Types.zipWithIndex
      (b, bi) <- Brands.zipWithIndex
      if r.nextInt(12) != 0
    } yield (attr, annotation(t, b), f"T$ti%dB$bi%02d", s"rule-$attr-$ti-$bi")
  }

  def codebookDf(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    codebook(seed).toDF("attr", "raw_norm", "code", "rule_id").coalesce(1)
  }
}
