package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import scala.util.Random

/** graft_slug must equal the regex normalization it replaced,
  * `regexp_replace(regexp_replace(lower(s), '[^a-z0-9]+', '-'),
  * '^-+|-+$', '')`, on every input, under codegen and interpreted
  * evaluation, with ICU case mappings on and off. */
class SlugExpressionsSpec extends SparkSpec {

  private def regexForm(c: Column): Column =
    regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", "-"), "^-+|-+$", "")

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Named edge cases, as raw bytes (the string column is a binary
    * cast, i.e. UTF8String.fromBytes, so invalid UTF-8 gets through). */
  private val named: Seq[Array[Byte]] = Seq(
    "", "-", "---", " ", "!?#", " \t ", "--x--", "  Hello,  World!  ",
    "ECONOMY ANODIZED STEEL", "a-b", "A--B", "0", "x", "9z", "-a", "a-",
    "\u212A", "\u212Aelvin", "K\u212A", // Kelvin sign lowers to ASCII k
    "\u0130", "\u0130stanbul", "I\u0130i", // U+0130 lowers to i + U+0307
    "Stra\u00DFe", "\u00DF", "\u1E9E", // sharp s, capital sharp s
    "a\uD83D\uDE00b", "\uD83D\uDE00", "x\uD83D\uDE00", // emoji surrogate pair
    "a\n", "a\nb\n", "\n", "a\r\n", "\r", "a\u0085", "a\u2028", "a\u2028b\u2029",
    "-a-\n", "a-\u0085", "\u0085a\u0085",
    "\u03A3\u0391\u03A3", "caf\u00C9", "\u01C5", "Z\u00FCrich", "\u0131"
  ).map(utf8) ++ Seq(
    Array[Byte](0x80.toByte), // lone continuation byte
    Array[Byte]('a', 0xC3.toByte), // truncated 2-byte sequence
    Array[Byte]('A', 0xE2.toByte, 'B', 'c'), // lead byte before ASCII
    Array[Byte](0xC0.toByte, 0xAF.toByte, 'x'), // overlong '/'
    Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte, 'Q'), // encoded surrogate
    Array[Byte](0xFF.toByte, 'Z', 0xFE.toByte))

  private val pool: IndexedSeq[String] =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).map(_.toString) ++
      Seq(" ", "-", "_", ".", ",", "!", "#", "/", "\t", "\n", "\r", "\u0085",
        "\u2028", "\u00E9", "\u00C9", "\u00DF", "\u0130", "\u0131", "\u212A",
        "\u03A3", "\u01C5", "\uD83D\uDE00", "\u4E2D", "\u0301")

  private def random(seed: Long, n: Int): Seq[Array[Byte]] = {
    val r = new Random(seed)
    Seq.fill(n) {
      if (r.nextInt(10) == 0) Array.fill(r.nextInt(12))(r.nextInt(256).toByte)
      else utf8(Seq.fill(r.nextInt(24))(pool(r.nextInt(pool.size))).mkString)
    }
  }

  private def input(s: SparkSession): org.apache.spark.sql.DataFrame = {
    val rows = (named ++ random(20260417L, 3000)).zipWithIndex
      .map { case (b, i) => Row(i.toLong, b) } :+ Row(-1L, null)
    s.createDataFrame(s.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("id", org.apache.spark.sql.types.LongType),
      StructField("b", BinaryType))))
      .select(col("id"), col("b").cast("string").as("s"))
  }

  private def mismatches(s: SparkSession): Seq[Row] =
    input(s)
      .select(col("id"), col("s"), VectorFunctions.slug(col("s")).as("kernel"),
        regexForm(col("s")).as("regex"))
      .filter(!col("kernel").eqNullSafe(col("regex")))
      .collect().toSeq

  // Both case mappings, because the kernel reads the setting as Lower
  // does. (On Spark 4.1's ICU and JDK 17 no single code point's slug
  // differs between them; they differ only on non-ASCII output.)
  for (codegen <- Seq(true, false); icu <- Seq(true, false))
    test(s"graft_slug equals the regex form (codegen=$codegen, icu=$icu)") {
      val s = spark.newSession()
      s.conf.set(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key, icu.toString)
      if (!codegen) {
        s.conf.set("spark.sql.codegen.wholeStage", "false")
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      val bad = mismatches(s)
      assert(bad.isEmpty, bad.take(10).mkString("\n"))
      if (codegen) assert(input(s).select(VectorFunctions.slug(col("s")))
        .queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    }

  test("graft_slug named results, NULL, and the kernel's own output") {
    val got = input(spark)
      .select(col("id"), VectorFunctions.slug(col("s")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val idx = named.map(new String(_, "UTF-8")).zipWithIndex.toMap
    def at(s: String): String = got(idx(s).toLong)
    assert(at("") == "" && at("---") == "" && at("!?#") == "")
    assert(at("  Hello,  World!  ") == "hello-world")
    assert(at("ECONOMY ANODIZED STEEL") == "economy-anodized-steel")
    assert(at("A--B") == "a-b")
    assert(at("\u212Aelvin") == "kelvin")
    assert(at("\u0130stanbul") == "i-stanbul")
    assert(at("a\uD83D\uDE00b") == "a-b")
    assert(at("a\nb\n") == "a-b")
    assert(got(-1L) == null)
  }

  test("graft_slug is callable from SQL and matches the DataFrame form") {
    import spark.implicits._
    val view = s"slug_in_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val df = Seq("Economy  Brushed", "  PROMO-plated ", "x\u212A!", null).toDF("raw")
    df.createOrReplaceTempView(view)
    try {
      val viaSql = spark.sql(s"SELECT raw, graft_slug(raw) AS n FROM $view")
        .collect().toSet
      val viaDf = df.select(col("raw"), VectorFunctions.slug(col("raw")).as("n"))
        .collect().toSet
      assert(viaSql == viaDf)
      assert(viaSql.map(_.getString(1)) ==
        Set("economy-brushed", "promo-plated", "xk", null))
    } finally spark.catalog.dropTempView(view)
  }
}
