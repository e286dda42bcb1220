package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.8 — scalar function families.
  *
  * One ordered projection query per family. Everything here is a
  * per-row expression with a FIXED evaluation tree: each float op is
  * IEEE correctly-rounded and evaluated in the same order by both
  * engines, so (unlike aggregation, where accumulation order varies)
  * plain doubles are hash-safe. The only guarded spots are regex
  * dialect (POSIX-safe patterns only) and engine quirks probed
  * against DuckDB 1.0.0: regexp_replace needs the 'g' flag there,
  * list_position returns 0-when-missing just like Spark, and
  * least/greatest skip NULLs in both.
  */
object Functions {

  /** String family over `part` (p_name is "adjective noun"). */
  val fnString: QDef = q(
    "fn_string",
    """SELECT p_partkey,
      |  upper(p_name) AS up,
      |  lower(p_brand) AS lo,
      |  trim(concat(' ', p_name, ' ')) AS tr,
      |  substring(p_name, 1, 5) AS sub5,
      |  concat_ws('|', p_brand, p_type) AS cw,
      |  lpad(p_brand, 12, '*') AS lp,
      |  length(p_name) AS len,
      |  replace(p_name, 'widget', 'gadget') AS rep,
      |  array_to_string(string_split(p_name, ' '), '|') AS toks,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel
      |FROM part
      |ORDER BY p_partkey""") { (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        trim(concat(lit(" "), col("p_name"), lit(" "))).as("tr"),
        substring(col("p_name"), 1, 5).as("sub5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("cw"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        length(col("p_name")).as("len"),
        regexp_replace(col("p_name"), "widget", "gadget").as("rep"),
        array_join(split(col("p_name"), " "), "|").as("toks"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"))
      .orderBy(col("p_partkey"))
  }

  /** Edit distance + token-set Jaccard (computed explicitly — DuckDB's
    * jaccard() builtin is character-based, not token-based). The
    * division is a single float op on identical integer operands:
    * deterministic (see object scaladoc). */
  val fnStringDistance: QDef = q(
    "fn_string_distance",
    """SELECT doc_id,
      |  levenshtein(substring(text, 1, 30),
      |              replace(substring(text, 1, 30), 'a', '')) AS lev,
      |  len(list_intersect(list_distinct(string_split(text, ' ')),
      |                     ['join', 'filter', 'scan', 'table'])) AS n_common,
      |  CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
      |                          ['join', 'filter', 'scan', 'table'])) AS DOUBLE)
      |    / len(list_distinct(string_split(text, ' ') || ['join', 'filter', 'scan', 'table'])) AS jacc
      |FROM documents
      |ORDER BY doc_id""") { (s, d) =>
    val toks = array_distinct(split(col("text"), " "))
    val ref = array(lit("join"), lit("filter"), lit("scan"), lit("table"))
    val inter = size(array_intersect(toks, ref))
    val uni = size(array_union(split(col("text"), " "), ref))
    Tables.documents(s, d)
      .select(col("doc_id"),
        levenshtein(substring(col("text"), 1, 30),
          regexp_replace(substring(col("text"), 1, 30), "a", "")).as("lev"),
        inter.as("n_common"),
        (inter.cast(DoubleType) / uni).as("jacc"))
      .orderBy(col("doc_id"))
  }

  /** Date family over `orders` (output DATE, never raw timestamp). */
  val fnDate: QDef = q(
    "fn_date",
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CAST(month(o_orderdate) AS INTEGER) AS mo,
      |  CAST(day(o_orderdate) AS INTEGER) AS dy,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  CAST(o_orderdate AS DATE) + 30 AS plus30,
      |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end
      |FROM orders
      |ORDER BY o_orderkey""") { (s, d) =>
    val od = col("o_orderdate")
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        year(od).cast(IntegerType).as("yr"),
        month(od).cast(IntegerType).as("mo"),
        dayofmonth(od).cast(IntegerType).as("dy"),
        date_trunc("month", od).cast(DateType).as("month_start"),
        date_add(od.cast(DateType), 30).as("plus30"),
        datediff(od.cast(DateType), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("days_since"),
        last_day(od.cast(DateType)).as("month_end"))
      .orderBy(col("o_orderkey"))
  }

  /** Math family. sqrt/abs/floor/ceil/sign/mod are IEEE-exact (D6);
    * round happens on DECIMAL (half-up both engines, D7); no exp/log/
    * pow anywhere. All fixture values are positive so % agrees. */
  val fnMath: QDef = q(
    "fn_math",
    """SELECT p_partkey,
      |  abs(p_retailprice - 500.0) AS ab,
      |  CAST(ceil(p_retailprice) AS BIGINT) AS ce,
      |  CAST(floor(p_retailprice) AS BIGINT) AS fl,
      |  sqrt(p_retailprice) AS sq,
      |  CAST(sign(p_size - 25) AS INTEGER) AS sg,
      |  p_size % 7 AS md,
      |  CAST(round(CAST(p_retailprice AS DECIMAL(12,2)), 1) AS DOUBLE) AS rd,
      |  CAST(p_size AS BIGINT) * p_size AS sqsize
      |FROM part
      |ORDER BY p_partkey""") { (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        abs(col("p_retailprice") - 500.0).as("ab"),
        ceil(col("p_retailprice")).as("ce"),
        floor(col("p_retailprice")).as("fl"),
        sqrt(col("p_retailprice")).as("sq"),
        signum(col("p_size") - 25).cast(IntegerType).as("sg"),
        (col("p_size") % 7).as("md"),
        outDouble(round(money(col("p_retailprice")), 1)).as("rd"),
        (col("p_size").cast(LongType) * col("p_size")).as("sqsize"))
      .orderBy(col("p_partkey"))
  }

  /** Array family over tokenized documents. array_distinct's output
    * order is engine-specific — always sorted before output; Spark
    * array_position and DuckDB list_position both return 0 when
    * missing (probed). Array-valued results are serialized with a '|'
    * join (D12: outputs must be flat scalars — the driver's comparer
    * is pandas-based and cannot hash list cells). */
  val fnArray: QDef = q(
    "fn_array",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_toks,
      |  array_to_string(list_sort(list_distinct(string_split(text, ' '))), '|') AS toks_uniq,
      |  list_contains(string_split(text, ' '), 'join') AS has_join,
      |  array_to_string((string_split(text, ' '))[1:5], '|') AS first5,
      |  CAST(list_position(string_split(text, ' '), 'scan') AS BIGINT) AS scan_pos
      |FROM documents
      |ORDER BY doc_id""") { (s, d) =>
    val t = split(col("text"), " ")
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(t).as("n_toks"),
        array_join(sort_array(array_distinct(t)), "|").as("toks_uniq"),
        array_contains(t, "join").as("has_join"),
        array_join(slice(t, 1, 5), "|").as("first5"),
        array_position(t, "scan").as("scan_pos"))
      .orderBy(col("doc_id"))
  }

  /** JSON-string → typed map: keys + element access, scalar output.
    * Key list is sorted (map iteration order is engine-specific) and
    * '|'-joined (D12 flat-output rule). */
  val fnMapJson: QDef = q(
    "fn_map_json",
    """SELECT event_id,
      |  array_to_string(list_sort(CAST(json_keys(props) AS VARCHAR[])), '|') AS ks,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS k2
      |FROM events
      |ORDER BY event_id""") { (s, d) =>
    val m = from_json(col("props"), MapType(StringType, IntegerType))
    Tables.events(s, d)
      .select(col("event_id"),
        array_join(sort_array(map_keys(m)), "|").as("ks"),
        element_at(m, "k").as("k"),
        (element_at(m, "k") * 2).as("k2"))
      .orderBy(col("event_id"))
  }

  /** Conditionals over outer-join-induced NULLs (D5: explicit NULLS
    * FIRST on the nullable sort key; least/greatest skip NULLs in
    * both engines — probed). */
  val fnConditional: QDef = q(
    "fn_conditional",
    """SELECT s_suppkey, l_suppkey,
      |  CASE WHEN s_acctbal IS NULL THEN 'missing'
      |       WHEN s_acctbal > 5000 THEN 'high' ELSE 'low' END AS bal_class,
      |  coalesce(s_name, 'UNKNOWN') AS name_or_unknown,
      |  nullif(coalesce(s_nationkey, -1), -1) AS nation_nullable,
      |  least(s_suppkey, l_suppkey) AS lo_key,
      |  greatest(s_suppkey, l_suppkey) AS hi_key
      |FROM (SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |      FROM supplier WHERE s_suppkey < 60) s
      |FULL JOIN (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_suppkey >= 40) l
      |  ON s_suppkey = l_suppkey
      |ORDER BY s_suppkey NULLS FIRST, l_suppkey NULLS FIRST""") { (s, d) =>
    val sup = Tables.supplier(s, d).filter(col("s_suppkey") < 60)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    val li = Tables.lineitem(s, d).filter(col("l_suppkey") >= 40)
      .select(col("l_suppkey")).distinct()
    sup.join(li, col("s_suppkey") === col("l_suppkey"), "full")
      .select(col("s_suppkey"), col("l_suppkey"),
        when(col("s_acctbal").isNull, "missing")
          .when(col("s_acctbal") > 5000, "high").otherwise("low").as("bal_class"),
        coalesce(col("s_name"), lit("UNKNOWN")).as("name_or_unknown"),
        nullif(coalesce(col("s_nationkey"), lit(-1)), lit(-1)).as("nation_nullable"),
        least(col("s_suppkey"), col("l_suppkey")).as("lo_key"),
        greatest(col("s_suppkey"), col("l_suppkey")).as("hi_key"))
      .orderBy(col("s_suppkey").asc_nulls_first, col("l_suppkey").asc_nulls_first)
  }

  /** Higher-order functions over the embedding vector. Float32→double
    * is exact; `CAST(x AS DOUBLE) * 1000` is ONE correctly-rounded op;
    * floor of that is exact → all downstream arithmetic is on exact
    * BIGINTs, so transform/filter/aggregate results are hash-safe
    * with no rounding escape hatch needed (cf. D10). */
  val fnHigherOrder: QDef = q(
    "fn_higher_order",
    """SELECT vec_id,
      |  len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS n_pos,
      |  list_reduce(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
      |    (a, b) -> a + b) AS sum_milli,
      |  array_to_string(list_transform(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))[1:3],
      |      x -> CAST(x AS VARCHAR)), '|') AS first3_milli
      |FROM embeddings
      |ORDER BY vec_id""") { (s, d) =>
    val milli = transform(col("embedding"),
      x => floor(x.cast(DoubleType) * 1000).cast(LongType))
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x.cast(DoubleType) > 0)).as("n_pos"),
        aggregate(milli, lit(0L), (a, b) => a + b).as("sum_milli"),
        array_join(transform(slice(milli, 1, 3), _.cast(StringType)), "|")
          .as("first3_milli"))
      .orderBy(col("vec_id"))
  }

  /** Bitwise family over the events keys (r11) — the integer-mask
    * toolkit hash-partitioners, bitmap indexes, and feature hashing
    * are built from: AND/OR/XOR/NOT, shifts, popcount, and the
    * power-of-two probe. All operands are int64 and every op is
    * defined bit-identically in both engines (DuckDB spells XOR as
    * `xor()` and NOT as `~`; popcount types differ — pinned to INT,
    * Spark's bit_count type). Pure row-local projection: one scan,
    * no shuffle except the presentation sort. */
  val fnBitwise: QDef = q(
    "fn_bitwise",
    """SELECT event_id,
      |  event_id & 255 AS band,
      |  event_id | 4096 AS bor,
      |  xor(event_id, user_id) AS bxor,
      |  ~event_id AS bnot,
      |  event_id << 3 AS shl,
      |  event_id >> 2 AS shr,
      |  CAST(bit_count(event_id) AS INTEGER) AS pc,
      |  ((event_id & (event_id - 1)) = 0 AND event_id <> 0) AS pow2
      |FROM events
      |ORDER BY event_id""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        col("event_id").bitwiseAND(lit(255L)).as("band"),
        col("event_id").bitwiseOR(lit(4096L)).as("bor"),
        col("event_id").bitwiseXOR(col("user_id")).as("bxor"),
        bitwise_not(col("event_id")).as("bnot"),
        shiftleft(col("event_id"), 3).as("shl"),
        shiftright(col("event_id"), 2).as("shr"),
        bit_count(col("event_id")).as("pc"),
        (col("event_id").bitwiseAND(col("event_id") - 1) === 0 &&
          col("event_id") =!= 0).as("pow2"))
      .orderBy(col("event_id"))
  }

  /** Struct-type family (r11, third session) — the nested-record
    * surface the registry lacked: construction (named_struct / DuckDB
    * struct literal), field extraction (incl. two-level nesting),
    * and whole-struct comparison (equality and the field-order
    * lexicographic `<` both engines define). Outputs stay SCALAR
    * (booleans + extracted fields) per the fn_map_json hash-safety
    * rule — the driver compare never sees a struct cell. Row-local
    * projection: one scan, presentation sort only. */
  val fnStruct: QDef = q(
    "fn_struct",
    """SELECT o_orderkey,
      |  {'k': o_custkey, 'p': CAST(o_totalprice AS DECIMAL(12,2))}
      |    = {'k': o_custkey, 'p': CAST(o_totalprice AS DECIMAL(12,2))} AS eq_self,
      |  {'a': o_custkey, 'b': o_orderkey} < {'a': o_custkey, 'b': o_orderkey + 1} AS lt_next,
      |  {'a': o_custkey, 'b': o_orderkey} < {'a': o_custkey - 1, 'b': o_orderkey} AS lt_first_field,
      |  struct_extract({'k': o_custkey, 's': o_orderstatus}, 's') AS st,
      |  struct_extract(struct_extract(
      |    {'outer': {'x': o_custkey * 3, 'y': o_orderkey}}, 'outer'), 'x') AS nested_x
      |FROM orders
      |ORDER BY o_orderkey""") { (s, d) =>
    val kp = struct(col("o_custkey").as("k"), money(col("o_totalprice")).as("p"))
    val ab = struct(col("o_custkey").as("a"), col("o_orderkey").as("b"))
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        (kp === kp).as("eq_self"),
        (ab < struct(col("o_custkey").as("a"), (col("o_orderkey") + 1).as("b")))
          .as("lt_next"),
        (ab < struct((col("o_custkey") - 1).as("a"), col("o_orderkey").as("b")))
          .as("lt_first_field"),
        struct(col("o_custkey").as("k"), col("o_orderstatus").as("s"))
          .getField("s").as("st"),
        struct(struct((col("o_custkey") * 3).as("x"), col("o_orderkey").as("y"))
          .as("outer")).getField("outer").getField("x").as("nested_x"))
      .orderBy(col("o_orderkey"))
  }

  /** Error-safe function family (r11c) — the `try_*` surface that
    * turns runtime errors into NULLs: `try_divide` (÷0 → NULL, the
    * oracle's CASE guard), `try_cast` on un-parseable strings and
    * dates, and the COALESCE fallback idiom built on them. Row-local
    * projection; the division pairs double operands so the one float
    * op is identical in both engines. */
  val fnTrySafe: QDef = q(
    "fn_try_safe",
    """SELECT o_orderkey,
      |  CASE WHEN o_custkey % 10 = 0 THEN NULL
      |    ELSE CAST(o_orderkey AS DOUBLE) / (o_custkey % 10) END AS safe_div,
      |  TRY_CAST(o_orderstatus AS INTEGER) AS bad_int,
      |  TRY_CAST(CAST(o_orderkey AS VARCHAR) AS INTEGER) AS good_int,
      |  TRY_CAST('2024-13-45' AS DATE) AS bad_date,
      |  COALESCE(TRY_CAST(o_orderstatus AS INTEGER), -1) AS fallback
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        try_divide(col("o_orderkey").cast(DoubleType), col("o_custkey") % 10)
          .as("safe_div"),
        expr("try_cast(o_orderstatus as int)").as("bad_int"),
        expr("try_cast(cast(o_orderkey as string) as int)").as("good_int"),
        expr("try_cast('2024-13-45' as date)").as("bad_date"),
        coalesce(expr("try_cast(o_orderstatus as int)"), lit(-1)).as("fallback"))
      .orderBy(col("o_orderkey"))
  }

  /** URL parsing family (r12) — the web-log/crawl-metadata surface:
    * HOST / PATH / QUERY / REF extraction plus a named query
    * parameter, over URLs CONSTRUCTED from customer fields (the
    * fixtures carry no URL column; construction makes every URL
    * well-formed, so Spark's java.net.URI-backed `parse_url` and the
    * oracle's anchored regexes agree by construction — malformed-URL
    * edge semantics are engine-specific and deliberately out of
    * scope). Row-local projection; one scan, no shuffle but the
    * presentation sort. */
  val fnUrlParse: QDef = q(
    "fn_url_parse",
    """WITH u AS (
      |  SELECT c_custkey,
      |    'https://www.shop-' || (c_custkey % 7) || '.example.com/seg/'
      |      || lower(c_mktsegment) || '?k=' || c_custkey || '&page='
      |      || (c_custkey % 10) || '#frag' || (c_custkey % 3) AS url
      |  FROM customer)
      |SELECT c_custkey, url,
      |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
      |  regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
      |  regexp_extract(url, '\?([^#]*)', 1) AS query,
      |  regexp_extract(url, '[?&]k=([^&#]*)', 1) AS k_param,
      |  regexp_extract(url, '#(.*)$', 1) AS fragment
      |FROM u ORDER BY c_custkey""") { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        concat(lit("https://www.shop-"), col("c_custkey") % 7,
          lit(".example.com/seg/"), lower(col("c_mktsegment")),
          lit("?k="), col("c_custkey"), lit("&page="), col("c_custkey") % 10,
          lit("#frag"), col("c_custkey") % 3).as("url"))
      .select(col("c_custkey"), col("url"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY")).as("query"),
        parse_url(col("url"), lit("QUERY"), lit("k")).as("k_param"),
        parse_url(col("url"), lit("REF")).as("fragment"))
      .orderBy(col("c_custkey"))
  }

  /** Calendar-dimension family (r12i) — the date functions `fn_date`
    * leaves out, each probed for cross-engine agreement: quarter;
    * ISO day-of-week (Spark has no isodow — weekday()+1 gives the
    * identical Mon=1..Sun=7 numbering); ISO week-of-year (both
    * engines are ISO-8601: 1995-01-01 is week 52 of 1994 in both,
    * probed); month addition WITH end-of-month clamping (Spark
    * add_months and DuckDB + INTERVAL both clamp Jan 31 + 1mo →
    * Feb 28, probed); next-Monday (Spark next_day is strictly-after —
    * DuckDB spells the same rule as isodow arithmetic with the
    * Monday→+7 wrap); and a month-end flag. All row-local projection,
    * zero shuffles beyond the presentation sort. */
  val fnDateAdvanced: QDef = q(
    "fn_date_advanced",
    """SELECT o_orderkey,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |  CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
      |  CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
      |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
      |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2_months,
      |  CAST(o_orderdate AS DATE) + CAST(CASE WHEN isodow(o_orderdate) = 1
      |    THEN 7 ELSE 8 - isodow(o_orderdate) END AS INTEGER) AS next_monday,
      |  CAST(o_orderdate AS DATE) = last_day(CAST(o_orderdate AS DATE))
      |    AS is_month_end
      |FROM orders
      |ORDER BY o_orderkey""") { (s, d) =>
    val od = col("o_orderdate")
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        quarter(od).cast(IntegerType).as("qtr"),
        (weekday(od) + 1).cast(IntegerType).as("iso_dow"),
        weekofyear(od).cast(IntegerType).as("iso_week"),
        date_trunc("quarter", od).cast(DateType).as("quarter_start"),
        add_months(od.cast(DateType), 2).as("plus_2_months"),
        next_day(od.cast(DateType), "Mon").as("next_monday"),
        (od.cast(DateType) === last_day(od.cast(DateType)))
          .as("is_month_end"))
      .orderBy(col("o_orderkey"))
  }

  /** XML ingestion surface (r15f) — the `fn_map_json` twin for XML:
    * per-order XML fragments (built from base columns — the fixture
    * has no XML source, so the op grades the PARSE path round-trip)
    * parsed back with Spark's native from_xml, fields extracted and
    * re-aggregated. The oracle computes the identical aggregate from
    * the base columns directly (DuckDB 1.0.0 has no XML reader) —
    * any from_xml extraction drift (type coercion, whitespace,
    * escaping) breaks the hash. The string field is XML-escaped when
    * the fragment is built (&amp; &lt; &gt;, in that order) and
    * from_xml unescapes it on the way back, so the round trip holds
    * for ARBITRARY fixture strings — not just the current
    * '1-URGENT'..'5-LOW' values (ADVICE r15: a plain concat would
    * have made any '&'/'<' silently parse to NULL and diverge from
    * the base-column oracle). */
  val fnXmlParse: QDef = q(
    "fn_xml_parse",
    """SELECT o_orderpriority AS priority,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM orders GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val xml = Tables.orders(s, d)
      .select(concat(lit("<o><k>"), col("o_orderkey"),
        lit("</k><p>"),
        expr("replace(replace(replace(o_orderpriority," +
          " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"),
        lit("</p><c>"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast(LongType),
        lit("</c></o>")).as("x"))
    val parsed = xml.select(from_xml(col("x"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", LongType),
        org.apache.spark.sql.types.StructField("p", StringType),
        org.apache.spark.sql.types.StructField("c", LongType)))).as("v"))
    parsed.groupBy(col("v.p").as("priority"))
      .agg(count(lit(1)).as("n"), sum(col("v.k")).as("sum_keys"),
        sum(col("v.c")).as("sum_cents"))
      .orderBy(col("priority"))
  }

  /** VARIANT ingestion surface (r15f) — Spark 4's semi-structured
    * type, graded end-to-end: events.props JSON parsed to VARIANT
    * with parse_json, the 'k' field extracted back with variant_get
    * (typed path), aggregated per event type. `fn_map_json` grades
    * the from_json/schema path; this grades the schemaless VARIANT
    * path a lakehouse ingest actually uses for evolving payloads. The
    * oracle reads the same field with DuckDB's json_extract. Output
    * is flat scalars only (VARIANT itself never reaches the
    * output). */
  val fnVariantJson: QDef = q(
    "fn_variant_json",
    """SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS min_k,
      |  CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** Cryptographic digest surface (r16) — the hash functions a
    * pipeline keys provenance, sharding and dedup on, graded
    * end-to-end across engines: md5 and SHA-256 hex digests of a
    * canonical '|'-joined rendering (the `dq_table_checksum` row
    * spelling), plus first-hex-digit bucket counts per digest — the
    * uniformity a hash-partitioner relies on. Row-local; one 16-group
    * agg per digest. Spark `sha2(x, 256)` ≡ DuckDB `sha256(x)`
    * (lowercase hex both). xxhash64 has no DuckDB twin — it stays
    * covered by ShingleExpressionsSpec, not an oracle. */
  val fnHashDigests: QDef = q(
    "fn_hash_digests",
    """WITH h AS (
      |  SELECT c_custkey,
      |    md5(c_name || '|' || CAST(c_custkey AS VARCHAR)) AS d_md5,
      |    sha256(c_name || '|' || CAST(c_custkey AS VARCHAR)) AS d_sha
      |  FROM customer)
      |SELECT substr(d_md5, 1, 1) AS md5_bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_md5,
      |  CAST(SUM(CASE WHEN substr(d_sha, 1, 1) = substr(d_md5, 1, 1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sha_same_bucket,
      |  MIN(d_md5) AS min_md5, MIN(d_sha) AS min_sha
      |FROM h GROUP BY md5_bucket
      |ORDER BY md5_bucket""") { (s, d) =>
    val h = Tables.customer(s, d)
      .select(col("c_custkey"),
        md5(concat_ws("|", col("c_name"),
          col("c_custkey").cast(StringType))).as("d_md5"),
        sha2(concat_ws("|", col("c_name"),
          col("c_custkey").cast(StringType)), 256).as("d_sha"))
    h.groupBy(substring(col("d_md5"), 1, 1).as("md5_bucket"))
      .agg(count(lit(1)).as("n_md5"),
        sum(when(substring(col("d_sha"), 1, 1) ===
          substring(col("d_md5"), 1, 1), 1L).otherwise(0L))
          .as("n_sha_same_bucket"),
        min(col("d_md5")).as("min_md5"), min(col("d_sha")).as("min_sha"))
      .orderBy(col("md5_bucket"))
  }

  /** Binary codec functions (r17) — the base64/hex encode-decode leg
    * of the functions family (`fn_hash_digests` covers digests): doc
    * text prefixes through encode → base64 → from_base64 → decode
    * roundtrip with the ok-flag graded, plus lowercase hex and byte
    * length. CROSS-ENGINE CASE NOTE: Spark's hex() emits UPPERCASE,
    * DuckDB's lowercase — both sides spell lower(hex(…)) so the one
    * spelling is the graded one. Row-local, one scan + sort. */
  val fnBinaryCodecs: QDef = q(
    "fn_binary_codecs",
    """SELECT doc_id,
      |  base64(encode(substr(text, 1, 16))) AS b64,
      |  lower(hex(encode(substr(text, 1, 8)))) AS hx,
      |  CAST(octet_length(encode(substr(text, 1, 16))) AS BIGINT) AS blen,
      |  CAST(decode(from_base64(base64(encode(substr(text, 1, 16)))))
      |    = substr(text, 1, 16) AS INT) AS rt_ok
      |FROM documents ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        base64(encode(substring(col("text"), 1, 16), "UTF-8")).as("b64"),
        lower(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("hx"),
        octet_length(encode(substring(col("text"), 1, 16), "UTF-8"))
          .cast(LongType).as("blen"),
        (decode(unbase64(base64(encode(substring(col("text"), 1, 16),
          "UTF-8"))), "UTF-8") === substring(col("text"), 1, 16))
          .cast(IntegerType).as("rt_ok"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QDef] = Seq(
    fnString, fnStringDistance, fnDate, fnMath, fnArray,
    fnMapJson, fnConditional, fnHigherOrder, fnBitwise, fnStruct,
    fnTrySafe, fnUrlParse, fnDateAdvanced, fnXmlParse, fnVariantJson,
    fnHashDigests, fnBinaryCodecs)
}
