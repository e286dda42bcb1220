package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** SURVEY.md §2.1 — scans, sources, sinks.
  *
  * Both queries are single-stage scan pipelines: the filter and the
  * 4-column projection reach the parquet reader (PushedFilters +
  * ReadSchema in `.explain`), so at 100 TB only the matching row
  * groups and referenced columns are ever read.
  */
object Scans {

  /** Monotone tag for per-invocation bucketed-table names (see
    * join_bucketed_colo). */
  private[ops] val bucketedRunTag = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Projection + row-group-prunable predicate on the fact table. */
  val scanParquetProject: QDef = q(
    "scan_parquet_project",
    """SELECT l_orderkey, l_linenumber, l_quantity,
      |       CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber, l_quantity, ship_date""") { (s, d) =>
    // (l_orderkey, l_linenumber) is NOT unique in the fixtures — order
    // by every output column so tied rows are identical tuples (D1).
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast(TimestampType))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_shipdate").cast(DateType).as("ship_date"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("ship_date"))
  }

  /** JSON-in-string extraction (events.props = {"k": <int>}). */
  val sourceJsonProps: QDef = q(
    "source_json_props",
    """SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |FROM events
      |ORDER BY event_id""") { (s, d) =>
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .orderBy(col("event_id"))
  }

  /** CSV sink + source round trip, oracle-graded: write the supplier
    * table to CSV (quoted header files), read it back with an EXPLICIT
    * schema (schema inference is banned — SURVEY §7), and prove the
    * round trip lossless against the parquet original. Doubles survive
    * because the writer emits shortest-round-trip representations;
    * strings survive via standard CSV quoting. Each call writes to a
    * fresh temp directory, so concurrent harness runs cannot collide. */
  val sourceCsvRoundtrip: QDef = q(
    "source_csv_roundtrip",
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier
      |ORDER BY s_suppkey""") { (s, d) =>
    val out = graft.TempDirs.create("graft_csv")
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType)))
    s.read.option("header", "true").schema(schema).csv(out)
      .orderBy(col("s_suppkey"))
  }

  /** Partitioned parquet sink + partition-pruned read, oracle-graded:
    * events written `partitionBy(event_type)`, then read back with an
    * `event_type = 'click'` filter — the filter prunes to ONE
    * partition directory (no other partition's files are listed or
    * read; at 100 TB this is the difference between scanning 1/5 of
    * the lake and all of it). The graded output is the per-day click
    * aggregate computed from the pruned read. Fresh temp dir per call. */
  val sourcePartitionedPrune: QDef = q(
    "source_partitioned_prune",
    """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_type = 'click'
      |GROUP BY day
      |ORDER BY day""") { (s, d) =>
    val out = graft.TempDirs.create("graft_part")
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        money(col("value")).as("v"), to_date(col("ts")).as("day"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.read.parquet(out)
      .filter(col("event_type") === "click")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), outDouble(sum(col("v"))).as("sum_value"))
      .orderBy(col("day"))
  }

  /** Bucketed co-located fact⋈fact join, oracle-graded: both orders
    * and lineitem are laid out bucketed (and per-bucket sorted) on the
    * order key, so the join needs NO shuffle exchange on either side —
    * the layout cost is paid once and every downstream orderkey join
    * is exchange-free (BucketingSpec asserts the plan shape). This is
    * the 100 TB answer for the repeated fact⋈fact join a broadcast
    * can't cover. Table names are unique per invocation (see the
    * in-body note) so concurrent registry sweeps never collide. */
  val joinBucketedColo: QDef = q(
    "join_bucketed_colo",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    // Phase attribution (VERDICT r7 item 4): the timed region is
    // write-dominated BY DESIGN — the two bucketed catalog writes ARE
    // the operator (the layout is what buys the exchange-free join).
    // Surface the layout-write seconds on stderr (like the CC loop's
    // pairs_s/loop_s) so the scored total stays attributable and a
    // read-side regression can't hide under the write noise:
    // join-read ≈ bench total − layout_s.
    val t0 = System.nanoTime()
    // Unique per-invocation table names (r13): CREATE TABLE is not
    // idempotent, so two registry-sweep suites constructing this key
    // CONCURRENTLY raced the fixed names (TABLE_ALREADY_EXISTS).
    // Every invocation still pays the full layout write — the benched
    // semantics are unchanged — and the tables land in the session's
    // temp warehouse, which the harness deletes at JVM exit.
    val tag = Scans.bucketedRunTag.incrementAndGet()
    val ordersTable = s"graft_b_orders_$tag"
    val lineitemTable = s"graft_b_lineitem_$tag"
    graft.sources.Bucketing.writeBucketed(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
      ordersTable, "o_orderkey", 8)
    graft.sources.Bucketing.writeBucketed(
      Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_extendedprice"), col("l_quantity")),
      lineitemTable, "l_orderkey", 8)
    System.err.println(f"[join_bucketed_colo] layout_s=${(System.nanoTime() - t0) / 1e9}%.2f")
    // MERGE hint: at fixture scale the planner would broadcast the
    // orders side and never consult the bucketed layout; at 100 TB
    // neither side is broadcastable and sort-merge over the bucketed
    // distribution (no exchange, no sort) is the only sane plan — the
    // hint makes the graded plan BE that plan.
    s.table(ordersTable).hint("merge")
      .join(s.table(lineitemTable), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sumMoney(col("l_extendedprice")).as("revenue"),
        sumQty(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** Range-partitioned, per-file-sorted parquet layout + min/max
    * row-group pruning, oracle-graded: orders written
    * `repartitionByRange(o_orderdate).sortWithinPartitions(o_orderdate)`
    * — the sort-by-time layout (Z-order's 1-D case) every event lake
    * uses — then read back with a one-year predicate. Because each
    * file covers a disjoint date range, the pushed filter's min/max
    * stats skip every non-matching row group; at 100 TB that is the
    * difference between reading one year and reading the lake. Graded
    * output: monthly totals from the pruned read. */
  val sourceSortedRanges: QDef = q(
    "source_sorted_ranges",
    """SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY month
      |ORDER BY month""") { (s, d) =>
    val out = graft.TempDirs.create("graft_ranges")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-01-01 00:00:00").cast(TimestampType))
      .groupBy(trunc(col("o_orderdate").cast(DateType), "month").as("month"))
      .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("sum_total"))
      .orderBy(col("month"))
  }

  /** Parquet schema evolution: two generations of files under one
    * directory — an old shape (key, price) and a new shape (key,
    * price, priority) — read back as one table via mergeSchema, the
    * widened column null-filled for old files. This is how a lake
    * absorbs a producer adding a column without rewriting history.
    * Generations are md5-split so membership is engine-independent;
    * graded as per-(priority-presence) counts and exact totals. */
  val sourceSchemaMerge: QDef = q(
    "source_schema_merge",
    """WITH g AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
      |    o_orderpriority,
      |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::INT % 2 AS gen
      |  FROM orders),
      |merged AS (
      |  SELECT o_orderkey, price,
      |    CASE WHEN gen = 1 THEN o_orderpriority END AS o_orderpriority
      |  FROM g)
      |SELECT COALESCE(o_orderpriority, '(pre-evolution)') AS priority,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(price) AS DOUBLE) AS sum_price
      |FROM merged
      |GROUP BY priority
      |ORDER BY priority""") { (s, d) =>
    val out = graft.TempDirs.create("graft_evo")
    val g = Tables.orders(s, d)
      .select(col("o_orderkey"), money(col("o_totalprice")).as("price"),
        col("o_orderpriority"),
        (conv(substring(md5(col("o_orderkey").cast(StringType)), 1, 4), 16, 10)
          .cast(IntegerType) % 2).as("gen"))
    g.filter(col("gen") === 0)
      .select(col("o_orderkey"), col("price"))
      .write.mode("overwrite").parquet(s"$out/gen0")
    g.filter(col("gen") === 1)
      .select(col("o_orderkey"), col("price"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/gen1")
    s.read.option("mergeSchema", "true").parquet(s"$out/gen0", s"$out/gen1")
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)")).as("priority"))
      .agg(count(lit(1)).as("n"), outDouble(sum(col("price"))).as("sum_price"))
      .orderBy(col("priority"))
  }

  /** ORC sink + source round trip, oracle-graded: orders written to
    * ORC (Spark's other built-in columnar format — the
    * format-portability story next to parquet/CSV/JSON) and read
    * back. The graded per-priority aggregate carries a decimal total
    * AND epoch-exact min/max order timestamps, so any lossy decimal
    * or timestamp conversion through the ORC writer/reader flips the
    * hash (the oracle computes the same aggregate from the parquet
    * original). Fresh TempDirs scratch dir per call. */
  val sourceOrcRoundtrip: QDef = q(
    "source_orc_roundtrip",
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |       date_trunc('second', MIN(o_orderdate))) AS BIGINT) AS first_s,
      |  CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |       date_trunc('second', MAX(o_orderdate))) AS BIGINT) AS last_s
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    val out = graft.TempDirs.create("graft_orc")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderdate"))
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total_price"),
        tsSec(min(col("o_orderdate"))).cast(LongType).as("first_s"),
        tsSec(max(col("o_orderdate"))).cast(LongType).as("last_s"))
      .orderBy(col("o_orderpriority"))
  }

  /** JSON-lines sink + source round trip, oracle-graded with the
    * same lossiness trap as the ORC twin: decimal totals and
    * epoch-exact timestamps survive only if the JSON writer's decimal
    * rendering and ISO-8601 timestamp format round-trip exactly
    * (read back under an EXPLICIT schema — inference stays banned).
    * Completes the sink/source matrix: parquet (plain, partitioned,
    * bucketed, range-sorted, schema-merged), CSV, ORC, JSON. */
  val sourceJsonRoundtrip: QDef = q(
    "source_json_roundtrip",
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |       date_trunc('second', MIN(o_orderdate))) AS BIGINT) AS first_s
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    val out = graft.TempDirs.create("graft_jsonl")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        money(col("o_totalprice")).as("o_totalprice"), col("o_orderdate"))
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DecimalType(12, 2)),
      StructField("o_orderdate", TimestampType)))
    s.read.schema(schema).json(out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total_price"),
        tsSec(min(col("o_orderdate"))).cast(LongType).as("first_s"))
      .orderBy(col("o_orderpriority"))
  }

  /** Dynamic partition pruning, oracle-graded (VERDICT r7 item 1):
    * orders laid out `partitionBy(order year)` — the canonical
    * date-partitioned fact — joined to a small year-dim whose filter
    * is on a NON-key attribute (`band`), so static pruning cannot
    * touch the fact scan: only at runtime, once the dim's surviving
    * keys are known, can partitions be skipped. Catalyst's DPP
    * inserts a `dynamicpruningexpression` into the fact scan's
    * PartitionFilters (reusing the dim's broadcast, so the subquery
    * is free) and 4 of the 7 year directories are never listed or
    * read — at 100 TB this is THE scan-cost lever for every
    * partitioned-fact ⋈ filtered-dim query. DppSpec asserts the
    * pruning fires (plan + runtime partition-count metric); this
    * graded key pins the aggregate's correctness through the oracle. */
  val joinDppPartitioned: QDef = q(
    "join_dpp_partitioned",
    """WITH fact AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
      |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders),
      |dim AS (
      |  SELECT y, CASE WHEN y <= 1997 THEN 'early' ELSE 'late' END AS band
      |  FROM (SELECT DISTINCT y FROM fact))
      |SELECT fact.y AS y, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(fact.price) AS DOUBLE) AS total_price
      |FROM fact JOIN dim ON fact.y = dim.y
      |WHERE dim.band = 'early'
      |GROUP BY fact.y
      |ORDER BY y""") { (s, d) =>
    val out = graft.TempDirs.create("graft_dpp")
    val withYear = Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("y"),
        money(col("o_totalprice")).as("price"))
    // 7 year directories; repartition by y first so each write task
    // owns whole partitions (one file per directory, not 32×7 shards).
    withYear.repartition(col("y"))
      .write.mode("overwrite").partitionBy("y").parquet(s"$out/fact")
    withYear.select(col("y")).distinct()
      .withColumn("band", when(col("y") <= 1997, "early").otherwise("late"))
      .write.mode("overwrite").parquet(s"$out/dim")
    val fact = s.read.parquet(s"$out/fact")
    val dim = s.read.parquet(s"$out/dim").filter(col("band") === "early")
    // Join directly on the raw partition attribute (any expression
    // around it would disqualify the scan from DPP).
    fact.join(dim, fact("y") === dim("y"))
      .groupBy(fact("y"))
      .agg(count(lit(1)).as("n_orders"),
        outDouble(sum(col("price"))).as("total_price"))
      .orderBy(col("y"))
  }

  /** CSV quoting/escaping round trip (r12) — `source_csv_roundtrip`
    * proves the happy path; this one proves the HOSTILE path: fields
    * containing the delimiter, the quote character, and an embedded
    * newline (constructed deterministically from fixture columns)
    * survive a write+read cycle byte-for-byte. Written with explicit
    * quoteAll + doubled-quote escaping (the RFC-4180 convention; the
    * default backslash escape is NOT RFC and trips other readers),
    * read back with multiLine (embedded newlines span physical
    * lines — at scale multiLine files are not arbitrarily splittable,
    * WHICH IS THE POINT of grading it: the cost is visible, the
    * correctness is certified). The oracle recomputes the same
    * construction from parquet — it never touches the CSV, so the
    * grade certifies Spark's sink+source losslessness. */
  val sourceCsvQuoted: QDef = q(
    "source_csv_quoted",
    """SELECT doc_id,
      |  source || ',' || chr(10) || '"' || lang || '"-end' AS hostile,
      |  length(source || ',' || chr(10) || '"' || lang || '"-end') AS len
      |FROM documents
      |ORDER BY doc_id""") { (s, d) =>
    val out = graft.TempDirs.create("graft_csvq")
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("source"), lit(",\n\""), col("lang"), lit("\"-end"))
          .as("hostile"))
      .write.mode("overwrite").option("header", "true")
      .option("quoteAll", "true").option("escape", "\"")
      .csv(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("hostile", StringType)))
    s.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").schema(schema).csv(out)
      .select(col("doc_id"), col("hostile"),
        length(col("hostile")).cast(LongType).as("len"))
      .orderBy(col("doc_id"))
  }

  /** Plain-text sink + source round trip (r12) — the last built-in
    * format the sink/source matrix lacked: one delimited record per
    * line via `write.text`, parsed back with `read.text` + split.
    * Line-oriented text is the lowest-common-denominator exchange
    * format (and the shape of most raw crawl/WET inputs at 100 TB:
    * splittable, schema-on-read). The payload carries doc_id, lang
    * and the text's md5, so a lost or reordered byte anywhere flips
    * the grade; the oracle recomputes from parquet and never sees
    * the text files. */
  val sourceTextLines: QDef = q(
    "source_text_lines",
    """SELECT doc_id, lang, md5(text) AS text_md5
      |FROM documents
      |ORDER BY doc_id""") { (s, d) =>
    val out = graft.TempDirs.create("graft_text")
    Tables.documents(s, d)
      .select(concat_ws("|", col("doc_id"), col("lang"), md5(col("text")))
        .as("value"))
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .select(split(col("value"), "\\|").as("f"))
      .select(col("f").getItem(0).cast(LongType).as("doc_id"),
        col("f").getItem(1).as("lang"),
        col("f").getItem(2).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** binaryFile ingest (r12) — the multimodal-lake entry surface:
    * opaque files on disk become (path, length, bytes) rows. Per-lang
    * payloads (each doc's text-md5 concatenated in doc_id order) are
    * laid out as one file per lang via a partitionBy text write, then
    * re-ingested with `format("binaryFile")`; the grade is (lang,
    * byte length, md5 of the raw bytes) — any byte drift in either
    * direction flips it. The oracle rebuilds the same payload from
    * parquet with an ordered string_agg. At 100 TB this is exactly
    * how image/audio corpora enter Spark (binaryFile scan per file,
    * metadata columns pruned before bytes are touched). */
  val sourceBinaryFiles: QDef = q(
    "source_binary_files",
    """WITH payload AS (
      |  SELECT lang,
      |    string_agg(md5(text), '' ORDER BY doc_id) || chr(10) AS body
      |  FROM documents GROUP BY lang)
      |SELECT lang, CAST(length(body) AS BIGINT) AS n_bytes,
      |  md5(body) AS content_md5
      |FROM payload
      |ORDER BY lang""") { (s, d) =>
    val out = graft.TempDirs.create("graft_bin")
    // one row per lang -> partitionBy writes exactly one text file per
    // lang directory whose bytes are payload + '\n'
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("lang"))
      .agg(concat_ws("", array_sort(collect_list(struct(col("doc_id"), col("h"))))
        .getField("h")).as("value"))
      .select(col("lang"), col("value"))
      .write.mode("overwrite").partitionBy("lang").text(out)
    s.read.format("binaryFile").load(s"$out/lang=*")
      .select(regexp_extract(col("path"), "lang=([^/]+)", 1).as("lang"),
        col("length").as("n_bytes"), md5(col("content")).as("content_md5"))
      .orderBy(col("lang"))
  }

  /** Bit-interleave term shared verbatim by the Spark and oracle forms
    * of `layout_zorder_skipping` (only the shift spelling differs:
    * Spark SQL has `shiftright`, DuckDB the `>>` operator). */
  private def zTerms(a: String, b: String, spark: Boolean): String =
    (0 to 7).map { i =>
      val sa = if (spark) s"shiftright($a, $i)" else s"($a >> $i)"
      val sb = if (spark) s"shiftright($b, $i)" else s"($b >> $i)"
      s"($sa & 1) * ${1L << (2 * i)} + ($sb & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-order layout audit (r12d): the data-skipping win of Z-ordering,
    * measured. Orders get two candidate layouts — `linear` (insertion
    * order: 1024-key o_orderkey blocks) and `zorder` (1024-value
    * blocks of the 16-bit Morton interleave of the two filter dims) —
    * and each block keeps parquet-style min/max stats on both dims.
    * For a fixed 2-D predicate the audit reports, per layout, how many
    * blocks a min/max-pruning scanner must read and how many rows
    * that is, against the identical matched-row count. This is the
    * decision table for 100 TB table maintenance: row groups are
    * blocks, `OPTIMIZE ZORDER BY` is the z layout, and the rows_scanned
    * column is the I/O bill — computed with two count-aggregates, no
    * sort of the data itself (the z-value is a row-local expression,
    * the block stats a partial+final agg). Morton order: Orenstein &
    * Merrett 1984. */
  val layoutZorderSkipping: QDef = q(
    "layout_zorder_skipping",
    s"""WITH base AS (
      |  SELECT o_orderkey, o_custkey % 256 AS ck,
      |    (date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) % 256) AS dy
      |  FROM orders),
      |z AS (SELECT o_orderkey, ck, dy,
      |  (${zTerms("ck", "dy", spark = false)}) AS zv FROM base),
      |both_layouts AS (
      |  SELECT 'linear' AS layout, o_orderkey // 1024 AS blk, ck, dy FROM z
      |  UNION ALL
      |  SELECT 'zorder' AS layout, zv // 1024 AS blk, ck, dy FROM z),
      |blocks AS (
      |  SELECT layout, blk, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    MIN(ck) AS min_ck, MAX(ck) AS max_ck,
      |    MIN(dy) AS min_dy, MAX(dy) AS max_dy,
      |    CAST(SUM(CASE WHEN ck BETWEEN 32 AND 47 AND dy BETWEEN 64 AND 95
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      |  FROM both_layouts GROUP BY layout, blk)
      |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(CASE WHEN min_ck <= 47 AND max_ck >= 32
      |    AND min_dy <= 95 AND max_dy >= 64 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_scanned,
      |  CAST(SUM(CASE WHEN min_ck <= 47 AND max_ck >= 32
      |    AND min_dy <= 95 AND max_dy >= 64 THEN n_rows ELSE 0 END) AS BIGINT)
      |    AS rows_scanned,
      |  CAST(SUM(n_match) AS BIGINT) AS rows_matched
      |FROM blocks GROUP BY layout ORDER BY layout""") { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      (col("o_custkey") % 256).as("ck"),
      (datediff(col("o_orderdate").cast(DateType),
        lit("1995-01-01").cast(DateType)) % 256).as("dy"))
    val z = base.withColumn("zv",
      expr(zTerms("ck", "dy", spark = true)).cast(LongType))
    val layouts = z.select(lit("linear").as("layout"),
        expr("o_orderkey div 1024").cast(LongType).as("blk"), col("ck"), col("dy"))
      .unionAll(z.select(lit("zorder").as("layout"),
        expr("zv div 1024").cast(LongType).as("blk"), col("ck"), col("dy")))
    val hit = col("ck").between(32, 47) && col("dy").between(64, 95)
    val blocks = layouts.groupBy(col("layout"), col("blk"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
        min(col("dy")).as("min_dy"), max(col("dy")).as("max_dy"),
        sum(when(hit, 1L).otherwise(0L)).as("n_match"))
    val scanned = col("min_ck") <= 47 && col("max_ck") >= 32 &&
      col("min_dy") <= 95 && col("max_dy") >= 64
    blocks.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(scanned, 1L).otherwise(0L)).as("n_scanned"),
        sum(when(scanned, col("n_rows")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_match")).as("rows_matched"))
      .orderBy(col("layout"))
  }

  /** Nested-parquet roundtrip (r12m) — every other source key reads
    * FLAT schemas; real lakehouse tables carry structs and arrays.
    * This writes one row per customer as (cust STRUCT<key, segment>,
    * order_cents ARRAY<BIGINT>) — the array from a LEFT join so
    * order-less customers land with an EMPTY array, not a dropped
    * row — reads it back, projects THROUGH the struct
    * (`cust.segment`: schema pruning must reach the parquet column
    * chunks) and folds the array row-locally (size +
    * functions.aggregate sum — no explode, no shuffle for the array
    * math). The oracle computes the same rollup from the flat
    * tables, so the hash match certifies the nested write→read→
    * project→fold path end to end. Array element order never
    * matters (size and sum are permutation-invariant — the only
    * deterministic contract a distributed collect_list offers). */
  val sourceParquetNested: QDef = q(
    "source_parquet_nested",
    """WITH j AS (
      |  SELECT c.c_custkey, c.c_mktsegment,
      |    CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey)
      |SELECT c_mktsegment AS segment,
      |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
      |  CAST(COUNT(cents) AS BIGINT) AS n_orders,
      |  CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS total_cents
      |FROM j GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val out = graft.TempDirs.create("graft_nested")
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .select(col("o_custkey"),
            (money(col("o_totalprice")) * 100).cast(LongType).as("cents")),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(collect_list(col("cents")).as("order_cents"))
      .select(struct(col("c_custkey").as("key"),
          col("c_mktsegment").as("segment")).as("cust"),
        col("order_cents"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .select(col("cust.segment").as("segment"),
        size(col("order_cents")).cast(LongType).as("n"),
        aggregate(col("order_cents"), lit(0L), (acc, x) => acc + x)
          .as("cents"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"), sum(col("n")).as("n_orders"),
        sum(col("cents")).as("total_cents"))
      .orderBy(col("segment"))
  }

  /** PERMISSIVE corrupt-record audit (r12o) — what a real ingest does
    * with a dirty JSONL feed: quarantine the unparsable lines, keep
    * the rest, and report both counts. The corruption is PLANTED
    * deterministically (every doc_id ≡ 0 mod 7 line gets a '###'
    * prefix — invalid JSON by construction), written as text, and
    * read back under an EXPLICIT schema with a _corrupt_record
    * column in PERMISSIVE mode. The oracle never parses the dirty
    * file — it computes the expected per-language valid census and
    * the corrupt total straight from the plant rule, so the hash
    * match certifies that Spark's malformed-record machinery
    * quarantines EXACTLY the planted lines (no false drops, no
    * silent repairs). Scan-parallel end to end; the one shuffle is
    * the ≤6-group census. */
  val sourceJsonCorruptAudit: QDef = q(
    "source_json_corrupt_audit",
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM documents WHERE doc_id % 7 <> 0
      |GROUP BY lang
      |UNION ALL
      |SELECT '__corrupt__' AS lang, CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM documents WHERE doc_id % 7 = 0
      |ORDER BY lang""") { (s, d) =>
    val out = graft.TempDirs.create("graft_dirty_jsonl")
    Tables.documents(s, d)
      .select(when(col("doc_id") % 7 === 0,
          concat(lit("###"), to_json(struct(col("doc_id"), col("lang")))))
        .otherwise(to_json(struct(col("doc_id"), col("lang"))))
        .as("value"))
      .write.mode("overwrite").text(out)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .select(when(col("_corrupt_record").isNotNull, "__corrupt__")
        .otherwise(col("lang")).as("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("lang"))
  }

  /** Clustering-depth layout audit (r16) — the metric a table-layout
    * optimizer (Delta OPTIMIZE / ZORDER) reports: how many zone-stat
    * intervals OVERLAP under a given row order. 64-row zones of
    * `orders` under (a) natural key order and (b) value-sorted order;
    * per zone the [min,max] of order cents, then the overlapping
    * zone-PAIR count — value-sorted zones only overlap where a tie
    * straddles a boundary, natural order overlaps almost everywhere,
    * and the ppm gap is exactly the row-group-skipping benefit a sort
    * would buy (`layout_zorder_skipping` grades the scan BILL; this
    * grades the STAT-OVERLAP structure that causes it). Zones are
    * metadata-scale (n/64 rows), so the pair check is a broadcast
    * zone×zone join — at 100 TB zone stats ARE the parquet footer
    * stats, still metadata. */
  val layoutClusteringDepth: QDef = q(
    "layout_clustering_depth",
    """WITH v AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders),
      |zr AS (
      |  SELECT 'natural' AS layout,
      |    (row_number() OVER (ORDER BY k) - 1) // 64 AS zone, cents
      |  FROM v
      |  UNION ALL
      |  SELECT 'sorted' AS layout,
      |    (row_number() OVER (ORDER BY cents, k) - 1) // 64 AS zone, cents
      |  FROM v),
      |zs AS (
      |  SELECT layout, zone, MIN(cents) AS mn, MAX(cents) AS mx
      |  FROM zr GROUP BY layout, zone),
      |ov AS (
      |  SELECT a.layout, CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
      |  FROM zs a JOIN zs b
      |    ON a.layout = b.layout AND a.zone < b.zone
      |    AND a.mx >= b.mn AND b.mx >= a.mn
      |  GROUP BY a.layout),
      |nz AS (
      |  SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_zones
      |  FROM zs GROUP BY layout)
      |SELECT nz.layout, nz.n_zones,
      |  COALESCE(ov.n_overlap_pairs, 0) AS n_overlap_pairs,
      |  CAST(COALESCE(ov.n_overlap_pairs, 0) * 1000000
      |    // (nz.n_zones * (nz.n_zones - 1) // 2) AS BIGINT)
      |    AS overlap_ppm
      |FROM nz LEFT JOIN ov ON ov.layout = nz.layout
      |ORDER BY nz.layout""") { (s, d) =>
    // Spark side never runs an unpartitioned window: both global
    // ranks ride the shared bucketed two-pass exclusive-prefix
    // (DriftOps.exclusivePrefix — the shard_range_boundaries
    // machinery). The oracle's plain row_number() produces the
    // IDENTICAL ranks on DuckDB's side.
    val v = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val kc = v.select(col("k").as("v")).groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"))
    val kpre = DriftOps.exclusivePrefix(kc, expr("v div 10000"))
      .select(col("v").as("nk"), col("pre").as("npre"))
    val nat = v.join(kpre, col("nk") === col("k"))
      .select(lit("natural").as("layout"),
        expr("npre div 64").as("zone"), col("cents"))
    val cc = v.groupBy(col("cents").as("v")).agg(count(lit(1)).as("cnt"))
    val cpre = DriftOps.exclusivePrefix(cc, expr("v div 10000000"))
      .select(col("v").as("sv"), col("pre").as("spre"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cents")).orderBy(col("k"))
    val srt = v.join(cpre, col("sv") === col("cents"))
      .select(lit("sorted").as("layout"),
        ((col("spre") + row_number().over(wTie) - 1)).as("r"), col("cents"))
      .select(col("layout"), expr("r div 64").as("zone"), col("cents"))
    val zs = nat.unionAll(srt)
      .groupBy(col("layout"), col("zone"))
      .agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ov = zs.as("a")
      .join(broadcast(zs.select(col("layout").as("bl"), col("zone").as("bz"),
          col("mn").as("bmn"), col("mx").as("bmx"))),
        col("bl") === col("a.layout") && col("a.zone") < col("bz") &&
          col("a.mx") >= col("bmn") && col("bmx") >= col("a.mn"))
      .groupBy(col("a.layout").as("ol")).agg(count(lit(1))
        .as("n_overlap_pairs"))
    val nz = zs.groupBy(col("layout")).agg(count(lit(1)).as("n_zones"))
    nz.join(broadcast(ov), col("ol") === col("layout"), "left")
      .select(col("layout"), col("n_zones"),
        coalesce(col("n_overlap_pairs"), lit(0L)).as("n_overlap_pairs"),
        expr("CAST(COALESCE(n_overlap_pairs, 0) * 1000000"
          + " div (n_zones * (n_zones - 1) div 2) AS BIGINT)")
          .as("overlap_ppm"))
      .orderBy(col("layout"))
  }

  /** Parquet bloom-filter source (r16) — the point-lookup layout
    * option the source matrix lacked: events re-written with a
    * parquet BLOOM FILTER on user_id (and stat-sorted rows so
    * min/max can't do the work instead), then a point predicate read
    * back and aggregated. The graded values prove the
    * bloom-decorated file round-trips losslessly (the oracle
    * aggregates the ORIGINAL fixture); SourcesSpec asserts the
    * footer actually carries the bloom offset — at scale the bloom
    * is what skips row groups for high-cardinality point predicates
    * where min/max zones are useless. */
  val sourceParquetBloom: QDef = q(
    "source_parquet_bloom",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(MIN(event_id) AS BIGINT) AS min_event_id
      |FROM events
      |WHERE user_id = 7
      |GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val out = graft.TempDirs.create("graft_bloomsrc")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .sort(col("event_type"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#user_id", "true")
      .option("parquet.bloom.filter.expected.ndv#user_id", "1000")
      // dictionary OFF for the bloom column: parquet-mr skips the
      // bloom when every page is dictionary-encoded (the dictionary
      // already is an exact membership filter), so a low-cardinality
      // fixture would silently ship no bloom at all — disabling the
      // dictionary is the production pairing for a bloom column
      .option("parquet.enable.dictionary#user_id", "false")
      .parquet(out)
    s.read.parquet(out)
      .filter(col("user_id") === 7)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
          .cast(LongType).as("sum_cents"),
        min(col("event_id")).as("min_event_id"))
      .orderBy(col("event_type"))
  }

  val all: Seq[QDef] = Seq(scanParquetProject, sourceJsonProps,
    sourceCsvRoundtrip, sourcePartitionedPrune, joinBucketedColo,
    sourceSortedRanges, sourceSchemaMerge, sourceOrcRoundtrip,
    sourceJsonRoundtrip, joinDppPartitioned, sourceCsvQuoted,
    sourceTextLines, sourceBinaryFiles, layoutZorderSkipping,
    sourceParquetNested, sourceJsonCorruptAudit, layoutClusteringDepth,
    sourceParquetBloom)
}
