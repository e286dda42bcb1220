package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.{PartitionPolicy, SparkEntry}

/** The benchmark's JVM side.
  *
  *   gen     write the base tables (all scales) under --data
  *   run     one run of one workload: set-up, then the timed phase
  *   digests print the digest of every registry-workload key at its timed scale
  *
  * A run is one process with one closed-loop client: this thread
  * submits the next op only after the last one returned. It ends by
  * printing one `PERFBENCH_REPORT {json}` line on stdout.
  */
object Main {
  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: Path, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("mode", "run"), m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      Path.of(m("data")), Path.of(m("out")))
  }


  def session(out: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    a.mode match {
      case "gen" =>
        val spark = session(a.out)
        try Gen.writeBase(spark, a.data) finally spark.stop()
      case "digests" =>
        // With --dump, also digest each key's result as graft.Verify
        // dumped it there, so the caller can check that the run the
        // oracle certified gave the same output as this one.
        val dump = argv.sliding(2).collectFirst { case Array("--dump", d) => Path.of(d) }
        val spark = session(a.out)
        try {
          val defs = SparkEntry.defs.map(d => d.key -> d).toMap
          val sfDir = a.data.resolve(Workloads.TimedSf).toString
          val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
          val lines = Workloads.sampleKeys.sorted.map { k =>
            spark.conf.set("spark.sql.shuffle.partitions",
              PartitionPolicy.forKey(k, sessionParts).toString)
            val d = try Digest.of(defs(k).run(spark, sfDir))
              finally spark.catalog.clearCache()
            val dumped = dump.filter(p => Files.isDirectory(p.resolve(k))).map(p =>
              s""", "dump_digest": ${Io.json(Digest.of(spark.read.parquet(p.resolve(k).toString)))}""")
            s"""  ${Io.json(k)}: {"digest": ${Io.json(d)}, "oracle": ${defs(k).oracle.isDefined}""" +
              dumped.getOrElse("") + "}"
          }
          println(lines.mkString("{\n", ",\n", "\n}"))
        } finally spark.stop()
      case "run" => new Run(a).execute()
    }
  }
}

/** Workload definitions. The seed fixes the op order; the key set is
  * fixed so that runs with different seeds time the same work. */
object Workloads {
  /** `registry_sample`: for each of the eight largest key-name families
    * outside graph_* and dedup_* (by key count: agg 33, join 26, win 25,
    * stats 22, report 19, text 18, fn 17, ts 17), the family's median key
    * by the committed per-key time in BENCH_full.json (the lower median
    * for an even count). perfbench/README.md gives the derivation. */
  val sampleKeys: Seq[String] = Seq("agg_collect_sorted", "join_exists_flag",
    "win_cumulative_reset", "stats_paired_t", "report_price_index", "text_term_entropy",
    "fn_date_advanced", "ts_changepoint_split")

  def order[T](items: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(items)

  /** Every op is timed at sf0.1. The warm schedule (scale, passes) runs
    * each op once at sf0.01 and once at sf0.1 first: the sf0.1 pass
    * cuts the JIT compilation left in the timed passes by about a
    * quarter and makes them steadier. */
  val TimedSf = "sf0.1"
  val WarmSchedule: Seq[(String, Int)] = Seq("sf0.01" -> 1, "sf0.1" -> 1)
}
