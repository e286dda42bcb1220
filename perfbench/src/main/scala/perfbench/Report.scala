package perfbench

import scala.collection.immutable.ListMap

/** Turns a run's op results into named metrics. Every metric is
  * (value, unit, sample count); correctness is judged by run.py, which
  * holds the expected digests and the chain's DuckDB twin. */
object Report {
  final case class M(value: Double, unit: String, n: Int)

  /** Per-layer metrics that only the chain has; zero elsewhere. */
  val chainOnly: Seq[(String, String)] = Seq(
    "pipeline.obs_rows" -> "count", "pipeline.mapped_rows" -> "count",
    "pipeline.unmapped_rows" -> "count", "pipeline.broadcast_bytes" -> "bytes",
    "pipeline.cube_s" -> "s", "pipeline.report_s" -> "s",
    "sink.bytes_written" -> "bytes", "sink.files_written" -> "count",
    "sink.records_written" -> "count")

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_bytes") || name.endsWith(".bytes") || name.endsWith("bytes_read")) "bytes"
    else "count"

  def build(a: Main.Args, results: Seq[OpResult], passWall: Seq[(Boolean, Double, Double)],
      obsRows: Long, setup: ListMap[String, Double], self: ListMap[String, Any]): String = {
    val plain = results.filter(!_.traced)
    val lat = plain.map(_.latencyS)
    val plainWall = passWall.filter(!_._1).map(_._2)
    val e2e = ListMap.newBuilder[String, M]
    e2e += "setup_s" -> M(setup("setup_s"), "s", 1)
    // A pass's time is the sum over its ops of each op's median latency
    // across the untraced passes, so one slow pass of one op counts once.
    val perOp = plain.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.latencyS)))
    e2e += "wall_s" -> M(perOp.sum, "s", plainWall.size)
    e2e += "op_p50_s" -> M(Stats.median(lat), "s", lat.size)
    val plainCpu = passWall.filter(!_._1).map(_._3)
    e2e += "cpu_s" -> M(Stats.median(plainCpu), "s", plainCpu.size)
    Stats.tail(lat, 0.9).foreach(v => e2e += "op_p90_s" -> M(v, "s", lat.size))
    if (a.workload == "harmonize_chain") {
      e2e += "rows_per_s" -> M(obsRows * lat.size / lat.sum, "1/s", lat.size)
      val sinkBytes = plain.filter(_.sinkBytes > 0).map(_.sinkBytes.toDouble)
      if (sinkBytes.nonEmpty)
        e2e += "sink_bytes_per_row" -> M(Stats.median(sinkBytes) / obsRows, "bytes", sinkBytes.size)
    }
    e2e += "rss_peak_mb" -> M(Io.rssPeakMb, "MiB", 1)

    val traced = results.filter(_.traced)
    val layers = ListMap.newBuilder[String, M]
    if (traced.nonEmpty) {
      val passes = traced.map(_.pass).distinct.size
      val n = traced.size
      def total(k: String): Double = traced.map(_.layers.getOrElse(k, 0.0)).sum
      def perPass(k: String): Double = total(k) / passes
      for (k <- Seq("setup.session_s", "setup.warm_s", "setup.gen_s"))
        layers += k -> M(setup(k), "s", 1)
      layers += "sources.rows_read" -> M(perPass("sources.rows_read"), "count", n)
      layers += "sources.bytes_read" -> M(perPass("sources.bytes_read"), "bytes", n)
      layers += "sources.rows_read_per_result_row" ->
        M(total("sources.rows_read") / math.max(1.0, total("result_rows")), "ratio", n)
      val keys = traced.flatMap(_.layers.keys).distinct.filterNot(k =>
        k.startsWith("sources.") || k == "result_rows" || k == "action_task_run_s")
      for (k <- keys if !k.startsWith("pipeline.") && !k.startsWith("sink."))
        layers += k -> M(perPass(k), unitOf(k), n)
      layers += "exec.core_util" -> M(total("action_task_run_s") /
        math.max(1e-9, total("exec.action_s") * self("nproc").asInstanceOf[Int]), "ratio", n)
      layers += "exec.job_floor_s" -> M(setup("exec.job_floor_s"), "s", 5)
      layers += "exec.shuffle_floor_s" -> M(setup("exec.shuffle_floor_s"), "s", 5)
      for ((k, unit) <- chainOnly) layers += k -> M(perPass(k), unit, n)
      layers += "pipeline.map_ratio" -> M(
        if (total("pipeline.obs_rows") > 0) total("pipeline.mapped_rows") / total("pipeline.obs_rows")
        else 0.0, "ratio", n)
      val tracedWall = passWall.filter(_._1).map(_._2)
      layers += "trace.overhead_frac" -> M(
        Stats.median(tracedWall) / Stats.median(plainWall) - 1.0, "ratio", tracedWall.size)
    }

    def metrics(ms: ListMap[String, M]) = ms.map { case (k, m) =>
      k -> ListMap("value" -> m.value, "unit" -> m.unit, "n" -> m.n)
    }
    val ops = results.map(r => ListMap("name" -> r.name, "pass" -> r.pass, "traced" -> r.traced,
      "latency_s" -> r.latencyS, "digest" -> r.digest, "error" -> r.error,
      "layers" -> (if (r.traced) Some(r.layers) else None)))
    Io.json(ListMap("workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "self" -> self, "setup" -> setup, "end_to_end" -> metrics(e2e.result()),
      "per_layer" -> metrics(layers.result()), "ops" -> ops))
  }
}
