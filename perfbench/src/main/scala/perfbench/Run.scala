package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.PerfbenchRules
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{HarnessConf, PartitionPolicy, SparkEntry}
import graft.pipeline.Harmonize

/** What an op built: the frames its action runs, and for a registry
  * key the result frame whose schema names the digest. */
final case class Built(frames: Seq[DataFrame], result: Option[DataFrame])

/** One op of a workload: one registry key, or one run of the chain. */
sealed trait Op {
  def name: String
  /** `QDef.run`, or the Harmonize stage functions; no action. */
  def build(spark: SparkSession, sf: String): Built
  /** The action. `section` runs a named sub-action (in a span when traced). */
  def action(b: Built, section: (String, () => Unit) => Unit): Option[String]
  /** Digest of the op's output: the action's own, or one read back
    * from what the action wrote (outside the op's timing). */
  def check(spark: SparkSession, actionDigest: Option[String]): String
}

final case class KeyOp(q: graft.QDef, data: Path) extends Op {
  def name: String = q.key
  def build(spark: SparkSession, sf: String): Built = {
    val df = q.run(spark, data.resolve(sf).toString)
    Built(Seq(Digest.frame(df)), Some(df))
  }
  def action(b: Built, section: (String, () => Unit) => Unit): Option[String] =
    Some(Digest.render(b.result.get, b.frames.head.collect().head))
  def check(spark: SparkSession, actionDigest: Option[String]): String = actionDigest.get
}

/** The paper's chain through the public Harmonize stages: unpivot,
  * normalize, codebook join, mapped/unmappable split, provenance,
  * cube, then the partitioned cube sink and the unmappable report. */
final case class ChainOp(inputs: Path, sink: Path, seed: Long) extends Op {
  def name: String = "harmonize_chain"
  def build(spark: SparkSession, sf: String): Built = {
    val obs = Harmonize.unpivotObservations(
      spark.read.parquet(inputs.resolve(sf).resolve("sheet").toString),
      ids = Seq("l_orderkey", "l_linenumber", "raw"), values = Gen.Measures)
    // The codebook is rules-as-data held in memory, as in
    // graft.ops.HarmonizeQueries; a second file source would also make
    // input_file_name() in the provenance stage ambiguous.
    val joined = Harmonize.applyCodebook(obs, Gen.codebookDf(spark, seed))
    val cube = Harmonize.aggregateCube(Harmonize.withProvenance(Harmonize.mapped(joined)),
      dims = Seq("code", "attr", "prov_rule"), measure = "val")
    Built(Seq(cube, Harmonize.unmappable(joined)), None)
  }
  def action(b: Built, section: (String, () => Unit) => Unit): Option[String] = {
    section("pipeline.cube", () => Harmonize.writeCube(b.frames(0), sink.resolve("cube").toString, "attr"))
    section("pipeline.report", () =>
      b.frames(1).write.mode("overwrite").parquet(sink.resolve("report").toString))
    None
  }
  def check(spark: SparkSession, actionDigest: Option[String]): String =
    Digest.of(spark.read.parquet(sink.resolve("cube").toString)) + "|" +
      Digest.of(spark.read.parquet(sink.resolve("report").toString))
  /** (mapped observations, unmapped observations) in the written output. */
  def split(spark: SparkSession): (Long, Long) = {
    def total(dir: String, c: String) =
      spark.read.parquet(sink.resolve(dir).toString).agg(sum(col(c))).head().getLong(0)
    (total("cube", "n_obs"), total("report", "n_occurrences"))
  }
}

final case class OpResult(name: String, pass: Int, traced: Boolean, latencyS: Double,
    digest: Option[String], error: Option[String], sinkBytes: Long, layers: Map[String, Double])

/** Query executions of the actions run while a traced op executes:
  * its eager build jobs and its action (a write's inner command). */
class PlanRecorder extends QueryExecutionListener {
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe)
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  /** The query executions recorded so far; the recorder is emptied. */
  def take(): Seq[QueryExecution] = Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
}

object Run {
  /** Shuffles paid by one cold execution of a plan, counted the way the
    * golden shuffle pins count them: each ShuffleExchangeExec, plus
    * those inside every distinct cached relation the plan reads. */
  def paidShuffles(plan: SparkPlan): Int = {
    val seen = new java.util.IdentityHashMap[AnyRef, AnyRef]()
    def walk(p: SparkPlan): Int = p.collect {
      case _: ShuffleExchangeExec => 1
      case s: InMemoryTableScanExec if !seen.containsKey(s.relation.cacheBuilder) =>
        seen.put(s.relation.cacheBuilder, s.relation.cacheBuilder)
        walk(s.relation.cachedPlan)
    }.sum
    walk(plan)
  }

  def planNodes(plan: SparkPlan): Int = plan.collect { case p => p }.size

  def broadcastBytes(plan: SparkPlan): Long = plan.collect {
    case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
  }.sum

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** CPU seconds this process has used (all threads). */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def jitMs: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
}

/** One benchmark run of one workload. */
class Run(a: Main.Args) {
  import Run._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val inputs = a.out.resolve("inputs")
  private val sink = a.out.resolve("sink")
  private val tracer = new Tracer
  private val opIds = Iterator.from(1)
  private var spark: SparkSession = _
  private var sessionParts = 0
  private var obsRows = 0L
  private lazy val analyzerRules = PerfbenchRules.analyzerRules(spark)

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def makeOps(): Seq[Op] = a.workload match {
    case "registry_sample" =>
      val defs = SparkEntry.defs.map(d => d.key -> d).toMap
      Workloads.order(Workloads.sampleKeys, a.seed).map(k => KeyOp(defs(k), a.data))
    case "harmonize_chain" => Seq(ChainOp(inputs, sink, a.seed))
    case w => throw new IllegalArgumentException(s"unknown workload '$w'")
  }

  /** Seeded inputs: the chain's sheet at every scale and its codebook. */
  private def generate(): Unit = if (a.workload == "harmonize_chain") {
    Io.deleteTree(inputs)
    for (sf <- Gen.scales)
      Gen.sheet(spark, a.data.resolve(sf).toString, a.seed).write
        .parquet(inputs.resolve(sf).resolve("sheet").toString)
    Gen.writeSingle(Gen.codebookDf(spark, a.seed), inputs.resolve("codebook.parquet"))
    obsRows = spark.read.parquet(inputs.resolve(Workloads.TimedSf).resolve("sheet").toString)
      .count() * Gen.Measures.size
  }

  /** Median seconds of `reps` runs of `job` after two unmeasured ones. */
  private def floor(reps: Int)(job: => Unit): Double = {
    job; job
    Stats.median((1 to reps).map { _ => val t = System.nanoTime(); job; seconds(t) })
  }

  def execute(): Unit = {
    val load0 = HarnessConf.load1
    val ticks0 = HarnessConf.cpuTicks
    val t0 = System.nanoTime()
    spark = Main.session(a.out)
    sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sessionS = seconds(t0)
    val tGen = System.nanoTime()
    generate()
    val ops = makeOps()
    val genS = seconds(tGen)
    val tWarm = System.nanoTime()
    for ((sf, passes) <- Workloads.WarmSchedule; _ <- 1 to passes; op <- ops)
      runOp(op, sf, pass = -1, recorders = None)
    val sc = spark.sparkContext
    val jobFloor = floor(5)(sc.parallelize(Seq(1), 1).count())
    val n = cores
    val shuffleFloor = floor(5)(sc.parallelize(1 to 1000, n).map(i => (i % n, 1))
      .reduceByKey(_ + _, n).count())
    val warmS = seconds(tWarm)
    val setupS = seconds(t0)
    System.gc()

    // Timed phase: whole passes over the ops. A pass starts only if it
    // is expected to end within --seconds (the first always runs). A
    // traced run makes four passes, untraced-traced-traced-untraced,
    // so a warm-up trend across passes cancels out of the overhead.
    val results = mutable.ArrayBuffer[OpResult]()
    val passWall = mutable.ArrayBuffer[(Boolean, Double, Double)]()
    val tTimed = System.nanoTime()
    var pass = 0
    def more: Boolean =
      if (a.trace) pass < 4 else seconds(tTimed) + passWall.last._2 <= a.seconds
    while (pass == 0 || more) {
      val traced = a.trace && (pass == 1 || pass == 2)
      val recorders = if (traced) Some((new Recorder, new PlanRecorder)) else None
      recorders.foreach { case (rec, plans) =>
        sc.addSparkListener(rec); spark.listenerManager.register(plans)
      }
      val cpu0 = cpuS
      val rs = try ops.map(op => runOp(op, Workloads.TimedSf, pass, recorders))
        finally recorders.foreach { case (rec, plans) =>
          PerfbenchBus.drain(sc)
          sc.removeSparkListener(rec)
          spark.listenerManager.unregister(plans)
        }
      results ++= rs
      passWall += ((traced, rs.map(_.latencyS).sum, cpuS - cpu0))
      pass += 1
    }
    val timedS = seconds(tTimed)
    val load1 = HarnessConf.load1
    val steal = HarnessConf.stealFrac(ticks0, HarnessConf.cpuTicks)
    val report = Report.build(a, results.toSeq, passWall.toSeq, obsRows, ListMap(
      "setup_s" -> setupS, "setup.session_s" -> sessionS, "setup.gen_s" -> genS,
      "setup.warm_s" -> warmS, "exec.job_floor_s" -> jobFloor,
      "exec.shuffle_floor_s" -> shuffleFloor, "timed_s" -> timedS),
      ListMap(
        "nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "sf" -> Workloads.TimedSf, "seed" -> a.seed, "seconds" -> a.seconds,
        "warm_schedule" -> Workloads.WarmSchedule.map { case (s, n) => s"$s:$n" }.mkString(","),
        "load1_start" -> load0, "load1_end" -> load1, "steal_frac" -> steal,
        "ops" -> ops.map(_.name)))
    if (a.trace) {
      val f = a.out.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
      Files.write(f, tracer.jsonLines.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()
    println("PERFBENCH_REPORT " + report)
  }

  /** Nanoseconds spent so far in analyzer rules, process-wide. A
    * Dataset is analyzed as it is built, so the difference across an
    * op is its analysis time, wherever in the op it happened. */
  private def analyzerNs(): Long = {
    val byRule = PerfbenchRules.ruleNanos()
    analyzerRules.toSeq.map(byRule.getOrElse(_, 0L)).sum
  }

  private def applyPolicy(op: Op): Unit =
    spark.conf.set("spark.sql.shuffle.partitions",
      PartitionPolicy.forKey(op.name, sessionParts).toString)

  /** Run one op: build, then action. Cleanup — clearCache and a GC —
    * follows outside the op's timing. The op is traced when it gets
    * the pass's recorders. */
  private def runOp(op: Op, sf: String, pass: Int,
      recorders: Option[(Recorder, PlanRecorder)]): OpResult = {
    val traced = recorders.isDefined
    val sc = spark.sparkContext
    val opId = s"op-${opIds.next()}"
    applyPolicy(op)
    sc.setJobGroup(opId, op.name)
    def section[T](parent: Int, name: String)(body: Int => T): T =
      if (traced) tracer.span(opId, parent, name)(body) else body(-1)
    val root = if (traced) tracer.newId() else -1
    // Queries run since the last op (its output check and harvest) must
    // not count as this op's.
    recorders.foreach { case (_, plans) => PerfbenchBus.drain(sc); plans.take() }
    val analysis0 = if (traced) analyzerNs() else 0L
    val (gc0, jit0) = (gcMs, jitMs)
    val t0 = System.nanoTime()
    var t1 = 0L
    try {
      val b = section(root, "ops.build")(_ => op.build(spark, sf))
      val d = section(root, "exec.action") { id =>
        op.action(b, (name, f) => section(id, name)(_ => f()))
      }
      t1 = System.nanoTime()
      sc.clearJobGroup()
      val gcJit = (gcMs - gc0, jitMs - jit0)
      val analysisS = if (traced) (analyzerNs() - analysis0) / 1e9 else 0.0
      recorders.foreach(_ => PerfbenchBus.drain(sc))
      val ran = recorders.map(_._2.take()).getOrElse(Nil)
      if (traced) tracer.add(Span(root, -1, opId, "op", t0, t1))
      val digest = op.check(spark, d)
      val layers = recorders
        .map { case (rec, _) => harvest(op, opId, b, digest, gcJit, analysisS, ran, rec) }
        .getOrElse(Map.empty)
      val sinkBytes = if (op.isInstanceOf[ChainOp]) Io.parquetSize(sink)._1 else 0L
      OpResult(op.name, pass, traced, (t1 - t0) / 1e9, Some(digest), None, sinkBytes, layers)
    } catch {
      case NonFatal(e) =>
        if (t1 == 0L) t1 = System.nanoTime()
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        OpResult(op.name, pass, traced, (t1 - t0) / 1e9, None,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"), 0L, Map.empty)
    } finally {
      sc.clearJobGroup()
      spark.catalog.clearCache()
      System.gc()
    }
  }

  /** Per-layer counts and times of one traced op. */
  private def harvest(op: Op, opId: String, b: Built, digest: String, gcJit: (Long, Long),
      analysisS: Double, ran: Seq[QueryExecution], rec: Recorder): Map[String, Double] = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    val (jobs, stages, tasks) = rec.take(opId)
    val jobSpan = tracer.attach(opId, jobs, stages)
    val spans = tracer.spans.filter(_.op == opId).toSeq
    def dur(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1e9
    val byId = spans.map(s => s.id -> s).toMap
    def under(id: Int, name: String): Boolean =
      byId.get(id).exists(s => s.name == name || under(s.parent, name))
    val jobOf = jobs.map(j => j -> byId(jobSpan(j.id))).toMap
    val buildJobs = jobs.filter(j => under(jobOf(j).parent, "ops.build"))
    val actionJobs = jobs.filter(j => under(jobOf(j).parent, "exec.action"))
    def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
      val ids = js.flatMap(_.stageIds).toSet
      tasks.filter(t => ids(t.stage) && js.exists(j => t.launch >= j.start - 2000000L && t.launch <= j.end))
    }
    val schedOverhead = jobs.map { j =>
      val ts = tasksOf(Seq(j)).map(t => (t.launch, t.finish))
      (j.end - j.start) - Stats.covered(ts, j.start, j.end)
    }.sum / 1e9
    val actionS = dur("exec.action")
    val storage = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    // Optimization and physical planning as Spark's planning tracker
    // timed them on each query execution the op ran.
    def phaseS(phase: String): Double =
      ran.flatMap(_.tracker.phases.get(phase)).map(_.durationMs).sum / 1e3
    val execPlans = b.frames.map(_.queryExecution.executedPlan)
    val resultRows = digest.split('|').map(Digest.rows).sum.toDouble
    val self = tracer.selfTimes(Some(opId))
    def selfS(name: String): Double = self.getOrElse(name, 0L) / 1e9
    val base = ListMap[String, Double](
      "sources.rows_read" -> tasks.map(_.rowsRead).sum.toDouble,
      "sources.bytes_read" -> tasks.map(_.bytesRead).sum.toDouble,
      "result_rows" -> resultRows,
      "ops.build_s" -> dur("ops.build"),
      "ops.build_jobs" -> buildJobs.size.toDouble,
      "planning.analysis_s" -> analysisS,
      "planning.optimization_s" -> phaseS("optimization"),
      "planning.physical_s" -> phaseS("planning"),
      "planning.exchanges" -> execPlans.map(paidShuffles).sum.toDouble,
      "planning.plan_nodes" -> execPlans.map(planNodes).sum.toDouble,
      "exec.action_s" -> actionS,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "action_task_run_s" -> tasksOf(actionJobs).map(_.runMs).sum / 1e3,
      "exec.sched_overhead_s" -> schedOverhead,
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "spill.bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "cache.rdds" -> storage.length.toDouble,
      "cache.persisted_bytes" -> storage.map(s => s.memSize + s.diskSize).sum.toDouble,
      "jvm.gc_ms" -> gcJit._1.toDouble,
      "jvm.jit_ms" -> gcJit._2.toDouble,
      "jvm.task_gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "sink.records_written" -> tasks.map(_.recordsWritten).sum.toDouble,
      "self.op_s" -> selfS("op"),
      "self.ops_build_s" -> selfS("ops.build"),
      "self.exec_action_s" -> selfS("exec.action"),
      "self.exec_job_s" -> selfS("exec.job"),
      "self.exec_stage_s" -> selfS("exec.stage"),
      "trace.spans" -> spans.size.toDouble)
    val chain = op match {
      case c: ChainOp =>
        val (mapped, unmapped) = c.split(spark)
        val (bytes, files) = Io.parquetSize(sink)
        ListMap("pipeline.obs_rows" -> obsRows.toDouble,
          "pipeline.mapped_rows" -> mapped.toDouble,
          "pipeline.unmapped_rows" -> unmapped.toDouble,
          "pipeline.broadcast_bytes" -> ran.map(q => broadcastBytes(q.executedPlan)).sum.toDouble,
          "pipeline.cube_s" -> dur("pipeline.cube"),
          "pipeline.report_s" -> dur("pipeline.report"),
          "sink.bytes_written" -> bytes.toDouble,
          "sink.files_written" -> files.toDouble)
      case _ => ListMap.empty[String, Double]
    }
    base ++ chain
  }
}
