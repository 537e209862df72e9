package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload, time it, write the
  * untimed correctness outputs, and leave the measurements in
  * `<work>/result.json` for `run.py`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --t0 EPOCH_MS
  *
  * The run works on its own copy of `--data` under `--work`, so the
  * artifacts it reads are built by this code (in setup, untimed), and
  * it deletes the artifact cache entries and replay dirs it created when
  * it ends.
  *
  * `--seconds` sets how many whole units of work (passes, request
  * cycles, lakehouse rounds) are timed; see `Workload.units`. With
  * `--trace 1` the listeners are installed, one unit runs that counts in
  * neither set (it warms lakehouse_cold's write path), and then at least
  * four units, untraced and traced in the order ABBA ABBA ..., so that
  * drift weighs on both sets alike; the difference of their per-kind
  * medians is reported as the tracing overhead.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing $k"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val traced = arg("--trace") == "1"
    val work = Paths.get(arg("--work")).toAbsolutePath
    val t0Ms = arg("--t0").toLong
    val cpus = Runtime.getRuntime.availableProcessors()

    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) b
      .config("spark.extraListeners", classOf[JobListener].getName)
      .config("spark.sql.queryExecutionListeners",
        classOf[PlanListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3

    val sharedBefore = Disk.shared()
    val data = work.resolve("fixtures").resolve("base")
    Disk.copyTree(Paths.get(arg("--data")), data)
    val ctx = new Ctx(spark, seed, data.toString, work)
    val w: Workload = workload match {
      case "batch_mix" => new BatchMix(ctx)
      case "serve_api" => new ServeApi(ctx)
      case "lakehouse_cold" => new LakehouseCold(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      w.setup()
      val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
      val units = if (traced) 1 + math.max(4, w.units(seconds))
        else w.units(seconds)
      val plain, tracedOps, first = ArrayBuffer.empty[OpRec]
      val windows = ArrayBuffer.empty[(Long, Long)]
      var activeS, tracedActiveS, tracedGcS = 0.0
      Trace.reset()
      for (i <- 0 until units) {
        val on = traced && (i % 4 == 2 || i % 4 == 3)
        if (Trace.on != on) { Trace.drain(); Trace.on = on; ctx.watch = on }
        val (gc0, t0) = (gcMs(), Trace.nowUs())
        val ops = w.unit(i)
        activeS += w.activeS(ops)
        if (traced && i == 0) first ++= ops
        else if (on) {
          tracedOps ++= ops; windows += ((t0, Trace.nowUs()))
          tracedActiveS += w.activeS(ops); tracedGcS += (gcMs() - gc0) / 1e3
        } else plain ++= ops
      }
      if (Trace.on) { Trace.drain(); Trace.on = false; ctx.watch = false }
      val heapMb = retainedHeapMb()
      w.check()
      val all = (first ++ plain ++ tracedOps).toSeq
      val failedOps = all.count(!_.ok)
      val e2e = endToEnd(all, units, activeS, setupS, heapMb)
      val layers =
        if (!traced) Map.empty[String, Double]
        else perLayer(tracedOps.toSeq, w, cpus, tracedActiveS, tracedGcS) ++
          Map("trace.overhead" -> overhead(plain.toSeq, tracedOps.toSeq))
      if (traced) writeSpans(work.resolve("spans.jsonl"), windows.toSeq)
      val oracles = ctx.checks.flatMap(c => c.sql.map(c.query -> _)).toMap
      Files.createDirectories(work.resolve("out"))
      Files.writeString(work.resolve("out").resolve("oracle_sql.json"),
        J.v(oracles))
      val res = J.obj(
        "workload" -> w.name, "seed" -> seed, "cpus" -> cpus,
        "session_s" -> sessionS,
        "ops" -> all.size, "failed_ops" -> failedOps,
        "check_attempts" -> ctx.checkAttempts,
        "check_failures" -> ctx.checkFailures,
        "timed_builds" -> w.timedBuilds, "warm" -> w.warm,
        "tail_pct" -> TailPct, "tail_n" -> all.size,
        "stored_bytes_ratio" -> w.storedRatio.getOrElse(-1.0),
        "per_kind_median_s" -> all.groupBy(_.name).map { case (k, o) =>
          k -> Stats.median(o.map(_.wallS)) },
        "end_to_end" -> e2e, "per_layer" -> layers,
        "failures" -> ctx.failures.toSeq,
        "checks" -> ctx.checks.toSeq.map(c => J.Raw(J.obj(
          "query" -> c.query, "dir" -> c.dir, "oracle" -> c.sql.isDefined))))
      Files.writeString(work.resolve("result.json"), res)
    } finally {
      w.close()
      spark.stop()
      (Disk.shared() -- sharedBefore).foreach(Disk.delete)
    }
  }

  /** Heap in use after full GCs: the least of three readings, so that
    * garbage the cleaner threads release late is not counted.
    */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** The percentile reported as `op_tail_ms`. A run times 4 to 40
    * operations, too few to leave ten samples beyond any tail percentile.
    * Both `op_p50_ms` and `op_tail_ms` are Harrell-Davis estimates: a
    * single order statistic of a few operation kinds jumps from one kind
    * to the next when their times are close.
    */
  val TailPct = 90

  /** `suite_s` is the summed wall time of the timed operations per unit;
    * `ops_per_s` counts them over the time the units kept the system busy.
    */
  def endToEnd(ops: Seq[OpRec], units: Int, activeS: Double, setupS: Double,
      heapMb: Double): Map[String, Double] = {
    val ms = ops.map(_.wallS * 1000)
    Map(
      "setup_s" -> setupS,
      "suite_s" -> ops.map(_.wallS).sum / units,
      "op_p50_ms" -> Stats.hd(ms, 0.5),
      "op_tail_ms" -> Stats.hd(ms, TailPct / 100.0),
      "ops_per_s" -> ops.size / activeS,
      "op_cpu_ms" -> ops.map(_.cpuS).sum * 1000 / math.max(1, ops.size),
      "heap_retained_mb" -> heapMb)
  }

  /** Per-operation means over the traced pass, except the ratios and the
    * per-batch streaming times.
    */
  def perLayer(ops: Seq[OpRec], w: Workload, cpus: Int, activeS: Double,
      gcS: Double): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val cs = Trace.allCounts.values
    def sum(f: Counts => Long): Double = cs.map(f).sum.toDouble
    val wall = ops.map(_.wallS).sum
    val build = ops.map(_.buildS).sum
    val stages = sum(_.stages)
    val batches = math.max(1L, Trace.streamBatches.get).toDouble
    val serve = w.isInstanceOf[ServeApi]
    val (buildSelf, execSelf) = selfTimes()
    Map(
      "entry.build_s" -> build / n,
      "entry.jobs" -> sum(_.buildJobs) / n,
      "entry.share" -> (if (wall > 0) build / wall else 0.0),
      "entry.self_s" -> buildSelf / n,
      "plans.analysis_ms" -> Trace.analysisMs.get / n,
      "plans.optimization_ms" -> Trace.optimizationMs.get / n,
      "plans.planning_ms" -> Trace.planningMs.get / n,
      "operators.exec_s" -> ops.map(_.execS).sum / n,
      "operators.exec_self_s" -> execSelf / n,
      "operators.jobs" -> sum(_.jobs) / n,
      "operators.stages" -> stages / n,
      "operators.tasks" -> sum(_.tasks) / n,
      "operators.tasks_per_stage" ->
        (if (stages > 0) sum(_.tasks) / stages else 0.0),
      "operators.task_run_s" -> sum(_.taskRunMs) / 1e3 / n,
      "operators.task_cpu_s" -> sum(_.taskCpuNs) / 1e9 / n,
      "operators.task_wait_s" -> sum(_.taskWaitMs) / 1e3 / n,
      "operators.core_util" -> sum(_.taskRunMs) / 1e3 /
        math.max(1e-9, activeS * cpus),
      "operators.gc_s" -> sum(_.gcMs) / 1e3 / n,
      "operators.input_bytes" -> sum(_.inputBytes) / n,
      "operators.shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
      "operators.shuffle_read_bytes" -> sum(_.shuffleRead) / n,
      "operators.spill_bytes" -> sum(_.spill) / n,
      "operators.failed_tasks" -> sum(_.failedTasks),
      "artifact.builds" -> ops.map(_.builds).sum / n,
      "artifact.bytes_written" -> ops.map(_.artifactBytes).sum / n,
      "sources.files_written" -> ops.map(_.written.dataFiles).sum / n,
      "sources.bytes_written" -> ops.map(_.written.dataBytes).sum / n,
      "sources.commits" -> ops.map(_.written.commits).sum / n,
      "sources.stored_bytes_ratio" -> w.storedRatio.getOrElse(0.0),
      "streaming.queries" -> Trace.streamQueries.get / n,
      "streaming.batches" -> Trace.streamBatches.get / n,
      "streaming.input_rows" -> Trace.streamRows.get / n,
      "streaming.add_batch_ms" -> Trace.addBatchMs.get / batches,
      "streaming.wal_commit_ms" -> Trace.walCommitMs.get / batches,
      "streaming.commit_offsets_ms" -> Trace.commitOffsetsMs.get / batches,
      "streaming.trigger_ms" -> Trace.triggerMs.get / batches,
      "streaming.state_rows" -> Trace.stateRowsTotal / n,
      "serving.jobs_per_req" -> (if (serve) sum(_.jobs) / n else 0.0),
      "serving.tasks_per_req" -> (if (serve) sum(_.tasks) / n else 0.0),
      "serving.resp_bytes" ->
        (if (serve) ops.map(_.bytes).sum / n else 0.0),
      "jvm.gc_s" -> gcS / n)
  }

  /** Build and exec time not covered by the Spark jobs they started. */
  private def selfTimes(): (Double, Double) = {
    val spans = Trace.spans.asScala.toSeq
    val jobs = spans.filter(_.name.startsWith("job.")).groupBy(_.op)
    def self(phase: String): Double = spans.filter(_.name == phase).map { s =>
      val in = jobs.getOrElse(s.op, Nil).filter(_.name == s"job.$phase")
        .map(j => (math.max(j.startUs, s.startUs), math.min(j.endUs, s.endUs)))
        .filter { case (x, y) => y > x }
      (s.endUs - s.startUs - Stats.union(in)) / 1e6
    }.sum
    (self("build"), self("exec"))
  }

  /** Traced over untraced time of the same kinds of operation, minus one:
    * the sums of their per-kind medians.
    */
  private def overhead(plain: Seq[OpRec], traced: Seq[OpRec]): Double = {
    def med(o: Seq[OpRec]) =
      o.groupBy(_.name).map { case (k, v) => k -> Stats.median(v.map(_.wallS)) }
    val (p, t) = (med(plain), med(traced))
    val common = p.keySet.intersect(t.keySet).toSeq
    val base = common.map(p).sum
    if (base > 0) common.map(t).sum / base - 1 else 0.0
  }

  /** Spans and per-operation counts, one JSON object a line. A job's
    * parent is the build or exec span of its operation.
    */
  private def writeSpans(out: Path, windows: Seq[(Long, Long)]): Unit = {
    val spans = Trace.spans.asScala.toSeq
    val phase = spans.filter(s => s.name == "build" || s.name == "exec")
      .map(s => (s.op, s.name) -> s.id).toMap
    val lines = spans.sortBy(_.startUs).map { s =>
      val parent =
        if (!s.name.startsWith("job.")) s.parent
        else phase.getOrElse((s.op, s.name.stripPrefix("job.")), 0L)
      J.obj("id" -> s.id, "parent" -> parent, "name" -> s.name,
        "op" -> s.op, "start_us" -> s.startUs, "end_us" -> s.endUs)
    }
    val counts = Trace.allCounts.toSeq.sortBy(_._1).map { case (op, c) =>
      J.obj("op" -> op, "jobs" -> c.jobs, "build_jobs" -> c.buildJobs,
        "stages" -> c.stages, "tasks" -> c.tasks,
        "task_run_ms" -> c.taskRunMs, "task_cpu_ns" -> c.taskCpuNs,
        "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite)
    }
    Files.writeString(out, (J.obj("traced_windows_us" ->
      windows.map { case (a, b) => Seq(a, b) })
      +: (lines ++ counts)).mkString("", "\n", "\n"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Harrell-Davis estimate of quantile `p`: the order statistics
    * weighted by a Beta((n + 1) p, (n + 1)(1 - p)) distribution.
    */
  def hd(xs: Seq[Double], p: Double): Double = {
    import org.apache.commons.math3.special.Beta.regularizedBeta
    val s = xs.sorted; val n = s.size
    val (a, b) = ((n + 1) * p, (n + 1) * (1 - p))
    def cdf(x: Double) = if (x <= 0) 0.0 else if (x >= 1) 1.0
      else regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }
}

/** Minimal JSON rendering for the result file. */
object J {
  final case class Raw(json: String)
  def v(x: Any): String = x match {
    case null => "null"
    case Raw(j) => j
    case s: String => graft.Json.str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => graft.Json.str(k.toString) + ":" + v(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(v).mkString("[", ",", "]")
    case o => graft.Json.str(o.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => graft.Json.str(k) + ":" + v(x) }
      .mkString("{", ",", "}")
}
