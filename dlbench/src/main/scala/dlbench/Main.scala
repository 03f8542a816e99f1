package dlbench

import graft.datalog.{Analysis, DatalogConf, DatalogContext, Parser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Recursive-query benchmark over the public `graft.datalog` API.
  *
  * {{{
  * Main --workload tc_deep --seed 1 --seconds 12 --trace 0 --cores 4 \
  *      --spark spark.master=local[{cores}] ...
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics with no tracing.
  * `--trace 1` measures an untraced and a traced pass, reports per-layer
  * metrics and the tracing overhead, then reruns the workload at 1, 2
  * and 4 cores. `{cores}` in a `--spark` value is the session's core
  * count. The last stdout line is the JSON result. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, confs: Seq[(String, String)])

  private def parse(argv: List[String], a: Args): Either[String, Args] = argv match {
    case Nil => Right(a)
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => v.toLongOption.toRight(s"bad --seed $v").flatMap(s => parse(rest, a.copy(seed = s)))
    case "--seconds" :: v :: rest =>
      v.toDoubleOption.filter(_ > 0).toRight(s"bad --seconds $v").flatMap(s => parse(rest, a.copy(seconds = s)))
    case "--trace" :: v :: rest if v == "0" || v == "1" => parse(rest, a.copy(trace = v == "1"))
    case "--cores" :: v :: rest =>
      v.toIntOption.filter(_ > 0).toRight(s"bad --cores $v").flatMap(c => parse(rest, a.copy(cores = c)))
    case "--spark" :: kv :: rest if kv.contains("=") =>
      val Array(k, v) = kv.split("=", 2)
      parse(rest, a.copy(confs = a.confs :+ (k -> v)))
    case other :: _ => Left(s"unexpected argument $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args("", 0L, 10.0, trace = false, 1, Nil)) match {
      case Right(a) => a
      case Left(msg) => System.err.println(s"dlbench: $msg"); sys.exit(2)
    }
    val workload = Workload(args.workload, args.seed).getOrElse {
      System.err.println(s"dlbench: unknown workload '${args.workload}' (one of ${Workload.names.mkString(", ")})")
      sys.exit(2)
    }
    val report = new Bench(args, workload).run()
    report.print()
  }
}

/** Metric values by name with units, plus lines only people read. */
final class Report(attempted: Int, failed: Int) {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.ArrayBuffer.empty[String]
  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit)
  def note(line: String): Unit = notes += line

  def print(): Unit = {
    notes.foreach(l => println(s"# $l"))
    metrics.foreach { case (n, (v, u)) => println(f"# $n%-34s $v%16.4f $u") }
    val body = metrics.map { case (n, (v, u)) =>
      val num = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}

/** One timed operation and, in a traced pass, its per-layer values. */
final case class Sample(r: OpResult, trace: Option[Map[String, Double]])

/** Listeners of one session. Tracing off keeps only the storage probe
  * (for `storage_peak_mb`) and the sync marker. */
final class Probes(spark: SparkSession, traced: Boolean) {
  val sync = new Sync(spark)
  val storage = new StorageProbe
  spark.sparkContext.addSparkListener(storage)
  val exec: Option[ExecProbe] = if (traced) Some(new ExecProbe) else None
  val catalyst: Option[CatalystProbe] = if (traced) Some(new CatalystProbe) else None
  exec.foreach(spark.sparkContext.addSparkListener)
  catalyst.foreach(spark.listenerManager.register)

  def detach(): Unit = {
    Seq(sync, storage).foreach(spark.sparkContext.removeSparkListener)
    exec.foreach(spark.sparkContext.removeSparkListener)
    catalyst.foreach(spark.listenerManager.unregister)
  }
}

final class Bench(args: Main.Args, w: Workload) {
  import Workload.timed

  private val started = System.nanoTime()
  private def elapsedS: Double = (System.nanoTime() - started) / 1e9
  /** Loops stop early past this, so a run ends well inside its limit. */
  private val hardStopS = 140.0
  private val collectStats = "spark.datalog.recursion.collectstats"

  private var spark: SparkSession = _
  private var inputs: Seq[(String, DataFrame)] = Nil
  private var attempted = 0
  private var failed = 0
  private var teardownErrors = 0
  private val notes = mutable.ArrayBuffer.empty[String]

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def openSession(cores: Int): SparkSession = {
    val b = SparkSession.builder().appName("dlbench")
    args.confs.foreach { case (k, v) => b.config(k, v.replace("{cores}", cores.toString)) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Release the inputs, let non-blocking unpersists finish, stop the
    * session. A teardown error is reported, not hidden. */
  private def closeSession(): Unit = if (spark != null) {
    try {
      inputs.foreach { case (_, df) => df.unpersist(blocking = true) }
      Thread.sleep(200)
      spark.stop()
    } catch {
      case e: Exception =>
        teardownErrors += 1
        System.err.println(s"dlbench: teardown error: $e")
    }
    inputs = Nil
    spark = null
  }

  private def newContext(rels: Seq[(String, DataFrame)]): DatalogContext = {
    val ctx = new DatalogContext(spark)
    ctx.loadProgram(w.program)
    rels.foreach { case (n, df) => ctx.registerTable(n, df) }
    ctx
  }

  private def guarded(op: => OpResult): OpResult = {
    val r = try op catch {
      case e: Exception => OpResult(0, 0, Some(s"threw $e"))
    }
    attempted += 1
    r.failure.foreach { msg =>
      failed += 1
      System.err.println(s"dlbench: ${w.name} operation failed: $msg")
    }
    r
  }

  /** One set-up: session, cached inputs, warm-up. Returns the three walls in ms. */
  private def setUp(cores: Int): (Double, Double, Double) = {
    closeSession()
    val (_, sessionMs) = timed { spark = openSession(cores) }
    val (_, inputsMs) = timed { inputs = w.inputs(spark) }
    val (_, warmMs) = timed {
      val ctx = newContext(w.warmupInputs(spark, inputs))
      try guarded(w.warmupOp(ctx)) finally ctx.close()
    }
    (sessionMs, inputsMs, warmMs)
  }

  /** `DatalogContext` counters; they are cumulative per evaluator. */
  private final case class Counters(localized: Int, templateHits: Int, monoLocal: Int,
      monoFragment: Int, statsSeen: Int)
  private def counters(ctx: DatalogContext) = Counters(ctx.localizedSlices, ctx.planTemplateHits,
    ctx.monotonicLocalRuns, ctx.monotonicFragmentRuns, ctx.iterationStats.length)

  /** Run `warm` untimed operations, then timed ones until `seconds`
    * pass and at least `minOps` ran. A shared context always gets one
    * untimed query, since its first query also caches the statics. */
  private def measure(seconds: Double, minOps: Int, probes: Probes, warm: Int = 0): Seq[Sample] = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val shared = if (w.freshContextPerOp) None else Some(newContext(inputs))
    val traced = probes.exec.isDefined
    for (_ <- 1 to (if (shared.isDefined) math.max(warm, 1) else warm)) {
      val ctx = shared.getOrElse(newContext(inputs))
      guarded(w.op(ctx))
      if (shared.isEmpty) ctx.close()
    }
    probes.sync()
    val t0 = System.nanoTime()
    def more = elapsedS < hardStopS &&
      ((System.nanoTime() - t0) / 1e9 < seconds || samples.length < minOps)
    while (more) {
      val ctx = shared.getOrElse(newContext(inputs))
      val e0 = probes.exec.map(_.totals)
      val c0 = probes.catalyst.map(_.totals)
      val s0 = probes.storage.snapshot
      val base = if (traced) probes.storage.resetPeak() else 0L
      val k0 = counters(ctx)
      val from = System.currentTimeMillis()
      val r = guarded(w.op(ctx))
      val to = System.currentTimeMillis()
      val k1 = counters(ctx)
      val stats = ctx.iterationStats.drop(k0.statsSeen)
      val pushed = ctx.lastBoundPushdown
      if (shared.isEmpty) ctx.close()
      val trace = if (!traced) None else {
        probes.sync()
        val e = probes.exec.get
        val e1 = e.totals
        val (ex0, pl0) = c0.get
        val (ex1, pl1) = probes.catalyst.get.totals
        val s1 = probes.storage.snapshot
        val walls = stats.map(_._4.toDouble)
        val iterations = stats.length.toDouble
        val mb = 1024.0 * 1024.0
        Some(Map(
          "evaluator.query_ms" -> r.queryMs,
          "evaluator.iterations" -> iterations,
          "evaluator.iter_ms_p50" -> median(walls),
          "evaluator.iter_growth" -> (if (walls.isEmpty) 0.0 else walls.last / math.max(1.0, walls.head)),
          "evaluator.template_hit_ratio" ->
            (if (iterations == 0) 0.0 else (k1.templateHits - k0.templateHits) / iterations),
          "evaluator.localized_slices" -> (k1.localized - k0.localized).toDouble,
          "evaluator.mono_local_runs" -> (k1.monoLocal - k0.monoLocal).toDouble,
          "evaluator.mono_fragment_runs" -> (k1.monoFragment - k0.monoFragment).toDouble,
          "evaluator.bound_pushdown_ratio" -> (if (pushed) 1.0 else 0.0),
          "select.max_delta_rows" -> (if (stats.isEmpty) 0.0 else stats.map(_._3).max.toDouble),
          "catalyst.executions" -> (ex1 - ex0).toDouble,
          "catalyst.planning_ms" -> (pl1 - pl0).toDouble,
          "driver.gap_ms" -> e.uncoveredMs(from, to).toDouble,
          "exec.jobs" -> (e1.jobs - e0.get.jobs).toDouble,
          "exec.stages" -> (e1.stages - e0.get.stages).toDouble,
          "exec.tasks" -> (e1.tasks - e0.get.tasks).toDouble,
          "exec.tasks_per_iteration" -> (e1.tasks - e0.get.tasks) / math.max(1.0, iterations),
          "exec.busy_ms" -> (e1.busyMs - e0.get.busyMs).toDouble,
          "exec.task_cpu_ms" -> (e1.cpuNs - e0.get.cpuNs) / 1e6,
          "exec.shuffle_write_mb" -> (e1.shuffleWrite - e0.get.shuffleWrite) / mb,
          "exec.shuffle_read_mb" -> (e1.shuffleRead - e0.get.shuffleRead) / mb,
          "exec.failed_tasks" -> (e1.failedTasks - e0.get.failedTasks).toDouble,
          "mat.blocks_written" -> (s1.blocksWritten - s0.blocksWritten).toDouble,
          "mat.bytes_written_mb" -> (s1.bytesWritten - s0.bytesWritten) / mb,
          "mat.collect_ms" -> r.collectMs,
          "mat.peak_mb" -> (probes.storage.peakBytes - base) / mb)
          ++ (if (shared.isEmpty) Map("mat.live_blocks_after_close" -> s1.liveBlocks.toDouble) else Map.empty))
      }
      samples += Sample(r, trace)
    }
    shared.foreach { ctx =>
      ctx.close()
      probes.sync()
    }
    samples.toSeq
  }

  def run(): Report = {
    val (_, oracleMs) = timed(w.prepareOracle())
    notes += f"workload ${w.name} seed ${args.seed}: ${w.nodes} nodes, oracle built in $oracleMs%.0f ms"
    val setups = (1 to 3).map(_ => setUp(args.cores))
    val setupsDoneS = elapsedS
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, u: String): Unit = metrics(n) = (v, u)

    if (!args.trace) {
      val probes = new Probes(spark, traced = false)
      val samples = measure(args.seconds, 2, probes, w.warmOps)
      probes.sync()
      val walls = samples.map(_.r.wallMs)
      put("setup_s", median(setups.map { case (a, b, c) => a + b + c }) / 1e3, "s")
      put("eval_s", median(walls) / 1e3, "s")
      put("queries_per_s", walls.length / (walls.sum / 1e3), "1/s")
      put("storage_peak_mb", probes.storage.peakBytes / (1024.0 * 1024.0), "MB")
      describeLatency(walls)
    } else traced(setups, put)

    val measureDoneS = elapsedS
    closeSession()
    notes += f"phase walls: start and set-ups $setupsDoneS%.1f s, warm-up and measure " +
      f"${measureDoneS - setupsDoneS}%.1f s, teardown ${elapsedS - measureDoneS}%.1f s"
    if (args.trace) put("teardown.errors", teardownErrors.toDouble, "count")
    val report = new Report(attempted, failed)
    notes.foreach(report.note)
    report.note(f"failed_frac ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f " +
      s"($failed of $attempted operations), teardown errors $teardownErrors")
    metrics.foreach { case (n, (v, u)) => report.metric(n, v, u) }
    report
  }

  private def describeLatency(walls: Seq[Double]): Unit = {
    val s = walls.sorted
    val p90 = if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.ceil(0.9 * s.length).toInt - 1))
    val beyond = s.count(_ > p90)
    notes += "operation walls (ms): " + walls.map(x => f"$x%.0f").mkString(" ")
    notes += f"query_p50_ms ${median(walls)}%.2f over ${walls.length} queries" +
      (if (beyond >= 10) f"; query_p90_ms $p90%.2f ($beyond beyond it)"
       else s"; query_p90_ms not reported: $beyond samples beyond it, 10 needed")
  }

  private def traced(setups: Seq[(Double, Double, Double)], put: (String, Double, String) => Unit): Unit = {
    put("setup.session_ms", median(setups.map(_._1)), "ms")
    put("setup.inputs_ms", median(setups.map(_._2)), "ms")
    put("setup.warmup_ms", median(setups.map(_._3)), "ms")

    // Untraced passes before and after the traced one: the difference of
    // their medians is the tracing overhead, with warm-up order balanced.
    def untraced(warm: Int): Seq[Double] = {
      val p = new Probes(spark, traced = false)
      try measure(args.seconds / 4, 1, p, warm).map(_.r.wallMs) finally p.detach()
    }
    val plainBefore = untraced(w.warmOps)
    val fe = (1 to 5).map { _ =>
      val (prog, parseMs) = timed { val p = Parser.parseProgram(w.program); Parser.parseQuery(w.sampleQuery); p }
      val (_, analysisMs) = timed(new Analysis(prog))
      val (ctx, loadMs) = timed(newContext(inputs))
      ctx.close()
      (parseMs, analysisMs, loadMs)
    }
    spark.conf.set(collectStats, "true")
    val probes = new Probes(spark, traced = true)
    val samples = measure(args.seconds / 2, 2, probes)
    probes.detach()
    spark.conf.unset(collectStats)
    val plain = plainBefore ++ untraced(0)
    val walls = samples.map(_.r.wallMs)
    put("trace.untraced_eval_ms", median(plain), "ms")
    put("trace.traced_eval_ms", median(walls), "ms")
    put("trace.overhead_pct", (median(walls) / median(plain) - 1) * 100, "%")
    put("frontend.parse_ms", median(fe.map(_._1)), "ms")
    put("frontend.analysis_ms", median(fe.map(_._2)), "ms")
    put("frontend.load_ms", median(fe.map(_._3)), "ms")

    val traces = samples.flatMap(_.trace)
    val keys = traces.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    val unitOf = (k: String) =>
      if (k.contains("_ms")) "ms" else if (k.endsWith("_mb")) "MB"
      else if (k.endsWith("_ratio") || k.endsWith("_growth")) "ratio" else "count"
    for (k <- keys if k != "mat.live_blocks_after_close" && k != "mat.peak_mb")
      put(k, median(traces.map(_(k))), unitOf(k))
    put("mat.peak_mb", traces.map(_("mat.peak_mb")).maxOption.getOrElse(0.0), "MB")
    // Released state: the worst operation, and after a shared context closes.
    put("mat.live_blocks_after_close",
      (traces.flatMap(_.get("mat.live_blocks_after_close")) :+ probes.storage.snapshot.liveBlocks.toDouble).max, "count")

    // Selection properties next to the arm counters: what decides the arm.
    val defaults = DatalogConf()
    put("select.nodes", w.nodes.toDouble, "count")
    put("select.cap_local_delta_rows", defaults.localDeltaRows.toDouble, "count")
    put("select.cap_mono_local_autoentries", defaults.monotonicLocalAutoEntries.toDouble, "count")

    // Scaling curve: the same operation at 1, 2 and 4 cores.
    for (c <- Seq(1, 2, 4)) {
      setUp(c)
      spark.conf.set(collectStats, "true")
      val p = new Probes(spark, traced = true)
      val run = measure(0.0, if (w.freshContextPerOp) 1 else 10, p).flatMap(_.trace)
      val scaledWalls = run.map(t => t("evaluator.query_ms") + t("mat.collect_ms"))
      put(s"scale.c$c.eval_ms", median(scaledWalls), "ms")
      put(s"scale.c$c.exec_busy_ms", median(run.map(_("exec.busy_ms"))), "ms")
      put(s"scale.c$c.driver_gap_ms", median(run.map(_("driver.gap_ms"))), "ms")
    }
  }
}
