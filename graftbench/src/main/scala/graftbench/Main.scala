package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** One workload: inputs made from the seed, a set-up that readies graft
  * for them, and rounds of fixed work driven through `Ctx`. */
trait Workload {
  /** Generates the inputs; not part of the measured set-up. */
  def prepare(ctx: Ctx): Unit
  /** Readies graft for the rounds, from scratch, in `ctx.spark`. */
  def setup(ctx: Ctx, dir: File): Unit
  /** Whether set-up needs a session built with GraftExtensions. */
  def extensions: Boolean = false
  /** Set-ups per run; setup_s is their median. A cheap set-up is repeated
    * more often, so that its median is not one scheduler hiccup. */
  def setupReps: Int = 3
  /** Timed rounds per run at the least (untraced). */
  def minRounds: Int = 3
  def round(ctx: Ctx, r: Int): Unit
  /** Final checks; returns lake.bytes_per_live_row and lake.write_amp. */
  def finish(ctx: Ctx): Map[String, Double]
  /** Per-layer values measured once per run (table shape at the end). */
  def gauges(ctx: Ctx): Map[String, Double] = Map.empty
  /** A digest of the generated inputs, to show that the seed moves them. */
  def inputDigest: String
}

object Main {
  /** Metric name → unit. Must match BENCHMARK.json. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "round_refcpu_s" -> "s", "op_refcpu_iqm_ms" -> "ms", "read_refcpu_iqm_ms" -> "ms",
    "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_ms" -> "ms", "queries.eager_jobs" -> "count", "queries.relational_s" -> "s",
    "queries.text_s" -> "s", "queries.vector_s" -> "s", "queries.lake_s" -> "s",
    "queries.pipeline_s" -> "s",
    "catalyst.analyze_ms" -> "ms", "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.tasks_per_stage" -> "ratio", "exec.driver_gap_ms" -> "ms", "exec.task_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.task_gc_ms" -> "ms", "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.input_bytes" -> "B",
    "lake.scan_plan_ms" -> "ms", "lake.files_scanned_frac" -> "ratio", "lake.snapshots" -> "count",
    "lake.live_data_files" -> "count", "lake.live_delete_files" -> "count",
    "lake.commit_driver_ms" -> "ms", "lake.rewritten_files_per_commit" -> "ratio",
    "lake.data_bytes_written" -> "B", "lake.meta_bytes_written" -> "B",
    "lake.maintain_ms" -> "ms", "lake.maintain_bytes_rewritten" -> "B",
    "lake.bytes_per_live_row" -> "B", "lake.write_amp" -> "ratio",
    "streaming.merge_ms" -> "ms", "streaming.rows_in" -> "count",
    "streaming.rows_applied" -> "count", "streaming.applied_frac" -> "ratio",
    "dsv2.insert_ms" -> "ms", "dsv2.update_ms" -> "ms", "dsv2.delete_ms" -> "ms",
    "dsv2.merge_ms" -> "ms", "dsv2.ddl_ms" -> "ms", "dsv2.branch_ms" -> "ms",
    "dsv2.time_travel_ms" -> "ms", "dsv2.metadata_table_ms" -> "ms", "dsv2.procedure_ms" -> "ms",
    "dsv2.jobs_per_stmt" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "jvm.heap_peak_mb" -> "MB", "jvm.process_cpu_s" -> "s",
    "self.queries_ms" -> "ms", "self.catalyst_ms" -> "ms", "self.exec_ms" -> "ms",
    "self.lake_ms" -> "ms", "self.streaming_ms" -> "ms", "self.dsv2_ms" -> "ms",
    "self.op_ms" -> "ms", "trace.coverage" -> "ratio", "trace.overhead_ms" -> "ms")

  /** Ratios computed from run totals, not averaged per round. */
  private val Ratios: Map[String, (String, String)] = Map(
    "exec.tasks_per_stage" -> ("exec.tasks", "exec.stages"),
    "lake.files_scanned_frac" -> ("lake.files_scanned", "lake.files_live"),
    "lake.rewritten_files_per_commit" -> ("lake.files_rewritten", "lake.commits"),
    "streaming.applied_frac" -> ("streaming.rows_applied", "streaming.rows_in"),
    "dsv2.jobs_per_stmt" -> ("exec.jobs", "dsv2.statements"))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val fault = args.contains("--fault")
    val work = new File(opts("work"))
    val out = new File(opts("out"))

    (1 to 5).foreach(_ => Health.spinProbeMs())
    (1 to 5).foreach(_ => RefProbe.cpuMs())
    val spinBefore = Health.spinProbeMs()
    val loadBefore = Health.loadAvg()
    val (steal0, total0) = Health.cpuJiffies()

    // One task thread: the harness's client thread and one executor thread
    // leave the box's other cores to the JVM's compiler and GC threads, and
    // task threads no longer contend with each other for locks, which made
    // the CPU time of the same query vary more from run to run.
    val cores = 1
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = if (trace) Some(new ExecProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val jvmThreads = AppCpu.scan()

    val ctx = new Ctx(spark, work, seed, fault, probe)
    val workload: Workload = workloadName match {
      case "query_sweep" => new QuerySweep(new File(opts("expected")), out)
      case "cdc_ingest" => new CdcIngest
      case "notebook_sql" => new NotebookSql
      case other => sys.error(s"unknown workload $other")
    }
    val log = (s: String) => System.err.println(s"[graftbench] $workloadName: $s")

    workload.prepare(ctx)
    val readyMs = mutable.ArrayBuffer.empty[Double]
    val setupWallS = mutable.ArrayBuffer.empty[Double]
    val setupS = (1 to workload.setupReps).map { i =>
      ctx.spark = freshSession(workload.extensions)
      val t0 = System.nanoTime()
      val c0 = AppCpu.nowNs
      workload.setup(ctx, new File(work, s"setup-$i"))
      readyMs += System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
      setupWallS += (System.nanoTime() - t0) / 1e9
      val cpuS = (AppCpu.nowNs - c0) / 1e9
      ctx.refMs += RefProbe.cpuMs()
      cpuS
    }
    log(f"inputs ${workload.inputDigest}; set-ups ${setupS.map(s => f"$s%.2f").mkString(" ")} s CPU, " +
      f"${setupWallS.map(s => f"$s%.2f").mkString(" ")} s wall; " +
      f"JVM start to first ready ${readyMs.head / 1000}%.2f s; JVM threads left out of CPU time: " +
      jvmThreads.mkString(", "))

    ctx.beginRound(0, timed = false, trace = false)
    workload.round(ctx, 0)
    ctx.endRound()

    // Timed rounds until `seconds` of wall time have passed, and at least
    // the workload's minimum. A traced run orders its rounds traced,
    // untraced, untraced, traced, so that a linear warm-up drift cancels
    // out of the tracing overhead.
    val roundMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val roundWallMs = mutable.ArrayBuffer.empty[Double]
    val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val heapPeaks = mutable.ArrayBuffer.empty[Double]
    val minRounds = if (trace) 4 else workload.minRounds
    val t0 = System.nanoTime()
    var r = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds || roundMs.size < minRounds) {
      val traced = trace && (r % 4 == 1 || r % 4 == 0)
      Jvm.resetHeapPeak()
      val j0 = Jvm.sample()
      ctx.beginRound(r, timed = true, trace = traced)
      workload.round(ctx, r)
      val (ms, wallMs) = ctx.endRound()
      val j1 = Jvm.sample()
      roundMs += ((traced, ms))
      roundWallMs += wallMs
      if (traced) {
        ctx.layer.foreach { case (k, v) => totals(k) += v }
        totals("jvm.gc_ms") += j1.gcMs - j0.gcMs
        totals("jvm.jit_ms") += j1.jitMs - j0.jitMs
        totals("jvm.process_cpu_s") += (j1.cpuNs - j0.cpuNs) / 1e9
        heapPeaks += Jvm.heapPeakMb
      }
      r += 1
    }
    val storage = workload.finish(ctx)
    val retained = Jvm.retainedHeapMb()

    val opS = ctx.samples.getOrElse("op", Nil).toSeq
    val readS = ctx.samples.getOrElse("read", Nil).toSeq
    val plain = roundMs.filter(!_._1).map(_._2).toSeq
    // CPU times at the reference speed: scaled by how much slower than on
    // a quiet box the probe ran in this run (RefProbe)
    val scale = RefProbe.ReferenceMs / (ctx.refMs.sum / ctx.refMs.size)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val v = Map(
          "setup_s" -> Stats.median(setupS) * scale,
          "round_refcpu_s" -> plain.sum / plain.size / 1000 * scale,
          "op_refcpu_iqm_ms" -> Stats.iqm(opS) * scale,
          "read_refcpu_iqm_ms" -> Stats.iqm(readS) * scale,
          "retained_heap_mb" -> retained)
        EndToEnd.map { case (k, u) => (k, v(k), u) }
      } else {
        val tracedRounds = roundMs.count(_._1).toDouble
        val tracedMs = roundMs.filter(_._1).map(_._2).toSeq
        val gauges = workload.gauges(ctx) ++ storage
        val derived = Map(
          "jvm.heap_peak_mb" -> Stats.median(heapPeaks.toSeq),
          "trace.coverage" -> (1 - totals("self.op_ms") / totals("trace.op_ms").max(1e-9)),
          "trace.overhead_ms" -> (Stats.median(tracedMs) - Stats.median(plain)))
        PerLayer.map { case (k, u) =>
          val v = derived.get(k).orElse(gauges.get(k)).getOrElse {
            Ratios.get(k) match {
              case Some((n, d)) => if (totals(d) > 0) totals(n) / totals(d) else 0.0
              case None => totals(k) / tracedRounds
            }
          }
          (k, v, u)
        }
      }

    val spinAfter = Health.spinProbeMs()
    val (steal1, total1) = Health.cpuJiffies()
    val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val correct = ctx.failed == 0
    val metricJson = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": $metricJson}"""
    val health =
      s"""{"workload": "$workloadName", "seed": $seed, "trace": $trace, "fault": $fault, """ +
        s""""inputs": "${workload.inputDigest}", "load_avg_before": "$loadBefore", """ +
        s""""load_avg_after": "${Health.loadAvg()}", "cpu_steal_pct": $stealPct, """ +
        s""""spin_probe_ms_before": $spinBefore, "spin_probe_ms_after": $spinAfter, """ +
        s""""cores": $cores, "rounds": ${roundMs.size}, "op_samples": ${opS.size}, """ +
        s""""read_samples": ${readS.size}, "setup_cpu_s": [${setupS.mkString(", ")}], """ +
        s""""setup_wall_s": [${setupWallS.mkString(", ")}], """ +
        s""""jvm_start_to_ready_s": ${readyMs.head / 1000}, "round_cpu_ms": [${roundMs.map(_._2).mkString(", ")}], """ +
        s""""round_wall_ms": [${roundWallMs.mkString(", ")}], "ref_scale": $scale, "ref_probe_ms": [${ctx.refMs.map(x => f"$x%.2f").mkString(", ")}], """ +
        ctx.byName.map { case (k, v) => s""""$k": [${v.map(x => f"$x%.1f").mkString(", ")}]""" }
          .mkString(""""op_cpu_ms": {""", ", ", "}, ") +
        s""""result": $result}"""
    val tag = s"$workloadName-seed$seed-trace${if (trace) 1 else 0}"
    out.mkdirs()
    Files.write(new File(out, s"health-$tag.json").toPath, health.getBytes(StandardCharsets.UTF_8))
    log(s"health $health")
    if (trace) writeSpans(new File(out, s"spans-$workloadName-seed$seed.jsonl"), workloadName,
      ctx.spans.toSeq, ctx.opSelf.toSeq, plain, roundMs.filter(_._1).map(_._2).toSeq)
    spark.stop()
    println(result)
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** A new session on the shared context: fresh catalogs, temp views and
    * graft's per-session memos, so each set-up starts from nothing. */
  private def freshSession(extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
    val s = (if (extensions) b.withExtensions(new graft.functions.GraftExtensions()(_)) else b).create()
    SparkSession.setActiveSession(s)
    SparkSession.setDefaultSession(s)
    s
  }

  /** The spans of the traced rounds, then one line per traced operation
    * with its layers' self times; trace_summary.py reads the latter. */
  private def writeSpans(f: File, workload: String, spans: Seq[Span], ops: Seq[OpSelf],
                         untracedMs: Seq[Double], tracedMs: Seq[Double]): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"meta": {"workload": "$workload", "round_cpu_ms_untraced": [${untracedMs.mkString(", ")}], """ +
      s""""round_cpu_ms_traced": [${tracedMs.mkString(", ")}]}}\n"""
    spans.foreach { s =>
      sb ++= s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "round": ${s.round}, """ +
        s""""name": "${s.name}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}\n"""
    }
    ops.foreach { o =>
      sb ++= s"""{"op_self": {"op": ${o.op}, "round": ${o.round}, "name": "${o.name}", "wall_ms": ${o.wallMs}, """ +
        o.selfMs.map { case (l, ms) => s""""$l": $ms""" }.mkString(""""self_ms": {""", ", ", "}}}\n")
    }
    Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
