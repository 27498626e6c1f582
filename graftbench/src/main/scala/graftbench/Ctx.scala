package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One span of the traced run. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, round: Int, name: String,
                      startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Self time (ms) by layer of one traced operation, as SelfTime.byLayer
  * splits it; "op" is time no layer span covered. */
final case class OpSelf(op: Long, round: Int, name: String, wallMs: Double, selfMs: Map[String, Double])

/** The benchmark's side of every call into graft: times operations,
  * pools their latencies, counts attempts and failures and, in traced
  * rounds, records spans and per-layer counters. One client thread. */
final class Ctx(var spark: SparkSession, val work: File, val seed: Long,
                val fault: Boolean, val probe: Option[ExecProbe]) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  var attempted = 0L
  var failed = 0L
  /** CPU-time samples (ms, AppCpu) of timed rounds' operations, by
    * population: "op", "read". */
  val samples: mutable.Map[String, ArrayBuffer[Double]] = mutable.Map.empty
  /** RefProbe's CPU times (ms): one after each set-up (added by Main) and
    * one after each timed operation. */
  val refMs = ArrayBuffer.empty[Double]
  /** The same CPU times by operation name, for the health record. */
  val byName: mutable.LinkedHashMap[String, ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Per-layer counters of the current traced round. */
  val layer: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val spans = ArrayBuffer.empty[Span]
  val opSelf = ArrayBuffer.empty[OpSelf]

  private var timing = false
  private var traced = false
  private var round = 0
  private var roundCpuMs = 0.0
  private var roundWallMs = 0.0
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var opId = 0L

  def isTraced: Boolean = traced
  /** Wall time (ms) of the last operation. */
  var lastWallMs = 0.0

  def beginRound(r: Int, timed: Boolean, trace: Boolean): Unit = {
    round = r; timing = timed; traced = trace; roundCpuMs = 0.0; roundWallMs = 0.0
    probe.foreach(_.on = trace)
    layer.clear()
    if (traced) stack = List(open("round", 0L))
  }

  /** CPU-time and wall-clock sums (ms) of the operations of the round
    * just run. */
  def endRound(): (Double, Double) = {
    if (traced) close(stack.head)
    stack = Nil
    probe.foreach(_.on = false)
    (roundCpuMs, roundWallMs)
  }

  private val openSpans = mutable.Map.empty[Long, (Long, Long, String, Double)]

  private def open(name: String, op: Long): Long = {
    val id = nextId; nextId += 1
    openSpans(id) = (stack.headOption.getOrElse(0L), op, name, nowMs)
    id
  }

  private def close(id: Long): Unit = {
    val (parent, o, name, t0) = openSpans.remove(id).get
    spans += Span(id, parent, o, round, name, t0, nowMs)
  }

  /** A traced span around `body`; a plain call when the round is untraced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = open(name, opId)
      stack = id :: stack
      try body finally { stack = stack.tail; close(id) }
    }

  /** Records a span measured elsewhere (Catalyst's phase tracker); its
    * parent is resolved by containment when the operation ends. */
  def recordSpan(name: String, startMs: Double, endMs: Double): Unit =
    if (traced && endMs >= startMs) {
      spans += Span(nextId, -1L, opId, round, name, startMs, endMs)
      nextId += 1
    }

  def count(metric: String, v: Double): Unit = if (traced) layer(metric) += v

  /** Catalyst's own phase timings of a query, as spans and counters. */
  def catalyst(qe: org.apache.spark.sql.execution.QueryExecution): Unit = if (traced) {
    val phases = qe.tracker.phases
    Seq("parsing" -> ("catalyst.parse", "catalyst.analyze_ms"),
      "analysis" -> ("catalyst.analyze", "catalyst.analyze_ms"),
      "optimization" -> ("catalyst.optimize", "catalyst.optimize_ms"),
      "planning" -> ("catalyst.plan", "catalyst.plan_ms")).foreach { case (k, (span, metric)) =>
      phases.get(k).foreach { p =>
        recordSpan(span, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        count(metric, p.durationMs.toDouble)
      }
    }
  }

  /** One operation of the workload: timed, counted as attempted, and
    * counted as failed when it throws. `pops` names the latency samples
    * it joins ("op", "read"); operations kept out of the percentiles
    * (maintenance) join none. `write` marks operations that commit. */
  def op[T](name: String, pops: Seq[String], write: Boolean = false)(body: => T): Option[T] = {
    attempted += 1
    opId += 1
    val group = s"graftbench-$opId"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val first = spans.size
    val id = if (traced) { val i = open("op", opId); stack = i :: stack; Some(i) } else None
    val c0 = AppCpu.nowNs
    val t0 = System.nanoTime()
    val res =
      try Some(body)
      catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val cpuMs = (AppCpu.nowNs - c0) / 1e6
    lastWallMs = wallMs
    sc.clearJobGroup()
    id.foreach { i => stack = stack.tail; close(i) }
    if (timing) {
      roundCpuMs += cpuMs
      roundWallMs += wallMs
      if (res.isDefined) pops.foreach(p => samples.getOrElseUpdate(p, ArrayBuffer.empty) += cpuMs)
      byName.getOrElseUpdate(name, ArrayBuffer.empty) += cpuMs
      refMs += RefProbe.cpuMs()
    }
    if (traced) attribute(name, group, first, write)
    res
  }

  /** A failed output check of the operation just run. */
  def mismatch(what: String): Unit = {
    failed += 1
    System.err.println(s"[graftbench] WRONG OUTPUT: $what")
  }

  /** Attaches the listener's jobs and stages of one operation to its spans
    * and adds its scheduler counters to the round's layer totals. */
  private def attribute(name: String, group: String, first: Int, write: Boolean): Unit = {
    val p = probe.get
    org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
    val g = p.take(group)
    val opSpan = spans.slice(first, spans.size).find(_.name == "op").get
    val bench = spans.slice(first, spans.size).filter(_.parent != -1L).toSeq
    def deepest(t: Double): Long =
      bench.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(s => depth(s, bench)).map(_.id)
        .getOrElse(opSpan.id)
    for (i <- first until spans.size if spans(i).parent == -1L)
      spans(i) = spans(i).copy(parent = deepest(spans(i).startMs))
    val jobIds = mutable.Map.empty[Int, Long]
    g.jobSpans.sortBy(_._2).foreach { case (job, a, b) =>
      val id = nextId; nextId += 1
      jobIds(job) = id
      val parent = deepest(a.toDouble)
      if (bench.exists(s => s.id == parent && s.name == "queries.build")) count("queries.eager_jobs", 1)
      spans += Span(id, parent, opSpan.op, round, "exec.job", a.toDouble, b.toDouble)
    }
    g.stageSpans.foreach { case (_, job, a, b) =>
      jobIds.get(job).foreach { parent =>
        spans += Span(nextId, parent, opSpan.op, round, "exec.stage", a.toDouble, b.toDouble)
        nextId += 1
      }
    }
    count("exec.jobs", g.jobs.toDouble)
    count("exec.stages", g.stages.toDouble)
    count("exec.tasks", g.tasks.toDouble)
    count("exec.task_ms", g.taskMs.toDouble)
    count("exec.task_cpu_ms", g.taskCpuMs)
    count("exec.task_gc_ms", g.taskGcMs.toDouble)
    count("exec.shuffle_write_bytes", g.shuffleWriteBytes.toDouble)
    count("exec.spill_bytes", g.spillBytes.toDouble)
    count("exec.input_bytes", g.inputBytes.toDouble)
    val busy = (a: Double, b: Double) =>
      Stats.covered(g.taskIntervals, math.floor(a).toLong, math.ceil(b).toLong).toDouble
    val own = spans.slice(first, spans.size).toSeq
    own.filter(_.name == "exec.action").foreach { s =>
      count("exec.driver_gap_ms", ((s.endMs - s.startMs) - busy(s.startMs, s.endMs)).max(0.0))
    }
    if (write) {
      count("lake.commit_driver_ms",
        ((opSpan.endMs - opSpan.startMs) - busy(opSpan.startMs, opSpan.endMs)).max(0.0))
      count("lake.commits", 1)
    }
    val self = SelfTime.byLayer(own)
    self.foreach { case (l, ms) => count(s"self.${l}_ms", ms) }
    count("trace.op_ms", opSpan.endMs - opSpan.startMs)
    opSelf += OpSelf(opSpan.op, round, name, opSpan.endMs - opSpan.startMs, self)
  }

  private def depth(s: Span, all: Seq[Span]): Int = {
    var d = 0
    var p = s.parent
    while (p != 0L) { d += 1; p = all.find(_.id == p).map(_.parent).getOrElse(0L) }
    d
  }
}

/** Self time by layer. At each instant of an operation the innermost
  * active span owns the time: the deepest one, and among equally deep
  * overlapping spans the listener's jobs and stages before Catalyst's
  * phases before the benchmark's own spans. The layers' self times then
  * add up to the operation's wall time exactly. */
object SelfTime {
  private def rank(s: Span): Int =
    if (s.name.startsWith("exec.job") || s.name.startsWith("exec.stage")) 2
    else if (s.name.startsWith("catalyst.")) 1 else 0

  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = {
      var d = 0; var p = s.parent
      while (byId.contains(p)) { d += 1; p = byId(p).parent }
      d
    }
    val ranked = spans.map(s => (s, (depth(s), rank(s))))
    val op = spans.find(_.name == "op").get
    val cuts = spans.flatMap(s => Seq(s.startMs, s.endMs))
      .map(_.max(op.startMs).min(op.endMs)).distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val active = ranked.filter { case (s, _) => s.startMs <= mid && mid < s.endMs }
      if (active.nonEmpty) out(active.maxBy(_._2)._1.layer) += b - a
    }
    out.toMap
  }
}
