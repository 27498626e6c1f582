package graftbench

import org.apache.spark.scheduler._

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Interquartile mean: the mean of the middle half of the sorted sample,
    * with the samples at its edges weighted by the part of them inside it.
    * Unlike the median it does not jump from one kind of operation to
    * another when the sample mixes kinds of different cost. */
  def iqm(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "interquartile mean of an empty sample")
    val s = xs.sorted
    val n = s.size.toDouble
    val (lo, hi) = (n / 4, 3 * n / 4)
    // sample i covers [i, i + 1) of the ranks; weigh it by its overlap with [lo, hi)
    s.indices.map(i => s(i) * ((i + 1.0).min(hi) - i.toDouble.max(lo)).max(0.0)).sum / (hi - lo)
  }

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = (lo + 1).min(s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total length of the union of [start, end) intervals clipped to [from, to). */
  def covered(intervals: Iterable[(Long, Long)], from: Long, to: Long): Long = {
    val xs = intervals.iterator.map { case (a, b) => (a.max(from), b.min(to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Spark scheduler work of one job group (one benchmark operation), as the
  * listener saw it. Times are epoch milliseconds, as Spark reports them. */
final class GroupExec {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var taskCpuMs = 0.0; var taskGcMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var inputBytes = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  /** (jobId, start, end) */
  val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
  /** (stageId, jobId, start, end) */
  val stageSpans = ArrayBuffer.empty[(Int, Int, Long, Long)]
}

/** Per-job-group accounting of jobs, stages and tasks. Registered only in
  * traced runs; the untraced rounds of a traced run switch it off. */
final class ExecProbe extends SparkListener {
  @volatile var on = false
  private val groups = new ConcurrentHashMap[String, GroupExec]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def groupOf(g: String): GroupExec = groups.computeIfAbsent(g, _ => new GroupExec)

  /** Removes and returns what the listener recorded for group `g`. */
  def take(g: String): GroupExec = Option(groups.remove(g)).getOrElse(new GroupExec)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { gid =>
      jobGroup.put(e.jobId, gid)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val ge = groupOf(gid)
      ge.synchronized { ge.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { gid =>
      val ge = groupOf(gid)
      val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
      ge.synchronized { ge.jobSpans += ((e.jobId, t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).flatMap(j => Option(jobGroup.get(j)).map(j -> _))
      .foreach { case (job, gid) =>
        val ge = groupOf(gid)
        val t0 = si.submissionTime.getOrElse(0L)
        val t1 = si.completionTime.getOrElse(t0)
        ge.synchronized {
          ge.stages += 1
          ge.stageSpans += ((si.stageId, job, t0, t1))
        }
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobGroup.get(j))).foreach { gid =>
      val ge = groupOf(gid)
      val info = e.taskInfo
      val m = e.taskMetrics
      ge.synchronized {
        ge.tasks += 1
        ge.taskMs += info.duration
        ge.taskIntervals += ((info.launchTime, info.finishTime))
        if (m != null) {
          ge.taskCpuMs += m.executorCpuTime / 1e6
          ge.taskGcMs += m.jvmGCTime
          ge.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          ge.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          ge.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
}

/** JVM-wide counters, read as deltas around a round. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = Option(ManagementFactory.getCompilationMXBean)
  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => Some(o)
    case _ => None
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  final case class Sample(gcMs: Long, jitMs: Long, cpuNs: Long)

  def sample(): Sample = Sample(
    gcs.map(_.getCollectionTime.max(0L)).sum,
    jit.filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L),
    os.map(_.getProcessCpuTime).getOrElse(0L))

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * broadcast and shuffle state asynchronously once a collection has
    * found it unreachable, so collect three times, pausing between, and
    * keep the lowest reading. */
  def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

/** The box's health beside a run: load average, CPU steal and a fixed
  * single-thread spin probe. Not a metric: it explains a disagreement
  * between runs when another tenant held the cores. */
object Health {
  /** Same fixed xorshift loop as graft.Bench's spin probe. */
  def spinProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }

  /** (steal jiffies, total jiffies) of the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
}

/** CPU time of the program's own threads: the process's CPU time less that
  * of the JVM's compiler and GC threads. The kernel's task clock leaves out
  * time in which the host ran another guest on one of the box's virtual
  * CPUs (steal), so unlike the wall clock this clock does not follow the
  * neighbours' load. JIT and GC threads are left out because their work
  * depends on when compilations and collections fall, not on the rounds;
  * GC time is reported per layer (jvm.gc_ms). run.py turns off the JVM's
  * dynamic compiler and GC thread counts, so the set of these threads is
  * fixed once the JVM has started. */
object AppCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val InternalPrefixes = Seq("C1 CompilerThre", "C2 CompilerThre", "GC Thread#", "VM Thread")
  /** schedstat file → last runtime read (ns), kept if the thread has gone. */
  private val internal = scala.collection.mutable.LinkedHashMap.empty[java.io.File, Long]

  /** Finds the JVM's compiler and GC threads; returns their names. */
  def scan(): Seq[String] = synchronized {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty[java.io.File])
    tasks.toSeq.flatMap { t =>
      val name = try new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath)).trim
        catch { case _: java.io.IOException => "" }
      if (InternalPrefixes.exists(name.startsWith)) {
        internal.getOrElseUpdate(new java.io.File(t, "schedstat"), 0L)
        Some(name)
      } else None
    }.sorted
  }

  private def runtimeNs(f: java.io.File, last: Long): Long =
    try new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.split(' ')(0).toLong
    catch { case _: Exception => last }

  def nowNs: Long = synchronized {
    val total = os.getProcessCpuTime
    var jvm = 0L
    internal.keys.toSeq.foreach { f =>
      val ns = runtimeNs(f, internal(f))
      internal(f) = ns
      jvm += ns
    }
    total - jvm
  }
}

/** A fixed piece of JVM work, timed by the client thread's CPU clock: the
  * box's speed at that moment. Neighbours on the host that share a core or
  * the memory bus slow the program's own instructions, and no CPU clock
  * leaves that out; this probe, run after each set-up and each timed
  * operation, measures it. It allocates nothing, so no collection falls
  * into it. */
object RefProbe {
  private val tmx = ManagementFactory.getThreadMXBean
  private val buf = new Array[Long](1 << 17)
  private val counts = new Array[Int](1 << 14)
  /** The probe's CPU time on a quiet box: its run means in nine runs of
    * cdc_ingest with under 0.5% CPU steal, on a 4-vCPU Xeon guest, were
    * 13.9 to 16.9 ms. End-to-end times are scaled to this speed. */
  val ReferenceMs = 15.0

  /** CPU milliseconds of one pass: fill 1 MB with xorshift values, sort
    * them, and count them into hashed buckets. */
  def cpuMs(): Double = {
    val t0 = tmx.getCurrentThreadCpuTime
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < buf.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; buf(i) = x; i += 1 }
    java.util.Arrays.sort(buf)
    java.util.Arrays.fill(counts, 0)
    i = 0
    while (i < buf.length) { counts(((buf(i) * 0x9E3779B97F4A7C15L) >>> 50).toInt) += 1; i += 1 }
    if (counts(0) < 0) System.err.println("")
    (tmx.getCurrentThreadCpuTime - t0) / 1e6
  }
}
