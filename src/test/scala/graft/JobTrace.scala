package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Spark-job budgets for specs: counts the jobs a body starts and, when a
  * budget is exceeded, names where each job came from — its SQL
  * execution's description and the first `graft.` frame of the call site
  * that started that execution. A job outside any SQL execution is named
  * by its own call site. */
trait JobTrace { this: AnyFunSuite =>

  def spark: SparkSession

  /** One started job: its SQL execution (if any), what started it. */
  final case class TracedJob(jobId: Int, executionId: Option[Long],
                             description: String, origin: String) {
    override def toString: String =
      s"job $jobId (sql ${executionId.fold("-")(_.toString)}) at $origin: $description"
  }

  final case class Jobs(jobs: Seq[TracedJob]) {
    def count: Int = jobs.size
    def report: String = jobs.mkString("  ", "\n  ", "")
  }

  private def firstGraftFrame(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .getOrElse(callSite.linesIterator.nextOption().getOrElse("?"))

  /** Jobs started while `body` runs (listener bus drained on both ends). */
  def jobsOf[T](body: => T): (T, Jobs) = {
    val sc = spark.sparkContext
    ListenerBridge.flush(sc)
    val execs = mutable.Map.empty[Long, (String, String)]
    val started = mutable.ArrayBuffer.empty[(Int, Option[Long], String)]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.synchronized {
          execs(s.executionId) = (s.description, firstGraftFrame(s.details)); ()
        }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = started.synchronized {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong)
        started += ((e.jobId, exec, e.stageInfos.headOption.fold("?")(_.details)))
        ()
      }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBridge.flush(sc)
      val jobs = started.toSeq.map { case (id, exec, stageSite) =>
        exec.flatMap(execs.get) match {
          case Some((desc, origin)) => TracedJob(id, exec, desc, origin)
          case None => TracedJob(id, exec, "", firstGraftFrame(stageSite))
        }
      }
      info(s"${jobs.size} Spark jobs")
      (r, Jobs(jobs))
    } finally sc.removeSparkListener(l)
  }

  /** Generated classes Janino compiled while `body` runs, on the driver
    * and in tasks alike: the process-wide count of
    * `CodegenMetrics.METRIC_COMPILATION_TIME`, so it is exact only while
    * no other suite runs in the same JVM. A class found in Spark's
    * codegen cache is not compiled and not counted. */
  def compilesOf[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    info(s"$n classes compiled")
    (r, n)
  }

  /** Fails, listing every job's origin, when `jobs` exceeds `budget`. */
  def assertJobs(jobs: Jobs, budget: Int, what: String): Unit =
    assert(jobs.count <= budget,
      s"$what ran ${jobs.count} Spark jobs, budget $budget:\n${jobs.report}")
}
