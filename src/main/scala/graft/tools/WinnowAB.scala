package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev A/B for q64, kept as the record of a REFUTED idea. q64's SQL
  * self-join plans the fingerprint pipeline (Generate → Exchange(h) →
  * Sort → Window(df) → Filter) under both join branches; ReusedExchange
  * dedups the shuffle write, but each branch re-runs the post-shuffle
  * Sort + Window + Filter. The hypothesis was that materializing the
  * filtered (doc_id, h) stream behind an eager localCheckpoint (the MAT
  * form below) would run the window once and, if the checkpointed scan
  * kept its hash(h) partitioning and h ordering, let the self-join zip
  * its two reads with no exchange, sort or broadcast.
  *
  * Tested and refuted (OPTIMIZATION_r18.md, "q64 materialized fingerprint
  * stream"): the MAT plan's checkpointed scans read back as
  * `UnknownPartitioning(0)` — Spark 4.1's localCheckpoint does not carry
  * the physical partitioning or ordering into LogicalRDD — so the join
  * re-plans as a fresh BroadcastHashJoin, and MAT measured slower (median
  * 1.15 s against 1.06 s for the shipped SQL form at sf0.1). q64 keeps the
  * SQL form. The A/B stays runnable to re-test on a Spark version whose
  * checkpoints keep partitioning. Results must be identical (asserted).
  * Prints both plans + interleaved medians.
  * Usage: runMain graft.tools.WinnowAB <sfDir> [reps]
  */
object WinnowAB {

  private val fltSql = """WITH fp AS (
    |  SELECT doc_id, explode(winnow_fingerprints_long(text, 8, 4)) AS h FROM documents)
    |SELECT doc_id, h FROM (
    |  SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM fp) t
    |WHERE df <= 10""".stripMargin

  /** Materialized-fingerprint variant, result-identical to TextOps.q64. */
  def q64Mat(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    val flt = s.sql(fltSql).localCheckpoint() // eager; (doc_id, h) longs
    val a = flt.select(col("doc_id").as("a"), col("h"))
    val b = flt.select(col("doc_id").as("b"), col("h"))
    a.join(b, Seq("h")).where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).cast("long").as("shared"))
      .where(col("shared") >= 5)
      .orderBy(col("shared").desc, col("a"), col("b"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sql = graft.QueryRegistry.byName("q64_winnow_overlap")
    val x = sql.fn(spark, sfDir).collect().map(_.toString)
    val y = q64Mat(spark, sfDir).collect().map(_.toString)
    require(x.sameElements(y),
      s"mat variant diverged (${x.length} vs ${y.length} rows):\n${x.take(3).mkString("\n")}\nvs\n${y.take(3).mkString("\n")}")
    println(s"[ab] parity OK over ${x.length} rows")
    println("[ab] === MAT plan (join stage only; checkpoint job excluded) ===")
    q64Mat(spark, sfDir).explain("formatted")
    def once(tag: String, fn: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn().count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[ab] $tag run: $s%.2f s")
      s
    }
    val (ts, tm) = (Seq.newBuilder[Double], Seq.newBuilder[Double])
    (1 to reps).foreach { _ =>
      ts += once("sql", () => sql.fn(spark, sfDir))
      tm += once("mat", () => q64Mat(spark, sfDir))
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"[ab] MEDIANS sql=${med(ts.result())}%.2f s mat=${med(tm.result())}%.2f s")
    spark.stop()
  }
}
