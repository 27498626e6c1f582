package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize]], the one way graft holds a frame it reads more than
  * once: rows computed once at one storage level, a leaf plan, lineage
  * kept for recomputation, an explicit release, and no job of its own. */
class MaterializeSpec extends AnyFunSuite with JobTrace {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** 100 rows over 4 partitions whose every computed row bumps `acc`. */
  private def counted(acc: org.apache.spark.util.LongAccumulator): DataFrame = {
    import spark.implicits._
    spark.range(0, 100, 1, 4).as[Long].filter { (_: Long) => acc.add(1); true }
      .select((col("id") * 2).as("x"))
  }

  test("rows are computed once behind a leaf plan; release drops them, a later read recomputes") {
    val acc = spark.sparkContext.longAccumulator("materialize-rows")
    val before = pinnedIds
    val p = Materialize(counted(acc))
    assert(p.queryExecution.logical.isInstanceOf[LogicalRDD], p.queryExecution.logical.treeString)
    assert(spark.sparkContext.getPersistentRDDs(pinnedIds.diff(before).head).getStorageLevel ===
      Materialize.Level)
    assert(p.count() === 100L)
    assert(p.agg(sum("x")).head().getLong(0) === 9900L)
    assert(p.filter(col("x") > 100).count() === 49L)
    assert(acc.value === 100L, "three reads must compute each row once")
    assert(pinnedIds.diff(before).size === 1)
    Materialize.release(p)
    assert(pinnedIds.diff(before).isEmpty)
    acc.reset()
    assert(p.count() === 100L, "a released frame still reads, from its lineage")
    assert(acc.value === 100L)
  }

  test("using releases after its body, on failure too; release ignores unpinned frames") {
    val before = pinnedIds
    val sum1 = Materialize.using(spark.range(10).toDF())(_.agg(sum("id")).head().getLong(0))
    assert(sum1 === 45L)
    assert(pinnedIds.diff(before).isEmpty)
    intercept[IllegalStateException](Materialize.using(spark.range(10).toDF()) { p =>
      p.count(); throw new IllegalStateException("body failed")
    })
    assert(pinnedIds.diff(before).isEmpty)
    val cached = spark.range(5).toDF().cache()
    Materialize.release(cached)
    assert(cached.storageLevel.useMemory, "a frame not pinned here is left alone")
    cached.unpersist()
  }

  test("pinning starts no job; the first read stores the rows inside its own job") {
    val acc = spark.sparkContext.longAccumulator("materialize-jobs")
    val (p, pinJobs) = jobsOf(Materialize(counted(acc)))
    assert(pinJobs.count === 0, pinJobs.report)
    val (_, readJobs) = jobsOf(p.collect())
    assertJobs(readJobs, 1, "the first read of a pinned frame")
    Materialize.release(p)
  }
}
