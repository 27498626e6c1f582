package graft.lake

import graft.JobTrace
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Equality-delete masks applied inside the scan: a layout whose deletes
  * hold at most [[LakeTable.InScanMaskKeys]] keys is probed against keys
  * held on the driver ([[InKeySet]], [[EqDeleteKeys]]) instead of joined
  * to its key files. Every case compares the table with a plain model of
  * its rows, on reads, point lookups and after `convertEqualityDeletes`. */
class EqualityMaskSpec extends AnyFunSuite with JobTrace {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshCatalog(): LakeCatalog =
    new LakeCatalog(spark, Files.createTempDirectory("graft-eqmask").toString)

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Whether a read of `df` probes equality keys in the scan, and whether
    * it joins. */
  private def probes(df: DataFrame): Boolean = plan(df).contains("in_key_set")
  private def joins(df: DataFrame): Boolean = plan(df).contains("Join")

  private val idV = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))

  private def morTable(cat: LakeCatalog, name: String, schema: StructType, rows: Seq[Row]): LakeTable = {
    val t = cat.createTable(name, schema, properties = Map("write.merge.mode" -> "merge-on-read"))
    t.append(frame(schema, rows).coalesce(1))
    t
  }

  private def pairs(df: DataFrame): Set[(Option[Long], String)] =
    df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Number].longValue), r.getString(1))).toSet

  test("only key types whose values compare by equals as a join compares them are probed in the scan") {
    assert(Seq(LongType, IntegerType, DateType, TimestampType, DecimalType(12, 2), StringType)
      .forall(KeySet.probeable))
    // a join normalizes NaN and -0.0, compares arrays by content and
    // strings under their collation
    assert(!Seq(DoubleType, FloatType, BinaryType, StringType("UTF8_LCASE"), ArrayType(LongType))
      .exists(KeySet.probeable))
  }

  test("null-keyed rows survive an in-scan lookup and a conversion") {
    val t = morTable(freshCatalog(), "m.nulls", idV,
      Seq(Row(1L, "a"), Row(2L, "b"), Row(null, "n1"), Row(3L, "c"), Row(null, "n2")))
    t.mergeByKey("id", Seq(1L, 2L), frame(idV, Seq(Row(1L, "a2"))))
    val model = Set(Some(1L) -> "a2", Some(3L) -> "c", None -> "n1", None -> "n2")
    assert(probes(t.toDF) && !joins(t.toDF))
    assert(pairs(t.toDF) === model)
    assert(pairs(t.read(filter = Some(col("id").isNull))) === Set(None -> "n1", None -> "n2"))
    assert(pairs(t.read(filter = Some(col("id") === 2L))).isEmpty)
    t.convertEqualityDeletes()
    assert(t.meta.currentSnapshot.get.eqDeleteFiles.isEmpty)
    assert(t.meta.currentSnapshot.get.summary("added-position-deletes") === "2")
    assert(pairs(t.toDF) === model)
  }

  test("a key column renamed and widened INT to BIGINT after the delete: same rows, warm or cold") {
    val intV = StructType(Seq(StructField("id", IntegerType), StructField("v", StringType)))
    val t = morTable(freshCatalog(), "m.widen", intV, (1 to 5).map(i => Row(i, s"r$i")))
    t.mergeByKey("id", Seq(2, 3), frame(intV, Seq(Row(2, "b2"))))
    t.renameColumn("id", "key")
    t.updateColumnType("key", LongType)
    val model = Set(Some(1L) -> "r1", Some(2L) -> "b2", Some(4L) -> "r4", Some(5L) -> "r5")
    def check(): Unit = {
      assert(probes(t.toDF))
      assert(pairs(t.toDF) === model)
      assert(pairs(t.read(filter = Some(col("key") === 3L))).isEmpty)
      assert(pairs(t.read(filter = Some(col("key") === 2L))) === Set(Some(2L) -> "b2"))
    }
    check() // the keys seeded at write time, as INT
    EqDeleteKeys.clear()
    check() // the keys read back from the file, as INT
    t.convertEqualityDeletes()
    assert(pairs(t.toDF) === model)
  }

  test("a cleared key cache (a cold handle) reads the same rows with no extra Spark job") {
    val cat = freshCatalog()
    val t = morTable(cat, "m.cold", idV, (0L until 200L).map(k => Row(k, s"v$k")))
    (0 until 3).foreach { b =>
      val keys = (b * 40L until b * 40L + 60L).toSeq
      t.mergeByKey("id", keys, frame(idV, keys.filter(_ % 2 == 0).map(k => Row(k, s"b$b"))))
    }
    val model = (0L until 200L).map { k =>
      val last = (0 until 3).filter(b => k >= b * 40L && k < b * 40L + 60L).lastOption
      k -> last.fold(Option(s"v$k"))(b => if (k % 2 == 0) Some(s"b$b") else None)
    }.collect { case (k, Some(v)) => Some(k) -> v }.toSet
    def lookup(h: LakeTable, k: Long) = jobsOf(pairs(h.read(filter = Some(col("id") === k))))
    val (warm, warmJobs) = lookup(t, 42L)
    assert(warm === model.filter(_._1.contains(42L)))
    val paths = t.meta.currentSnapshot.get.eqDeleteFiles.map(_.path)
    assert(paths.forall(EqDeleteKeys.isHeld))
    EqDeleteKeys.clear()
    val cold = cat.loadTable("m.cold")
    val (got, coldJobs) = lookup(cold, 42L)
    assert(got === warm && got === Set(Some(42L) -> "b1"))
    assert(coldJobs.count === warmJobs.count)
    assertJobs(coldJobs, 1, "a cold point lookup under equality deletes")
    assert(paths.forall(EqDeleteKeys.isHeld), "a cold read fills the cache")
    assert(pairs(cold.toDF) === model)
    EqDeleteKeys.clear()
    val (_, convJobs) = jobsOf(cat.loadTable("m.cold").convertEqualityDeletes())
    assertJobs(convJobs, 4, "a cold convertEqualityDeletes")
    assert(pairs(cat.loadTable("m.cold").toDF) === model)
  }

  test("a mask above the bound takes the join path with identical rows; two key layouts convert each position once") {
    val n = LakeTable.InScanMaskKeys + 1
    val schema = StructType(Seq(StructField("id", LongType), StructField("k2", LongType),
      StructField("v", StringType)))
    val t = morTable(freshCatalog(), "m.big", schema,
      (0L until n + 100L).map(k => Row(k, k % 50L, s"v$k")))
    // layout 1, over the bound: delete ids [0, n), re-insert the even ones
    val bigKeys = spark.range(0L, n).select(col("id"))
    t.mergeByKeys("id", bigKeys, frame(schema, Seq(Row(0L, 0L, "new0"), Row(2L, 2L, "new2"))))
    assert(t.meta.currentSnapshot.get.eqDeleteFiles.head.rowCount === n)
    var model: Map[Long, (Long, String)] =
      (n until n + 100L).map(k => k -> (k % 50L, s"v$k")).toMap ++
        Map(0L -> (0L, "new0"), 2L -> (2L, "new2"))
    def rows(df: DataFrame): Map[Long, (Long, String)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(joins(t.toDF) && !probes(t.toDF))
    assert(rows(t.toDF) === model)
    assert(rows(t.read(filter = Some(col("id") === n + 7L))) === Map(n + 7L -> (((n + 7L) % 50L, s"v${n + 7L}"))))
    // layout 2, small: k2 in {7, 9}; its own upserted row survives
    t.mergeByKey("k2", Seq(7L, 9L), frame(schema, Seq(Row(-1L, 7L, "k2new"))))
    model = model.filter { case (_, (k2, _)) => k2 != 7L && k2 != 9L } + (-1L -> ((7L, "k2new")))
    assert(joins(t.toDF) && probes(t.toDF))
    assert(rows(t.toDF) === model)
    // positions: every row of the seeded file that a delete masks, once
    // each, though ids 7, 9, 57, … below n are masked by both layouts
    val seeded = (0L until n + 100L).filter(k => k < n || k % 50L == 7L || k % 50L == 9L)
    t.convertEqualityDeletes()
    val snap = t.meta.currentSnapshot.get
    assert(snap.summary("added-position-deletes") === seeded.size.toString)
    assert(snap.deleteFiles.map(_.rowCount).sum === seeded.size)
    assert(rows(t.toDF) === model)
  }
}
