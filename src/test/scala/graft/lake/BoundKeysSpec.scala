package graft.lake

import graft.JobTrace
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A lake read binds the key constants of its row filter as a referenced
  * set ([[BoundKeys]]). Every case compares the rows of the bound read
  * (`LakeTable.read(filter = f)`) with the rows of the same filter applied
  * unbound to the whole table (`toDF.filter(f)`), over tables that hold
  * null keys, and checks from the optimized plan whether `f` was bound. */
class BoundKeysSpec extends AnyFunSuite with JobTrace {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val cat = new LakeCatalog(spark, Files.createTempDirectory("graft-boundkeys").toString)

  /** A table `(k <dt>, v string)` holding `keys` as rows `r<i>` and two
    * null-keyed rows, in two files. */
  private def table(name: String, dt: DataType, keys: Seq[Any]): LakeTable = {
    val schema = StructType(Seq(StructField("k", dt), StructField("v", StringType)))
    val t = cat.createTable(name, schema)
    val rows = keys.zipWithIndex.map { case (k, i) => Row(k, s"r$i") } ++
      Seq(Row(null, "n1"), Row(null, "n2"))
    rows.grouped(rows.size / 2 + 1).foreach(part =>
      t.append(spark.createDataFrame(java.util.Arrays.asList(part: _*), schema).coalesce(1)))
    t
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Whether the optimized plan of `df` holds a bound key set. */
  private def bound(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[InSetRef])))

  /** `t.read(filter = f)` selects the rows the unbound filter selects and
    * is bound iff `want`. */
  private def parity(t: LakeTable, f: Column, want: Boolean): DataFrame = {
    val read = t.read(filter = Some(f))
    assert(rows(read) === rows(t.toDF.filter(f)), s"rows of $f")
    assert(bound(read) === want, s"bound $f")
    read
  }

  private def date(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
  private def ts(i: Int) =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(7L * i))

  // Spark's own InSet would inline an Int or Date set into a switch and
  // compile it again for every key
  test("Long, String, Int, Date, Decimal and Timestamp key constants are bound, select the same rows " +
      "and compile nothing for a new key") {
    val cases: Seq[(String, DataType, Int => Any)] = Seq(
      ("long", LongType, _.toLong),
      ("string", StringType, i => s"k$i"),
      ("int", IntegerType, identity),
      ("date", DateType, date),
      ("decimal", DecimalType(12, 2), i => new java.math.BigDecimal(i * 125).movePointLeft(2)),
      ("timestamp", TimestampType, ts))
    cases.foreach { case (name, dt, key) =>
      val t = table(s"bk.$name", dt, (0 until 20).map(key))
      val k = col("k")
      Seq(k === key(3), lit(key(7)) === k, k.isin(key(1), key(4), key(99)),
        k === key(5) && col("v") =!= "r6", k === key(99)).foreach(f => parity(t, f, want = true))
      assert(rows(t.read(filter = Some(k === key(3)))).size === 1, name)
      assert(rows(t.read(filter = Some(k.isin(key(1), key(4), key(99))))).size === 2, name)
      val (_, n) = compilesOf((12 to 14).foreach(i => t.read(filter = Some(k === key(i))).collect()))
      assert(n === 0L, s"$name: three lookups of new keys compiled $n classes")
    }
  }

  test("NOT (k = c), k = c OR …, <=>, ranges and computed sides stay unbound and keep their null semantics") {
    val t = table("bk.unbound", LongType, (0L until 20L))
    val k = col("k")
    Seq(!(k === 3L), k === 3L || col("v") === "r5", !k.isin(1L, 2L), k <=> 3L,
      k >= 3L && k <= 5L, k % 5L === 1L).foreach(f => parity(t, f, want = false))
    // a null key is neither equal nor unequal to 3: both drop it
    assert(rows(t.read(filter = Some(!(k === 3L)))).size === 19)
    assert(rows(t.read(filter = Some(k === 3L || col("v") === "n1"))).size === 2)
    // only the key conjunct of a mixed filter is bound
    val mixed = parity(t, k === 4L && !(col("v") === "r4"), want = true)
    assert(rows(mixed).isEmpty)
    assert(mixed.queryExecution.analyzed.toString.contains("NOT (v"))
  }

  test("a constant cast to the column's type folds: Int constants against a BIGINT column are bound") {
    val t = table("bk.cast", LongType, (0L until 20L))
    parity(t, col("k") === 7, want = true)
    parity(t, col("k").isin(1, 2, 30), want = true)
    assert(rows(t.read(filter = Some(col("k").isin(1, 2, 30)))).size === 2)
    // an Int column against BIGINT constants widens the column, not the
    // constants: no attribute side, so the conjunct stays as written
    val ti = table("bk.castint", IntegerType, 0 until 20)
    parity(ti, col("k") === 7L, want = false)
  }

  test("a key column renamed and widened after the data was written binds against its current type") {
    val t = table("bk.widen", IntegerType, 0 until 20)
    t.renameColumn("k", "key")
    t.updateColumnType("key", LongType)
    val schema = StructType(Seq(StructField("key", LongType), StructField("v", StringType)))
    t.append(spark.createDataFrame(java.util.Arrays.asList(
      Row(3000000000L, "big"), Row(5L, "five")), schema))
    val key = col("key")
    Seq(key === 5L, key === 5, key.isin(5L, 3000000000L, 7L), key === 3000000000L)
      .foreach(f => parity(t, f, want = true))
    assert(rows(t.read(filter = Some(key.isin(5L, 3000000000L, 7L)))).size === 4)
  }

  test("bound Long, String and Int keys still push an In filter down to the parquet scan") {
    def pushed(df: DataFrame): String = {
      val p = df.queryExecution.executedPlan.toString
      p.substring(p.indexOf("PushedFilters: "))
    }
    val tl = table("bk.pushlong", LongType, (0L until 20L))
    assert(pushed(tl.read(filter = Some(col("k") === 7L))).contains("In(c1, [7])"))
    assert(pushed(tl.read(filter = Some(col("k").isin(1L, 4L)))).contains("In(c1, [1,4])"))
    val ts = table("bk.pushstring", StringType, (0 until 20).map(i => s"k$i"))
    assert(pushed(ts.read(filter = Some(col("k") === "k7"))).contains("In(c1, [k7])"))
    val ti = table("bk.pushint", IntegerType, 0 until 20)
    assert(pushed(ti.read(filter = Some(col("k").isin(1, 4)))).contains("In(c1, [1,4])"))
  }

  test("a copy-on-write merge whose key type differs from the column keeps the unmatched and null-keyed rows") {
    def upsert(t: LakeTable, keys: DataFrame, dt: DataType, k: Any): Unit =
      t.mergeByKeys("k", keys, spark.createDataFrame(java.util.Arrays.asList(Row(k, "u4")),
        StructType(Seq(StructField("k", dt), StructField("v", StringType)))))
    // Int keys against a BIGINT column: the keys are cast and bound
    val tl = table("bk.mergelong", LongType, (0L until 20L))
    upsert(tl, spark.range(3, 6).select(col("id").cast(IntegerType).as("k")), LongType, 4L)
    assert(rows(tl.toDF) === (((0 until 20).filterNot(Set(3, 4, 5)).map(i => s"[$i,r$i]") ++
      Seq("[4,u4]", "[null,n1]", "[null,n2]")).sorted))
    // BIGINT keys against an Int column widen the column: left as written
    val ti = table("bk.mergeint", IntegerType, 0 until 20)
    upsert(ti, spark.range(3, 6).select(col("id").as("k")), IntegerType, 4)
    assert(rows(ti.toDF) === rows(tl.toDF))
  }
}
