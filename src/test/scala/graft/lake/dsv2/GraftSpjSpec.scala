package graft.lake.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Storage-partitioned joins over bucket-partitioned lake tables
  * (GraftSpj scaladoc): two tables bucketed `bucket[n](k)` must join on k
  * with NO Exchange on either side, and the v2 batch scan that enables it
  * must return exactly the rows the substituted parquet path returns —
  * across filters, schema evolution, and time travel.
  *
  * Plan-shape assertions read `explain("formatted")` like PlanSpec; data
  * parity flips `spark.sql.sources.v2.bucketing.enabled` off and on and
  * compares full row sets. */
class GraftSpjSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.ExtensionsSession.withCatalog("lake",
    Files.createTempDirectory("graft-spj-wh").toString)

  def sql(q: String) = spark.sql(q)

  def withSpj[A](on: Boolean)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prev)
  }

  def explained(df: org.apache.spark.sql.DataFrame): String = {
    val sw = new java.io.StringWriter()
    Console.withOut(new java.io.PrintStream(new java.io.OutputStream {
      override def write(b: Int): Unit = sw.write(b)
    })) { df.explain("formatted") }
    sw.toString
  }

  lazy val setup: Unit = {
    sql("CREATE DATABASE IF NOT EXISTS lake.spj")
    sql("""CREATE TABLE lake.spj.fact (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.range(0, 200).selectExpr("id % 50 AS k", "CAST(id AS DOUBLE) AS v")
      .writeTo("lake.spj.fact").append()
    sql("""CREATE TABLE lake.spj.dim (k BIGINT, w STRING)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.range(0, 50).selectExpr("id AS k", "concat('w', id) AS w")
      .writeTo("lake.spj.dim").append()
  }

  test("plain scan parity: v2 batch scan returns exactly the substituted path's rows") {
    setup
    val off = withSpj(on = false)(spark.table("lake.spj.fact").collect().toSet)
    val on = withSpj(on = true)(spark.table("lake.spj.fact").collect().toSet)
    assert(on === off)
    assert(on.size === 200)
  }

  test("co-bucketed equi-join plans with NO Exchange on either side") {
    setup
    withSpj(on = true) {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.table("lake.spj.fact").join(spark.table("lake.spj.dim"), "k")
        val plan = explained(j)
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), s"SPJ join must not shuffle:\n$plan")
        // parity vs the shuffled plan
        val expected = withSpj(on = false) {
          spark.table("lake.spj.fact").join(spark.table("lake.spj.dim"), "k")
            .collect().toSet
        }
        assert(j.collect().toSet === expected)
        assert(j.count() === 200)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("group-by on the bucket key rides the storage partitioning (no shuffle)") {
    setup
    withSpj(on = true) {
      val agg = spark.table("lake.spj.fact").groupBy("k").agg(sum("v").as("s"))
      val plan = explained(agg)
      assert(!plan.contains("Exchange"), s"bucket-key aggregation must not shuffle:\n$plan")
      val expected = withSpj(on = false) {
        spark.table("lake.spj.fact").groupBy("k").agg(sum("v").as("s")).collect().toSet
      }
      assert(agg.collect().toSet === expected)
    }
  }

  test("filters prune files and rows identically on both paths") {
    setup
    def q() = spark.table("lake.spj.fact").where("k = 7 AND v >= 100.0")
    val off = withSpj(on = false)(q().collect().toSet)
    val on = withSpj(on = true)(q().collect().toSet)
    assert(on === off)
    assert(on.nonEmpty)
  }

  test("schema evolution: rename + add column maps old files through the v2 scan") {
    setup
    sql("""CREATE TABLE lake.spj.evo (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    sql("INSERT INTO lake.spj.evo VALUES (1, 1.5), (2, 2.5)")
    sql("ALTER TABLE lake.spj.evo RENAME COLUMN v TO val")
    sql("ALTER TABLE lake.spj.evo ADD COLUMN tag STRING")
    sql("INSERT INTO lake.spj.evo VALUES (3, 3.5, 'new')")
    val expected = Set((1L, 1.5, null), (2L, 2.5, null), (3L, 3.5, "new"))
    def rows() = spark.table("lake.spj.evo").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val off = withSpj(on = false)(rows())
    val on = withSpj(on = true)(rows())
    assert(off === expected)
    assert(on === expected)
  }

  test("time travel and branches resolve the same snapshot through the v2 scan") {
    setup
    sql("""CREATE TABLE lake.spj.tt (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(2, k))""".stripMargin)
    sql("INSERT INTO lake.spj.tt VALUES (1, 1.0)")
    val v1 = spark.table("lake.spj.tt.snapshots")
      .orderBy(desc("snapshot_id")).select("snapshot_id").head.getLong(0)
    sql("INSERT INTO lake.spj.tt VALUES (2, 2.0)")
    withSpj(on = true) {
      assert(spark.table("lake.spj.tt").count() === 2)
      assert(sql(s"SELECT * FROM lake.spj.tt VERSION AS OF $v1").count() === 1)
    }
  }

  test("non-bucket partitioning keeps the substituted path even with SPJ on") {
    setup
    sql("""CREATE TABLE lake.spj.byday (k BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (days(ts))""".stripMargin)
    sql("INSERT INTO lake.spj.byday VALUES (1, TIMESTAMP '2024-01-01 00:00:00')")
    withSpj(on = true) {
      val qe = spark.table("lake.spj.byday").queryExecution
      assert(!qe.optimizedPlan.toString.contains("RelationV2"), qe.optimizedPlan.toString)
      assert(spark.table("lake.spj.byday").count() === 1)
    }
  }

  test("one side missing whole buckets still joins correctly (partition push-down values)") {
    setup
    sql("""CREATE TABLE lake.spj.sparse (k BIGINT, w STRING)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    // only keys hashing into a subset of buckets
    val subset = spark.range(0, 50).selectExpr("id AS k")
      .withColumn("b", expr("pmod(hash(k), 4)")).where("b = 1")
      .selectExpr("k", "concat('s', k) AS w")
    assert(subset.count() > 0)
    subset.writeTo("lake.spj.sparse").append()
    def q() = spark.table("lake.spj.fact").join(spark.table("lake.spj.sparse"), "k")
    val off = withSpj(on = false)(q().collect().toSet)
    val on = withSpj(on = true)(q().collect().toSet)
    assert(on === off)
    assert(on.nonEmpty)
  }

  test("v2 bucketing shuffle: an unbucketed side shuffles INTO the table's buckets") {
    setup
    withSpj(on = true) {
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val mem = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS m")
        val j = spark.table("lake.spj.fact").join(mem, "k")
        val plan = explained(j)
        // the lake side must NOT shuffle; the in-memory side may (one
        // exchange, partitioned by the storage bucket function). Formatted
        // output names each Exchange twice (tree + detail section).
        assert("Exchange".r.findAllIn(plan).size <= 2,
          s"only the unbucketed side may shuffle:\n$plan")
        val expected = withSpj(on = false) {
          spark.table("lake.spj.fact").join(mem, "k").collect().toSet
        }
        assert(j.collect().toSet === expected)
        assert(j.count() === 200)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("compaction preserves bucketing: SPJ survives rewrite_data_files") {
    setup
    // many small appends → fragmented buckets
    sql("""CREATE TABLE lake.spj.cmp (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    (0 until 3).foreach { i =>
      spark.range(i * 20, (i + 1) * 20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .writeTo("lake.spj.cmp").append()
    }
    val before = withSpj(on = true)(spark.table("lake.spj.cmp").collect().toSet)
    sql("CALL lake.system.rewrite_data_files(table => 'spj.cmp')")
    withSpj(on = true) {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        assert(spark.table("lake.spj.cmp").collect().toSet === before)
        val j = spark.table("lake.spj.cmp").join(spark.table("lake.spj.dim"), "k")
        val plan = explained(j)
        assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
          s"SPJ must survive compaction (bucket-pure rewritten files):\n$plan")
        assert(j.count() === 50) // dim has k 0..49
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("identity-partitioned tables SPJ too: string-keyed join with no Exchange") {
    setup
    sql("""CREATE TABLE lake.spj.id_a (cat STRING, v BIGINT)
          |PARTITIONED BY (cat)""".stripMargin)
    sql("""INSERT INTO lake.spj.id_a VALUES
          |('alpha', 1), ('alpha', 2), ('beta', 3), ('gamma', 4)""".stripMargin)
    sql("""CREATE TABLE lake.spj.id_b (cat STRING, w STRING)
          |PARTITIONED BY (cat)""".stripMargin)
    sql("INSERT INTO lake.spj.id_b VALUES ('alpha', 'A'), ('beta', 'B'), ('delta', 'D')")
    withSpj(on = true) {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.table("lake.spj.id_a").join(spark.table("lake.spj.id_b"), "cat")
        val plan = explained(j)
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), s"identity SPJ join must not shuffle:\n$plan")
        val got = j.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
        assert(got === Set(("alpha", 1L, "A"), ("alpha", 2L, "A"), ("beta", 3L, "B")))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("hive-imported identity tables SPJ: the FromPath per-slice fill is " +
      "live executor code — rows match the substituted path, nulls round-trip (r13)") {
    setup
    import spark.implicits._
    // two hive key=value corpora, partition value ONLY in the path, one
    // null partition each (written as __HIVE_DEFAULT_PARTITION__)
    val dirA = Files.createTempDirectory("graft-spj-hiveA").toString + "/d"
    Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"), (4L, null))
      .toDF("v", "cat").write.partitionBy("cat").parquet(dirA)
    val dirB = Files.createTempDirectory("graft-spj-hiveB").toString + "/d"
    Seq(("A", "alpha"), ("B", "beta"), ("N", null), ("D", "delta"))
      .toDF("w", "cat").write.partitionBy("cat").parquet(dirB)
    sql("""CREATE TABLE lake.spj.ha (v BIGINT, cat STRING)
          |PARTITIONED BY (cat)""".stripMargin)
    sql(s"CALL lake.system.add_files('spj.ha', '$dirA')")
    sql("""CREATE TABLE lake.spj.hb (w STRING, cat STRING)
          |PARTITIONED BY (cat)""".stripMargin)
    sql(s"CALL lake.system.add_files('spj.hb', '$dirB')")
    // the V2 batch scan must FILL cat per-slice (it is not in the bytes):
    // full parity against the substituted-path read, null included
    val expectA = Set((1L, "alpha"), (2L, "alpha"), (3L, "beta"), (4L, null))
    val offA = withSpj(on = false)(spark.table("lake.spj.ha").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet)
    val onA = withSpj(on = true)(spark.table("lake.spj.ha").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(offA === expectA)
    assert(onA === expectA,
      "the v2 FromPath fill must produce the path values, null for " +
        "__HIVE_DEFAULT_PARTITION__")
    withSpj(on = true) {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.table("lake.spj.ha").join(spark.table("lake.spj.hb"), "cat")
        // both scans report KeyGroupedPartitioning on cat — that is the
        // ONLY way a SortMergeJoin can plan with no Exchange on either side
        val plan = explained(j)
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"),
          s"hive-imported identity SPJ join must not shuffle:\n$plan")
        val got = j.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
        // null partitions never match in an equi-join; path values do
        assert(got === Set(("alpha", 1L, "A"), ("alpha", 2L, "A"),
          ("beta", 3L, "B")))
        // a predicate on the filled column evaluates correctly through
        // the v2 scan (the value exists only per-slice, not in the bytes;
        // file-level pruning of imported files is gated in LakeTableSpec)
        val f = spark.table("lake.spj.ha").where(col("cat") === "beta")
        assert(f.collect().map(_.getLong(0)).toSeq === Seq(3L))
        val n = spark.table("lake.spj.ha").where(col("cat").isNull)
        assert(n.collect().map(_.getLong(0)).toSeq === Seq(4L),
          "__HIVE_DEFAULT_PARTITION__ must read back as SQL NULL")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("runtime filtering: a filtered build side dynamically prunes buckets and files") {
    setup
    withSpj(on = true) {
      // scan.filter() is the contract Spark's dynamic pruning drives —
      // exercise it directly for determinism, then end-to-end below
      val gt = spark.sessionState.catalogManager.catalog("lake")
        .asInstanceOf[GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("spj"), "fact")).asInstanceOf[GraftTable]
      val scan = new GraftBatchScanBuilder(spark, gt).build()
        .asInstanceOf[GraftBatchScan]
      assert(scan.filterAttributes().map(_.fieldNames.head).toSeq === Seq("k"))
      val all = scan.planInputPartitions()
      assert(all.forall(_.asInstanceOf[GraftInputPartition].files.nonEmpty))
      // runtime IN-set: keys hashing into one bucket only
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k", Array(7L))))
      val pruned = scan.planInputPartitions()
      assert(pruned.length === all.length, "bucket groups must be kept (emptied, not dropped)")
      val nonEmpty = pruned.map(_.asInstanceOf[GraftInputPartition]).filter(_.files.nonEmpty)
      assert(nonEmpty.length === 1, "only k=7's bucket may retain files")
      val expectedBucket = spark.sql("SELECT pmod(hash(7L), 4)").head.getInt(0)
      assert(nonEmpty.head.key.toSeq === Seq(expectedBucket))

      // end-to-end: the join result with a selective dim filter is correct
      // whether or not Spark chose to inject the pruning subquery
      val dimF = spark.table("lake.spj.dim").where("w = 'w7'")
      val j = spark.table("lake.spj.fact").join(dimF, "k")
      assert(j.collect().map(_.getLong(0)).toSet === Set(7L))
    }
  }

  test("sort-clustered tables join with NO Exchange and NO Sort") {
    setup
    def mk(t: String, rows: Int): Unit = {
      sql(s"""CREATE TABLE lake.spj.$t (k BIGINT, v DOUBLE)
             |PARTITIONED BY (bucket(4, k))""".stripMargin)
      (0 until 2).foreach { i =>
        spark.range(i * rows, (i + 1) * rows)
          .selectExpr("id % 40 AS k", "CAST(id AS DOUBLE) AS v")
          .writeTo(s"lake.spj.$t").append()
      }
      sql(s"CALL lake.system.rewrite_data_files(table => 'spj.$t', sort_by => 'k')")
    }
    mk("sa", 60)
    mk("sb", 40)
    withSpj(on = true) {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val a = spark.table("lake.spj.sa").selectExpr("k", "v AS va")
        val b = spark.table("lake.spj.sb").selectExpr("k", "v AS vb")
        val j = a.join(b, "k")
        val plan = explained(j)
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), s"sorted SPJ join must not shuffle:\n$plan")
        assert(!"""\(\d+\) Sort\b""".r.findFirstIn(plan).isDefined,
          s"sorted storage must satisfy the SMJ ordering — no Sort nodes:\n$plan")
        // parity against the shuffled+sorted plan
        val expected = withSpj(on = false)(
          a.join(b, "k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet)
        val got = j.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
        assert(got === expected)
        assert(got.nonEmpty)
        // an unsorted append after the rewrite drops the ordering claim
        // (the head snapshot is no longer the sort rewrite): Sort returns
        spark.range(1000, 1010).selectExpr("id % 40 AS k", "CAST(id AS DOUBLE) AS v")
          .writeTo("lake.spj.sa").append()
        val plan2 = explained(
          spark.table("lake.spj.sa").selectExpr("k", "v AS va").join(b, "k"))
        assert("""\(\d+\) Sort\b""".r.findFirstIn(plan2).isDefined,
          s"appended table must re-sort:\n$plan2")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("skew: partially-clustered distribution splits hot buckets correctly") {
    setup
    sql("""CREATE TABLE lake.spj.skewed (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    // one hot key = one hot bucket; several files of it (per-append files)
    (0 until 4).foreach { i =>
      spark.range(0, 500).selectExpr("7 AS k", s"CAST(id + ${i * 500} AS DOUBLE) AS v")
        .writeTo("lake.spj.skewed").append()
    }
    spark.range(0, 40).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .writeTo("lake.spj.skewed").append()
    withSpj(on = true) {
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val j = spark.table("lake.spj.skewed").join(spark.table("lake.spj.dim"), "k")
        val expected = withSpj(on = false) {
          spark.table("lake.spj.skewed").join(spark.table("lake.spj.dim"), "k").count()
        }
        assert(j.count() === expected)
        assert(expected === 2000 + 40) // 4×500 hot rows + 40 spread rows (dim has k 0..49)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("mismatched bucket counts: bucket(8) x bucket(16) joins with NO Exchange (r9)") {
    // Spark 4 compatible-transform SPJ: both sides regroup to gcd buckets
    // via ReducibleFunction (BoundBucket.reducer) — zero-shuffle across
    // different bucket counts, the cross-layout join a real lakehouse
    // hits whenever two teams picked different bucket widths.
    sql("CREATE DATABASE IF NOT EXISTS lake.spjm")
    sql("""CREATE TABLE lake.spjm.f8 (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(8, k))""".stripMargin)
    spark.range(0, 200).selectExpr("id % 40 AS k", "CAST(id AS DOUBLE) AS v")
      .writeTo("lake.spjm.f8").append()
    sql("""CREATE TABLE lake.spjm.d16 (k BIGINT, w STRING)
          |PARTITIONED BY (bucket(16, k))""".stripMargin)
    spark.range(0, 40).selectExpr("id AS k", "concat('w', id) AS w")
      .writeTo("lake.spjm.d16").append()
    withSpj(on = true) {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevCompat = spark.conf.get(
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "false")
      val prevPush = spark.conf.get(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      try {
        val j = spark.table("lake.spjm.f8").join(spark.table("lake.spjm.d16"), "k")
        val plan = explained(j)
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"),
          s"compatible-transform SPJ must not shuffle either side:\n$plan")
        val expected = withSpj(on = false) {
          spark.table("lake.spjm.f8").join(spark.table("lake.spjm.d16"), "k")
            .collect().toSet
        }
        assert(j.collect().toSet === expected)
        assert(j.count() === 200)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
          "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", prevCompat)
        spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", prevPush)
      }
    }
  }

  test("partition transforms are callable SQL functions matching write-side ordinals") {
    setup
    // bucket: SQL call ≡ pmod(hash(x), n)
    assert(spark.sql("SELECT lake.system.bucket(8, CAST(42 AS BIGINT)), pmod(hash(CAST(42 AS BIGINT)), 8)")
      .head match { case r => r.getInt(0) === r.getInt(1) })
    // days/months/years on a timestamp: UTC epoch ordinals (Transforms semantics)
    val r = spark.sql(
      """SELECT lake.system.days(TIMESTAMP '2024-03-01 02:00:00'),
        |       lake.system.months(TIMESTAMP '2024-03-01 02:00:00'),
        |       lake.system.years(DATE '2024-03-01'),
        |       lake.system.hours(TIMESTAMP '1970-01-02 01:00:00')""".stripMargin).head
    assert(r.getLong(0) === 19783L) // days since epoch for 2024-03-01
    assert(r.getLong(1) === (2024 - 1970) * 12L + 2)
    assert(r.getLong(2) === 54L)
    assert(r.getLong(3) === 25L)
    // null passes through
    assert(spark.sql("SELECT lake.system.days(CAST(NULL AS TIMESTAMP))").head.isNullAt(0))
  }

  test("bucket function: produceResult matches the write-side transform") {
    setup
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // Spark-side truth: pmod(hash(col), n) per Transforms.expr
    val expected = spark.range(0, 100)
      .selectExpr("id", "pmod(hash(id), 8) AS b").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val f = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("v", LongType))))
      .asInstanceOf[BoundBucket]
    (0L until 100L).foreach { id =>
      assert(f.produceResult(InternalRow(8, id)) === expected(id), s"id=$id")
    }
    // strings too
    val sExpected = spark.sql(
      "SELECT pmod(hash('graft'), 8) AS b").head.getInt(0)
    val sf = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("v", StringType))))
      .asInstanceOf[BoundBucket]
    assert(sf.produceResult(InternalRow(8, UTF8String.fromString("graft"))) === sExpected)
  }

  test("merge-on-read deletes suspend SPJ (fallback applies the mask); compaction restores it") {
    sql("CREATE DATABASE IF NOT EXISTS lake.spjmor")
    sql("""CREATE TABLE lake.spjmor.f (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(4, k))
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    spark.range(0, 100).selectExpr("id % 20 AS k", "CAST(id AS DOUBLE) AS v")
      .writeTo("lake.spjmor.f").append()
    sql("""CREATE TABLE lake.spjmor.d (k BIGINT, w STRING)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.range(0, 20).selectExpr("id AS k", "concat('w', id) AS w")
      .writeTo("lake.spjmor.d").append()
    withSpj(on = true) {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        sql("DELETE FROM lake.spjmor.f WHERE v = 7.0") // k=7 row, file kept
        val q = () => spark.table("lake.spjmor.f")
          .join(spark.table("lake.spjmor.d"), "k")
          .groupBy("k").count()
        // masked table: the v2 SPJ scan (which cannot apply position
        // deletes) must NOT be used — rows are correct, k=7 lost one row
        val rows = q().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(rows(7L) === 4L)
        assert(rows(8L) === 5L)
        assert(rows.values.sum === 99L)
        // retiring the mask restores the zero-Exchange SPJ plan
        sql("CALL lake.system.rewrite_position_deletes('spjmor.f')")
        val plan = explained(q())
        assert(!plan.contains("Exchange"),
          s"post-compaction join must SPJ with no Exchange:\n$plan")
        val rows2 = q().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(rows2 === rows)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}
