package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end lake-table scenarios mirroring the reference notebooks'
  * observable behavior (SURVEY.md §5: counts drop after DELETE and return
  * after rollback — Getting Started.ipynb c40; WAP staging invisible until
  * cherry-pick — Integrated Audits c22/c37; etc.). */
class LakeTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshCatalog(): LakeCatalog =
    new LakeCatalog(spark, Files.createTempDirectory("graft-lake").toString)

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  def taxis: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, ts("2022-01-01 08:30:00"), 10.0, 2.0),
      (2L, ts("2022-01-01 09:30:00"), 20.0, 4.0),
      (3L, ts("2022-01-02 10:00:00"), 30.0, 0.0),
      (4L, ts("2022-02-01 11:00:00"), 40.0, 8.0),
      (5L, ts("2022-02-02 12:00:00"), 50.0, 10.0)
    ).toDF("vendor_id", "pickup", "fare", "distance")
  }

  val taxiSchema: StructType = StructType(Seq(
    StructField("vendor_id", LongType),
    StructField("pickup", TimestampType),
    StructField("fare", DoubleType),
    StructField("distance", DoubleType)))

  test("create + append + scan round-trips") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema)
    t.append(taxis)
    assert(t.toDF.count() === 5)
    assert(t.toDF.columns.toSeq === Seq("vendor_id", "pickup", "fare", "distance"))
    assert(t.toDF.agg(sum("fare")).head.getDouble(0) === 150.0)
  }

  test("every append is a snapshot; time travel by snapshot-id and timestamp") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema)
    t.append(taxis.limit(2))
    val v1 = t.meta.currentSnapshot.get
    t.append(taxis.filter(col("vendor_id") > 2))
    assert(t.toDF.count() === 5)
    assert(t.read(snapshotId = Some(v1.snapshotId)).count() === 2)
    assert(t.read(asOfTimestampMs = Some(v1.timestampMs)).count() === 2)
    assert(t.meta.snapshots.size === 2)
  }

  test("UPDATE SET expr rewrites matching rows copy-on-write (c18)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema)
    t.append(taxis)
    t.addColumn("fare_per_distance_unit", FloatType)
    t.update(Map("fare_per_distance_unit" ->
      (col("fare") / when(col("distance") =!= 0.0, col("distance"))).cast(FloatType)))
    val out = t.toDF.orderBy("vendor_id").collect()
    assert(out(0).getFloat(4) === 5.0f)
    assert(out(2).isNullAt(4)) // 0-distance → null (matches c23 scenario)
    // conditional update
    t.update(Map("fare" -> lit(99.0)), Some(col("vendor_id") === 5L))
    assert(t.toDF.filter(col("vendor_id") === 5).head.getDouble(2) === 99.0)
    assert(t.toDF.filter(col("vendor_id") === 1).head.getDouble(2) === 10.0)
  }

  test("DELETE: metadata-only when stats prove whole files match (c20/c21)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema,
      partitionBy = Seq("pickup" -> "days"))
    t.append(taxis.coalesce(1)) // 1 writer task → exactly one file per day partition
    val filesBefore = t.meta.currentSnapshot.get.files.size
    assert(filesBefore === 4)
    // row-level predicate partially matching the 2-row Jan-1 file → copy-on-write
    t.delete(col("fare") === 10.0)
    val snap = t.meta.currentSnapshot.get
    assert(snap.summary("metadata-only") === "false")
    assert(t.toDF.count() === 4)
    // whole-partition predicate → metadata-only (no rewrite)
    t.delete(col("pickup") < lit(ts("2022-01-03 00:00:00")))
    val snap2 = t.meta.currentSnapshot.get
    assert(snap2.summary("metadata-only") === "true")
    assert(t.toDF.count() === 2)
    assert(t.toDF.agg(min("fare")).head.getDouble(0) === 40.0)
  }

  test("merge-schema drift (r9): unknown columns auto-evolve when opted in, drop silently when not") {
    import spark.implicits._
    val cat = freshCatalog()
    // DEFAULT contract: unknown columns are dropped by the physical
    // projection — no schema change, no error
    val t0 = cat.createTable("nyc.strict", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    t0.append(Seq((1L, 1.5, "surprise")).toDF("id", "v", "extra"))
    assert(t0.toDF.columns.toSeq === Seq("id", "v"))
    assert(t0.meta.schemas.size === 1, "no auto-evolution without the property")

    // OPT-IN: write.merge-schema=true evolves then appends
    val t = cat.createTable("nyc.drift", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))),
      properties = Map("write.merge-schema" -> "true"))
    t.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    t.append(Seq((3L, 3.0, "srcA"), (4L, 4.0, "srcB")).toDF("id", "v", "source"))
    assert(t.toDF.columns.toSeq === Seq("id", "v", "source"))
    // pre-drift rows read NULL for the new column; post-drift carry data
    val bySrc = t.toDF.select("id", "source").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(bySrc === Map(1L -> None, 2L -> None, 3L -> Some("srcA"), 4L -> Some("srcB")))
    // one added schema version; new column got a fresh stable id
    assert(t.meta.schemas.size === 2)
    assert(t.meta.schema.byName("source").get.id === 3)
    // idempotent: same drifted shape again adds no third schema
    t.append(Seq((5L, 5.0, "srcC")).toDF("id", "v", "source"))
    assert(t.meta.schemas.size === 2)
    // drift the OTHER way in the same stream: a batch missing `source`
    // null-fills it (both directions of drift in one continuous ingest)
    t.append(Seq((6L, 6.0)).toDF("id", "v"))
    assert(t.toDF.filter(col("id") === 6L).select("source").head.isNullAt(0))
    // stable ids survive a rename: the drifted column's data still resolves
    t.renameColumn("source", "origin")
    assert(t.toDF.filter(col("id") === 3L).select("origin").head.getString(0) === "srcA")
    // forced nullable even if the incoming frame said non-null
    assert(t.meta.schema.byName("origin").get.nullable)
  }

  test("schema evolution: rename, widen, add-after, reorder, comment (c11-c16)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", StructType(Seq(
      StructField("id", IntegerType), StructField("fare_amount", DoubleType),
      StructField("trip_distance", FloatType))))
    import spark.implicits._
    t.append(Seq((1, 10.5, 2.5f), (2, 20.0, 5.0f)).toDF("id", "fare_amount", "trip_distance"))
    t.renameColumn("fare_amount", "fare")
    t.renameColumn("trip_distance", "distance")
    t.updateColumnType("distance", DoubleType) // float → double widen
    t.updateColumnType("id", LongType)         // int → bigint widen
    t.updateColumnComment("fare", "money money")
    t.addColumn("fare_per_distance_unit", FloatType, after = Some("distance"))
    val df = t.toDF
    assert(df.columns.toSeq === Seq("id", "fare", "distance", "fare_per_distance_unit"))
    assert(df.schema("distance").dataType === DoubleType)
    assert(df.schema("id").dataType === LongType)
    // old files still readable through the mapping
    assert(df.filter(col("id") === 1L).head.getDouble(1) === 10.5)
    assert(df.filter(col("id") === 2L).head.getDouble(2) === 5.0)
    assert(df.filter(col("id") === 1L).head.isNullAt(3))
    // reorder is metadata-only
    t.moveColumn("fare", after = Some("distance"))
    assert(t.toDF.columns.toSeq === Seq("id", "distance", "fare", "fare_per_distance_unit"))
    // widening rejects narrowing
    assertThrows[IllegalArgumentException](t.updateColumnType("fare", IntegerType))
    // appends after evolution write the new schema; both generations union
    t.append(Seq((3L, 7.5, 30.0, 4.0f)).toDF("id", "distance", "fare", "fare_per_distance_unit"))
    assert(t.toDF.count() === 3)
    assert(t.toDF.filter(col("id") === 3).head.getDouble(1) === 7.5)
  }

  test("addColumn after dropColumn never reuses the dropped column's id") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.colids", StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    import spark.implicits._
    t.append(Seq((1L, "SECRET-b1"), (2L, "SECRET-b2")).toDF("a", "b"))
    t.dropColumn("b")
    // id reuse would resolve c by stable id to b's physical column in the
    // old file — resurrecting dropped data instead of null
    t.addColumn("c", StringType)
    val rows = t.toDF.orderBy("a").collect()
    assert(rows.forall(_.isNullAt(1)),
      s"new column must read NULL on pre-add files, got ${rows.mkString(",")}")
    val ids = t.meta.schema.columns.map(_.id)
    assert(ids.distinct.size === ids.size)
  }

  test("UPDATE evaluates every RHS and the WHERE against the OLD row (one projection)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.updsem", taxiSchema)
    t.append(taxis)
    // swap: fare <-> distance — sequential withColumn would set distance
    // to the ALREADY-updated fare
    t.update(Map("fare" -> col("distance"), "distance" -> col("fare")),
      Some(col("vendor_id") === 1))
    val r1 = t.toDF.filter(col("vendor_id") === 1).head
    assert(r1.getAs[Double]("fare") === 2.0 && r1.getAs[Double]("distance") === 10.0,
      s"swap must read old values: $r1")
    // self-invalidating condition: SET fare = 99 WHERE fare = 20 — a fold
    // re-evaluating the condition after the first assignment would skip
    // later assignments on exactly the matched rows
    t.update(Map("fare" -> lit(99.0), "distance" -> lit(77.0)),
      Some(col("fare") === 20.0))
    val r2 = t.toDF.filter(col("vendor_id") === 2).head
    assert(r2.getAs[Double]("fare") === 99.0 && r2.getAs[Double]("distance") === 77.0)
  }

  test("identity string partition values with '+' survive the path round-trip") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.plus", StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      partitionBy = Seq("k" -> "identity"))
    import spark.implicits._
    t.append(Seq(("a+b", 1L), ("c d", 2L), ("x%20y", 3L)).toDF("k", "v"))
    // URLDecoder would store "a b" for "a+b" and the identity-partition
    // prune would then drop the file for k = 'a+b'
    assert(t.read(filter = Some(col("k") === "a+b")).count() === 1)
    assert(t.read(filter = Some(col("k") === "c d")).count() === 1)
    assert(t.read(filter = Some(col("k") === "x%20y")).count() === 1)
  }

  test("null partition values (HIVE default partition) don't crash filtered reads") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.nullpart", taxiSchema,
      partitionBy = Seq("pickup" -> "days"))
    import spark.implicits._
    val withNull = Seq(
      (1L, ts("2022-01-01 08:30:00"), 10.0, 2.0),
      (2L, null.asInstanceOf[java.sql.Timestamp], 20.0, 4.0)
    ).toDF("vendor_id", "pickup", "fare", "distance")
    t.append(withNull)
    // used to throw NumberFormatException parsing __HIVE_DEFAULT_PARTITION__
    assert(t.read(filter = Some(col("pickup") === ts("2022-01-01 08:30:00"))).count() === 1)
    assert(t.read(filter = Some(col("pickup").isNull)).count() === 1)
    t.delete(col("pickup") < ts("2021-01-01 00:00:00"))
    assert(t.toDF.count() === 2, "NULL pickup must survive a range DELETE")
  }

  test("cherrypick is idempotent: publishing the same staged snapshot twice is a no-op") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.ckpub", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis.limit(2))
    spark.conf.set("spark.wap.id", "pub-1")
    val staged = try {
      t.append(taxis.limit(1)); t.meta.snapshots.find(_.staged).get
    } finally spark.conf.unset("spark.wap.id")
    t.cherrypick(staged.snapshotId)
    assert(t.toDF.count() === 3)
    val v = t.meta.version
    t.cherrypick(staged.snapshotId) // retried publish (at-least-once client)
    assert(t.toDF.count() === 3, "double publish must not duplicate rows")
    assert(t.meta.version === v, "a retried publish must not write a new version")
  }

  test("cherrypick idempotence survives expire_snapshots dropping the publish snapshot") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.ckexp", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis.limit(2))
    spark.conf.set("spark.wap.id", "pub-exp-1")
    val staged = try {
      t.append(taxis.limit(1)); t.meta.snapshots.find(_.staged).get
    } finally spark.conf.unset("spark.wap.id")
    t.cherrypick(staged.snapshotId)
    assert(t.toDF.count() === 3)
    // several later commits, then aggressive expiry: the PUBLISH snapshot
    // (whose summary carries source-snapshot-id) is dropped — only the new
    // head survives. The summary-based idempotence marker is gone.
    t.append(taxis.limit(1))
    t.append(taxis.limit(1))
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    val m = t.meta
    assert(!m.snapshots.exists(_.summary.get("source-snapshot-id")
        .contains(staged.snapshotId.toString)),
      "precondition: expiry must have dropped the publish snapshot's marker")
    // a late at-least-once publish retry must STILL be a no-op — the
    // expiry-proof table property records the published source id
    val rows = t.toDF.count()
    t.cherrypick(staged.snapshotId)
    assert(t.toDF.count() === rows,
      "a publish retry after expiry must not re-apply the staged append")
  }

  test("published-id properties hold only expiry-orphaned ids, not one entry per publish") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.ckprune", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis.limit(2))
    def publish(wapId: String): Long = {
      spark.conf.set("spark.wap.id", wapId)
      val sid = try {
        t.append(taxis.limit(1))
        t.meta.snapshots.filter(_.staged).maxBy(_.snapshotId).snapshotId
      } finally spark.conf.unset("spark.wap.id")
      t.cherrypick(sid); sid
    }
    val ids = (1 to 3).map(i => publish(s"prune-$i"))
    // while the publish snapshots live, their summaries are the markers —
    // the properties must NOT have accumulated an entry per publish
    assert(!t.meta.properties.contains("graft.published-source-snapshot-ids"),
      s"got ${t.meta.properties}")
    assert(!t.meta.properties.contains("graft.published-wap-ids"))
    // retried publishes are still no-ops off the summary fast path
    val rows = t.toDF.count()
    ids.foreach(t.cherrypick(_))
    assert(t.toDF.count() === rows)
    // expiry drops the first two publish snapshots (the third's publish IS
    // the surviving head) → exactly the dropped markers move to the
    // properties; the survivor's marker stays in its summary only
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    val src = t.meta.properties("graft.published-source-snapshot-ids")
      .split(",").map(_.toLong).toSet
    assert(src === ids.take(2).toSet, s"harvested $src must be exactly the dropped ids")
    assert(t.meta.properties("graft.published-wap-ids").split(",").toSet
      === Set("prune-1", "prune-2"))
    ids.foreach(t.cherrypick(_))
    assert(t.toDF.count() === rows, "post-expiry retries stay no-ops")
  }

  test("duplicate WAP commit: re-staged session with an already-published wap.id is rejected") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.ckdup", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis.limit(2))
    def stage(): Long = {
      spark.conf.set("spark.wap.id", "session-7")
      try {
        t.append(taxis.limit(1))
        t.meta.snapshots.filter(_.staged).maxBy(_.snapshotId).snapshotId
      } finally spark.conf.unset("spark.wap.id")
    }
    t.cherrypick(stage())
    assert(t.toDF.count() === 3)
    // an orchestrator that lost track retries the WHOLE session: re-stage
    // (new snapshot id, same wap.id) + publish — the source-id idempotence
    // check can't see this; the wap.id guard must
    val restaged = stage()
    val ex = intercept[IllegalStateException](t.cherrypick(restaged))
    assert(ex.getMessage.contains("duplicate WAP commit"))
    assert(t.toDF.count() === 3, "the re-staged session must not double the rows")
  }

  test("months/years transforms agree between write and prune under a non-UTC session") {
    // 2024-03-01T02:00Z is Feb 29 in America/New_York: a session-tz
    // year()/month() at write time would file it under month 649 while the
    // pruning side (pure UTC) computes 650 — and the row would vanish from
    // filtered reads
    val tsUtc = java.time.Instant.parse("2024-03-01T02:00:00Z")
    val micros = tsUtc.getEpochSecond * 1000000L
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val df = Seq(java.sql.Timestamp.from(tsUtc)).toDF("ts")
      for (tr <- Seq("months", "years", "days", "hours")) {
        val written = df.select(
          Transforms.expr(tr, col("ts"), TimestampType).as("p")).head.getLong(0)
        assert(written === Transforms.applyToMicros(tr, micros),
          s"$tr ordinal must be session-tz independent")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("partition evolution: days → hours applies only to new writes (D8)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema, partitionBy = Seq("pickup" -> "days"))
    t.append(taxis.limit(3))
    t.replacePartitionSpec(Seq("pickup" -> "hours"))
    t.append(taxis.filter(col("vendor_id") > 3))
    val files = t.meta.currentSnapshot.get.files
    assert(files.map(_.specId).toSet === Set(0, 1))
    assert(t.toDF.count() === 5)
    // pruning still works across both specs via file stats
    val pruned = t.read(filter = Some(col("pickup") >= lit(ts("2022-02-01 00:00:00"))))
    assert(pruned.count() === 2)
  }

  test("rollback_to_snapshot restores previous counts (c36/c40)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema)
    t.append(taxis)
    val before = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("fare") > 25.0)
    assert(t.toDF.count() === 2)
    t.rollbackTo(before)
    assert(t.toDF.count() === 5)
  }

  test("WAP: staged write invisible until cherry-pick (D15/D18)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.permits", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis.limit(3))
    spark.conf.set("spark.wap.id", "job-42")
    try {
      t.append(taxis.filter(col("vendor_id") > 3))
      // reads don't see the staged snapshot
      assert(t.toDF.count() === 3)
      val staged = t.meta.snapshots.find(_.staged).get
      assert(staged.summary("wap.id") === "job-42")
      // audit pass reads it explicitly by snapshot id (c30/c32)
      assert(t.read(snapshotId = Some(staged.snapshotId)).count() === 5)
      // publish
      t.cherrypick(staged.snapshotId)
      assert(t.toDF.count() === 5)
    } finally spark.conf.unset("spark.wap.id")
  }

  test("branches: write via spark.wap.branch, read main unchanged (D14/D16)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.permits", taxiSchema)
    t.append(taxis.limit(3))
    t.createBranch("etl_job_42")
    spark.conf.set("spark.wap.branch", "etl_job_42")
    try {
      t.append(taxis.filter(col("vendor_id") > 3))
      // session-conf-routed read sees the branch (c27)
      assert(t.toDF.count() === 5)
    } finally spark.conf.unset("spark.wap.branch")
    // main unchanged (c29)
    assert(t.toDF.count() === 3)
    assert(t.read(branch = Some("etl_job_42")).count() === 5)
    // publish = fast-forward main to the branch head here via rollback ref
    val head = t.meta.refs("etl_job_42").snapshotId
    t.rollbackTo(head)
    assert(t.toDF.count() === 5)
    t.dropBranch("etl_job_42")
    assert(!t.meta.refs.contains("etl_job_42"))
  }

  test("write.bloom-filter.columns writes parquet bloom filters") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.bloom", taxiSchema,
      properties = Map("write.bloom-filter.columns" -> "vendor_id"))
    t.append(taxis)
    val file = t.meta.currentSnapshot.get.files.head
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.path), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      import scala.jdk.CollectionConverters._
      val byName = cols.asScala.map(c => c.getPath.toDotString -> c).toMap
      // vendor_id is physical c1
      assert(byName("c1").getBloomFilterOffset >= 0, "bloom filter expected on vendor_id")
      assert(byName("c3").getBloomFilterOffset < 0, "no bloom filter on other columns")
    } finally reader.close()
  }

  test("tags are immutable refs; fast_forward publishes a branch (WAP publish)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.tags", taxiSchema)
    t.append(taxis.limit(3))
    t.createTag("v1.0")
    // tag reads resolve like branches
    t.append(taxis.filter(col("vendor_id") > 3))
    assert(t.toDF.count() === 5)
    assert(t.read(branch = Some("v1.0")).count() === 3)
    // tags refuse writes and moves
    assertThrows[IllegalArgumentException](t.append(taxis.limit(1), toBranch = Some("v1.0")))
    assertThrows[IllegalArgumentException](t.fastForward("v1.0", "main"))
    assert(t.metadataTable("refs").filter(col("name") === "v1.0")
      .head.getString(1) === "TAG")
    // WAP publish via fast-forward: branch work lands on main atomically
    t.createBranch("etl")
    spark.conf.set("spark.wap.branch", "etl")
    try t.append(taxis.limit(1)) finally spark.conf.unset("spark.wap.branch")
    assert(t.toDF.count() === 5) // main unchanged pre-publish
    t.fastForward("main", "etl")
    assert(t.toDF.count() === 6)
    // non-ancestor fast-forward is rejected (it would silently drop commits)
    t.createBranch("stale", at = Some(t.meta.snapshots.head.snapshotId))
    assertThrows[IllegalArgumentException](t.fastForward("main", "stale"))
    t.dropTag("v1.0")
    assert(!t.meta.refs.contains("v1.0"))
  }

  test("expire_snapshots deletes unreferenced files (D19)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema)
    t.append(taxis.limit(2))
    t.append(taxis.filter(col("vendor_id") > 2))
    t.delete(col("vendor_id") === 1L) // rewrites first file
    val allPaths = t.meta.snapshots.flatMap(_.files).map(_.path).toSet
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    val live = t.meta.snapshots.flatMap(_.files).map(_.path).toSet
    assert(t.meta.snapshots.size === 1)
    assert(t.toDF.count() === 4)
    // physically removed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    (allPaths -- live).foreach { p =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p)), s"$p should be deleted")
    }
  }

  test("rewrite_data_files compacts without changing content (D20)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema)
    (1 to 4).foreach(i => t.append(taxis)) // 4 small appends → ≥4 files
    val before = t.meta.currentSnapshot.get.files.size
    assert(before >= 4)
    val sumBefore = t.toDF.agg(sum("fare")).head.getDouble(0)
    t.rewriteDataFiles(targetSizeBytes = 64L * 1024 * 1024)
    val after = t.meta.currentSnapshot.get
    assert(after.operation === "replace")
    assert(after.files.size === 1)
    assert(t.toDF.count() === 20)
    assert(t.toDF.agg(sum("fare")).head.getDouble(0) === sumBefore)
  }

  test("sort-clustered rewrite_data_files gives disjoint bounds that prune (D20+)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.sorted", StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    import spark.implicits._
    // interleaved appends: every file spans nearly the full key range
    val rnd = new scala.util.Random(7)
    (1 to 4).foreach { _ =>
      t.append(rnd.shuffle((1L to 1000L).toList).take(250)
        .map(k => (k, k * 1.5)).toDF("k", "v").coalesce(2))
    }
    val sumBefore = t.toDF.agg(sum("v")).head.getDouble(0)
    // before: a point-range query must scan ~every file
    def survivors(lo: Long, hi: Long): Int = {
      val m = t.meta
      val p = Pruning.translate(col("k") >= lit(lo) && col("k") <= lit(hi))
      val method = classOf[LakeTable].getDeclaredMethods.find(_.getName == "fileBounds").get
      method.setAccessible(true)
      m.currentSnapshot.get.files.count { f =>
        Pruning.mayMatch(p, method.invoke(t, m, f).asInstanceOf[Pruning.FileBounds])
      }
    }
    val before = survivors(100, 120)
    t.rewriteDataFiles(targetSizeBytes = 4096, sortBy = Seq("k"))
    val m = t.meta.currentSnapshot.get
    assert(m.summary("sort-order") === "k")
    assert(m.files.size >= 3, "compaction should still produce several files")
    // content unchanged
    assert(t.toDF.count() === 1000)
    assert(t.toDF.agg(sum("v")).head.getDouble(0) === sumBefore)
    // after: clustered bounds prune the range query to a fraction of files
    val after = survivors(100, 120)
    assert(after < m.files.size, s"expected pruning, got $after of ${m.files.size} files")
    assert(after <= math.max(1, before / 2),
      s"sorted layout should prune much harder (before=$before after=$after)")
  }

  test("optimistic concurrency: parallel appends all commit, none lost") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.conc", taxiSchema)
    import spark.implicits._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            // each writer gets its own handle, like separate drivers would
            val h = cat.loadTable("nyc.conc")
            h.append(Seq((i.toLong, ts(s"2022-01-0$i 0$i:00:00"), i * 10.0, i * 1.0))
              .toDF("vendor_id", "pickup", "fare", "distance"))
            ()
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(t.toDF.count() === 8, "every concurrent append must be committed")
    assert(t.meta.snapshots.size === 8)
    // linear history: every snapshot's parent is the previous snapshot
    val byId = t.meta.snapshots.map(s => s.snapshotId -> s).toMap
    t.meta.snapshots.sortBy(_.snapshotId).sliding(2).foreach {
      case Seq(a, b) => assert(b.parentId.contains(a.snapshotId),
        s"snapshot ${b.snapshotId} should chain to ${a.snapshotId}")
      case _ =>
    }
    assert(byId.size === 8)
  }

  test("concurrent ref DDL: racing branch/tag creates resolve to one ref, one commit") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.refrace", taxiSchema)
    t.append(taxis)
    val v0 = t.meta.version
    // 4 threads CREATE BRANCH IF NOT EXISTS audit + 4 threads CREATE TAG
    // IF NOT EXISTS audit, all racing on fresh handles. Exactly one kind
    // can win the name; same-kind losers must no-op WITHOUT a spurious
    // version write (identity-transform skip), cross-kind losers must
    // fail loudly (never silently repoint or delete the other kind).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val outcomes = try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            val h = cat.loadTable("nyc.refrace")
            try {
              if (i % 2 == 0) { h.createBranch("audit", ifNotExists = true); "branch" }
              else { h.createTag("audit", ifNotExists = true); "tag" }
            } catch { case _: IllegalArgumentException => "rejected" }
          }
        })
      }
      futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val fresh = cat.loadTable("nyc.refrace")
    val ref = fresh.meta.refs.get("audit")
    assert(ref.isDefined, "exactly one ref named audit must exist")
    val winner = if (ref.get.kind == "tag") "tag" else "branch"
    // every thread of the winning kind succeeds (idempotent no-op);
    // every thread of the losing kind is rejected
    assert(outcomes.count(_ == winner) === 4)
    assert(outcomes.count(_ == "rejected") === 4)
    // one real commit: no-op paths must not have written version files
    assert(fresh.meta.version === v0 + 1,
      s"expected exactly one version bump, got ${fresh.meta.version - v0}")
  }

  test("mixed concurrency: appends + conflict-retried merges, nothing lost") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.mixed", taxiSchema)
    t.append(taxis) // vendor_ids 1..5
    import spark.implicits._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      // 3 appenders adding new keys + 3 mergers upserting existing keys,
      // all racing: merges plan file sets that appends keep invalidating
      val futures = (1 to 6).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val h = cat.loadTable("nyc.mixed")
            if (i <= 3) {
              h.append(Seq((100L + i, ts(s"2022-03-0$i 00:00:00"), 1.0, 1.0))
                .toDF("vendor_id", "pickup", "fare", "distance"))
            } else {
              val ups = Seq((i.toLong - 3, ts("2022-04-01 00:00:00"), 999.0, 9.0))
                .toDF("vendor_id", "pickup", "fare", "distance")
              LakeTable.withConflictRetry(attempts = 10) {
                h.mergeByKeys("vendor_id", ups.select("vendor_id"), ups)
              }
            }
            ()
          }
        })
      }
      futures.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val rows = t.toDF.select("vendor_id", "fare").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.keySet === Set(1L, 2L, 3L, 4L, 5L, 101L, 102L, 103L),
      s"all appends and original keys present, got ${rows.keySet}")
    // the three merged keys (1..3) carry the upserted fare
    Seq(1L, 2L, 3L).foreach(k => assert(rows(k) === 999.0, s"key $k not merged"))
    Seq(4L, 5L).foreach(k => assert(rows(k) !== 999.0))
  }

  test("write.distribution-mode=hash clusters writes: one file per partition value") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.dist", taxiSchema,
      partitionBy = Seq("pickup" -> "days"),
      properties = Map("write.distribution-mode" -> "hash"))
    // 8 input tasks × 4 day-values would give up to 32 files without
    // clustering; with hash distribution each day is one task → 4 files
    t.append(taxis.union(taxis).union(taxis).union(taxis).repartition(8))
    val files = t.meta.currentSnapshot.get.files
    assert(files.size === 4, s"expected one file per day partition, got ${files.size}")
    assert(t.toDF.count() === 20)
    // and without the property the same append produces more, smaller files
    val t2 = cat.createTable("nyc.dist2", taxiSchema, partitionBy = Seq("pickup" -> "days"))
    t2.append(taxis.union(taxis).union(taxis).union(taxis).repartition(8))
    assert(t2.meta.currentSnapshot.get.files.size > 4)
  }

  test("z-order rewrite prunes range queries on BOTH clustered columns") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.zorder", StructType(Seq(
      StructField("x", LongType), StructField("y", LongType), StructField("v", DoubleType))))
    import spark.implicits._
    // independent x and y over a 100×100 grid, interleaved across files
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((for (x <- 1L to 100L; y <- 1L to 100L) yield (x, y)).toList)
    rows.grouped(2500).foreach(chunk =>
      t.append(chunk.map { case (x, y) => (x, y, x * 0.5 + y) }.toDF("x", "y", "v").coalesce(2)))
    def survivors(c: String, lo: Long, hi: Long): Int = {
      val m = t.meta
      val p = Pruning.translate(col(c) >= lit(lo) && col(c) <= lit(hi))
      val method = classOf[LakeTable].getDeclaredMethods.find(_.getName == "fileBounds").get
      method.setAccessible(true)
      m.currentSnapshot.get.files.count { f =>
        Pruning.mayMatch(p, method.invoke(t, m, f).asInstanceOf[Pruning.FileBounds])
      }
    }
    t.rewriteDataFiles(targetSizeBytes = 8192, zorderBy = Seq("x", "y"))
    val m = t.meta.currentSnapshot.get
    assert(m.summary("zorder") === "x,y")
    val nFiles = m.files.size
    assert(nFiles >= 4, s"want several files, got $nFiles")
    assert(t.toDF.count() === 10000)
    // a narrow range on EITHER dimension prunes (a linear sort on x would
    // leave y queries scanning every file)
    val sx = survivors("x", 10, 20)
    val sy = survivors("y", 10, 20)
    assert(sx < nFiles, s"x-range should prune: $sx of $nFiles")
    assert(sy < nFiles, s"y-range should prune: $sy of $nFiles")
  }

  test("metadata tables: snapshots/files/history/refs/partitions (S6)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema, partitionBy = Seq("pickup" -> "days"))
    t.append(taxis)
    t.delete(col("fare") === 10.0)
    val snaps = t.metadataTable("snapshots")
    assert(snaps.count() === 2)
    assert(snaps.columns.contains("committed_at"))
    assert(snaps.filter(col("operation") === "delete").count() === 1)
    val files = t.metadataTable("files")
    assert(files.count() === t.meta.currentSnapshot.get.files.size.toLong)
    val lower = files.selectExpr("lower_bounds['fare']").collect().map(_.getString(0))
    assert(lower.forall(_ != null))
    assert(t.metadataTable("refs").filter(col("name") === "main").count() === 1)
    assert(t.metadataTable("history").count() === 2)
    assert(t.metadataTable("partitions").count() >= 3)
    // SQL route via registered views
    cat.registerViews("nyc.taxis", "taxis")
    assert(spark.sql("SELECT COUNT(*) FROM taxis").head.getLong(0) === 4)
    assert(spark.sql("SELECT snapshot_id FROM taxis__snapshots ORDER BY committed_at DESC LIMIT 1").count() === 1)
  }

  test("remove_orphan_files deletes unreferenced data files, spares referenced + recent") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.orphans", taxiSchema)
    t.append(taxis)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val dataDir = new org.apache.hadoop.fs.Path(t.location, "data")
    // plant two orphans: one "old", one "fresh" (in-flight write simulation)
    val oldOrphan = new org.apache.hadoop.fs.Path(dataDir, "rw-orphan-old.parquet")
    val newOrphan = new org.apache.hadoop.fs.Path(dataDir, "rw-orphan-new.parquet")
    Seq(oldOrphan, newOrphan).foreach { p =>
      val out = fs.create(p, true); out.write(Array[Byte](1, 2, 3)); out.close()
    }
    fs.setTimes(oldOrphan, System.currentTimeMillis() - 7200_000L, -1)
    // backdate every REFERENCED file past the cutoff too: the reference check
    // alone (not the mod-time guard) must spare them, across the qualified
    // (file:/...) vs stored-path representation difference
    t.meta.snapshots.flatMap(_.files).foreach { f =>
      fs.setTimes(new org.apache.hadoop.fs.Path(f.path), System.currentTimeMillis() - 7200_000L, -1)
    }
    val deleted = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() - 3600_000L)
    assert(deleted.exists(_.endsWith("rw-orphan-old.parquet")))
    assert(deleted.size === 1, s"only the old orphan may be deleted, got $deleted")
    assert(!fs.exists(oldOrphan))
    assert(fs.exists(newOrphan), "fresh files must be spared (possible in-flight write)")
    assert(t.toDF.count() === 5, "referenced data untouched")
  }

  test("readIncremental returns only rows appended between two snapshots") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.incr", taxiSchema)
    t.append(taxis.limit(2))
    val s1 = t.meta.currentSnapshot.get.snapshotId
    t.append(taxis.filter(col("vendor_id").isin(3L, 4L)))
    t.delete(col("vendor_id") === 1L) // CoW rewrite must not re-deliver
    t.append(taxis.filter(col("vendor_id") === 5L))
    val s4 = t.meta.currentSnapshot.get.snapshotId
    val incr = t.readIncremental(s1)
    assert(incr.select("vendor_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L, 5L))
    // bounded range: only the middle append
    val mid = t.readIncremental(s1, Some(s4)).count()
    assert(mid === 3)
    val upToDelete = t.meta.snapshots.map(_.snapshotId).sorted.apply(2) // the delete snapshot
    assert(t.readIncremental(s1, Some(upToDelete)).select("vendor_id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L))
  }

  test("CoW commit planned against a stale snapshot reconciles concurrent appends") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.conflict", taxiSchema)
    t.append(taxis.limit(2))
    val snap1 = t.meta.currentSnapshot.get
    // concurrent append lands AFTER the rewrite planned its file set
    t.append(taxis.filter(col("vendor_id") === 5L))
    val appended = t.meta.currentSnapshot.get.files.map(_.path).toSet --
      snap1.files.map(_.path).toSet
    // "delete everything snap1 held" planned at snap1 — the reconciled
    // commit must keep the concurrently appended file, not clobber it
    t.commitReplace("main", Seq.empty, "delete", Map.empty, base = Some(snap1))
    val head = t.meta.currentSnapshot.get
    assert(head.files.map(_.path).toSet === appended,
      "concurrent append must survive a stale-planned rewrite")
    assert(t.toDF.select("vendor_id").collect().map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("CoW commit aborts when a concurrent commit removed files it relied on") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.conflict2", taxiSchema)
    t.append(taxis)
    val snap1 = t.meta.currentSnapshot.get
    // concurrent DELETE rewrites/removes snap1 files
    t.delete(col("vendor_id") <= 2L)
    // a rewrite planned at snap1 that keeps snap1's files must NOT commit:
    // it would resurrect the deleted rows
    intercept[CommitConflictException] {
      t.commitReplace("main", snap1.files, "replace", Map.empty, base = Some(snap1))
    }
    // strict ops (truncate/overwrite) abort on ANY divergence, adds included
    val snap2 = t.meta.currentSnapshot.get
    t.append(taxis.limit(1))
    intercept[CommitConflictException] {
      t.commitReplace("main", Seq.empty, "truncate", Map.empty,
        base = Some(snap2), strict = true)
    }
    // end-to-end: a delete planned now (fresh) still works
    t.delete(col("vendor_id") === 1L)
    assert(t.toDF.filter(col("vendor_id") === 1L).count() === 0)
  }

  test("readIncremental delivers rows inserted by MERGE (overwrite snapshots)") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("nyc.incrmerge", taxiSchema)
    t.append(taxis.limit(3))
    val s1 = t.meta.currentSnapshot.get.snapshotId
    // upsert: updates key 2, inserts keys 8 and 9 — commits one "overwrite"
    // snapshot whose insert files carry the app- prefix
    val ups = Seq(
      (2L, ts("2022-03-01 00:00:00"), 99.0, 1.0),
      (8L, ts("2022-03-01 00:00:00"), 80.0, 1.0),
      (9L, ts("2022-03-01 00:00:00"), 90.0, 1.0)
    ).toDF("vendor_id", "pickup", "fare", "distance")
    t.mergeByKeys("vendor_id", ups.select("vendor_id"), ups)
    assert(t.meta.currentSnapshot.get.operation === "overwrite")
    // all three upserted row versions are NEW data → delivered; the CoW
    // survivors of keys 1/3 are rewrite output → not re-delivered
    assert(t.readIncremental(s1).select("vendor_id").collect().map(_.getLong(0))
      .sorted.toSeq === Seq(2L, 8L, 9L))
  }

  test("changelog: per-commit insert/delete rows, updates as delete+insert pairs") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("nyc.cdc", taxiSchema)
    t.append(taxis.limit(2)) // vendors 1,2
    val s1 = t.meta.currentSnapshot.get.snapshotId
    t.append(taxis.filter(col("vendor_id").isin(3L, 4L)))
    val s2 = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("vendor_id") === 1L)
    val s3 = t.meta.currentSnapshot.get.snapshotId
    t.update(Map("fare" -> lit(77.0)), Some(col("vendor_id") === 3L))
    val s4 = t.meta.currentSnapshot.get.snapshotId
    val log = t.changelog(Some(s1), s4)
      .select("vendor_id", "fare", "_change_type", "_commit_snapshot_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
    // append commit: plain inserts under s2
    assert(log.filter(_._4 == s2).map(e => (e._1, e._3)).sorted.toSeq
      === Seq((3L, "INSERT"), (4L, "INSERT")))
    // delete commit: one delete event for vendor 1 (CoW survivor rows cancel)
    assert(log.filter(_._4 == s3).map(e => (e._1, e._3)).toSeq === Seq((1L, "DELETE")))
    // update commit: delete(old fare) + insert(new fare) pair for vendor 3
    val upd = log.filter(_._4 == s4).sortBy(_._3)
    assert(upd.map(e => (e._1, e._3)).toSeq === Seq((3L, "DELETE"), (3L, "INSERT")))
    assert(upd.find(_._3 == "INSERT").get._2 === 77.0)
    assert(upd.find(_._3 == "DELETE").get._2 !== 77.0)
    // full-history changelog (from = None) starts with the first append
    assert(t.changelog(None, s1).select("vendor_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // empty range
    assert(t.changelog(Some(s4), s4).count() === 0)
    // non-ancestor from → loud failure
    intercept[IllegalArgumentException](t.changelog(Some(s4 + 99), s4))
  }

  test("changelog: identifier fields pair same-commit delete+insert into UPDATE_BEFORE/AFTER") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("nyc.cdcid", taxiSchema)
    t.append(taxis.limit(2)) // vendors 1,2
    val s1 = t.meta.currentSnapshot.get.snapshotId
    // one commit that UPDATEs vendor 1 and also appends vendor 3 via a
    // keyed merge — with identifier fields, the update must surface as an
    // UPDATE_BEFORE/UPDATE_AFTER pair while the new key stays INSERT
    val ups = Seq(
      (1L, ts("2022-03-01 00:00:00"), 55.0, 1.0),
      (3L, ts("2022-03-01 00:00:00"), 30.0, 3.0)
    ).toDF("vendor_id", "pickup", "fare", "distance")
    t.mergeByKeys("vendor_id", ups.select("vendor_id"), ups)
    val s2 = t.meta.currentSnapshot.get.snapshotId
    val log = t.changelog(Some(s1), s2, identifierFields = Seq("vendor_id"))
      .select("vendor_id", "fare", "_change_type", "_change_ordinal").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
    assert(log.map(e => (e._1, e._3)).sorted.toSeq ===
      Seq((1L, "UPDATE_AFTER"), (1L, "UPDATE_BEFORE"), (3L, "INSERT")),
      s"got ${log.toSeq}")
    assert(log.find(_._3 == "UPDATE_AFTER").get._2 === 55.0)
    assert(log.find(_._3 == "UPDATE_BEFORE").get._2 !== 55.0)
    assert(log.forall(_._4 === 0), "single-commit range → ordinal 0")
    // a pure delete in a LATER commit stays DELETE (no pairing partner),
    // and its ordinal reflects commit order within the range
    t.delete(col("vendor_id") === 2L)
    val s3 = t.meta.currentSnapshot.get.snapshotId
    val log2 = t.changelog(Some(s1), s3, identifierFields = Seq("vendor_id"))
      .select("vendor_id", "_change_type", "_change_ordinal").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(log2.filter(_._1 == 2L).toSeq === Seq((2L, "DELETE", 1)))
    // unknown identifier column → loud failure
    intercept[IllegalArgumentException](
      t.changelog(Some(s1), s3, identifierFields = Seq("nope")))
  }

  test("changelogWindows: bounded windows concatenate to the full-range changelog") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("nyc.cdcwin", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    t.append(Seq((0L, 0.0)).toDF("id", "v"))
    val s0 = t.meta.currentSnapshot.get.snapshotId
    // 24 commits after the pin: 22 appends + a delete + an update mixed in
    (1L to 11L).foreach(i => t.append(Seq((i, i * 1.0)).toDF("id", "v")))
    t.delete(col("id") === 5L)
    (12L to 22L).foreach(i => t.append(Seq((i, i * 1.0)).toDF("id", "v")))
    t.update(Map("v" -> lit(-1.0)), Some(col("id") === 7L))
    val head = t.meta.currentSnapshot.get.snapshotId
    val windows = t.changelogWindows(Some(s0), head, maxCommitsPerBatch = 7).toList
    assert(windows.size === 4, "24 commits at <=7/window -> 7+7+7+3")
    val sizes = windows.map(_.count())
    // windows 1-2: 7 appends each = 7 events; window 3: 6 appends + the
    // delete = 7 events; window 4: 3 appends... composition depends on
    // where the delete/update land — assert totals instead of guessing:
    // 22 inserts + 1 delete + (update = delete+insert pair) = 25 events
    assert(sizes.sum === 25, s"window sizes $sizes")
    assert(sizes.forall(_ > 0), s"no empty window in a dense range: $sizes")
    val concat = windows.map(_.drop("_change_ordinal")).reduce(_ unionByName _)
    val oneShot = t.changelog(Some(s0), head).drop("_change_ordinal")
    assert(concat.exceptAll(oneShot).isEmpty && oneShot.exceptAll(concat).isEmpty,
      "windowed concatenation must be row-identical to the one-shot changelog")
    // window plans are bounded: each covers <=7 commits regardless of range
    assert(t.changelogWindows(Some(s0), head, maxCommitsPerBatch = 100).size === 1)
    intercept[IllegalArgumentException](t.changelogWindows(Some(s0), head, 0))
  }

  test("changelogWindows: an empty range (from == to) yields no window, as changelog yields no row") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("nyc.cdcwin0", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    t.append(Seq((0L, 0.0)).toDF("id", "v"))
    val head = t.meta.currentSnapshot.get.snapshotId
    assert(t.changelog(Some(head), head).count() === 0L)
    assert(t.changelogWindows(Some(head), head, maxCommitsPerBatch = 7).isEmpty)
  }

  test("changelog: compaction and z-order rewrites produce ZERO change events") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("nyc.cdcnoop", taxiSchema)
    t.append(taxis.limit(2))
    t.append(taxis.filter(col("vendor_id").isin(3L, 4L)))
    val before = t.meta.currentSnapshot.get.snapshotId
    // maintenance rewrites shuffle bytes between files but leave logical
    // content untouched — a CDC consumer must see NOTHING, or a replica
    // would churn (and a downstream merge would re-apply rows) on every
    // compaction of a 100 TB table
    t.rewriteDataFiles(targetSizeBytes = 1L) // force multiple output files
    assert(t.changelog(Some(before), t.meta.currentSnapshot.get.snapshotId).count() === 0,
      "compaction must be invisible to the changelog")
    val afterCompact = t.meta.currentSnapshot.get.snapshotId
    t.rewriteDataFiles(sortBy = Seq("vendor_id"))
    assert(t.changelog(Some(afterCompact), t.meta.currentSnapshot.get.snapshotId).count() === 0,
      "sort-clustering must be invisible to the changelog")
    // and a real delete after the rewrites still surfaces
    val afterSort = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("vendor_id") === 1L)
    val ev = t.changelog(Some(afterSort), t.meta.currentSnapshot.get.snapshotId)
      .select("vendor_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(ev.toSeq === Seq((1L, "DELETE")))
  }

  test("DESCRIBE EXTENDED surfaces columns + table detail (D4)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema,
      partitionBy = Seq("pickup" -> "days"), properties = Map("k" -> "v"))
    t.append(taxis)
    val d = t.describeExtended.collect()
    assert(d.take(4).map(_.getString(0)).toSeq === Seq("vendor_id", "pickup", "fare", "distance"))
    val detail = d.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(detail("Partitioning") === "days(pickup)")
    assert(detail("Name") === "nyc.taxis")
    assert(detail("Table Properties").contains("k=v"))
  }

  test("JSON batch scan with inference feeds a lake table (S2)") {
    // ref: Integrated Audits c8 — multiline JSON read with inferSchema
    val dir = Files.createTempDirectory("graft-json")
    Files.writeString(dir.resolve("permits.json"),
      """[{"borough": "Manhattan", "eventid": "1"},
        |{"borough": "Brooklyn", "eventid": "2"}]""".stripMargin)
    val df = spark.read.option("multiline", "true").option("inferSchema", "true")
      .json(dir.toString)
    assert(df.count() === 2)
    val cat = freshCatalog()
    val t = cat.createTable("nyc.permits", df.schema)
    t.append(df)
    assert(t.toDF.select("borough").distinct().count() === 2)
  }

  test("truncate empties the table but history survives (D3)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema)
    t.append(taxis)
    val before = t.meta.currentSnapshot.get.snapshotId
    t.truncate()
    assert(t.toDF.count() === 0)
    assert(t.read(snapshotId = Some(before)).count() === 5)
  }

  test("DELETE NOT-predicate keeps NULL rows (three-valued logic)") {
    // delete(a =!= 5) on a file whose range excludes 5 but contains NULLs:
    // NULL rows satisfy neither a=5 nor NOT(a=5) and must survive — the
    // metadata-only fast path may not drop the whole file.
    val cat = freshCatalog()
    val t = cat.createTable("t.nulls", StructType(Seq(
      StructField("a", IntegerType, nullable = true),
      StructField("tag", StringType))))
    import spark.implicits._
    t.append(Seq((Some(1), "x"), (Some(2), "y"), (None: Option[Int], "z"))
      .toDF("a", "tag").coalesce(1))
    t.delete(col("a") =!= lit(5))
    val out = t.toDF.collect()
    assert(out.length === 1, "null-keyed row must survive NOT-delete")
    assert(out.head.isNullAt(0) && out.head.getString(1) === "z")
  }

  test("decimal column stats prune in the scaled domain") {
    val cat = freshCatalog()
    val t = cat.createTable("t.dec", StructType(Seq(
      StructField("d", DecimalType(10, 2)), StructField("id", IntegerType))))
    import spark.implicits._
    val rows = Seq((BigDecimal("100.50"), 1), (BigDecimal("200.75"), 2))
    t.append(rows.toDF("d", "id").select(col("d").cast(DecimalType(10, 2)).as("d"), col("id")))
    // unscaled-vs-scaled bug: stored min "10050" vs literal 150.00 would
    // wrongly prune the file for this filter (10050 > 150)
    assert(t.read(filter = Some(col("d") <= lit(new java.math.BigDecimal("150.00")))).count() === 1)
    assert(t.read(filter = Some(col("d") > lit(new java.math.BigDecimal("150.00")))).count() === 1)
    // and the metadata-only DELETE path must not drop the file wholesale
    t.delete(col("d") > lit(new java.math.BigDecimal("1000.00")))
    assert(t.toDF.count() === 2)
  }

  test("days() partitioning on a DATE column prunes correctly") {
    // norm(date)=epoch-days, not micros: equality on the date column must
    // still find its partition (the unit bug pruned every file → 0 rows)
    val cat = freshCatalog()
    val t = cat.createTable("t.dated", StructType(Seq(
      StructField("d", DateType), StructField("v", IntegerType))),
      partitionBy = Seq("d" -> "days"))
    import spark.implicits._
    val d1 = java.sql.Date.valueOf("2022-01-01")
    val d2 = java.sql.Date.valueOf("2022-03-15")
    t.append(Seq((d1, 1), (d2, 2)).toDF("d", "v").coalesce(1))
    assert(t.read(filter = Some(col("d") === lit(d1))).count() === 1)
    assert(t.read(filter = Some(col("d") === lit(d2))).count() === 1)
    assert(t.read(filter = Some(col("d") === lit(java.sql.Date.valueOf("2023-06-01")))).count() === 0)
  }

  test("mergeByKey(s) is null-safe and keeps null-keyed rows") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", IntegerType, nullable = true), StructField("v", StringType)))
    def fresh(): LakeTable = {
      val t = freshCatalog().createTable("t.merge", schema)
      t.append(Seq((Some(1), "a"), (Some(2), "b"), (None: Option[Int], "keepme"))
        .toDF("k", "v").coalesce(1))
      t
    }
    // Seq-based API: a null in the key list must not wipe non-matching rows
    val t1 = fresh()
    t1.mergeByKey("k", Seq(1, null), Seq((Some(1), "a2")).toDF("k", "v"))
    val out1 = t1.toDF.orderBy("k").collect()
    assert(out1.map(r => if (r.isNullAt(0)) "null" else r.getInt(0).toString).toSeq
      === Seq("null", "1", "2"))
    assert(out1.exists(r => !r.isNullAt(0) && r.getInt(0) == 1 && r.getString(1) == "a2"))
    assert(out1.exists(r => r.isNullAt(0) && r.getString(1) == "keepme"))
    // distributed API: anti-join path, no driver key collection
    val t2 = fresh()
    t2.mergeByKeys("k", Seq(Some(1), None: Option[Int]).toDF("k"),
      Seq((Some(1), "a3")).toDF("k", "v"))
    val out2 = t2.toDF.collect()
    assert(out2.length === 3)
    assert(out2.exists(r => !r.isNullAt(0) && r.getInt(0) == 1 && r.getString(1) == "a3"))
    assert(out2.exists(r => r.isNullAt(0) && r.getString(1) == "keepme"))
    assert(out2.exists(r => !r.isNullAt(0) && r.getInt(0) == 2 && r.getString(1) == "b"))
  }

  test("file pruning: predicate prunes files before the scan (§4)") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.taxis", taxiSchema, partitionBy = Seq("pickup" -> "days"))
    t.append(taxis)
    val m = t.meta
    val all = m.currentSnapshot.get.files
    val p = Pruning.translate(col("pickup") >= lit(ts("2022-02-01 00:00:00")))
    // use the same internals the scan uses: count files surviving mayMatch
    val survivors = all.count { f =>
      val method = classOf[LakeTable].getDeclaredMethods.find(_.getName == "fileBounds").get
      method.setAccessible(true)
      val b = method.invoke(t, m, f).asInstanceOf[Pruning.FileBounds]
      Pruning.mayMatch(p, b)
    }
    assert(survivors === 2) // only the two February day-partitions
    assert(t.read(filter = Some(col("pickup") >= lit(ts("2022-02-01 00:00:00")))).count() === 2)
  }

  test("WAP: INSERT OVERWRITE stages under wap.id; cherrypick publishes the replacement") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.wapow", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis.limit(3))
    spark.conf.set("spark.wap.id", "ow-7")
    try {
      t.overwrite(taxis.filter(col("vendor_id") > 3))
      // plain reads still see the pre-overwrite content — audit gate intact
      assert(t.toDF.count() === 3)
      val staged = t.meta.snapshots.find(_.staged).get
      assert(staged.operation === "overwrite")
      assert(staged.summary("wap.id") === "ow-7")
      // the audit reads the replacement explicitly
      assert(t.read(snapshotId = Some(staged.snapshotId)).count() === 2)
      // publish: a staged overwrite REPLACES main's content wholesale
      t.cherrypick(staged.snapshotId)
      assert(t.toDF.select("vendor_id").collect().map(_.getLong(0)).toSet === Set(4L, 5L))
    } finally spark.conf.unset("spark.wap.id")
  }

  test("WAP: setting both spark.wap.id and spark.wap.branch is rejected") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.wapdual", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis.limit(2))
    spark.conf.set("spark.wap.id", "job-1")
    spark.conf.set("spark.wap.branch", "etl")
    try {
      val e1 = intercept[IllegalArgumentException](t.append(taxis.limit(1)))
      assert(e1.getMessage.contains("spark.wap.id"))
      val e2 = intercept[IllegalArgumentException](t.overwrite(taxis.limit(1)))
      assert(e2.getMessage.contains("spark.wap.branch"))
      // row-level ops and truncate go through the same guard — an
      // ambiguous session must not silently route a DELETE to wap.branch
      // and skip the wap.id audit path
      intercept[IllegalArgumentException](t.delete(col("vendor_id") === 1))
      intercept[IllegalArgumentException](t.update(Map("total_amount" -> lit(0.0))))
      intercept[IllegalArgumentException](t.mergeByKey("vendor_id", Seq(1), taxis.limit(1)))
      intercept[IllegalArgumentException](
        t.mergeByKeys("vendor_id", taxis.limit(1), taxis.limit(1)))
      intercept[IllegalArgumentException](t.truncate())
      assert(t.toDF.count() === 2, "an ambiguous WAP write must change nothing")
    } finally { spark.conf.unset("spark.wap.id"); spark.conf.unset("spark.wap.branch") }
    // either conf alone still works
    spark.conf.set("spark.wap.branch", "etl")
    try {
      t.createBranch("etl")
      t.append(taxis.limit(1))
      // wap.branch routes BOTH reads and writes to the branch (D16)
      assert(t.toDF.count() === 3, "session reads follow wap.branch")
      assert(t.read(branch = Some("main")).count() === 2,
        "branch-routed write stays off main")
    } finally spark.conf.unset("spark.wap.branch")
  }

  test("WAP: staged overwrite refuses to publish over a moved main") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.wapow2", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis.limit(3))
    spark.conf.set("spark.wap.id", "ow-8")
    val staged = try {
      t.overwrite(taxis.filter(col("vendor_id") > 3))
      t.meta.snapshots.find(_.staged).get
    } finally spark.conf.unset("spark.wap.id")
    t.append(taxis.limit(1)) // main moves after the overwrite was staged
    intercept[CommitConflictException](t.cherrypick(staged.snapshotId))
    assert(t.toDF.count() === 4, "failed publish must leave main untouched")
  }

  test("WAP: row-level DELETE/UPDATE/merge stage under wap.id; cherrypick publishes") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.waprow", taxiSchema,
      properties = Map("write.wap.enabled" -> "true"))
    t.append(taxis)
    // DELETE inside a WAP session: staged, invisible to plain reads,
    // visible via the staged snapshot, publishable via cherrypick
    spark.conf.set("spark.wap.id", "audit-del-1")
    val stagedDel = try {
      t.delete(col("vendor_id") <= 2)
      t.meta.snapshots.find(s => s.staged && s.summary.get("wap.id").contains("audit-del-1")).get
    } finally spark.conf.unset("spark.wap.id")
    assert(t.toDF.count() === 5,
      "a WAP-session DELETE must NOT publish — the audit gate would be bypassed")
    assert(t.read(snapshotId = Some(stagedDel.snapshotId)).count() === 3,
      "the staged DELETE result is auditable by snapshot id")
    t.cherrypick(stagedDel.snapshotId)
    assert(t.toDF.count() === 3, "cherrypick publishes the audited DELETE")
    // UPDATE inside a WAP session: staged too
    spark.conf.set("spark.wap.id", "audit-upd-1")
    val stagedUpd = try {
      t.update(Map("fare" -> lit(99.0)), Some(col("vendor_id") === 3))
      t.meta.snapshots.find(s => s.staged && s.summary.get("wap.id").contains("audit-upd-1")).get
    } finally spark.conf.unset("spark.wap.id")
    assert(t.toDF.filter(col("vendor_id") === 3).head.getAs[Double]("fare") === 30.0,
      "a WAP-session UPDATE must NOT publish")
    // a staged replacement refuses to publish over a moved main
    t.append(taxis.limit(1))
    intercept[CommitConflictException](t.cherrypick(stagedUpd.snapshotId))
    // mergeByKeys inside a WAP session: staged too
    import spark.implicits._
    spark.conf.set("spark.wap.id", "audit-merge-1")
    try {
      val up = Seq((4L, ts("2022-02-01 11:00:00"), 41.0, 8.0))
        .toDF("vendor_id", "pickup", "fare", "distance")
      t.mergeByKeys("vendor_id", up.select("vendor_id"), up)
      assert(t.toDF.filter(col("vendor_id") === 4).head.getAs[Double]("fare") === 40.0,
        "a WAP-session merge must NOT publish")
      assert(t.meta.snapshots.exists(s =>
        s.staged && s.summary.get("wap.id").contains("audit-merge-1")))
    } finally spark.conf.unset("spark.wap.id")
  }

  test("serializable isolation: overlapping concurrent append aborts a row-level op") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.iso", taxiSchema)
    t.append(taxis.filter(col("vendor_id") <= 3))
    val pred = Pruning.LtE("vendor_id", 2L) // the op's predicate: vendor_id <= 2
    // default (snapshot isolation): the concurrent append reconciles into
    // the commit un-deleted — the delete "misses" the new matching row
    val snap1 = t.meta.currentSnapshot
    t.append(taxis.filter(col("vendor_id") === 1L)) // concurrent, matches pred
    t.commitReplace("main", Seq.empty, "delete", Map.empty, base = snap1,
      conflictPredicate = Some(pred))
    assert(t.toDF.count() === 1, "snapshot mode reconciles the concurrent append")
    // serializable: the same race aborts instead
    t.setProperties(Map("commit.isolation" -> "serializable"))
    val snap2 = t.meta.currentSnapshot
    t.append(taxis.filter(col("vendor_id") <= 2)) // concurrent, matches pred
    intercept[CommitConflictException] {
      t.commitReplace("main", Seq.empty, "delete", Map.empty, base = snap2,
        conflictPredicate = Some(pred))
    }
    // a NON-overlapping concurrent append still commits in serializable mode
    val snap3 = t.meta.currentSnapshot
    t.append(taxis.filter(col("vendor_id") === 5L)) // outside pred's bounds
    t.commitReplace("main", Seq.empty, "delete", Map.empty, base = snap3,
      conflictPredicate = Some(pred))
    assert(t.toDF.select("vendor_id").collect().map(_.getLong(0)).toSeq === Seq(5L))
    // uncontended row-level ops are unaffected by the property
    t.delete(col("vendor_id") === 5L)
    assert(t.toDF.count() === 0)
  }

  test("no-op ref DDL and identity transforms write no metadata version") {
    val cat = freshCatalog()
    val t = cat.createTable("nyc.noop", taxiSchema)
    t.append(taxis.limit(1))
    t.createBranch("b1")
    t.createTag("g1")
    val v0 = t.meta.version
    t.createBranch("b1", ifNotExists = true)
    t.createTag("g1", ifNotExists = true)
    t.dropBranch("missing", ifExists = true)
    t.dropTag("missing2", ifExists = true)
    // identity transform through commit() itself (rewrite_manifests is
    // commit(m => m) by design)
    t.rewriteManifests()
    assert(t.meta.version === v0,
      "no-op paths must not produce spurious metadata commits")
    // the flags never mask kind mismatches
    intercept[Exception](t.createTag("b1", ifNotExists = true))
    intercept[Exception](t.createBranch("g1", ifNotExists = true))
    intercept[Exception](t.dropBranch("g1", ifExists = true))
    intercept[Exception](t.dropTag("b1", ifExists = true))
    // plain drop of a missing ref still errors
    intercept[Exception](t.dropBranch("missing"))
    intercept[Exception](t.dropTag("missing"))
  }

  test("add_files: foreign parquet in place — stats pruning, widen, rename, basename guard, maintenance-safe (r11)") {
    import spark.implicits._
    // three foreign single-file dirs under one parent (recursive listing),
    // ORIGINAL column names, disjoint id ranges, v stored NARROW (INT)
    val parent = Files.createTempDirectory("graft-foreign").toString
    for (i <- 0 until 3)
      (i * 10 until (i + 1) * 10).map(x => (x.toLong, x)).toDF("id", "v")
        .coalesce(1).write.parquet(s"$parent/d$i")
    val cat = freshCatalog()
    val t = cat.createTable("db.imp", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))) // v widened
    t.addFiles(parent)
    // registered IN PLACE: the table references the source paths directly
    val files = t.meta.currentSnapshot.get.files
    assert(files.size === 3 && files.forall(_.path.contains(parent)),
      s"files must reference the source paths: ${files.map(_.path)}")
    assert(t.toDF.count() === 30)
    assert(t.toDF.agg(sum("v")).head.getLong(0) === (0 until 30).sum.toLong)
    // footer stats drive pruning exactly like native files
    val pruned = t.read(filter = Some(col("id") >= 20))
    assert(pruned.inputFiles.length === 1,
      s"id>=20 must prune to one foreign file: ${pruned.inputFiles.mkString(",")}")
    assert(pruned.count() === 10)
    // basenames are the mask key: re-importing the same files must refuse
    val e = intercept[Exception](t.addFiles(parent))
    assert(e.getMessage.contains("basename"))
    // later DDL stays metadata-only for foreign files too
    t.renameColumn("id", "key")
    assert(t.toDF.filter(col("key") === 25L).count() === 1)
    // maintenance never deletes foreign bytes (they live outside dataDir)
    t.removeOrphanFiles(olderThanMs = 0L)
    assert(t.toDF.count() === 30, "orphan sweep must not touch imported files")
    // the hard case: compaction rewrites the imports into table-owned
    // files (dropping the foreign REFERENCES), then expire retires the
    // snapshots that held them — the source directory must survive both
    t.rewriteDataFiles(targetSizeBytes = 512L * 1024 * 1024)
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.meta.currentSnapshot.get.files.forall(!_.path.contains(parent)),
      "compaction must have replaced the foreign references")
    for (i <- 0 until 3)
      assert(spark.read.parquet(s"$parent/d$i").count() === 10,
        "expire must never delete bytes outside the table directory")
    assert(t.toDF.count() === 30)
    // schema mismatch is an actionable error, not silent corruption
    val bad = Files.createTempDirectory("graft-foreign-bad").toString
    Seq((1L, "x")).toDF("id", "other").write.parquet(s"$bad/d0")
    val e2 = intercept[Exception](t.addFiles(bad))
    assert(e2.getMessage.contains("column"))
  }

  test("add_files: hive key=value layout into an identity-partitioned table — " +
      "path values, pruning, rename (r12)") {
    import spark.implicits._
    // the reference's taxi-corpus shape (spark/Dockerfile:81-95): one file
    // per month, the month only in the PATH, never in the bytes
    val root = Files.createTempDirectory("graft-hive").toString
    val src = (0 until 60).map(i => (i.toLong, s"row$i", 1 + i % 3))
      .toDF("id", "name", "month")
    for (m <- 1 to 3)
      src.filter(col("month") === m).drop("month")
        .coalesce(1).write.parquet(s"$root/month=$m")
    val cat = freshCatalog()
    val t = cat.createTable("db.himp", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("month", IntegerType))),
      partitionBy = Seq("month" -> "identity"))
    t.addFiles(root)
    val files = t.meta.currentSnapshot.get.files
    assert(files.size === 3 && files.forall(_.path.contains(root)),
      s"files must reference the source paths: ${files.map(_.path)}")
    // each imported file carries its identity partition tuple (the
    // hidden-partition key native files get from the write path)
    val pf = t.meta.spec.fields.head
    assert(files.map(_.partitionValues(pf.physicalName)).sorted === Seq("1", "2", "3"))
    // full read parity: month filled from the path, other columns from bytes
    assert(t.toDF.orderBy("id").collect().toSeq ===
      src.orderBy("id").collect().toSeq)
    // hidden-partition pruning reaches imported files
    val pruned = t.read(filter = Some(col("month") === 2))
    assert(pruned.inputFiles.length === 1,
      s"month=2 must prune to one imported file: ${pruned.inputFiles.mkString(",")}")
    assert(pruned.count() === src.filter(col("month") === 2).count())
    // stats pruning on a BYTES column composes with the path column
    val both = t.read(filter = Some(col("month") === 2 && col("id") > 1000))
    assert(both.count() === 0)
    // rename of the partition source column stays metadata-only: the
    // import group keeps parsing the ORIGINAL month= path segment
    t.renameColumn("month", "m")
    assert(t.toDF.filter(col("m") === 3).count() ===
      src.filter(col("month") === 3).count())
    // a layout missing the key refuses with the file named
    val flat = Files.createTempDirectory("graft-hive-flat").toString
    src.drop("month").coalesce(1).write.parquet(s"$flat/d0")
    val e = intercept[Exception](t.addFiles(flat))
    assert(e.getMessage.contains("path segment"), e.getMessage)
    // a partition column ALSO in the bytes refuses the ambiguity
    val dup = Files.createTempDirectory("graft-hive-dup").toString
    src.withColumnRenamed("month", "m").coalesce(1)
      .write.parquet(s"$dup/m=9")
    val e2 = intercept[Exception](t.addFiles(dup))
    assert(e2.getMessage.contains("also present"), e2.getMessage)
  }

  test("add_files: adversarial hive layouts — row fill comes from the " +
      "RECORDED tuple, conflicting duplicate keys refuse (r13)") {
    import spark.implicits._
    val cat = freshCatalog()
    def freshTable(n: String) = cat.createTable(s"db.$n", StructType(Seq(
      StructField("id", LongType), StructField("month", IntegerType))),
      partitionBy = Seq("month" -> "identity"))
    // the key segment appearing twice with the SAME value is harmless
    // (backup/copy trees do this); pruning and the row fill agree
    val same = Files.createTempDirectory("graft-hive-same").toString
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.parquet(s"$same/month=2/copy/month=2")
    val t1 = freshTable("hsame")
    t1.addFiles(same)
    val f1 = t1.meta.currentSnapshot.get.files.head
    assert(f1.partitionValues.values.toSeq === Seq("2"))
    assert(t1.toDF.select("month").distinct().collect().map(_.getInt(0)).toSeq === Seq(2))
    assert(t1.read(filter = Some(col("month") === 2)).count() === 2)
    // CONFLICTING values for one key have no unambiguous tuple: refuse
    // (the r12 first-match read vs last-wins import disagreement can no
    // longer arise — the layout that caused it never imports)
    val conflict = Files.createTempDirectory("graft-hive-conf").toString
    Seq(3L).toDF("id").coalesce(1)
      .write.parquet(s"$conflict/month=1/x/month=2")
    val t2 = freshTable("hconf")
    val e = intercept[Exception](t2.addFiles(conflict))
    assert(e.getMessage.contains("conflicting values"), e.getMessage)
    // a basename that LOOKS like a key=value segment is not a directory:
    // the recorded tuple and the row fill both come from the parent dirs
    val base = Files.createTempDirectory("graft-hive-base").toString
    Seq(4L, 5L).toDF("id").coalesce(1).write.parquet(s"$base/tmp-m")
    val dataFile = Files.list(Paths.get(base, "tmp-m")).iterator().asScala
      .map(_.toString).find(_.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(base, "month=1"))
    Files.move(Paths.get(dataFile), Paths.get(base, "month=1", "month=9.parquet"))
    val t3 = freshTable("hbase")
    t3.addFiles(s"$base/month=1")
    assert(t3.meta.currentSnapshot.get.files.head
      .partitionValues.values.toSeq === Seq("1"))
    assert(t3.toDF.select("month").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(1),
      "the row fill must use the recorded tuple, never the basename")
  }

  test("migrate: derive the table FROM the files — footer schema + hive " +
      "identity partitions, then register in place (r12)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-migrate").toString
    val src = (0 until 40).map(i => (i.toLong, s"n$i", 1 + i % 2))
      .toDF("id", "name", "month")
    for (m <- 1 to 2)
      src.filter(col("month") === m).drop("month")
        .coalesce(1).write.parquet(s"$root/month=$m")
    val cat = freshCatalog()
    val t = cat.migrate("db.mig", root)
    // schema IS spark.read.parquet's discovery: data columns from the
    // merged footers, the path column appended with its inferred type
    assert(t.toDF.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      spark.read.parquet(root).schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(t.meta.spec.fields.map(_.transform) === Seq("identity"))
    // files registered in place, read parity incl. path-derived values
    assert(t.meta.currentSnapshot.get.files.forall(_.path.contains(root)))
    assert(t.toDF.orderBy("id").collect().toSeq ===
      spark.read.parquet(root).select("id", "name", "month")
        .orderBy("id").collect().toSeq)
    // partition pruning reaches the migrated files
    assert(t.read(filter = Some(col("month") === 2)).inputFiles.length === 1)
    // a flat directory (no key=value segments) migrates unpartitioned
    val flat = Files.createTempDirectory("graft-migrate-flat").toString + "/d"
    src.coalesce(1).write.parquet(flat)
    val t2 = cat.migrate("db.migflat", flat)
    assert(t2.meta.spec.fields.isEmpty && t2.toDF.count() === 40)
    // an already-existing ident refuses (migrate never replaces)
    val e = intercept[Exception](cat.migrate("db.mig", root))
    assert(e.getMessage.contains("already exists"))
  }

  test("write.distribution-mode=range + write.sort-order: one append lands " +
      "files with DISJOINT bounds — range predicates prune from commit one (r13)") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("db.rng", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map(
        "write.distribution-mode" -> "range",
        "write.sort-order" -> "id"))
    // one shuffled batch (ids arrive in arbitrary partition order); AQE
    // would coalesce 40k toy rows into one post-shuffle partition, which
    // is correct engine behavior (fewer, still-disjoint files) but
    // defeats the multi-file premise this test needs
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try t.append(spark.range(0, 40000).select(
      col("id"), concat(lit("v"), col("id")).as("v"))
      .repartition(8, col("v")))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val files = t.meta.currentSnapshot.get.files
    assert(files.size >= 4, s"premise: several files, got ${files.size}")
    // range distribution ⇒ per-file id bounds are pairwise DISJOINT
    val bounds = files.map { f =>
      val st = f.stats("c1") // id's physical name
      (st.min.get.toLong, st.max.get.toLong)
    }.sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"file bounds must be disjoint: $bounds")
      case _ => ()
    }
    // so a range predicate prunes to a strict subset immediately
    val pruned = t.read(filter = Some(col("id") >= 35000L))
    assert(pruned.inputFiles.length < files.size,
      s"range pruning must engage: ${pruned.inputFiles.length}/${files.size}")
    assert(pruned.count() === 5000)
    // rename keeps the sort order attached (name-keyed property rewritten)
    t.renameColumn("id", "seq")
    t.append(spark.range(40000, 40100).select(
      col("id").as("seq"), concat(lit("v"), col("id")).as("v")))
    assert(t.meta.properties("write.sort-order") === "seq")
    assert(t.toDF.count() === 40100)
  }

  test("version retirement heals residue below a hole (r15): catch-up " +
      "walks PAST already-missing files, so the retained set returns to " +
      "{v1} ∪ one contiguous top range and a stale hint can't serve " +
      "stale metadata through the zero-listing fast path") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("db.vres", StructType(Seq(
      StructField("id", LongType))))
    for (i <- 1 to 20) t.append(Seq(i.toLong).toDF("id"))
    val metaDir = Paths.get(t.location, "metadata")
    def versions() = Files.list(metaDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("v\\d+\\.json")).toSeq
      .map(_.stripPrefix("v").stripSuffix(".json").toInt).sorted
    // simulate the r14 crash shape: a downward catch-up that died mid-walk
    // leaves a HOLE (v8..v12 deleted) with live residue v2..v7 below it
    for (v <- 8 to 12) Files.delete(metaDir.resolve(s"v$v.json"))
    t.updateProperties(_ ++ Map(
      "write.metadata.delete-after-commit.enabled" -> "true",
      "write.metadata.previous-versions-max" -> "5"))
    t.append(Seq(99L).toDF("id")) // triggers the catch-up
    val vs = versions()
    assert(vs.head === 1, "v1 always survives")
    // contiguity: exactly {1} ∪ one top range — the residue is gone
    assert(vs.tail === (vs.tail.head to vs.max).toSeq,
      s"retained set must be v1 + one contiguous top range: $vs")
    assert(vs.tail.head > 7, s"residue v2..v7 must be reclaimed: $vs")
    // a stale hint pointing into the former residue resolves to the head
    val hfs = new org.apache.hadoop.fs.Path(t.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val hout = hfs.create(new org.apache.hadoop.fs.Path(
      t.location, "metadata/version-hint.text"), true)
    hout.write("3".getBytes("UTF-8")); hout.close()
    LakeTable.invalidateLocation(t.location)
    assert(cat.loadTable("db.vres").toDF.count() === 21,
      "fresh handle with a residue-era hint must reach the true head")
  }

  test("bounded metadata for continuous ingest: version-file retention + " +
      "auto snapshot expiry keep both growth axes flat (r13)") {
    import spark.implicits._
    val cat = freshCatalog()
    // axis 1: version FILES (write.metadata.delete-after-commit.enabled)
    val t = cat.createTable("db.vret", StructType(Seq(
      StructField("id", LongType))), properties = Map(
      "write.metadata.delete-after-commit.enabled" -> "true",
      "write.metadata.previous-versions-max" -> "5"))
    for (i <- 1 to 25) t.append(Seq(i.toLong).toDF("id"))
    val metaDir = Paths.get(t.location, "metadata")
    def versions() = Files.list(metaDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("v\\d+\\.json")).toSeq
      .map(_.stripPrefix("v").stripSuffix(".json").toInt).sorted
    // v1 (the existence marker) + the last window survive; the backlog is gone
    val vs = versions()
    assert(vs.head === 1, "v1.json must always survive (tableExists keys on it)")
    assert(vs.tail.head > 5, s"old versions must be retired: $vs")
    assert(vs.size <= 8, s"version files must stay bounded: $vs")
    // snapshots are untouched by version retirement: full time travel
    assert(t.read(snapshotId = Some(t.meta.snapshots.head.snapshotId)).count() === 1)
    assert(cat.loadTable("db.vret").toDF.count() === 25)
    // a STALE hint below the retention hole must not strand a fresh reader
    // (written through the Hadoop fs so the checksum stays consistent)
    val hfs = new org.apache.hadoop.fs.Path(t.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val hout = hfs.create(new org.apache.hadoop.fs.Path(
      t.location, "metadata/version-hint.text"), true)
    hout.write("2".getBytes("UTF-8")); hout.close()
    LakeTable.invalidateLocation(t.location)
    assert(cat.loadTable("db.vret").toDF.count() === 25,
      "a fresh handle must recover the true latest version past the hole")

    // axis 2: the snapshot LIST (graft.maintenance.expire.keep-last)
    val s = cat.createTable("db.sret", StructType(Seq(
      StructField("id", LongType))), properties = Map(
      "graft.maintenance.expire.keep-last" -> "6",
      "graft.maintenance.every-commits" -> "1000")) // isolate expiry
    for (i <- 1 to 20) {
      s.append(Seq(i.toLong).toDF("id"))
      s.autoMaintain()
      // bound = keep-last + 25% slack (the slack amortizes the expiry
      // commit to once per slack commits instead of every commit)
      assert(s.meta.snapshots.count(!_.staged) <= 8,
        s"snapshot list must stay bounded at commit $i")
    }
    assert(s.toDF.count() === 20, "expiry must never lose data")
    // beyond-window time travel is GONE (the documented trade), inside works
    assert(s.read(snapshotId = s.meta.snapshots.map(_.snapshotId).minOption)
      .count() > 0)
  }

  test("add_files + migrate: multi-level hive layouts (k1=/k2=) — pruning " +
      "on both path columns, migrate derives both identity partitions (r13)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-hive2").toString
    val src = (0 until 120).map(i => (i.toLong, s"r$i", 2024 + i % 2, 1 + i % 3))
      .toDF("id", "name", "year", "month")
    for (y <- 2024 to 2025; m <- 1 to 3)
      src.filter(col("year") === y && col("month") === m).drop("year", "month")
        .coalesce(1).write.parquet(s"$root/year=$y/month=$m")
    val cat = freshCatalog()
    val t = cat.createTable("db.h2", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("year", IntegerType), StructField("month", IntegerType))),
      partitionBy = Seq("year" -> "identity", "month" -> "identity"))
    t.addFiles(root)
    val files = t.meta.currentSnapshot.get.files
    assert(files.size === 6)
    // every imported file's recorded tuple carries BOTH keys
    assert(files.forall(_.partitionValues.size == 2),
      files.map(_.partitionValues).mkString(","))
    // read parity: both columns filled from the path, the rest from bytes
    assert(t.toDF.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq)
    // pruning: each key prunes its own level, the conjunction hits ONE file
    assert(t.read(filter = Some(col("year") === 2024)).inputFiles.length === 3)
    assert(t.read(filter = Some(col("month") === 2)).inputFiles.length === 2)
    val one = t.read(filter = Some(col("year") === 2025 && col("month") === 3))
    assert(one.inputFiles.length === 1)
    assert(one.count() ===
      src.filter(col("year") === 2025 && col("month") === 3).count())
    // a layout carrying only the OUTER key refuses, naming the missing one
    val partial = Files.createTempDirectory("graft-hive2-partial").toString
    src.drop("year", "month").coalesce(1).write.parquet(s"$partial/year=2026")
    val e2 = intercept[Exception](t.addFiles(partial))
    assert(e2.getMessage.contains("month=<value>"), e2.getMessage)

    // migrate: BOTH path-only columns become identity partitions, schema
    // is exactly spark.read.parquet's discovery over the same directory
    val m2 = cat.migrate("db.h2mig", root)
    assert(m2.meta.spec.fields.map(_.transform) === Seq("identity", "identity"))
    assert(m2.toDF.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      spark.read.parquet(root).schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(m2.read(filter = Some(col("year") === 2024 && col("month") === 1))
      .inputFiles.length === 1)
    assert(m2.toDF.count() === 120)
  }
}
