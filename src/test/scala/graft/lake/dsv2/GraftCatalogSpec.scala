package graft.lake.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Notebook-parity SQL scenarios through the DSv2 catalog — the `%%sql`
  * surface the reference exercises in every notebook (SURVEY §3.1): DDL,
  * INSERT, DELETE, schema evolution, time travel (`VERSION AS OF` /
  * `TIMESTAMP AS OF` / branch-suffix identifiers), metadata tables, WAP,
  * and `CALL lake.system.*` procedures. The catalog is registered at
  * RUNTIME (spark.conf), proving the no-extensions fallback (V1Scan) path
  * works — no session rebuild needed. */
class GraftCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val wh = Files.createTempDirectory("graft-dsv2-wh").toString
    s.conf.set("spark.sql.catalog.lake", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.lake.warehouse", wh)
    // getOrCreate may return a shared session whose `lake` catalog was
    // already instantiated against another suite's warehouse — drop the
    // cache so the conf above takes effect for THIS suite's tables
    org.apache.spark.sql.graftbridge.CatalogBridge.resetCatalogs(s)
    s
  }

  def sql(q: String) = spark.sql(q)

  test("CREATE DATABASE / CREATE TABLE with transforms + TBLPROPERTIES (c5-c7)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.nyc")
    sql("""CREATE TABLE lake.nyc.taxis (
          |  vendor_id BIGINT, trip_id BIGINT, trip_distance FLOAT,
          |  fare_amount DOUBLE, store_and_fwd_flag STRING, pickup TIMESTAMP)
          |PARTITIONED BY (days(pickup))
          |TBLPROPERTIES ('write.wap.enabled'='true')""".stripMargin)
    assert(sql("SHOW TABLES IN lake.nyc").collect().map(_.getString(1)).contains("taxis"))
    val desc = sql("DESCRIBE TABLE EXTENDED lake.nyc.taxis").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("vendor_id") === "bigint")
    assert(desc.exists(_._2.contains("days(pickup)")) ||
      sql("DESCRIBE TABLE EXTENDED lake.nyc.taxis").collect()
        .exists(_.toString.contains("days(pickup)")))
  }

  test("INSERT INTO VALUES / SELECT, spark.table, SQL aggregation (c7/c9)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.t (id BIGINT, v DOUBLE, tag STRING)")
    sql("INSERT INTO lake.db.t VALUES (1, 10.5, 'a'), (2, 20.0, 'b'), (3, 30.0, 'a')")
    assert(sql("SELECT COUNT(*) FROM lake.db.t").head.getLong(0) === 3)
    assert(spark.table("lake.db.t").count() === 3)
    val agg = sql("SELECT tag, COUNT(*) AS n FROM lake.db.t GROUP BY tag ORDER BY tag")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(agg.toSeq === Seq(("a", 2L), ("b", 1L)))
    // INSERT INTO ... SELECT (D13) — including a self-read of the target
    sql("CREATE TABLE lake.db.t2 (id BIGINT, v DOUBLE, tag STRING)")
    sql("INSERT INTO lake.db.t2 SELECT * FROM lake.db.t WHERE v >= 20.0")
    assert(sql("SELECT COUNT(*) FROM lake.db.t2").head.getLong(0) === 2)
  }

  test("DELETE FROM: row-level and whole-table (c20/c21/c64)") {
    sql("CREATE TABLE lake.db.del (id BIGINT, grp STRING)")
    sql("INSERT INTO lake.db.del VALUES (1, 'x'), (2, 'x'), (3, 'y')")
    sql("DELETE FROM lake.db.del WHERE grp = 'x'")
    val left = sql("SELECT id FROM lake.db.del").collect().map(_.getLong(0))
    assert(left.toSeq === Seq(3L))
    sql("DELETE FROM lake.db.del WHERE grp LIKE 'y%'")
    assert(sql("SELECT COUNT(*) FROM lake.db.del").head.getLong(0) === 0)
    sql("INSERT INTO lake.db.del VALUES (7, 'z')")
    sql("DELETE FROM lake.db.del")
    assert(sql("SELECT COUNT(*) FROM lake.db.del").head.getLong(0) === 0)
  }

  test("DELETE FROM with non-Filter-translatable predicates (modulo, bare LIKE — WAP c64)") {
    // these shapes have no V1 source-Filter translation, so SupportsDelete
    // rejects them and a no-extensions session fails with "Cannot delete
    // from table" (asserted below, unchanged fallback); with extensions,
    // GraftDelete routes them through LakeTable.delete's full-expression
    // Column condition
    val sqlx = (q: String) => extSpark.sql(q)
    sqlx("CREATE TABLE lake.db.xdel (id BIGINT, log STRING)")
    sqlx("INSERT INTO lake.db.xdel VALUES (1, 'a'), (2, 'b'), (3, 'c'), (10, 'd'), (20, 'e')")
    sqlx("DELETE FROM lake.db.xdel WHERE id % 10 = 0")
    assert(sqlx("SELECT id FROM lake.db.xdel ORDER BY id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L))
    // the reference WAP notebook's exact spelling: DELETE … WHERE log LIKE '%'
    sqlx("DELETE FROM lake.db.xdel WHERE log LIKE '%'")
    assert(sqlx("SELECT COUNT(*) FROM lake.db.xdel").head.getLong(0) === 0)
    // arbitrary function predicates work too
    sqlx("INSERT INTO lake.db.xdel VALUES (5, 'keep'), (6, 'drop')")
    sqlx("DELETE FROM lake.db.xdel WHERE length(log) = 4 AND substring(log, 1, 1) = 'd'")
    assert(sqlx("SELECT log FROM lake.db.xdel").collect().map(_.getString(0)).toSeq
      === Seq("keep"))
    // the no-extensions session still rejects the untranslatable shape
    // loudly (V1 SupportsDelete contract) rather than deleting wrongly
    sql("INSERT INTO lake.db.xdel VALUES (30, 'f')")
    intercept[Exception](sql("DELETE FROM lake.db.xdel WHERE id % 10 = 0"))
    assert(sqlx("SELECT COUNT(*) FROM lake.db.xdel").head.getLong(0) === 2)
  }

  test("SQL DELETE on a partition-aligned predicate commits metadata-only (no rewrite)") {
    sql("""CREATE TABLE lake.db.mdel (id BIGINT, grp STRING)
          |PARTITIONED BY (identity(grp))""".stripMargin)
    // separate INSERTs → separate files per partition value
    sql("INSERT INTO lake.db.mdel VALUES (1, 'x'), (2, 'x')")
    sql("INSERT INTO lake.db.mdel VALUES (3, 'y'), (4, 'y')")
    val filesBefore = sql("SELECT file_path FROM lake.db.mdel.files").collect()
      .map(_.getString(0)).toSet
    sql("DELETE FROM lake.db.mdel WHERE grp = 'x'")
    val snap = sql(
      "SELECT summary FROM lake.db.mdel.snapshots ORDER BY snapshot_id DESC LIMIT 1")
      .head.getMap[String, String](0)
    assert(snap("metadata-only") === "true",
      s"partition-aligned SQL DELETE must drop whole files, got $snap")
    val filesAfter = sql("SELECT file_path FROM lake.db.mdel.files").collect()
      .map(_.getString(0)).toSet
    assert(filesAfter.subsetOf(filesBefore), "metadata-only DELETE must not write files")
    assert(sql("SELECT id FROM lake.db.mdel ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(3L, 4L))
  }

  test("ALTER TABLE: rename, widen, comment, add-after, reorder, properties (c11-c16)") {
    sql("CREATE TABLE lake.db.alt (id INT, fare_amount DOUBLE, trip_distance FLOAT)")
    sql("INSERT INTO lake.db.alt VALUES (1, 10.5, CAST(2.5 AS FLOAT))")
    sql("ALTER TABLE lake.db.alt RENAME COLUMN fare_amount TO fare")
    sql("ALTER TABLE lake.db.alt RENAME COLUMN trip_distance TO distance")
    sql("ALTER TABLE lake.db.alt ALTER COLUMN distance TYPE DOUBLE")
    sql("ALTER TABLE lake.db.alt ALTER COLUMN id TYPE BIGINT")
    sql("ALTER TABLE lake.db.alt ALTER COLUMN fare COMMENT 'money money'")
    sql("ALTER TABLE lake.db.alt ADD COLUMN fare_per_distance_unit FLOAT AFTER distance")
    val df = spark.table("lake.db.alt")
    assert(df.columns.toSeq === Seq("id", "fare", "distance", "fare_per_distance_unit"))
    assert(df.schema("distance").dataType.typeName === "double")
    val row = df.head
    assert(row.getLong(0) === 1L && row.getDouble(1) === 10.5 && row.getDouble(2) === 2.5)
    assert(row.isNullAt(3))
    sql("ALTER TABLE lake.db.alt ALTER COLUMN fare AFTER distance")
    assert(spark.table("lake.db.alt").columns.toSeq ===
      Seq("id", "distance", "fare", "fare_per_distance_unit"))
    sql("ALTER TABLE lake.db.alt SET TBLPROPERTIES ('k'='v')")
    assert(sql("SHOW TBLPROPERTIES lake.db.alt").collect()
      .exists(r => r.getString(0) == "k" && r.getString(1) == "v"))
  }

  test("time travel: VERSION AS OF snapshot id + TIMESTAMP AS OF (c30/c36)") {
    sql("CREATE TABLE lake.db.tt (id BIGINT)")
    sql("INSERT INTO lake.db.tt VALUES (1), (2)")
    val cat = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse"))
    val snap1 = cat.loadTable("db.tt").meta.currentSnapshot.get
    sql("INSERT INTO lake.db.tt VALUES (3)")
    assert(sql("SELECT COUNT(*) FROM lake.db.tt").head.getLong(0) === 3)
    assert(sql(s"SELECT COUNT(*) FROM lake.db.tt VERSION AS OF ${snap1.snapshotId}")
      .head.getLong(0) === 2)
    val ts = new java.sql.Timestamp(snap1.timestampMs).toInstant.toString
    assert(sql(s"SELECT COUNT(*) FROM lake.db.tt TIMESTAMP AS OF '$ts'")
      .head.getLong(0) === 2)
  }

  test("branches: VERSION AS OF branch name + branch-suffix identifier (WAP c27-c43)") {
    sql("CREATE TABLE lake.db.br (id BIGINT)")
    sql("INSERT INTO lake.db.br VALUES (1), (2), (3)")
    val cat = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse"))
    cat.loadTable("db.br").createBranch("etl_job_42")
    spark.conf.set("spark.wap.branch", "etl_job_42")
    try {
      sql("INSERT INTO lake.db.br VALUES (4), (5)")
      // branch reads see 5 (write went to the branch via session conf)
      assert(sql("SELECT COUNT(*) FROM lake.db.br VERSION AS OF 'etl_job_42'")
        .head.getLong(0) === 5)
      assert(sql("SELECT COUNT(*) FROM lake.db.br.branch_etl_job_42")
        .head.getLong(0) === 5)
    } finally spark.conf.unset("spark.wap.branch")
    // main unchanged (c29)
    assert(sql("SELECT COUNT(*) FROM lake.db.br").head.getLong(0) === 3)
  }

  test("metadata tables: snapshots/files/history/refs suffixes (c29-c33)") {
    sql("CREATE TABLE lake.db.md (id BIGINT)")
    sql("INSERT INTO lake.db.md VALUES (1)")
    sql("INSERT INTO lake.db.md VALUES (2)")
    assert(sql("SELECT COUNT(*) FROM lake.db.md.snapshots").head.getLong(0) === 2)
    assert(sql("SELECT snapshot_id FROM lake.db.md.snapshots ORDER BY committed_at DESC LIMIT 1")
      .count() === 1)
    assert(sql("SELECT COUNT(*) FROM lake.db.md.files").head.getLong(0) >= 1)
    assert(sql("SELECT * FROM lake.db.md.refs WHERE name = 'main'").count() === 1)
    assert(sql("SELECT COUNT(*) FROM lake.db.md.history").head.getLong(0) === 2)
  }

  test("CALL lake.system procedures: rollback + cherrypick + rewrite (c36/c37)") {
    sql("CREATE TABLE lake.db.proc (id BIGINT)")
    sql("INSERT INTO lake.db.proc VALUES (1), (2), (3)")
    val cat = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse"))
    val before = cat.loadTable("db.proc").meta.currentSnapshot.get.snapshotId
    sql("DELETE FROM lake.db.proc WHERE id > 1")
    assert(sql("SELECT COUNT(*) FROM lake.db.proc").head.getLong(0) === 1)
    sql(s"CALL lake.system.rollback_to_snapshot(table => 'db.proc', snapshot_id => $before)")
    assert(sql("SELECT COUNT(*) FROM lake.db.proc").head.getLong(0) === 3)
    // compaction: several small appends → one file (Table Maintenance c9)
    sql("INSERT INTO lake.db.proc VALUES (4)")
    sql("INSERT INTO lake.db.proc VALUES (5)")
    sql("CALL lake.system.rewrite_data_files(table => 'db.proc')")
    assert(cat.loadTable("db.proc").meta.currentSnapshot.get.files.size === 1)
    assert(sql("SELECT COUNT(*) FROM lake.db.proc").head.getLong(0) === 5)
  }

  test("CALL analyze_table: incremental refuses columns/exact_ndv (r17)") {
    sql("CREATE TABLE lake.db.anx (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.anx VALUES (1, 'a'), (2, 'b')")
    sql("CALL lake.system.analyze_table(table => 'db.anx')")
    // incremental alone: fine
    sql("INSERT INTO lake.db.anx VALUES (3, 'c')")
    sql("CALL lake.system.analyze_table(table => 'db.anx', incremental => true)")
    // incremental + columns / + exact_ndv: the args would be silently
    // ignored (the merge reuses the prior stamp's set and mode) — refuse
    val e1 = intercept[Exception](sql(
      "CALL lake.system.analyze_table(table => 'db.anx', columns => 'id', incremental => true)"))
    assert(e1.getMessage.contains("columns"), e1.getMessage)
    val e2 = intercept[Exception](sql(
      "CALL lake.system.analyze_table(table => 'db.anx', exact_ndv => true, incremental => true)"))
    assert(e2.getMessage.contains("exact_ndv"), e2.getMessage)
  }

  test("CALL fast_forward publishes a branch; tags readable via VERSION AS OF") {
    sql("CREATE TABLE lake.db.ff (id BIGINT)")
    sql("INSERT INTO lake.db.ff VALUES (1), (2)")
    val cat = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse"))
    val t = cat.loadTable("db.ff")
    t.createTag("audit-1")
    t.createBranch("work")
    spark.conf.set("spark.wap.branch", "work")
    try sql("INSERT INTO lake.db.ff VALUES (3)")
    finally spark.conf.unset("spark.wap.branch")
    assert(sql("SELECT COUNT(*) FROM lake.db.ff").head.getLong(0) === 2)
    sql("CALL lake.system.fast_forward(table => 'db.ff', branch => 'main', to => 'work')")
    assert(sql("SELECT COUNT(*) FROM lake.db.ff").head.getLong(0) === 3)
    // the tag still pins the pre-publish state
    assert(sql("SELECT COUNT(*) FROM lake.db.ff VERSION AS OF 'audit-1'").head.getLong(0) === 2)
  }

  test("WAP: staged write via wap.id invisible until cherrypick (Audits c16-c37)") {
    sql("""CREATE TABLE lake.db.wap (id BIGINT)
          |TBLPROPERTIES ('write.wap.enabled'='true')""".stripMargin)
    sql("INSERT INTO lake.db.wap VALUES (1), (2)")
    spark.conf.set("spark.wap.id", "job-42")
    try {
      sql("INSERT INTO lake.db.wap VALUES (3), (4)")
      // main does not see the staged snapshot
      assert(sql("SELECT COUNT(*) FROM lake.db.wap").head.getLong(0) === 2)
      // audit reads it via VERSION AS OF the wap id (Audits c27-c32)
      assert(sql("SELECT COUNT(*) FROM lake.db.wap VERSION AS OF 'job-42'")
        .head.getLong(0) === 4)
      val cat = new graft.lake.LakeCatalog(spark,
        spark.conf.get("spark.sql.catalog.lake.warehouse"))
      val staged = cat.loadTable("db.wap").meta.snapshots.find(_.staged).get
      sql(s"CALL lake.system.cherrypick_snapshot(table => 'db.wap', snapshot_id => ${staged.snapshotId})")
      assert(sql("SELECT COUNT(*) FROM lake.db.wap").head.getLong(0) === 4)
    } finally spark.conf.unset("spark.wap.id")
  }

  test("filter pushdown prunes files through the SQL read path") {
    sql("CREATE TABLE lake.db.push (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    sql("""INSERT INTO lake.db.push VALUES
          |(1, TIMESTAMP '2022-01-01 08:00:00'), (2, TIMESTAMP '2022-02-01 08:00:00')""".stripMargin)
    assert(sql("SELECT COUNT(*) FROM lake.db.push WHERE ts >= TIMESTAMP '2022-02-01 00:00:00'")
      .head.getLong(0) === 1)
    assert(sql("SELECT id FROM lake.db.push WHERE id = 2").head.getLong(0) === 2)
  }

  test("GraftReadRule substitutes the relation with the parquet read plan") {
    // sessions built with GraftExtensions get this rule at analysis time;
    // apply it manually here (this shared test session predates the conf)
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.rr (id BIGINT, v DOUBLE)")
    sql("INSERT INTO lake.db.rr VALUES (1, 1.5), (2, 2.5)")
    val analyzed = spark.table("lake.db.rr").queryExecution.analyzed
    assert(analyzed.toString.contains("RelationV2"), analyzed.toString)
    val rewritten = GraftReadRule(spark)(analyzed)
    assert(!rewritten.toString.contains("RelationV2"), rewritten.toString)
    val df = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, rewritten)
    assert(df.count() === 2)
    assert(df.agg(sum("v")).head.getDouble(0) === 4.0)
    // the substituted plan is a plain parquet scan → full native pushdown
    assert(df.queryExecution.executedPlan.toString.contains("FileScan parquet"))
  }

  /** A second session built WITH GraftExtensions (builder.create() forces a
    * fresh session on the shared context): reads go through GraftReadRule
    * and SQL MERGE INTO is translated to the distributed merge command. */
  lazy val extSpark: SparkSession = {
    spark // ensure the shared context exists first
    graft.ExtensionsSession.withCatalog("lake",
      spark.conf.get("spark.sql.catalog.lake.warehouse"))
  }

  test("extensions session: reads are substituted at analysis (no V1 boundary)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.ext (id BIGINT, v DOUBLE)")
    sql("INSERT INTO lake.db.ext VALUES (1, 1.0), (2, 2.0)")
    val df = extSpark.sql("SELECT SUM(v) AS s FROM lake.db.ext")
    assert(!df.queryExecution.analyzed.toString.contains("RelationV2"))
    assert(df.head.getDouble(0) === 3.0)
  }

  test("MERGE INTO: upsert (WHEN MATCHED UPDATE SET *, NOT MATCHED INSERT *)") {
    sql("CREATE TABLE lake.db.mu (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.mu VALUES (1, 'a'), (2, 'b')")
    extSpark.sql(
      """MERGE INTO lake.db.mu t
        |USING (SELECT * FROM VALUES (2, 'b2'), (3, 'c') AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = sql("SELECT id, v FROM lake.db.mu ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("MERGE INTO: changelog shape with conditional DELETE (IcebergStream.java:118)") {
    sql("CREATE TABLE lake.db.mc (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.mc VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    extSpark.sql(
      """MERGE INTO lake.db.mc t
        |USING (SELECT * FROM VALUES
        |  (2, 'b2', 'U'), (3, 'c', 'D'), (4, 'd', 'I'), (5, 'x', 'D')
        |  AS s(id, v, op)) s
        |ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET id = s.id, v = s.v
        |WHEN NOT MATCHED AND s.op != 'D' THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val out = sql("SELECT id, v FROM lake.db.mc ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // 1 untouched, 2 updated, 3 deleted, 4 inserted, 5 (unmatched D) skipped
    assert(out.toSeq === Seq((1L, "a"), (2L, "b2"), (4L, "d")))
  }

  test("MERGE INTO: NOT MATCHED BY SOURCE DELETE — full sync in one commit (r9)") {
    sql("CREATE TABLE lake.db.ms (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.ms VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    val v0 = extSpark.sql("SELECT COUNT(*) FROM lake.db.ms").head.getLong(0)
    assert(v0 === 4)
    extSpark.sql(
      """MERGE INTO lake.db.ms t
        |USING (SELECT * FROM VALUES (2, 'b2'), (5, 'e') AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val out = sql("SELECT id, v FROM lake.db.ms ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // target mirrors the source exactly: 1/3/4 dropped, 2 updated, 5 inserted
    assert(out.toSeq === Seq((2L, "b2"), (5L, "e")))
    // ONE commit did all of it (atomicity of the sync)
    val history = sql("SELECT * FROM lake.db.ms.history").count()
    assert(history === 2, "insert + merge = 2 commits on main; the sync is one")
  }

  test("MERGE INTO: NMBS DELETE with a target-column condition deletes only matching strata (r9)") {
    sql("CREATE TABLE lake.db.msc (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.msc VALUES (1, 'keep'), (2, 'sync'), (3, 'sync'), (4, 'keep')")
    extSpark.sql(
      """MERGE INTO lake.db.msc t
        |USING (SELECT * FROM VALUES (3, 'sync') AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.v = 'sync' THEN DELETE""".stripMargin)
    val out = sql("SELECT id, v FROM lake.db.msc ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // 2 ('sync', unmatched) deleted; 1/4 ('keep', unmatched) survive
    assert(out.toSeq === Seq((1L, "keep"), (3L, "sync"), (4L, "keep")))
  }

  test("MERGE INTO: NMBS DELETE removes NULL-keyed target rows (SQL semantics, r10)") {
    // a NULL merge key never equi-matches, so such target rows are
    // not-matched-by-source and MUST be deleted — the equality-key
    // machinery can't express that (null-rejecting anti-join), so they
    // route through mergeByKeys' nullKeyDelete condition
    sql("CREATE TABLE lake.db.msn (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.msn VALUES (1, 'a'), (NULL, 'orphan'), (3, 'c')")
    extSpark.sql(
      """MERGE INTO lake.db.msn t
        |USING (SELECT * FROM VALUES (1, 'a2') AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val out = sql("SELECT id, v FROM lake.db.msn ORDER BY id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
    // 3 (unmatched) AND the NULL-keyed row both deleted; 1 updated
    assert(out.toSeq === Seq((1L, "a2")))
  }

  test("MERGE INTO: NMBS null-key delete honors the target condition (r10)") {
    sql("CREATE TABLE lake.db.msnc (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.msnc VALUES (NULL, 'sync'), (NULL, 'keep'), (2, 'sync')")
    extSpark.sql(
      """MERGE INTO lake.db.msnc t
        |USING (SELECT * FROM VALUES (2, 'sync2') AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.v = 'sync' THEN DELETE""".stripMargin)
    val out = sql("SELECT v FROM lake.db.msnc ORDER BY v").collect()
      .map(_.getString(0))
    // NULL/'sync' deleted by the conditional clause; NULL/'keep' survives
    assert(out.toSeq === Seq("keep", "sync2"))
  }

  test("MERGE INTO: NMBS null-key delete on a merge-on-read table (positional mask, r10)") {
    sql("""CREATE TABLE lake.db.msnm (id BIGINT, v STRING)
          |TBLPROPERTIES ('write.merge.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.msnm VALUES (1, 'a'), (NULL, 'orphan'), (3, 'c')")
    extSpark.sql(
      """MERGE INTO lake.db.msnm t
        |USING (SELECT * FROM VALUES (1, 'a2') AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val out = sql("SELECT v FROM lake.db.msnm ORDER BY v").collect().map(_.getString(0))
    assert(out.toSeq === Seq("a2"))
    // the null-keyed row died via a POSITIONAL delete file (equality
    // masks can't hold null keys); data files were not rewritten
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.msnm")
    val snap = lt.meta.currentSnapshot.get
    assert(snap.deleteFiles.nonEmpty, "null-key NMBS delete must ride a positional mask")
    assert(snap.eqDeleteFiles.nonEmpty, "keyed deletes still ride the equality mask")
  }

  test("MERGE INTO: NMBS UPDATE stays untranslated (Spark rejects, table intact)") {
    sql("CREATE TABLE lake.db.msu (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.msu VALUES (1, 'a')")
    intercept[Exception] {
      extSpark.sql(
        """MERGE INTO lake.db.msu t
          |USING (SELECT * FROM VALUES (2, 'b') AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'""".stripMargin)
    }
    assert(sql("SELECT v FROM lake.db.msu").head.getString(0) === "a")
  }

  test("CHECK constraints: DDL, write-time enforcement on SQL and Scala routes (r9)") {
    sql("CREATE TABLE lake.db.chk (id BIGINT, v DOUBLE)")
    sql("INSERT INTO lake.db.chk VALUES (1, 1.0), (2, NULL)")
    // adding a constraint VALIDATES existing data first — a violating row
    // rejects the DDL (NULL passes, ANSI CHECK semantics)
    sql("ALTER TABLE lake.db.chk ADD CONSTRAINT v_pos CHECK (v > 0)")
    intercept[Exception] {
      sql("ALTER TABLE lake.db.chk ADD CONSTRAINT id_big CHECK (id > 100)")
    }
    // SQL write route: Spark's CheckInvariant enforcement from
    // Table.constraints() — violating INSERT fails, nothing committed
    val e = intercept[Exception] {
      sql("INSERT INTO lake.db.chk VALUES (3, -5.0)")
    }
    assert(e.getMessage.contains("v_pos") || e.getMessage.contains("CHECK"),
      s"violation must name the constraint: ${e.getMessage}")
    assert(sql("SELECT COUNT(*) FROM lake.db.chk").head.getLong(0) === 2,
      "failed INSERT must commit nothing")
    // valid and NULL rows pass
    sql("INSERT INTO lake.db.chk VALUES (3, 3.0), (4, NULL)")
    assert(sql("SELECT COUNT(*) FROM lake.db.chk").head.getLong(0) === 4)
    // Scala write route: same properties enforced by LakeTable.append
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.chk")
    import spark.implicits._
    val e2 = intercept[Exception] {
      lt.append(Seq((5L, -1.0)).toDF("id", "v"))
    }
    assert(e2.getMessage.contains("v_pos") ||
      Option(e2.getCause).exists(_.getMessage.contains("v_pos")),
      s"Scala-route violation must name the constraint: ${e2.getMessage}")
    lt.append(Seq((5L, 5.0)).toDF("id", "v"))
    assert(sql("SELECT COUNT(*) FROM lake.db.chk").head.getLong(0) === 5)
    // UPDATE routes (CoW and MoR) enforce too — an assignment cannot
    // smuggle in a violating value
    val e3 = intercept[Exception] {
      extSpark.sql("UPDATE lake.db.chk SET v = -9.0 WHERE id = 1")
    }
    assert(e3.getMessage.contains("v_pos") ||
      Option(e3.getCause).exists(_.getMessage.contains("v_pos")))
    assert(sql("SELECT v FROM lake.db.chk WHERE id = 1").head.getDouble(0) === 1.0,
      "failed UPDATE must leave the row untouched")
    lt.setProperties(Map("write.update.mode" -> "merge-on-read"))
    val e4 = intercept[Exception] {
      lt.update(Map("v" -> org.apache.spark.sql.functions.lit(-3.0)),
        Some(org.apache.spark.sql.functions.col("id") === 3))
    }
    assert(e4.getMessage.contains("v_pos") ||
      Option(e4.getCause).exists(_.getMessage.contains("v_pos")))
    lt.unsetProperties(Seq("write.update.mode"))
    extSpark.sql("UPDATE lake.db.chk SET v = 9.0 WHERE id = 1")
    assert(sql("SELECT v FROM lake.db.chk WHERE id = 1").head.getDouble(0) === 9.0)
    // DROP CONSTRAINT restores writability for previously-violating rows
    sql("ALTER TABLE lake.db.chk DROP CONSTRAINT v_pos")
    sql("INSERT INTO lake.db.chk VALUES (6, -1.0)")
    assert(sql("SELECT COUNT(*) FROM lake.db.chk").head.getLong(0) === 6)
    intercept[Exception] { sql("ALTER TABLE lake.db.chk DROP CONSTRAINT nope") }
    sql("ALTER TABLE lake.db.chk DROP CONSTRAINT IF EXISTS nope")
  }

  test("column DEFAULT values: metadata-only backfill, frozen exists-default (r9)") {
    // CREATE TABLE with a declared default: INSERT without the column
    sql("CREATE TABLE lake.db.dflt (id BIGINT, status STRING DEFAULT 'new')")
    sql("INSERT INTO lake.db.dflt (id) VALUES (1)")
    sql("INSERT INTO lake.db.dflt VALUES (2, 'open')")
    val r0 = sql("SELECT id, status FROM lake.db.dflt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(r0.toSeq === Seq((1L, "new"), (2L, "open")))

    // ADD COLUMN with DEFAULT: pre-existing rows read the default with
    // ZERO file rewrites (the metadata-only backfill)
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.dflt")
    val filesBefore = lt.meta.currentSnapshot.get.files.map(_.path).toSet
    sql("ALTER TABLE lake.db.dflt ADD COLUMN score BIGINT DEFAULT 100")
    assert(lt.meta.currentSnapshot.get.files.map(_.path).toSet === filesBefore,
      "ADD COLUMN DEFAULT must not rewrite any data file")
    val r1 = sql("SELECT id, score FROM lake.db.dflt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(r1.toSeq === Seq((1L, 100L), (2L, 100L)), "old rows read the frozen default")

    // SET DEFAULT changes NEW writes only; rows that pre-date the column
    // keep the FROZEN exists-default (Spark/Delta semantics)
    sql("ALTER TABLE lake.db.dflt ALTER COLUMN score SET DEFAULT 7")
    sql("INSERT INTO lake.db.dflt (id) VALUES (3)")
    val r2 = sql("SELECT id, score, status FROM lake.db.dflt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(r2.toSeq === Seq((1L, 100L, "new"), (2L, 100L, "open"), (3L, 7L, "new")))

    // DROP DEFAULT: new rows go back to NULL; everything frozen stays
    sql("ALTER TABLE lake.db.dflt ALTER COLUMN score DROP DEFAULT")
    sql("INSERT INTO lake.db.dflt (id) VALUES (4)")
    val r3 = sql("SELECT id, score FROM lake.db.dflt WHERE id = 4").collect()
    assert(r3.head.isNullAt(1))
    assert(sql("SELECT score FROM lake.db.dflt WHERE id = 1").head.getLong(0) === 100L)

    // Scala append path: absent column fills the CURRENT default
    import spark.implicits._
    sql("ALTER TABLE lake.db.dflt ALTER COLUMN score SET DEFAULT 55")
    lt.append(Seq((5L)).toDF("id"))
    val r4 = sql("SELECT score, status FROM lake.db.dflt WHERE id = 5").head
    assert(r4.getLong(0) === 55L && r4.getString(1) === "new")
  }

  test("generated columns: computed on write, supplied values must agree (r9)") {
    sql("""CREATE TABLE lake.db.gen (
      |  id BIGINT, v DOUBLE,
      |  doubled BIGINT GENERATED ALWAYS AS (id * 2))""".stripMargin)
    // omitted → computed
    sql("INSERT INTO lake.db.gen (id, v) VALUES (1, 1.0), (2, 2.0)")
    val r0 = sql("SELECT id, doubled FROM lake.db.gen ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(r0.toSeq === Seq((1L, 2L), (2L, 4L)))
    // supplied and consistent → accepted
    sql("INSERT INTO lake.db.gen VALUES (3, 3.0, 6)")
    assert(sql("SELECT doubled FROM lake.db.gen WHERE id = 3").head.getLong(0) === 6L)
    // supplied and INCONSISTENT → rejected, nothing committed
    val e = intercept[Exception] { sql("INSERT INTO lake.db.gen VALUES (4, 4.0, 9)") }
    assert(e.getMessage.contains("generated column") ||
      Option(e.getCause).exists(_.getMessage.contains("generated column")),
      s"violation must name the generated column: ${e.getMessage}")
    assert(sql("SELECT COUNT(*) FROM lake.db.gen").head.getLong(0) === 3)
    // Scala append without the column → computed
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.gen")
    import spark.implicits._
    lt.append(Seq((5L, 5.0)).toDF("id", "v"))
    assert(sql("SELECT doubled FROM lake.db.gen WHERE id = 5").head.getLong(0) === 10L)
    // UPDATE of a DEPENDENCY recomputes the generated column (Delta
    // semantics) — on BOTH write modes
    extSpark.sql("UPDATE lake.db.gen SET id = 50 WHERE id = 5")
    assert(sql("SELECT doubled FROM lake.db.gen WHERE id = 50").head.getLong(0) === 100L)
    lt.setProperties(Map("write.update.mode" -> "merge-on-read"))
    lt.update(Map("id" -> org.apache.spark.sql.functions.lit(60L)),
      Some(org.apache.spark.sql.functions.col("id") === 50L))
    assert(sql("SELECT doubled FROM lake.db.gen WHERE id = 60").head.getLong(0) === 120L)
    lt.unsetProperties(Seq("write.update.mode"))
    // explicit inconsistent assignment to the generated column still fails
    intercept[Exception] {
      lt.update(Map("doubled" -> org.apache.spark.sql.functions.lit(7L)),
        Some(org.apache.spark.sql.functions.col("id") === 60L))
    }
    assert(sql("SELECT doubled FROM lake.db.gen WHERE id = 60").head.getLong(0) === 120L)
  }

  test("CHECK constraints referencing generated/default columns resolve and enforce (r10)") {
    sql("""CREATE TABLE lake.db.chkgen (
      |  id BIGINT,
      |  doubled BIGINT GENERATED ALWAYS AS (id * 2),
      |  status STRING DEFAULT 'new')""".stripMargin)
    sql("INSERT INTO lake.db.chkgen (id) VALUES (1), (2)")
    sql("ALTER TABLE lake.db.chkgen ADD CONSTRAINT d_pos CHECK (doubled >= 0)")
    sql("ALTER TABLE lake.db.chkgen ADD CONSTRAINT s_known CHECK (status IN ('new', 'old'))")
    // UPDATE drops unassigned generated columns for recompute — the CHECK
    // referencing `doubled` must resolve against the RECOMPUTED value
    // (CheckInvariant placement after generation), not abort the UPDATE
    extSpark.sql("UPDATE lake.db.chkgen SET id = 5 WHERE id = 1")
    val rows0 = sql("SELECT id, doubled, status FROM lake.db.chkgen ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows0.toSeq === Seq((2L, 4L, "new"), (5L, 10L, "new")))
    // ... and ENFORCE: an UPDATE driving the generated value negative fails
    intercept[Exception] { extSpark.sql("UPDATE lake.db.chkgen SET id = -3 WHERE id = 2") }
    assert(sql("SELECT COUNT(*) FROM lake.db.chkgen WHERE id = 2").head.getLong(0) === 1)
    // merge-on-read UPDATE path: same resolution, same enforcement
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.chkgen")
    lt.setProperties(Map("write.update.mode" -> "merge-on-read"))
    lt.update(Map("id" -> lit(7L)), Some(col("id") === 5L))
    assert(sql("SELECT doubled FROM lake.db.chkgen WHERE id = 7").head.getLong(0) === 14L)
    intercept[Exception] { lt.update(Map("id" -> lit(-9L)), Some(col("id") === 7L)) }
    lt.unsetProperties(Seq("write.update.mode"))
    // Scala append that OMITS the default-filled column: the CHECK on
    // `status` must resolve against the materialized default and pass
    import spark.implicits._
    lt.append(Seq(9L).toDF("id"))
    assert(sql("SELECT status FROM lake.db.chkgen WHERE id = 9").head.getString(0) === "new")
    // a default that VIOLATES a constraint is caught at write time
    sql("ALTER TABLE lake.db.chkgen ALTER COLUMN status SET DEFAULT 'bogus'")
    intercept[Exception] { lt.append(Seq(11L).toDF("id")) }
    assert(sql("SELECT COUNT(*) FROM lake.db.chkgen").head.getLong(0) === 3)
  }

  test("CALL auto_maintain and export_scan: the SQL surface of ingest maintenance and second-engine export (r10)") {
    sql("""CREATE TABLE lake.db.amt (id BIGINT, v STRING)
          |TBLPROPERTIES ('write.merge.mode'='merge-on-read')""".stripMargin)
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.amt")
    import spark.implicits._
    for (b <- 0 until 4) {
      val df = ((b * 5) until (b * 5 + 10)).map(k => (k.toLong, s"v$b")).toDF("id", "v")
      lt.mergeByKeys("id", df.select("id"), df)
    }
    assert(lt.meta.currentSnapshot.get.eqDeleteFiles.size === 3)
    sql("CALL lake.system.auto_maintain(table => 'db.amt', max_eq_delete_files => 2)")
    assert(lt.meta.currentSnapshot.get.eqDeleteFiles.isEmpty,
      "CALL must trigger the equality-mask conversion")
    // export_scan writes the standalone DuckDB view DDL to a file
    val out = java.nio.file.Files.createTempDirectory("graft-proc-export")
      .resolve("amt.sql").toString
    sql(s"CALL lake.system.export_scan(table => 'db.amt', output => '$out')")
    val ddl = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), "UTF-8")
    assert(ddl.startsWith("CREATE OR REPLACE VIEW \"db_amt\" AS"), ddl.take(80))
    assert(ddl.contains("read_parquet"), "DDL must scan the exported parquet")
    val live = lt.meta.currentSnapshot.get.files.map(_.path)
    assert(live.forall(ddl.contains), "every live data file appears in the DDL")
  }

  test("identity columns are restricted to BIGINT at DDL time (r10)") {
    // INT identity would silently wrap monotonically_increasing_id's
    // 2^33-per-partition jumps — refuse at CREATE, like Delta
    val e = intercept[Exception] {
      sql("""CREATE TABLE lake.db.identint (
        |  id INT GENERATED ALWAYS AS IDENTITY,
        |  v STRING)""".stripMargin)
    }
    assert(e.getMessage.contains("BIGINT"),
      s"refusal must name the required type: ${e.getMessage}")
    assert(!new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).tableExists("db.identint"))
  }

  test("binpack where-clause parser handles quoted values with ',' and '=' (r10)") {
    import graft.lake.LakeTable.parsePartitionWhere
    assert(parsePartitionWhere("region=EU") === Map("region" -> "EU"))
    assert(parsePartitionWhere("a=1, b = x y ") === Map("a" -> "1", "b" -> "x y"))
    assert(parsePartitionWhere("region='EU,west'") === Map("region" -> "EU,west"))
    assert(parsePartitionWhere("k='a=b', j='it''s'") ===
      Map("k" -> "a=b", "j" -> "it's"))
    assert(parsePartitionWhere("") === Map.empty[String, String])
    intercept[IllegalArgumentException] { parsePartitionWhere("region='EU") }
    intercept[IllegalArgumentException] { parsePartitionWhere("novalue") }
    // end-to-end: a quoted where through CALL scopes the compaction
    sql("""CREATE TABLE lake.db.bpq (id BIGINT, reg STRING)
          |PARTITIONED BY (reg)""".stripMargin)
    sql("INSERT INTO lake.db.bpq VALUES (1, 'EU,west'), (2, 'EU,west')")
    sql("INSERT INTO lake.db.bpq VALUES (3, 'EU,west'), (4, 'apac')")
    sql("INSERT INTO lake.db.bpq VALUES (5, 'apac')")
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.bpq")
    val before = lt.meta.currentSnapshot.get.files
      .filter(_.partitionValues.values.toSeq.contains("apac")).map(_.path).toSet
    sql("CALL lake.system.binpack(table => 'db.bpq', where => 'reg=''EU,west''')")
    val after = lt.meta.currentSnapshot.get
    assert(after.summary.contains("binpack-rewritten-files"),
      "quoted where must reach the partition filter and compact EU,west")
    assert(after.files.filter(_.partitionValues.values.toSeq.contains("apac"))
      .map(_.path).toSet === before, "apac partition must be untouched")
  }

  test("MATERIALIZED VIEW SQL: create, read-as-view, refresh at churn cost, drop (r9)") {
    sql("CREATE TABLE lake.db.mvbase (g STRING, v BIGINT)")
    sql("INSERT INTO lake.db.mvbase VALUES ('a', 1), ('a', 2), ('b', 10)")
    extSpark.sql(
      """CREATE MATERIALIZED VIEW lake.db.rev AS
        |SELECT g, sum(v) AS total, count(v) AS cnt, avg(v) AS mean
        |FROM lake.db.mvbase GROUP BY g""".stripMargin)
    def viewRows(s: SparkSession) =
      s.sql("SELECT g, total, cnt, mean FROM lake.db.rev ORDER BY g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // reads present the FINALIZED view (not raw merge state), on BOTH the
    // extensions (plan-substituted) and plain (V1Scan) read paths
    assert(viewRows(extSpark) === Seq(("a", 3L, 2L, 1.5), ("b", 10L, 1L, 10.0)))
    assert(viewRows(spark) === Seq(("a", 3L, 2L, 1.5), ("b", 10L, 1L, 10.0)))
    // base churn + REFRESH: incremental, equals recompute
    sql("INSERT INTO lake.db.mvbase VALUES ('b', 5), ('c', 7)")
    extSpark.sql("REFRESH MATERIALIZED VIEW lake.db.rev")
    assert(viewRows(spark) ===
      Seq(("a", 3L, 2L, 1.5), ("b", 15L, 2L, 7.5), ("c", 7L, 1L, 7.0)))
    // the view refuses direct writes and DML
    intercept[Exception] { sql("INSERT INTO lake.db.rev VALUES ('x', 1, 1, 1.0)") }
    // bad shapes are parse errors, not silent misbuilds ('*' only for COUNT)
    intercept[Exception] { extSpark.sql(
      "CREATE MATERIALIZED VIEW lake.db.bad AS SELECT g, sum(*) AS n FROM lake.db.mvbase GROUP BY g") }
    intercept[Exception] { extSpark.sql(
      "CREATE MATERIALIZED VIEW lake.db.bad AS SELECT g, h, sum(v) AS t FROM lake.db.mvbase GROUP BY g") }
    // 2-part identifiers resolve against the session's current catalog
    extSpark.sql("USE lake")
    try {
      extSpark.sql(
        """CREATE MATERIALIZED VIEW db.rev2 AS
          |SELECT g, sum(v) AS total FROM db.mvbase GROUP BY g""".stripMargin)
      extSpark.sql("REFRESH MATERIALIZED VIEW db.rev2")
      assert(extSpark.sql("SELECT COUNT(*) FROM lake.db.rev2").head.getLong(0) === 3L)
      extSpark.sql("DROP MATERIALIZED VIEW db.rev2")
    } finally extSpark.sql("USE spark_catalog")
    // DROP refuses a plain table; IF EXISTS tolerates a missing view
    intercept[Exception] { extSpark.sql("DROP MATERIALIZED VIEW lake.db.mvbase") }
    extSpark.sql("DROP MATERIALIZED VIEW IF EXISTS lake.db.nope")
    extSpark.sql("DROP MATERIALIZED VIEW lake.db.rev")
    assert(!new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).tableExists("db.rev"))
  }

  test("MATERIALIZED VIEW SQL: star-schema JOIN + COUNT(*) — DDL parity with the Scala DimJoin path (r10)") {
    sql("CREATE TABLE lake.db.sfact (ok BIGINT, ck BIGINT, price BIGINT)")
    sql("CREATE TABLE lake.db.sdim (ck2 BIGINT, seg STRING)")
    sql("INSERT INTO lake.db.sdim VALUES (1, 'gold'), (2, 'iron')")
    sql("INSERT INTO lake.db.sfact VALUES (10, 1, 100), (11, 1, 50), (12, 2, 7), (13, 3, 999)")
    // dimension-enriched MV straight from DDL: group by a DIM attribute,
    // COUNT(*) + sum over the fact — ck=3 has no dim row and drops (inner)
    extSpark.sql(
      """CREATE MATERIALIZED VIEW lake.db.smv AS
        |SELECT d.seg, COUNT(*) AS n, sum(f.price) AS revenue
        |FROM lake.db.sfact f JOIN lake.db.sdim d ON f.ck = d.ck2
        |GROUP BY d.seg""".stripMargin)
    def rows() = sql("SELECT seg, n, revenue FROM lake.db.smv ORDER BY seg")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows() === Seq(("gold", 2L, 150L), ("iron", 1L, 7L)))
    // churn + refresh: incremental result equals recompute
    sql("INSERT INTO lake.db.sfact VALUES (14, 2, 3), (15, 1, 1)")
    extSpark.sql("DELETE FROM lake.db.sfact WHERE ok = 10")
    extSpark.sql("REFRESH MATERIALIZED VIEW lake.db.smv")
    assert(rows() === Seq(("gold", 2L, 51L), ("iron", 2L, 10L)))
    // it IS the Scala star path: the state table records the DimJoin spec,
    // and a dimension change is refused until rebuild (delta unsoundness)
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse"))
    assert(lt.loadTable("db.smv").meta.properties.contains("graft.ivm.dims"))
    sql("INSERT INTO lake.db.sdim VALUES (3, 'clay')")
    sql("INSERT INTO lake.db.sfact VALUES (16, 3, 20)")
    val e = intercept[Exception] {
      extSpark.sql("REFRESH MATERIALIZED VIEW lake.db.smv")
    }
    assert(e.getMessage.contains("rebuild"),
      s"dim-change refusal must point at rebuild: ${e.getMessage}")
    // rebuild via Scala API picks up the new dimension contents
    graft.lake.MaterializedAgg.load(lt, "db.smv").rebuild()
    assert(rows() === Seq(("clay", 2L, 1019L), ("gold", 2L, 51L), ("iron", 2L, 10L)))
    // unsupported join kinds are PARSE ERRORS, not silent inner joins
    // (RIGHT must not be consumed as the fact alias)
    intercept[Exception] { extSpark.sql(
      """CREATE MATERIALIZED VIEW lake.db.smvbad AS
        |SELECT d.seg, COUNT(*) AS n
        |FROM lake.db.sfact RIGHT JOIN lake.db.sdim d ON sfact.ck = d.ck2
        |GROUP BY d.seg""".stripMargin) }
    assert(!new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).tableExists("db.smvbad"))
    // LEFT JOIN spelling parses and keeps unmatched facts
    extSpark.sql(
      """CREATE MATERIALIZED VIEW lake.db.smvl AS
        |SELECT d.seg, COUNT(*) AS n
        |FROM lake.db.sfact AS f LEFT JOIN lake.db.sdim AS d ON f.ck = d.ck2
        |GROUP BY d.seg""".stripMargin)
    val total = sql("SELECT SUM(n) FROM lake.db.smvl").head.getLong(0)
    assert(total === sql("SELECT COUNT(*) FROM lake.db.sfact").head.getLong(0),
      "LEFT-join MV must keep unmatched facts under the NULL dim group")
    extSpark.sql("DROP MATERIALIZED VIEW lake.db.smvl")
    extSpark.sql("DROP MATERIALIZED VIEW lake.db.smv")
  }

  test("identity columns: unique system-assigned values, concurrent allocation guarded (r9)") {
    sql("""CREATE TABLE lake.db.ident (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 2),
      |  v STRING)""".stripMargin)
    // single-partition inserts get dense values from the start point
    sql("INSERT INTO lake.db.ident (v) VALUES ('a'), ('b'), ('c')")
    val r0 = sql("SELECT id, v FROM lake.db.ident ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(r0.toSeq === Seq((100L, "a"), (102L, "b"), (104L, "c")))
    // next batch continues ABOVE the high-water (gaps allowed, overlap never)
    sql("INSERT INTO lake.db.ident (v) VALUES ('d')")
    val ids0 = sql("SELECT id FROM lake.db.ident").collect().map(_.getLong(0))
    assert(ids0.distinct.length === 4, "identity values must be unique")
    assert(ids0.max >= 106L)
    // ALWAYS refuses explicit non-null values
    val e = intercept[Exception] { sql("INSERT INTO lake.db.ident VALUES (999, 'x')") }
    assert(e.getMessage.contains("GENERATED ALWAYS") ||
      Option(e.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")))
    // concurrent Scala appends: withConflictRetry + the allocation guard
    // mean every id is issued exactly once
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.ident")
    import spark.implicits._
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        graft.lake.LakeTable.withConflictRetry(attempts = 20) {
          lt.append(Seq(s"t$i-1", s"t$i-2").toDF("v").coalesce(1)); ()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val ids1 = sql("SELECT id FROM lake.db.ident").collect().map(_.getLong(0))
    assert(ids1.length === 12 && ids1.distinct.length === 12,
      s"concurrent appends must never double-issue identity values: ${ids1.sorted.toSeq}")
    // step honored everywhere: all values share the start's parity
    assert(ids1.forall(v => (v - 100L) % 2 == 0))
  }

  test("CALL lake.system.binpack compacts small files via SQL (r9)") {
    sql("CREATE TABLE lake.db.bp (id BIGINT, v DOUBLE)")
    (0 until 4).foreach(i =>
      sql(s"INSERT INTO lake.db.bp VALUES ($i, $i.0)"))
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.bp")
    assert(lt.meta.currentSnapshot.get.files.size === 4)
    sql("CALL lake.system.binpack(table => 'db.bp', sort_by => 'id')")
    val after = lt.meta.currentSnapshot.get.files
    assert(after.size === 1, s"4 small files must pack into 1: $after")
    assert(sql("SELECT id FROM lake.db.bp ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === (0L until 4L))
  }

  test("COUNT(*) answers from snapshot metadata, not a file scan") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.cnt (id BIGINT)")
    sql("INSERT INTO lake.db.cnt VALUES (1), (2), (3)")
    val df = extSpark.sql("SELECT COUNT(*) AS n FROM lake.db.cnt")
    assert(df.head.getLong(0) === 3)
    assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
      s"metadata count must not scan data files:\n${df.queryExecution.executedPlan}")
    // filtered count scans normally and stays correct
    val f = extSpark.sql("SELECT COUNT(*) AS n FROM lake.db.cnt WHERE id > 1")
    assert(f.head.getLong(0) === 2)
    assert(f.queryExecution.executedPlan.toString.contains("FileScan"), "filtered count scans")
    // null-sensitive COUNT(col) answers from footer null counts (r14):
    // pre-ADD files contribute zero (rows read null), the new file's
    // exact nullCount vouches for itself
    sql("ALTER TABLE lake.db.cnt ADD COLUMN v DOUBLE")
    sql("INSERT INTO lake.db.cnt VALUES (4, 1.0)")
    val cv = extSpark.sql("SELECT COUNT(v) AS n FROM lake.db.cnt")
    assert(cv.head.getLong(0) === 1)
    assert(!cv.queryExecution.executedPlan.toString.contains("FileScan"),
      s"COUNT(col) must answer from metadata:\n${cv.queryExecution.executedPlan}")
    // DML moves the metadata count
    sql("DELETE FROM lake.db.cnt WHERE id = 1")
    assert(extSpark.sql("SELECT COUNT(*) AS n FROM lake.db.cnt").head.getLong(0) === 3)
    // time travel resolves the pinned snapshot's count
    val firstSnap = sql(
      "SELECT snapshot_id FROM lake.db.cnt.snapshots ORDER BY committed_at LIMIT 1")
      .head.getLong(0)
    val tt = extSpark.sql(s"SELECT COUNT(*) AS n FROM lake.db.cnt VERSION AS OF $firstSnap")
    assert(tt.head.getLong(0) === 3)
    assert(!tt.queryExecution.executedPlan.toString.contains("FileScan"))
  }

  test("MIN/MAX of integer-domain columns answer from file stats") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.mm (id BIGINT, ts TIMESTAMP, v DOUBLE, w BIGINT)")
    sql("""INSERT INTO lake.db.mm VALUES
          |(5, TIMESTAMP '2022-01-01 08:00:00', 1.5, NULL),
          |(9, TIMESTAMP '2022-03-01 08:00:00', 2.5, NULL)""".stripMargin)
    sql("INSERT INTO lake.db.mm VALUES (2, TIMESTAMP '2022-02-01 08:00:00', 9.9, NULL)")
    val df = extSpark.sql(
      """SELECT MIN(id) AS lo, MAX(id) AS hi, COUNT(*) AS n,
        |MAX(ts) AS mts, MIN(w) AS nullmin FROM lake.db.mm""".stripMargin)
    val row = df.head
    assert(row.getLong(0) === 2L && row.getLong(1) === 9L && row.getLong(2) === 3L)
    assert(row.getTimestamp(3).toString.startsWith("2022-03-01"))
    assert(row.isNullAt(4), "all-null column: MIN is null, still metadata-answered")
    assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
      s"integer-domain MIN/MAX must not scan:\n${df.queryExecution.executedPlan}")
    // double column: stats are pruning-safe but not value-exact → scans
    val d = extSpark.sql("SELECT MAX(v) AS m FROM lake.db.mm")
    assert(d.head.getDouble(0) === 9.9)
    assert(d.queryExecution.executedPlan.toString.contains("FileScan"))
    // filtered MIN scans and stays correct
    val f = extSpark.sql("SELECT MIN(id) AS m FROM lake.db.mm WHERE id > 3")
    assert(f.head.getLong(0) === 5L)
    assert(f.queryExecution.executedPlan.toString.contains("FileScan"))
  }

  test("parser extension passes every stock statement through untouched") {
    // the delegating parser fronts ALL SQL in extensions sessions — only
    // the exact Iceberg DDL shapes may be intercepted
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE IF NOT EXISTS lake.db.pp (id BIGINT, v DOUBLE)")
    val stock = Seq(
      "SELECT 1 + 1",
      "SELECT * FROM VALUES (1), (2) t(a) WHERE a > 1",
      "INSERT INTO lake.db.pp VALUES (1, 1.5)",
      "ALTER TABLE lake.db.pp ADD COLUMN w DOUBLE",
      "SELECT COUNT(*) FROM lake.db.pp",
      // branch-DDL text inside a literal must NOT be intercepted
      "SELECT 'ALTER TABLE x CREATE BRANCH y' AS s",
      "WITH c AS (SELECT 1 AS x) SELECT x FROM c")
    stock.foreach(q => extSpark.sql(q).collect())
    assert(extSpark.sql("SELECT 'ALTER TABLE x CREATE BRANCH y' AS s")
      .head.getString(0).contains("CREATE BRANCH"))
  }

  test("ADD/DROP PARTITION FIELD evolves the spec for future writes (c27, D8)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.pev (id BIGINT, ts TIMESTAMP)")
    sql("INSERT INTO lake.db.pev VALUES (1, TIMESTAMP '2022-01-01 08:00:00')")
    extSpark.sql("ALTER TABLE lake.db.pev ADD PARTITION FIELD days(ts)")
    sql("""INSERT INTO lake.db.pev VALUES
          |(2, TIMESTAMP '2022-02-01 08:00:00'), (3, TIMESTAMP '2022-03-01 08:00:00')""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("lake").asInstanceOf[GraftCatalog]
    val m = cat.lake.loadTable("db.pev").meta
    assert(m.partitionSpecs.size === 2, "evolution adds a new spec")
    // file written before the evolution keeps the old (empty) spec id
    val specIds = m.currentSnapshot.get.files.map(_.specId).toSet
    assert(specIds.size === 2, s"old + new spec files coexist: $specIds")
    // reads still see everything; pruning works across mixed specs
    assert(sql("SELECT COUNT(*) FROM lake.db.pev").head.getLong(0) === 3)
    assert(sql(
      "SELECT id FROM lake.db.pev WHERE ts >= TIMESTAMP '2022-02-15 00:00:00'")
      .head.getLong(0) === 3)
    // bucket transform + drop both spellings
    extSpark.sql("ALTER TABLE lake.db.pev ADD PARTITION FIELD bucket(4, id)")
    extSpark.sql("ALTER TABLE lake.db.pev DROP PARTITION FIELD days(ts)")
    val specs = cat.lake.loadTable("db.pev").meta
    val cur = specs.partitionSpecs.find(_.specId == specs.defaultSpecId).get
    assert(cur.fields.map(_.transform) === Seq("bucket[4]"))
  }

  test("CTAS / writeTo / saveAsTable write spellings (S11)") {
    import spark.implicits._
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.src2 (id BIGINT, v DOUBLE)")
    sql("INSERT INTO lake.db.src2 VALUES (1, 1.0), (2, 2.0)")
    // CREATE TABLE AS SELECT
    sql("CREATE TABLE lake.db.ctas AS SELECT id, v * 2 AS v2 FROM lake.db.src2")
    assert(sql("SELECT SUM(v2) FROM lake.db.ctas").head.getDouble(0) === 6.0)
    // DataFrameWriterV2 append (Berlin Buzzwords c9 df.writeTo(t).append())
    Seq((3L, 3.0)).toDF("id", "v2").writeTo("lake.db.ctas").append()
    assert(sql("SELECT COUNT(*) FROM lake.db.ctas").head.getLong(0) === 3)
    // v1 writer (Getting Started c7 df.write.saveAsTable)
    Seq((4L, 4.0)).toDF("id", "v2").write.mode("append").saveAsTable("lake.db.ctas")
    assert(sql("SELECT COUNT(*) FROM lake.db.ctas").head.getLong(0) === 4)
    // DataFrameWriterV2 create
    Seq((1L, "a")).toDF("k", "s").writeTo("lake.db.created").create()
    assert(spark.table("lake.db.created").count() === 1)
  }

  test("Iceberg branch DDL spellings parse and run (ALTER TABLE … CREATE/DROP BRANCH/TAG)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.bddl (id BIGINT)")
    sql("INSERT INTO lake.db.bddl VALUES (1), (2)")
    val firstSnap = sql("SELECT snapshot_id FROM lake.db.bddl.snapshots").head.getLong(0)
    sql("INSERT INTO lake.db.bddl VALUES (3)")
    // the WAP notebook's exact spelling (c16) — extensions-session parser
    extSpark.sql("ALTER TABLE lake.db.bddl CREATE BRANCH etl_job_42")
    assert(sql("SELECT COUNT(*) FROM lake.db.bddl.branch_etl_job_42").head.getLong(0) === 3)
    // branch pinned at an older snapshot
    extSpark.sql(s"ALTER TABLE lake.db.bddl CREATE BRANCH old_b AS OF VERSION $firstSnap")
    assert(sql("SELECT COUNT(*) FROM lake.db.bddl.branch_old_b").head.getLong(0) === 2)
    // tags + drops (c60/c71 shapes)
    extSpark.sql("ALTER TABLE lake.db.bddl CREATE TAG v1")
    assert(sql("SELECT COUNT(*) FROM lake.db.bddl VERSION AS OF 'v1'").head.getLong(0) === 3)
    extSpark.sql("ALTER TABLE lake.db.bddl DROP BRANCH etl_job_42")
    extSpark.sql("ALTER TABLE lake.db.bddl DROP BRANCH old_b")
    extSpark.sql("ALTER TABLE lake.db.bddl DROP TAG v1")
    val refs = sql("SELECT name FROM lake.db.bddl.refs").collect().map(_.getString(0))
    assert(refs.toSeq === Seq("main"))
    // every other statement still parses through the stock grammar
    assert(extSpark.sql("SELECT 1 + 1").head.getInt(0) === 2)
    intercept[Exception](extSpark.sql("ALTER TABLE lake.db.bddl DROP BRANCH main"))
  }

  test("CALL build_ivf_index: named offline index build writes aux table + centroids") {
    import spark.implicits._
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftCatalog]
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    val vecs = (0L until 40L).map(i =>
      (i, Array(math.sin(i * 1.7).toFloat, math.cos(i * 0.3).toFloat,
        (i % 7).toFloat / 7f, 1f)))
    val t = cat.lake.createTable("db.emb", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
    t.append(vecs.toDF("vec_id", "embedding"))
    sql("CALL lake.system.build_ivf_index('db.emb', 'embedding', 'vec_id', 4, 2)")
    // assignment table: one row per vector, list ids within [0, nlist)
    val idx = sql("SELECT vec_id, list_id FROM lake.db.emb_ivf_index").collect()
    assert(idx.length === 40)
    assert(idx.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 4))
    assert(idx.map(_.getLong(0)).toSet === (0L until 40L).toSet)
    // centroids persisted on the source table
    val props = cat.lake.loadTable("db.emb").meta.properties
    assert(props("ivf.nlist") === "4")
    assert(props("ivf.vector-col") === "embedding")
    assert(props("ivf.centroids").startsWith("[["))
    // rebuild replaces the aux table (idempotent maintenance op)
    sql("CALL lake.system.build_ivf_index('db.emb', 'embedding', 'vec_id', 4, 1)")
    assert(sql("SELECT COUNT(*) FROM lake.db.emb_ivf_index").head.getLong(0) === 40)
  }

  test("CALL build_pq_index: compressed codes aux table + codebooks in properties") {
    import spark.implicits._
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftCatalog]
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d).toFloat)))
    val t = cat.lake.createTable("db.pqe", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
    t.append(vecs.toDF("vec_id", "embedding"))
    sql("CALL lake.system.build_pq_index(table => 'db.pqe', dim => 8, m => 4, k => 8, iters => 2)")
    val idx = sql("SELECT vec_id, norm, codes FROM lake.db.pqe_pq_index").collect()
    assert(idx.length === 40)
    idx.foreach { r =>
      val codes = r.getSeq[Byte](2)
      assert(codes.length === 4)
      assert(codes.forall(c => c >= 0 && c < 8))
      assert(r.getFloat(1) > 0f)
    }
    val props = cat.lake.loadTable("db.pqe").meta.properties
    assert(props("pq.m") === "4" && props("pq.k") === "8" && props("pq.sub-dim") === "2")
    assert(props("pq.codebooks").startsWith("[[["))
  }

  test("CREATE OR REPLACE TABLE AS SELECT is one atomic commit (schema + content)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.rtas (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.rtas VALUES (1, 'old'), (2, 'old')")
    // replace with a DIFFERENT schema and new content in one statement
    sql("""CREATE OR REPLACE TABLE lake.db.rtas AS
          |SELECT CAST(10 AS BIGINT) AS n, CAST(1.5 AS DOUBLE) AS score""".stripMargin)
    val rows = sql("SELECT n, score FROM lake.db.rtas").collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 10L && rows.head.getDouble(1) === 1.5)
    // the replacement is ONE snapshot; the old content is still in history
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftCatalog]
    val t = cat.lake.loadTable("db.rtas")
    val m = t.meta
    assert(m.currentSnapshot.exists(_.operation == "replace-table"))
    val preReplace = m.snapshots.filter(_.operation == "append").map(_.snapshotId).max
    // time travel across the replace reads the OLD schema's content
    val old = t.read(snapshotId = Some(preReplace)).collect()
    assert(old.length === 2)
    // RTAS over a NONEXISTENT table also works (create path)
    sql("CREATE OR REPLACE TABLE lake.db.rtas2 AS SELECT 1 AS a")
    assert(sql("SELECT a FROM lake.db.rtas2").head.getInt(0) === 1)
  }

  test("failed RTAS leaves the old table fully intact") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.rtas_f (id BIGINT)")
    sql("INSERT INTO lake.db.rtas_f VALUES (1), (2), (3)")
    // the SELECT fails mid-write → abortStagedChanges; old content intact
    intercept[Exception] {
      sql("""CREATE OR REPLACE TABLE lake.db.rtas_f AS
            |SELECT CAST(raise_error('boom') AS STRING) AS x FROM range(5)""".stripMargin)
    }
    assert(sql("SELECT COUNT(*) FROM lake.db.rtas_f").head.getLong(0) === 3)
    assert(spark.table("lake.db.rtas_f").schema.fieldNames.toSeq === Seq("id"))
  }

  test("catalog views: CREATE VIEW / query / SHOW / RENAME / DROP persist in the warehouse") {
    // views need the extensions session: stock Spark has no SQL wiring
    // for v2 ViewCatalog (GraftViewRule scaladoc)
    def esql(q: String) = extSpark.sql(q)
    esql("CREATE DATABASE IF NOT EXISTS lake.db")
    esql("CREATE TABLE lake.db.vbase (id BIGINT, grp STRING, v DOUBLE)")
    esql("""INSERT INTO lake.db.vbase VALUES
          |(1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0)""".stripMargin)
    esql("""CREATE VIEW lake.db.grp_totals AS
          |SELECT grp, SUM(v) AS total FROM lake.db.vbase GROUP BY grp""".stripMargin)
    val rows = esql("SELECT grp, total FROM lake.db.grp_totals ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq === Seq(("a", 3.0), ("b", 3.0)))
    // views see NEW base data (re-resolved at read, not materialized)
    esql("INSERT INTO lake.db.vbase VALUES (4, 'b', 4.0)")
    assert(esql("SELECT total FROM lake.db.grp_totals WHERE grp = 'b'")
      .head.getDouble(0) === 7.0)
    // listed, renamed, replaced, dropped
    assert(esql("SHOW VIEWS IN lake.db").collect()
      .exists(_.getString(1) == "grp_totals"))
    esql("ALTER VIEW lake.db.grp_totals RENAME TO lake.db.totals2")
    assert(esql("SELECT COUNT(*) FROM lake.db.totals2").head.getLong(0) === 2)
    esql("""CREATE OR REPLACE VIEW lake.db.totals2 AS
          |SELECT grp FROM lake.db.vbase GROUP BY grp""".stripMargin)
    assert(extSpark.sql("SELECT * FROM lake.db.totals2").schema.fieldNames.toSeq === Seq("grp"))
    esql("DROP VIEW lake.db.totals2")
    intercept[Exception](esql("SELECT * FROM lake.db.totals2").collect())
    // the USE-catalog convention: 2-part names resolve against the
    // current graft catalog
    esql("USE lake")
    try {
      esql("CREATE VIEW db.v2part AS SELECT COUNT(*) AS n FROM lake.db.vbase")
      assert(esql("SELECT n FROM db.v2part").head.getLong(0) === 4)
      assert(esql("SHOW VIEWS IN db").collect().exists(_.getString(1) == "v2part"))
      esql("DROP VIEW db.v2part")
      // IF EXISTS on a missing view must succeed silently, not hit the
      // stock "catalog does not support views" rejection
      esql("DROP VIEW IF EXISTS db.nonexistent")
      intercept[Exception](esql("DROP VIEW db.nonexistent"))
    } finally esql("USE spark_catalog")
  }

  test("""path-based access: spark.read.format("graft").load(location)""") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.bypath (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.bypath VALUES (1, 'a'), (2, 'b')")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftCatalog]
    val loc = cat.lake.loadTable("db.bypath").location
    val snap1 = cat.lake.loadTable("db.bypath").meta.currentSnapshot.get.snapshotId
    // read by path
    val df = spark.read.format("graft").load(loc)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // write by path = one lake commit, visible to the catalog
    spark.range(3, 5).selectExpr("id", "CAST(id AS STRING) AS v")
      .write.format("graft").mode("append").save(loc)
    assert(sql("SELECT COUNT(*) FROM lake.db.bypath").head.getLong(0) === 4)
    // time travel via the Iceberg-convention read option
    assert(spark.read.format("graft").option("snapshot-id", snap1)
      .load(loc).count() === 2)
  }

  test("MERGE matched-ness scan is bounds-pruned to stats-overlapping files") {
    sql("CREATE TABLE lake.db.mp (id BIGINT, v STRING)")
    // three appends → three data files with disjoint id ranges
    sql("INSERT INTO lake.db.mp VALUES (1, 'a'), (2, 'b')")
    sql("INSERT INTO lake.db.mp VALUES (100, 'c'), (101, 'd')")
    sql("INSERT INTO lake.db.mp VALUES (200, 'e'), (201, 'f')")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftCatalog]
    val lt = cat.lake.loadTable("db.mp")
    val totalFiles = lt.toDF.inputFiles.length
    assert(totalFiles >= 3, s"need a multi-file table, got $totalFiles files")
    // a source touching only the middle id range must scan only the files
    // of the middle append (one third of the table), not all of them
    val pruned = GraftMerge.matchedKeyScan(lt, "id", 100L, 101L)
    assert(pruned.inputFiles.length <= totalFiles / 3,
      s"expected only the middle append's files, scanned ${pruned.inputFiles.length} of $totalFiles")
    // end-to-end: the narrow MERGE behaves identically after pruning
    extSpark.sql(
      """MERGE INTO lake.db.mp t
        |USING (SELECT * FROM VALUES (100, 'c2'), (150, 'new') AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = sql("SELECT id, v FROM lake.db.mp ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a"), (2L, "b"), (100L, "c2"), (101L, "d"),
      (150L, "new"), (200L, "e"), (201L, "f")))
  }

  test("WAP with branches, SQL only: create_branch → branch write → audit → fast_forward → drop (WAP c16-c71)") {
    sql("CREATE TABLE lake.db.permits (id BIGINT, borough STRING)")
    sql("INSERT INTO lake.db.permits VALUES (1, 'Manhattan'), (2, 'Brooklyn')")
    sql("CALL lake.system.create_branch('db.permits', 'etl_job_42')")
    // session conf routes writes and reads to the branch (c19/c21)
    spark.conf.set("spark.wap.branch", "etl_job_42")
    try {
      sql("INSERT INTO lake.db.permits VALUES (3, 'Queens')")
      assert(sql("SELECT COUNT(*) FROM lake.db.permits").head.getLong(0) === 3,
        "branch session sees the staged write")
    } finally spark.conf.unset("spark.wap.branch")
    assert(sql("SELECT COUNT(*) FROM lake.db.permits").head.getLong(0) === 2,
      "main must not see the unpublished branch write")
    // audit via the branch-suffix identifier (c27)
    assert(sql("SELECT COUNT(*) FROM lake.db.permits.branch_etl_job_42").head.getLong(0) === 3)
    // publish (c52-style fast-forward) and clean up the branch (c71)
    sql("CALL lake.system.fast_forward('db.permits', 'main', 'etl_job_42')")
    assert(sql("SELECT COUNT(*) FROM lake.db.permits").head.getLong(0) === 3)
    sql("CALL lake.system.drop_branch('db.permits', 'etl_job_42')")
    val refs = sql("SELECT name FROM lake.db.permits.refs").collect().map(_.getString(0))
    assert(refs.toSeq === Seq("main"))
    // tags: create, read via VERSION AS OF, drop
    sql("CALL lake.system.create_tag('db.permits', 'audit_ok')")
    assert(sql("SELECT COUNT(*) FROM lake.db.permits VERSION AS OF 'audit_ok'")
      .head.getLong(0) === 3)
    sql("CALL lake.system.drop_tag('db.permits', 'audit_ok')")
    assert(sql("SELECT COUNT(*) FROM lake.db.permits.refs").count() === 1)
  }

  test("UPDATE … SET: reference spelling (Getting Started c18) + conditional WHERE") {
    sql("""CREATE TABLE lake.db.upd
          |(vendor_id BIGINT, fare DOUBLE, distance DOUBLE, fare_per_distance_unit DOUBLE)""".stripMargin)
    sql("""INSERT INTO lake.db.upd VALUES
          |(1, 10.0, 2.0, NULL), (2, 20.0, 4.0, NULL), (3, 30.0, 0.0, NULL)""".stripMargin)
    // the reference's exact statement shape: unconditioned whole-column SET.
    // The notebook ran Spark 3 (ANSI off), where /0 yields NULL; mirror that
    // for the scenario's null-row follow-up (c23 deletes WHERE IS NULL)
    extSpark.conf.set("spark.sql.ansi.enabled", "false")
    try extSpark.sql("UPDATE lake.db.upd SET fare_per_distance_unit = fare/distance")
    finally extSpark.conf.set("spark.sql.ansi.enabled", "true")
    val out = sql(
      "SELECT vendor_id, fare_per_distance_unit FROM lake.db.upd ORDER BY vendor_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // Spark's non-ANSI divide yields NULL on /0 — exactly the null rows the
    // reference then deletes with IS NULL (Getting Started c23)
    assert(out(0) === ((1L, Some(5.0))))
    assert(out(1) === ((2L, Some(5.0))))
    assert(out(2) === ((3L, None)))
    // conditional UPDATE … WHERE touches only matching rows
    extSpark.sql("UPDATE lake.db.upd SET fare = fare * 2 WHERE vendor_id = 1")
    val fares = sql("SELECT vendor_id, fare FROM lake.db.upd ORDER BY vendor_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fares.toSeq === Seq((1L, 20.0), (2L, 20.0), (3L, 30.0)))
    // the update committed as a CoW overwrite snapshot, not a full rewrite
    val ops = sql("SELECT operation FROM lake.db.upd.snapshots ORDER BY committed_at")
      .collect().map(_.getString(0))
    assert(ops.count(_ == "overwrite") === 2)
  }

  test("DROP TABLE / TRUNCATE-style overwrite (c6, D3)") {
    sql("CREATE TABLE lake.db.drop1 (id BIGINT)")
    sql("INSERT INTO lake.db.drop1 VALUES (1)")
    val snapsBefore = sql("SELECT COUNT(*) FROM lake.db.drop1.snapshots").head.getLong(0)
    sql("INSERT OVERWRITE lake.db.drop1 VALUES (9), (10)")
    assert(sql("SELECT COUNT(*) FROM lake.db.drop1.snapshots").head.getLong(0)
      === snapsBefore + 1,
      "INSERT OVERWRITE must be ONE atomic commit — no empty intermediate snapshot")
    assert(sql(
      "SELECT operation FROM lake.db.drop1.snapshots ORDER BY committed_at DESC LIMIT 1")
      .head.getString(0) === "overwrite")
    assert(sql("SELECT COUNT(*) FROM lake.db.drop1").head.getLong(0) === 2)
    sql("DROP TABLE lake.db.drop1")
    assert(!sql("SHOW TABLES IN lake.db").collect().map(_.getString(1)).contains("drop1"))
  }

  test("branch/tag DDL: IF [NOT] EXISTS idempotent, illegal combos rejected (WAP c16/c60/c71)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.ine (id BIGINT)")
    sql("INSERT INTO lake.db.ine VALUES (1), (2)")
    val cat = spark.sessionState.catalogManager.catalog("lake").asInstanceOf[GraftCatalog]
    // CREATE … IF NOT EXISTS twice: idempotent AND no spurious commit
    extSpark.sql("ALTER TABLE lake.db.ine CREATE BRANCH IF NOT EXISTS dev")
    val vAfterFirst = cat.lake.loadTable("db.ine").meta.version
    extSpark.sql("ALTER TABLE lake.db.ine CREATE BRANCH IF NOT EXISTS dev")
    assert(cat.lake.loadTable("db.ine").meta.version === vAfterFirst,
      "second IF NOT EXISTS must not write a metadata version")
    extSpark.sql("ALTER TABLE lake.db.ine CREATE TAG IF NOT EXISTS v1")
    extSpark.sql("ALTER TABLE lake.db.ine CREATE TAG IF NOT EXISTS v1")
    assert(sql("SELECT name FROM lake.db.ine.refs").collect().map(_.getString(0)).toSet
      === Set("main", "dev", "v1"))
    // the flag never masks a name taken by the OTHER ref kind
    intercept[Exception](extSpark.sql("ALTER TABLE lake.db.ine CREATE TAG IF NOT EXISTS dev"))
    intercept[Exception](extSpark.sql("ALTER TABLE lake.db.ine CREATE BRANCH IF NOT EXISTS v1"))
    // DROP … IF EXISTS of a missing ref no-ops; plain drop still errors
    extSpark.sql("ALTER TABLE lake.db.ine DROP BRANCH IF EXISTS nope")
    extSpark.sql("ALTER TABLE lake.db.ine DROP TAG IF EXISTS nope")
    intercept[Exception](extSpark.sql("ALTER TABLE lake.db.ine DROP BRANCH nope"))
    intercept[Exception](extSpark.sql("ALTER TABLE lake.db.ine DROP TAG nope"))
    // mismatched modifiers and DROP … AS OF VERSION are grammar violations
    // → ParseException (the type ParserInterface callers handle), not a
    // bare IllegalArgumentException out of parsePlan
    import org.apache.spark.sql.catalyst.parser.ParseException
    intercept[ParseException](extSpark.sql("ALTER TABLE lake.db.ine CREATE BRANCH IF EXISTS x"))
    intercept[ParseException](extSpark.sql("ALTER TABLE lake.db.ine CREATE TAG IF EXISTS x"))
    intercept[ParseException](extSpark.sql("ALTER TABLE lake.db.ine DROP BRANCH IF NOT EXISTS dev"))
    intercept[ParseException](extSpark.sql("ALTER TABLE lake.db.ine DROP TAG IF NOT EXISTS v1"))
    intercept[ParseException](extSpark.sql("ALTER TABLE lake.db.ine DROP BRANCH dev AS OF VERSION 1"))
    // real drops (with and without the flag) still work
    extSpark.sql("ALTER TABLE lake.db.ine DROP BRANCH IF EXISTS dev")
    extSpark.sql("ALTER TABLE lake.db.ine DROP TAG v1")
    assert(sql("SELECT name FROM lake.db.ine.refs").collect().map(_.getString(0)).toSeq
      === Seq("main"))
  }

  test("WAP: INSERT OVERWRITE stages under wap.id; cherrypick publishes (Audits c13-c37)") {
    sql("""CREATE TABLE lake.db.wow (id BIGINT)
          |TBLPROPERTIES ('write.wap.enabled'='true')""".stripMargin)
    sql("INSERT INTO lake.db.wow VALUES (1), (2), (3)")
    spark.conf.set("spark.wap.id", "ow-1")
    try {
      sql("INSERT OVERWRITE lake.db.wow VALUES (7), (8)")
      // the overwrite is staged: plain reads keep the audit gate intact
      assert(sql("SELECT COUNT(*) FROM lake.db.wow").head.getLong(0) === 3,
        "INSERT OVERWRITE under WAP must not publish immediately")
      // the audit resolves it via VERSION AS OF the wap id
      assert(sql("SELECT COUNT(*) FROM lake.db.wow VERSION AS OF 'ow-1'")
        .head.getLong(0) === 2)
      val cat = spark.sessionState.catalogManager.catalog("lake").asInstanceOf[GraftCatalog]
      val staged = cat.lake.loadTable("db.wow").meta.snapshots.find(_.staged).get
      sql(s"CALL lake.system.cherrypick_snapshot(table => 'db.wow', snapshot_id => ${staged.snapshotId})")
      // published overwrite REPLACES the content (not an append)
      assert(sql("SELECT id FROM lake.db.wow ORDER BY id").collect().map(_.getLong(0)).toSeq
        === Seq(7L, 8L))
    } finally spark.conf.unset("spark.wap.id")
  }

  test("DELETE/UPDATE/MERGE on a branch-suffixed table hit the BRANCH, never main") {
    sql("CREATE TABLE lake.db.brdml (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.brdml VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("CALL lake.system.create_branch('db.brdml', 'work')")
    // DELETE routed by the branch suffix
    sql("DELETE FROM lake.db.brdml.branch_work WHERE id = 1")
    assert(sql("SELECT COUNT(*) AS n FROM lake.db.brdml").head.getLong(0) === 3,
      "main must be untouched by a branch DELETE")
    assert(sql("SELECT COUNT(*) AS n FROM lake.db.brdml.branch_work").head.getLong(0) === 2)
    // UPDATE routed by the branch suffix (UPDATE/MERGE translate via the
    // extensions rule, so they run on extSpark; the catalog + warehouse
    // are shared, so both sessions see the same table state)
    extSpark.sql("UPDATE lake.db.brdml.branch_work SET v = 'x' WHERE id = 2")
    assert(sql("SELECT v FROM lake.db.brdml WHERE id = 2").head.getString(0) === "b",
      "main must be untouched by a branch UPDATE")
    assert(sql("SELECT v FROM lake.db.brdml.branch_work WHERE id = 2").head.getString(0) === "x")
    // MERGE: matched-ness must come from the BRANCH state (id=1 was
    // branch-deleted, so it is NOT MATCHED there and re-inserts; id=3
    // matches and updates)
    extSpark.sql("""MERGE INTO lake.db.brdml.branch_work t
          |USING (SELECT * FROM VALUES (1, 'back'), (3, 'upd') AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET id = s.id, v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(sql("SELECT v FROM lake.db.brdml.branch_work ORDER BY id").collect()
      .map(_.getString(0)).toSeq === Seq("back", "x", "upd"))
    assert(sql("SELECT v FROM lake.db.brdml ORDER BY id").collect()
      .map(_.getString(0)).toSeq === Seq("a", "b", "c"),
      "main must be untouched by a branch MERGE")
  }

  test("metadata tables and time-travel pins reject DML") {
    sql("CREATE TABLE lake.db.rodml (id BIGINT, v STRING)")
    sql("INSERT INTO lake.db.rodml VALUES (1, 'a')")
    // UPDATE/MERGE on a metadata table: our command translators refuse
    // (the plan falls through to Spark, which rejects it one way or
    // another — what matters is it can never reach LakeTable.update)
    intercept[Exception](extSpark.sql("UPDATE lake.db.rodml.snapshots SET operation = 'x'"))
    intercept[Exception](
      extSpark.sql("""MERGE INTO lake.db.rodml.snapshots t USING (SELECT 1 AS id) s
            |ON t.snapshot_id = s.id WHEN MATCHED THEN DELETE""".stripMargin))
    assert(sql("SELECT COUNT(*) AS n FROM lake.db.rodml").head.getLong(0) === 1)
  }

  test("partition-aligned SQL DELETE commits metadata-only: zero files rewritten") {
    sql("CREATE TABLE lake.db.mdel2 (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    sql("""INSERT INTO lake.db.mdel2 VALUES
          |(1, TIMESTAMP '2022-01-01 08:00:00'), (2, TIMESTAMP '2022-01-01 09:00:00'),
          |(3, TIMESTAMP '2022-02-01 08:00:00')""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("lake").asInstanceOf[GraftCatalog]
    val before = cat.lake.loadTable("db.mdel2").meta.currentSnapshot.get.files
    assert(before.size >= 2, "need one file per day-partition")
    // the predicate aligns with the hidden day-partition: stats prove the
    // January file wholly matches, so no data file is read or rewritten
    sql("DELETE FROM lake.db.mdel2 WHERE ts < TIMESTAMP '2022-01-15 00:00:00'")
    val m = cat.lake.loadTable("db.mdel2").meta
    val last = m.snapshots.maxBy(_.snapshotId)
    assert(last.operation === "delete")
    assert(last.summary("metadata-only") === "true",
      s"partition-aligned DELETE must be metadata-only: ${last.summary}")
    assert(last.summary("rewritten-data-files") === "0")
    // surviving files are a subset of the pre-delete files — nothing new written
    assert(last.files.map(_.path).toSet.subsetOf(before.map(_.path).toSet))
    assert(sql("SELECT id FROM lake.db.mdel2").head.getLong(0) === 3L)
  }

  test("views resolve 1-/2-part table names against their STORED context (r9)") {
    def esql(q: String) = extSpark.sql(q)
    esql("CREATE DATABASE IF NOT EXISTS lake.vctx")
    esql("CREATE TABLE lake.vctx.base9 (id BIGINT, v DOUBLE)")
    esql("INSERT INTO lake.vctx.base9 VALUES (1, 5.0), (2, 7.0)")
    esql("USE lake")
    try {
      // view text references the base table by 2-part and the namespace
      // context by 1-part name (after USE lake + USE vctx semantics we
      // keep to 2-part: db.table under the current catalog)
      esql("CREATE VIEW vctx.v9 AS SELECT SUM(v) AS s FROM vctx.base9")
      assert(esql("SELECT s FROM lake.vctx.v9").head.getDouble(0) === 12.0)
    } finally esql("USE spark_catalog")
    // ANOTHER session context (current catalog = spark_catalog): the
    // stored currentCatalog must be used to resolve `vctx.base9`
    assert(extSpark.sql("SELECT s FROM lake.vctx.v9").head.getDouble(0) === 12.0)
    extSpark.sql("DROP VIEW lake.vctx.v9")
  }

  test("SHOW VIEWS LIKE: '|' alternation and literal regex metacharacters (r9)") {
    def esql(q: String) = extSpark.sql(q)
    esql("CREATE DATABASE IF NOT EXISTS lake.vpat")
    esql("CREATE TABLE lake.vpat.pbase (id BIGINT)")
    esql("CREATE VIEW lake.vpat.va AS SELECT id FROM lake.vpat.pbase")
    esql("CREATE VIEW lake.vpat.vb AS SELECT id FROM lake.vpat.pbase")
    esql("CREATE VIEW lake.vpat.wplus AS SELECT id FROM lake.vpat.pbase")
    def names(pat: String): Set[String] =
      esql(s"SHOW VIEWS IN lake.vpat LIKE '$pat'").collect().map(_.getString(1)).toSet
    assert(names("va|vb") === Set("va", "vb"))           // alternation
    assert(names("v*") === Set("va", "vb"))              // glob star
    assert(names("w+lus|va") === Set("va"))              // '+' is literal, not regex
    Seq("va", "vb", "wplus").foreach(v => esql(s"DROP VIEW lake.vpat.$v"))
  }

  test("table/view disjointness: reserved _views name; view name blocks table (r9)") {
    def esql(q: String) = extSpark.sql(q)
    esql("CREATE DATABASE IF NOT EXISTS lake.vdis")
    // reserved view-store directory name
    val e1 = intercept[Exception](
      esql("CREATE TABLE lake.vdis._views (id BIGINT)"))
    assert(e1.getMessage.contains("reserved"))
    // a view's name cannot be taken by a table (either CREATE or RTAS)
    esql("CREATE TABLE lake.vdis.db9 (id BIGINT)")
    esql("CREATE VIEW lake.vdis.taken AS SELECT id FROM lake.vdis.db9")
    intercept[Exception](esql("CREATE TABLE lake.vdis.taken (id BIGINT)"))
    intercept[Exception](
      esql("CREATE OR REPLACE TABLE lake.vdis.taken AS SELECT 1 AS x"))
    esql("DROP VIEW lake.vdis.taken")
  }

  test("RTAS is refused during an active WAP session (r9)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.wap9")
    sql("""CREATE TABLE lake.wap9.audited (id BIGINT)
          |TBLPROPERTIES ('write.wap.enabled'='true')""".stripMargin)
    sql("INSERT INTO lake.wap9.audited VALUES (1)")
    spark.conf.set("spark.wap.id", "audit-123")
    try {
      val e = intercept[Exception](
        sql("CREATE OR REPLACE TABLE lake.wap9.audited AS SELECT 2 AS id"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("WAP")))
      // table untouched by the refused replace
      assert(sql("SELECT COUNT(*) FROM lake.wap9.audited").head.getLong(0) === 1)
    } finally spark.conf.unset("spark.wap.id")
  }

  test("GROUP BY identity-partition column COUNT(*) answers from metadata (r9)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("""CREATE TABLE lake.db.pcnt (id BIGINT, seg STRING)
          |PARTITIONED BY (seg)""".stripMargin)
    // REPARTITION(1): one file per partition value, so the MoR delete
    // below is guaranteed a PARTIAL file (id=3 shares its file with 4,5)
    // and must leave a positional mask, not a metadata-only drop
    sql("""INSERT INTO lake.db.pcnt SELECT /*+ REPARTITION(1) */ * FROM VALUES
          |  (1, 'a'), (2, 'a'), (3, 'b'), (4, 'b'), (5, 'b'), (6, NULL)
          |  AS v(id, seg)""".stripMargin)
    val q = () => extSpark.sql(
      "SELECT seg, COUNT(*) AS n FROM lake.db.pcnt GROUP BY seg ORDER BY seg")
    val df = q()
    assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
      s"partition-grouped count must not scan data files:\n${df.queryExecution.executedPlan}")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq((null, 1L), ("a", 2L), ("b", 3L)))
    // a non-partition grouping column scans normally and stays correct
    val other = extSpark.sql(
      "SELECT id % 2 AS par, COUNT(*) AS n FROM lake.db.pcnt GROUP BY id % 2")
    assert(other.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(other.collect().map(_.getLong(1)).sum === 6)
    // r14: a merge-on-read POSITION mask no longer disables the fast
    // path — per-file masked counts are exact metadata and subtract
    sql("ALTER TABLE lake.db.pcnt SET TBLPROPERTIES('write.delete.mode'='merge-on-read')")
    sql("DELETE FROM lake.db.pcnt WHERE id = 3")
    val masked = q()
    assert(!masked.queryExecution.executedPlan.toString.contains("FileScan"),
      "grouped count under a position mask stays metadata-only " +
        s"(delete counts are exact):\n${masked.queryExecution.executedPlan}")
    assert(masked.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq((null, 1L), ("a", 2L), ("b", 2L)))
  }

  test("GROUP BY identity-partition column drops a group whose rows were all position-deleted") {
    // group-only: no COUNT(*) among the outputs, yet a partition whose
    // every row is masked must not list — the scan never produces it
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("""CREATE TABLE lake.db.pgone (id BIGINT, seg STRING)
          |PARTITIONED BY (seg)
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO lake.db.pgone SELECT /*+ REPARTITION(1) */ * FROM VALUES
          |  (1, 'a'), (2, 'b'), (3, 'b') AS v(id, seg)""".stripMargin)
    sql("DELETE FROM lake.db.pgone WHERE id = 2")
    sql("DELETE FROM lake.db.pgone WHERE id = 3")
    val q = "SELECT seg FROM lake.db.pgone GROUP BY seg ORDER BY seg"
    val df = extSpark.sql(q)
    assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
      s"group-only query must answer from metadata:\n${df.queryExecution.executedPlan}")
    val scanned = spark.sql(q).collect().map(_.getString(0)).toSeq
    assert(scanned === Seq("a"))
    assert(df.collect().map(_.getString(0)).toSeq === scanned)
  }

  test("grouped MIN/MAX/COUNT(col) by identity partition answer from metadata (r14)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("""CREATE TABLE lake.db.pagg (k BIGINT, v DOUBLE, seg STRING)
          |PARTITIONED BY (seg)""".stripMargin)
    sql("""INSERT INTO lake.db.pagg SELECT /*+ REPARTITION(1) */ * FROM VALUES
          |  (1, 1.0, 'a'), (5, CAST(NULL AS DOUBLE), 'a'),
          |  (CAST(NULL AS BIGINT), 2.0, 'c'), (3, 3.0, 'b')
          |  AS v(k, v, seg)""".stripMargin)
    val q = """SELECT seg, COUNT(*) AS n, COUNT(v) AS nv,
              |  MIN(k) AS mn, MAX(k) AS mx
              |FROM lake.db.pagg GROUP BY seg ORDER BY seg""".stripMargin
    val df = extSpark.sql(q)
    assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
      s"grouped stats aggregation must not scan data files:\n${df.queryExecution.executedPlan}")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4))).toSeq
    val expected = Seq(("a", 2L, 1L, 1L, 5L), ("b", 1L, 1L, 3L, 3L),
      ("c", 1L, 1L, null, null))
    assert(rows(df) === expected)
    // the no-extensions session scans — same rows (the truth twin)
    assert(rows(spark.sql(q)) === expected)
    // ungrouped COUNT(col) of the all-null-in-one-group column
    val cc = extSpark.sql("SELECT COUNT(v) AS nv, COUNT(k) AS nk FROM lake.db.pagg")
    assert(!cc.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(cc.collect().map(r => (r.getLong(0), r.getLong(1))).head === ((3L, 3L)))
  }

  test("exists-default columns decline the stats fast path — values stay right (r14)") {
    // regression: MIN/MAX/COUNT(col) of a column added WITH a default
    // must account for old files' rows reading the default; footer stats
    // know nothing of them, so the fast path declines and the scan fills
    // the default via the read mapping
    sql("CREATE DATABASE IF NOT EXISTS lake.db")
    sql("CREATE TABLE lake.db.defmm (id BIGINT)")
    sql("INSERT INTO lake.db.defmm VALUES (1), (2), (3)")
    sql("ALTER TABLE lake.db.defmm ADD COLUMN w BIGINT DEFAULT 7")
    sql("INSERT INTO lake.db.defmm VALUES (4, 9)")
    val df = extSpark.sql(
      "SELECT MIN(w) AS mn, MAX(w) AS mx, COUNT(w) AS n FROM lake.db.defmm")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .head === ((7L, 9L, 4L)),
      "old rows read the frozen default 7 — a stats-only answer would say 9/9/1")
    assert(df.queryExecution.executedPlan.toString.contains("FileScan"),
      "default-backfilled column must decline the metadata fast path")
  }

  test("merge-on-read DELETE via SQL: delete_files table, exact metadata COUNT, " +
    "CALL rewrite_position_deletes (r9)") {
    sql("CREATE DATABASE IF NOT EXISTS lake.mor")
    sql("""CREATE TABLE lake.mor.t (id BIGINT, v DOUBLE)
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.mor.t SELECT id, CAST(id AS DOUBLE) FROM RANGE(0, 100)")
    val filesBefore = sql("SELECT file_path FROM lake.mor.t.files").collect()
      .map(_.getString(0)).toSet
    sql("DELETE FROM lake.mor.t WHERE id = 42")
    // no data file rewritten; one positional delete file, visible in the
    // delete_files metadata table
    assert(sql("SELECT file_path FROM lake.mor.t.files").collect()
      .map(_.getString(0)).toSet === filesBefore)
    val dels = sql("SELECT record_count, referenced_data_files FROM lake.mor.t.delete_files")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dels.toSeq === Seq((1L, 1L)))
    // reads mask the position; COUNT(*) stays metadata-only AND exact
    assert(sql("SELECT COUNT(*) FROM lake.mor.t WHERE id = 42").head.getLong(0) === 0)
    val cnt = extSpark.sql("SELECT COUNT(*) AS n FROM lake.mor.t")
    assert(cnt.head.getLong(0) === 99)
    assert(!cnt.queryExecution.executedPlan.toString.contains("FileScan"),
      "COUNT over a masked table must stay metadata-only (delete counts are exact)")
    // compaction procedure retires the mask; results unchanged
    sql("CALL lake.system.rewrite_position_deletes('mor.t')")
    assert(sql("SELECT COUNT(*) FROM lake.mor.t.delete_files").head.getLong(0) === 0)
    assert(sql("SELECT COUNT(*) FROM lake.mor.t").head.getLong(0) === 99)
    assert(sql("SELECT COUNT(*) FROM lake.mor.t WHERE id = 42").head.getLong(0) === 0)
  }

  test("SQL multi-table transactions (r15): the q98 ledger move runs " +
    "PURELY via CALL begin/commit_transaction — rollback discards, " +
    "read-your-writes inside, all-or-nothing after, and a concurrent " +
    "main commit aborts the SQL commit with zero residue") {
    import graft.lake.{CommitConflictException, LakeCatalog, LakeTransaction}
    // the extensions session: UPDATE/arbitrary-predicate DELETE translate
    // through GraftUpdate/GraftDelete, exactly the notebook setup
    val sqlx = (q: String) => extSpark.sql(q)
    sqlx("CREATE DATABASE IF NOT EXISTS lake.txndb")
    sqlx("CREATE TABLE lake.txndb.open (k BIGINT, amt DOUBLE)")
    sqlx("CREATE TABLE lake.txndb.done (k BIGINT, amt DOUBLE)")
    sqlx("""INSERT INTO lake.txndb.open VALUES
          |(1, 10.0), (2, 20.0), (3, 30.0), (9, 90.0), (18, 180.0)""".stripMargin)
    def n(t: String) = sqlx(s"SELECT COUNT(*) FROM lake.txndb.$t").head.getLong(0)
    // 1) staged-then-ROLLED-BACK move: effects absent from both tables
    sqlx("CALL lake.system.begin_transaction()")
    sqlx("INSERT INTO lake.txndb.done SELECT k, amt FROM lake.txndb.open WHERE k % 9 = 0")
    sqlx("DELETE FROM lake.txndb.open WHERE k % 9 = 0")
    // read-your-writes INSIDE the transaction…
    assert(n("open") === 3 && n("done") === 2)
    // …while a plain session keeps seeing main
    assert(sql("SELECT COUNT(*) FROM lake.txndb.open").head.getLong(0) === 5)
    sqlx("CALL lake.system.rollback_transaction()")
    assert(n("open") === 5 && n("done") === 0, "rollback must discard all")
    // 2) the real move, committed — plus an UPDATE to exercise that path
    sqlx("CALL lake.system.begin_transaction()")
    sqlx("INSERT INTO lake.txndb.done SELECT k, amt FROM lake.txndb.open WHERE k % 9 = 0")
    sqlx("UPDATE lake.txndb.done SET amt = amt + 1.0 WHERE k = 9")
    sqlx("DELETE FROM lake.txndb.open WHERE k % 9 = 0")
    sqlx("CALL lake.system.commit_transaction()")
    assert(n("open") === 3 && n("done") === 2)
    assert(sqlx("SELECT amt FROM lake.txndb.done WHERE k = 9").head.getDouble(0) === 91.0)
    // 3) fence-abort: a concurrent engine commits to main on a participant
    // between staging and CALL commit → the protocol aborts the whole
    // transaction; both tables keep their pre-transaction content
    sqlx("CALL lake.system.begin_transaction()")
    sqlx("DELETE FROM lake.txndb.open WHERE k = 1")
    assert(n("open") === 2, "read-your-writes before the conflict")
    val wh = spark.conf.get("spark.sql.catalog.lake.warehouse")
    import spark.implicits._
    new LakeCatalog(spark, wh).loadTable("txndb.open")
      .append(Seq((777L, 7.0)).toDF("k", "amt")) // foreign main commit
    val e = intercept[Exception](sqlx("CALL lake.system.commit_transaction()"))
    assert(e.isInstanceOf[CommitConflictException] ||
      Option(e.getCause).exists(_.isInstanceOf[CommitConflictException]) ||
      e.getMessage.contains("concurrent commit"),
      s"expected the protocol's conflict error, got: $e")
    // zero residue: conf cleared, no fence, no txn branches, content intact
    assert(extSpark.conf.getOption(graft.lake.SqlTransactions.ConfKey)
      .forall(_.isEmpty))
    val open = new LakeCatalog(spark, wh).loadTable("txndb.open")
    assert(!open.meta.properties.contains(LakeTransaction.FenceKey))
    assert(!open.meta.refs.keys.exists(_.startsWith("txn-")))
    assert(n("open") === 4, "foreign append visible, staged delete discarded")
    assert(n("done") === 2)
  }

  test("ANSI transaction syntax (r15): BEGIN TRANSACTION / COMMIT / " +
    "ROLLBACK parse through the extension and bind to the current " +
    "graft catalog") {
    val sqlx = (q: String) => extSpark.sql(q)
    sqlx("CREATE DATABASE IF NOT EXISTS lake.txnsql")
    sqlx("CREATE TABLE lake.txnsql.t (k BIGINT)")
    sqlx("INSERT INTO lake.txnsql.t VALUES (1), (2)")
    sqlx("USE lake") // bind bare BEGIN to this catalog unambiguously
    try {
      sqlx("BEGIN TRANSACTION")
      sqlx("DELETE FROM lake.txnsql.t WHERE k = 1")
      sqlx("INSERT INTO lake.txnsql.t VALUES (3)")
      assert(sqlx("SELECT COUNT(*) FROM lake.txnsql.t").head.getLong(0) === 2)
      sqlx("ROLLBACK")
      assert(sqlx("SELECT k FROM lake.txnsql.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L), "rollback discards")
      sqlx("START TRANSACTION")
      sqlx("DELETE FROM lake.txnsql.t WHERE k = 1")
      sqlx("COMMIT")
      assert(sqlx("SELECT k FROM lake.txnsql.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(2L), "commit publishes")
      // COMMIT with no open transaction errors usefully
      val e = intercept[Exception](sqlx("COMMIT"))
      assert(e.getMessage.contains("no active transaction"))
      // a DANGLING txn conf (the process that began it is gone) must
      // fail writes loudly, never silently fall through to main
      extSpark.conf.set(graft.lake.SqlTransactions.ConfKey, "txn-from-a-dead-jvm")
      try {
        val e2 = intercept[Exception](
          sqlx("INSERT INTO lake.txnsql.t VALUES (99)"))
        def chain(t: Throwable): Seq[String] =
          if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
        assert(chain(e2).exists(m => m != null && m.contains("not live")),
          s"dangling txn conf must fail the write: $e2")
        assert(sqlx("SELECT COUNT(*) FROM lake.txnsql.t").head.getLong(0) === 1,
          "nothing may have landed on main")
      } finally extSpark.conf.unset(graft.lake.SqlTransactions.ConfKey)
    } finally sqlx("USE spark_catalog")
  }

  test("RESTORE TABLE / VACUUM DDL (r16): Delta's spellings through the " +
    "parser extension — restore moves main back restorably, vacuum " +
    "expires+reclaims with RETAIN/DRY RUN semantics") {
    val sqlx = (q: String) => extSpark.sql(q)
    sqlx("CREATE DATABASE IF NOT EXISTS lake.rvdb")
    sqlx("CREATE TABLE lake.rvdb.t (k BIGINT)")
    sqlx("INSERT INTO lake.rvdb.t VALUES (1), (2)")
    sqlx("INSERT INTO lake.rvdb.t VALUES (3)")
    val wh = spark.conf.get("spark.sql.catalog.lake.warehouse")
    val t = new graft.lake.LakeCatalog(spark, wh).loadTable("rvdb.t")
    val snaps = t.meta.snapshots.map(_.snapshotId)
    assert(snaps.size === 2)
    // RESTORE TO VERSION: main moves back, history stays append-only
    sqlx(s"RESTORE TABLE lake.rvdb.t TO VERSION AS OF ${snaps.head}")
    assert(sqlx("SELECT COUNT(*) FROM lake.rvdb.t").head.getLong(0) === 2)
    // mis-restore is restorable: forward to the later snapshot again
    sqlx(s"RESTORE TABLE lake.rvdb.t TO VERSION AS OF ${snaps.last}")
    assert(sqlx("SELECT COUNT(*) FROM lake.rvdb.t").head.getLong(0) === 3)
    // RESTORE TO TIMESTAMP (epoch-ms form): at the first snapshot's time
    val ts1 = t.meta.snapshots.head.timestampMs
    sqlx(s"RESTORE TABLE lake.rvdb.t TO TIMESTAMP AS OF $ts1")
    assert(sqlx("SELECT COUNT(*) FROM lake.rvdb.t").head.getLong(0) === 2)
    sqlx(s"RESTORE TABLE lake.rvdb.t TO VERSION AS OF ${snaps.last}")
    // VACUUM: make an orphan (the restored-away snapshot keeps both
    // snapshots' files live — so first expire history via a real vacuum)
    // DRY RUN with default retention: nothing young gets listed/deleted
    assert(sqlx("VACUUM lake.rvdb.t DRY RUN").collect().isEmpty)
    val before = sqlx("SELECT COUNT(*) FROM lake.rvdb.t").head.getLong(0)
    // RETAIN 0 HOURS: everything unreferenced frees immediately; the
    // live snapshot's files survive and the table stays fully readable
    sqlx("VACUUM lake.rvdb.t RETAIN 0 HOURS")
    assert(sqlx("SELECT COUNT(*) FROM lake.rvdb.t").head.getLong(0) === before)
    assert(new graft.lake.LakeCatalog(spark, wh).loadTable("rvdb.t")
      .verifyIntegrity().count() === 0)
  }

  test("cross-catalog guard (r16): a write to another catalog's " +
    "same-named table inside an active transaction fails loudly instead " +
    "of silently enlisting the wrong physical table") {
    val sqlx = (q: String) => extSpark.sql(q)
    val wh2 = Files.createTempDirectory("graft-dsv2-wh2").toString
    extSpark.conf.set("spark.sql.catalog.lake2", classOf[GraftCatalog].getName)
    extSpark.conf.set("spark.sql.catalog.lake2.warehouse", wh2)
    org.apache.spark.sql.graftbridge.CatalogBridge.resetCatalogs(extSpark)
    sqlx("CREATE DATABASE IF NOT EXISTS lake.xdb")
    sqlx("CREATE TABLE lake.xdb.t (k BIGINT)")
    sqlx("INSERT INTO lake.xdb.t VALUES (1)")
    sqlx("CREATE DATABASE IF NOT EXISTS lake2.xdb")
    sqlx("CREATE TABLE lake2.xdb.t (k BIGINT)")
    sqlx("INSERT INTO lake2.xdb.t VALUES (10)")
    sqlx("USE lake")
    try {
      sqlx("BEGIN TRANSACTION")
      sqlx("INSERT INTO lake.xdb.t VALUES (2)") // enlists xdb.t on lake
      // same ident, OTHER catalog: the txn began on lake, so routing
      // would stage this onto lake's xdb.t — must refuse instead
      val e = intercept[Exception](sqlx("INSERT INTO lake2.xdb.t VALUES (11)"))
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(e).exists(m => m != null && m.contains("cross-catalog")),
        s"cross-catalog write must fail loudly: $e")
      // and lake2's table must NOT resolve the staged read branch that
      // only exists on lake's table (it is untouched: reads its own main)
      assert(sqlx("SELECT COUNT(*) FROM lake2.xdb.t").head.getLong(0) === 1)
      sqlx("ROLLBACK")
      assert(sqlx("SELECT COUNT(*) FROM lake.xdb.t").head.getLong(0) === 1)
      assert(sqlx("SELECT COUNT(*) FROM lake2.xdb.t").head.getLong(0) === 1)
    } finally {
      sqlx("USE spark_catalog")
      extSpark.conf.unset("spark.sql.catalog.lake2")
      org.apache.spark.sql.graftbridge.CatalogBridge.resetCatalogs(extSpark)
    }
  }

  test("repeatable read (r16): under spark.graft.txn.repeatable-read, a " +
    "foreign commit mid-transaction is invisible to the transaction's " +
    "SELECTs until COMMIT/ROLLBACK; read-your-writes still wins") {
    val sqlx = (q: String) => extSpark.sql(q)
    sqlx("CREATE DATABASE IF NOT EXISTS lake.rrdb")
    sqlx("CREATE TABLE lake.rrdb.t (k BIGINT)")
    sqlx("CREATE TABLE lake.rrdb.fresh (k BIGINT)") // empty at txn begin
    sqlx("CREATE TABLE lake.rrdb.mine (k BIGINT)")
    sqlx("INSERT INTO lake.rrdb.t VALUES (1), (2)")
    sqlx("USE lake")
    extSpark.conf.set(graft.lake.SqlTransactions.RepeatableReadKey, "true")
    try {
      sqlx("BEGIN TRANSACTION")
      // first read pins the snapshot (and pins `fresh` to its empty state)
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.t").head.getLong(0) === 2)
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.fresh").head.getLong(0) === 0)
      // foreign commits from ANOTHER session land on main mid-transaction
      sql("INSERT INTO lake.rrdb.t VALUES (3)")
      sql("INSERT INTO lake.rrdb.fresh VALUES (7)")
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.t").head.getLong(0) === 2,
        "pinned read must not see the foreign commit")
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.fresh").head.getLong(0) === 0,
        "a table pinned EMPTY stays empty inside the transaction")
      // read-your-writes beats the pin for tables the txn writes
      sqlx("INSERT INTO lake.rrdb.mine VALUES (5)")
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.mine").head.getLong(0) === 1)
      sqlx("ROLLBACK")
      // pins die with the transaction: live main is visible again
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.t").head.getLong(0) === 3)
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.fresh").head.getLong(0) === 1)
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.mine").head.getLong(0) === 0)
      // explicit time travel opts OUT of the pin — the user asked for a
      // specific version, inside a transaction or not
      sqlx("BEGIN TRANSACTION")
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.t").head.getLong(0) === 3,
        "pin captured at 3 rows")
      sql("INSERT INTO lake.rrdb.t VALUES (4)")
      assert(sqlx("SELECT COUNT(*) FROM lake.rrdb.t").head.getLong(0) === 3)
      val head = new graft.lake.LakeCatalog(spark,
        spark.conf.get("spark.sql.catalog.lake.warehouse"))
        .loadTable("rrdb.t").meta.currentSnapshot.get.snapshotId
      assert(sqlx(s"SELECT COUNT(*) FROM lake.rrdb.t VERSION AS OF $head")
        .head.getLong(0) === 4, "explicit VERSION AS OF bypasses the pin")
      sqlx("ROLLBACK")
    } finally {
      extSpark.conf.unset(graft.lake.SqlTransactions.RepeatableReadKey)
      sqlx("USE spark_catalog")
    }
  }
}
