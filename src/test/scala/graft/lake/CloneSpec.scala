package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Zero-copy CLONE ([[LakeCatalog.cloneTable]] / CALL clone_table): one
  * metadata commit, no data bytes move, independent divergence after —
  * and the GC-safety contract that makes shallow clones SAFE: the
  * source's expire/orphan sweeps spare every byte a registered clone
  * still references, and the source refuses to drop while clones live. */
class CloneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v").coalesce(1)
  }

  private def ids(t: LakeTable): Seq[Long] =
    t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("a clone of a merge-on-read table records its live rows as total-records") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("graft-clone").toString)
    val src = cat.createTable("db.mor", schema)
    src.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    src.append(df(1L -> "a", 2L -> "b", 3L -> "c"))
    src.delete(col("id") === 2L)
    assert(src.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    val t = cat.cloneTable("db.mor", "db.mor_cl")
    assert(t.toDF.count() === 2L)
    assert(t.meta.currentSnapshot.get.summary("total-records") === "2")
  }

  test("clone reads the source's files in place; both sides diverge " +
    "independently; time travel and AS-OF cloning work") {
    val wh = Files.createTempDirectory("graft-clone").toString
    val cat = new LakeCatalog(spark, wh)
    val src = cat.createTable("db.src", schema)
    src.append(df(1L -> "a", 2L -> "b"))
    val snap1 = src.meta.currentSnapshot.get.snapshotId
    src.append(df(3L -> "c"))
    val t = cat.cloneTable("db.src", "db.cl")
    // zero copy: the clone's snapshot references the SOURCE's files
    assert(t.meta.currentSnapshot.get.files.map(_.path)
      .forall(_.contains("db/src")), "clone must reference source files in place")
    assert(ids(t) === Seq(1L, 2L, 3L))
    assert(t.verifyIntegrity().count() === 0)
    // divergence: writes on either side are invisible to the other
    t.append(df(10L -> "x"))
    src.delete(col("id") === 1L)
    assert(ids(t) === Seq(1L, 2L, 3L, 10L), "clone keeps its view")
    assert(ids(src) === Seq(2L, 3L), "source keeps its view")
    assert(t.meta.currentSnapshot.get.files.exists(_.path.contains("db/cl")),
      "clone's new writes land under its own directory")
    // AS-OF clone pins a historical snapshot
    val old = cat.cloneTable("db.src", "db.cl_old", asOfSnapshotId = Some(snap1))
    assert(ids(old) === Seq(1L, 2L))
  }

  test("GC safety: source expire + orphan sweeps spare clone-referenced " +
    "bytes; dropTable(source) refuses while clones live; dropping the " +
    "clone deregisters and frees the source") {
    val wh = Files.createTempDirectory("graft-clone").toString
    val cat = new LakeCatalog(spark, wh)
    val src = cat.createTable("db.src", schema)
    src.append(df(1L -> "a", 2L -> "b"))
    src.append(df(3L -> "c", 4L -> "d"))
    val t = cat.cloneTable("db.src", "db.cl")
    // source rewrites everything (CoW delete touches both files), then
    // expires history and sweeps orphans with a FUTURE cutoff — without
    // clone protection this deletes every byte the clone reads
    src.delete(col("id") % 2 === 0)
    src.expireSnapshots(System.currentTimeMillis() + 3600000L, retainLast = 1)
    src.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600000L)
    assert(ids(src) === Seq(1L, 3L))
    assert(ids(t) === Seq(1L, 2L, 3L, 4L), "clone survives source GC")
    assert(t.verifyIntegrity().count() === 0, "every clone byte servable")
    // the source cannot be dropped out from under the clone
    val e = intercept[IllegalStateException](cat.dropTable("db.src"))
    assert(e.getMessage.contains("db/cl"))
    assert(cat.tableExists("db.src"))
    // dropping the clone deregisters; the source is then free
    cat.dropTable("db.cl")
    assert(!cat.loadTable("db.src").meta.properties
      .get(LakeCatalog.CloneLocationsKey).exists(_.nonEmpty))
    cat.dropTable("db.src")
    assert(!cat.tableExists("db.src"))
  }

  test("clone chain: a clone of a clone registers on EVERY ancestor, so " +
    "each ancestor's GC spares the grandchild's bytes") {
    val wh = Files.createTempDirectory("graft-clone").toString
    val cat = new LakeCatalog(spark, wh)
    val a = cat.createTable("db.a", schema)
    a.append(df(1L -> "a"))
    val b = cat.cloneTable("db.a", "db.b")
    b.append(df(2L -> "b")) // b adds its own file
    val c = cat.cloneTable("db.b", "db.c") // references a's AND b's bytes
    assert(ids(c) === Seq(1L, 2L))
    // a's registration must include c (c reads a's file 1)
    assert(cat.loadTable("db.a").meta.properties(LakeCatalog.CloneLocationsKey)
      .split(";").toSet === Set(s"$wh/db/b", s"$wh/db/c"))
    // a rewrites + GCs: c must still read a's original byte
    a.delete(col("id") === 1L)
    a.expireSnapshots(System.currentTimeMillis() + 3600000L, retainLast = 1)
    a.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600000L)
    assert(ids(c) === Seq(1L, 2L))
    assert(c.verifyIntegrity().count() === 0)
  }

  test("properties carry over minus the other table's bookkeeping; bloom " +
    "bundles are copied so skipping + fsck work on the clone; MoR masks " +
    "clone correctly") {
    val wh = Files.createTempDirectory("graft-clone").toString
    val cat = new LakeCatalog(spark, wh)
    val src = cat.createTable("db.src", schema, properties = Map(
      "graft.bloom.columns" -> "v",
      "write.delete.mode" -> "merge-on-read",
      "custom.prop" -> "kept"))
    src.append(df(1L -> "a", 2L -> "b", 3L -> "c"))
    src.delete(col("id") === 2L) // MoR positional mask
    assert(src.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    val t = cat.cloneTable("db.src", "db.cl")
    assert(ids(t) === Seq(1L, 3L), "MoR mask travels with the snapshot")
    assert(t.meta.properties("custom.prop") === "kept")
    assert(!t.meta.properties.contains(LakeCatalog.CloneLocationsKey))
    assert(t.meta.properties("graft.cloned-from") === "db.src")
    assert(t.verifyIntegrity().count() === 0,
      "bloom bundles must be copied into the clone's metaStore")
  }

  test("cloning a WAP-staged snapshot is refused — it would launder " +
    "unaudited data past the audit gate; the published head clones fine") {
    val wh = Files.createTempDirectory("graft-clone").toString
    val cat = new LakeCatalog(spark, wh)
    val src = cat.createTable("db.w", schema,
      properties = Map("write.wap.enabled" -> "true"))
    src.append(df(1L -> "a"))
    spark.conf.set("spark.wap.id", "audit-1")
    try { src.append(df(2L -> "b")); () }
    finally spark.conf.unset("spark.wap.id")
    val staged = cat.loadTable("db.w").meta.snapshots.find(_.staged)
    assert(staged.isDefined, "setup must stage a WAP snapshot")
    val e = intercept[IllegalArgumentException](
      cat.cloneTable("db.w", "db.wc", Some(staged.get.snapshotId)))
    assert(e.getMessage.contains("WAP-staged"))
    val t = cat.cloneTable("db.w", "db.wc")
    assert(ids(t) === Seq(1L), "only the published head clones")
  }

  test("rename composes with clones: renaming the SOURCE rewrites the " +
    "clone's back-reference (location-keyed fix-up) and its GC keeps " +
    "protecting the clone; renaming the CLONE updates the source's " +
    "registration") {
    val wh = Files.createTempDirectory("graft-clone").toString
    val cat = new LakeCatalog(spark, wh)
    val src = cat.createTable("db.src", schema)
    src.append(df(1L -> "a", 2L -> "b"))
    val t = cat.cloneTable("db.src", "db.cl")
    // rename the source: the clone's cloned-from-location must follow
    val src2 = cat.renameTable("db.src", "db.src2")
    assert(cat.loadTable("db.cl").meta.properties(
      LakeCatalog.ClonedFromLocationKey) === src2.location)
    // hostile GC from the renamed source still spares the clone
    src2.delete(col("id") === 1L)
    src2.expireSnapshots(System.currentTimeMillis() + 3600000L, retainLast = 1)
    src2.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600000L)
    assert(ids(cat.loadTable("db.cl")) === Seq(1L, 2L))
    assert(cat.loadTable("db.cl").verifyIntegrity().count() === 0)
    // rename the clone: the source's registration must follow, so its
    // GC union resolves the clone at the NEW location
    cat.renameTable("db.cl", "db.cl2")
    assert(cat.loadTable("db.src2").meta.properties(
      LakeCatalog.CloneLocationsKey).split(";").toSeq === Seq(s"$wh/db/cl2"))
    src2.append(df(9L -> "z"))
    src2.expireSnapshots(System.currentTimeMillis() + 3600000L, retainLast = 1)
    src2.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600000L)
    assert(ids(cat.loadTable("db.cl2")) === Seq(1L, 2L))
    assert(cat.loadTable("db.cl2").verifyIntegrity().count() === 0)
  }

  test("renaming a GRANDCHILD clone rewrites its registration in EVERY " +
    "ancestor (chain-deep, not one-hop): the grandparent's GC keeps " +
    "sparing the renamed clone's bytes and dropTable keeps refusing") {
    val wh = Files.createTempDirectory("graft-clone").toString
    val cat = new LakeCatalog(spark, wh)
    val a = cat.createTable("db.a", schema)
    a.append(df(1L -> "a"))
    val b = cat.cloneTable("db.a", "db.b")
    b.append(df(2L -> "b"))
    cat.cloneTable("db.b", "db.c")
    // c's own properties only name its direct parent b, but the rename
    // must also fix the GRANDPARENT a's registration — a stale entry
    // there reads the destroyed old metadata as a dropped clone and GC
    // reclaims bytes db.c2 still references
    cat.renameTable("db.c", "db.c2")
    assert(cat.loadTable("db.a").meta.properties(LakeCatalog.CloneLocationsKey)
      .split(";").toSet === Set(s"$wh/db/b", s"$wh/db/c2"),
      "grandparent registration must follow the rename")
    assert(cat.loadTable("db.b").meta.properties(LakeCatalog.CloneLocationsKey)
      .split(";").toSet === Set(s"$wh/db/c2"))
    // hostile GC from the grandparent: rewrite + expire all history +
    // future-cutoff orphan sweep — one reclaimed byte fails the read
    val a2 = cat.loadTable("db.a")
    a2.delete(col("id") === 1L)
    a2.expireSnapshots(System.currentTimeMillis() + 3600000L, retainLast = 1)
    a2.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600000L)
    assert(ids(cat.loadTable("db.c2")) === Seq(1L, 2L))
    assert(cat.loadTable("db.c2").verifyIntegrity().count() === 0)
    // and the grandparent still refuses to drop while the renamed
    // grandchild lives
    val e = intercept[IllegalStateException](cat.dropTable("db.a"))
    assert(e.getMessage.contains("db/c2"))
    // dropping the renamed grandchild deregisters it everywhere
    cat.dropTable("db.c2")
    assert(cat.loadTable("db.a").meta.properties(LakeCatalog.CloneLocationsKey)
      .split(";").toSet === Set(s"$wh/db/b"))
    assert(!cat.loadTable("db.b").meta.properties
      .contains(LakeCatalog.CloneLocationsKey))
  }

  test("SQL DDL (r16): CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF " +
    "n] drives the q102 shape purely via SQL — hostile source GC spares " +
    "the clone, tombstoned locations refuse") {
    val wh = Files.createTempDirectory("graft-clone-ddl").toString
    // the DDL spelling needs the parser extension (like branch DDL)
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions()(_))
      .create()
    prevDefault match {
      case Some(d) => SparkSession.setDefaultSession(d)
      case None => SparkSession.clearDefaultSession()
    }
    prevActive match {
      case Some(a) => SparkSession.setActiveSession(a)
      case None => SparkSession.clearActiveSession()
    }
    s.conf.set("spark.sql.catalog.cds",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.cds.warehouse", wh)
    try {
      s.sql("CREATE DATABASE IF NOT EXISTS cds.db")
      s.sql("CREATE TABLE cds.db.src (id BIGINT, v STRING)")
      s.sql("INSERT INTO cds.db.src VALUES (1, 'a'), (2, 'b')")
      val cat = new LakeCatalog(s, wh)
      val snap1 = cat.loadTable("db.src").meta.currentSnapshot.get.snapshotId
      s.sql("INSERT INTO cds.db.src VALUES (3, 'c')")
      s.sql("CREATE TABLE cds.db.twin SHALLOW CLONE cds.db.src")
      assert(s.sql("SELECT COUNT(*) FROM cds.db.twin").head.getLong(0) === 3)
      // AS-OF clone pins a historical snapshot
      s.sql(s"CREATE TABLE cds.db.old SHALLOW CLONE cds.db.src VERSION AS OF $snap1")
      assert(s.sql("SELECT COUNT(*) FROM cds.db.old").head.getLong(0) === 2)
      // zero copy: the twin references the source's files in place
      assert(cat.loadTable("db.twin").meta.currentSnapshot.get.files
        .forall(_.path.contains("db/src")))
      // q102's hostile-GC shape, via SQL procedures: rewrite + expire all
      // history + future-cutoff orphan sweep on the SOURCE
      s.sql("DELETE FROM cds.db.src WHERE id = 1")
      val future = System.currentTimeMillis() + 3600000L
      s.sql(s"CALL cds.system.expire_snapshots('db.src', ${future}L, 1L)")
      s.sql(s"CALL cds.system.remove_orphan_files('db.src', ${future}L)")
      assert(s.sql("SELECT id FROM cds.db.twin ORDER BY id").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L),
        "one reclaimed byte would fail this read")
      assert(cat.loadTable("db.twin").verifyIntegrity().count() === 0)
      // tombstoned destination refuses: rename db.old away, then try to
      // clone onto the recycled ident whose directory still holds data
      cat.renameTable("db.old", "db.old2")
      val e = intercept[Exception](
        s.sql("CREATE TABLE cds.db.old SHALLOW CLONE cds.db.src"))
      assert(e.getMessage.contains("tombstoned") ||
        Option(e.getCause).exists(_.getMessage.contains("tombstoned")))
      // cross-catalog clone refuses (GC registration would be invisible)
      val e2 = intercept[Exception](
        s.sql("CREATE TABLE spark_catalog.default.x SHALLOW CLONE cds.db.src"))
      assert(e2.getMessage.contains("graft") ||
        e2.getMessage.contains("catalog"))
    } finally {
      s.conf.unset("spark.sql.catalog.cds")
    }
  }

  test("SQL surface: CALL clone_table through the procedure catalog") {
    val wh = Files.createTempDirectory("graft-clone-sql").toString
    spark.conf.set("spark.sql.catalog.cln",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cln.warehouse", wh)
    org.apache.spark.sql.graftbridge.CatalogBridge.resetCatalogs(spark)
    spark.sql("CREATE TABLE cln.db.src (id BIGINT, v STRING)")
    spark.sql("INSERT INTO cln.db.src VALUES (1, 'a'), (2, 'b')")
    spark.sql("CALL cln.system.clone_table('db.src', 'db.twin')")
    assert(spark.sql("SELECT COUNT(*) FROM cln.db.twin").head.getLong(0) === 2)
    spark.sql("INSERT INTO cln.db.twin VALUES (3, 'c')")
    assert(spark.sql("SELECT COUNT(*) FROM cln.db.src").head.getLong(0) === 2)
    assert(spark.sql("SELECT COUNT(*) FROM cln.db.twin").head.getLong(0) === 3)
  }
}
