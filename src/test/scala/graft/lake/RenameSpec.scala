package graft.lake

import graft.lake.catalog.CatalogServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** ALTER TABLE … RENAME TO ([[LakeCatalog.renameTable]]): the metadata
  * authority moves, data files stay at their absolute paths, sibling
  * location references are rewritten, and the same machinery serves the
  * SQL surface and the wire catalog. */
class RenameSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("basic rename: history and time travel intact, old ident gone, " +
    "data files stay in place, new writes land under the new location, " +
    "expiry GC still owns the old directory's files") {
    val wh = Files.createTempDirectory("graft-ren").toString
    val cat = new LakeCatalog(spark, wh)
    val t0 = cat.createTable("db.old", schema)
    t0.append(df(1L -> "a", 2L -> "b"))
    val snap1 = t0.meta.currentSnapshot.get.snapshotId
    t0.append(df(3L -> "c"))
    val oldFiles = t0.meta.currentSnapshot.get.files.map(_.path)
    val t = cat.renameTable("db.old", "db.neu")
    assert(!cat.tableExists("db.old") && cat.tableExists("db.neu"))
    assert(cat.listTables("db") === Seq("neu"))
    assert(t.toDF.count() === 3)
    assert(t.read(snapshotId = Some(snap1)).count() === 2, "time travel")
    assert(t.meta.name === "db.neu")
    assert(t.meta.properties("graft.renamed-from") === "db.old")
    // data files still live under the OLD directory, by absolute path
    assert(t.meta.currentSnapshot.get.files.map(_.path).toSet
      .intersect(oldFiles.toSet) === oldFiles.toSet)
    assert(Files.exists(Paths.get(oldFiles.head.stripPrefix("file:"))))
    assert(!Files.exists(Paths.get(wh, "db", "old", "metadata")),
      "old metadata authority must not survive")
    // new writes land under the new location; reads span both directories
    t.append(df(4L -> "d"))
    assert(t.meta.currentSnapshot.get.files.exists(_.path.contains("db/neu")))
    assert(t.toDF.count() === 4)
    // row-level GC still owns the old directory's bytes: a CoW delete
    // that drops an old file removes it after expiry
    t.delete(col("id") <= 2)
    t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.toDF.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L))
  }

  test("renaming a BASE keeps its registered secondary index refreshing: " +
    "the index's recorded base location is rewritten") {
    val wh = Files.createTempDirectory("graft-ren").toString
    val cat = new LakeCatalog(spark, wh)
    def txt(i: Long) = s"alpha beta w$i gamma w${i % 7}"
    val base0 = cat.createTable("db.corpus", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    import spark.implicits._
    base0.append((0L until 40L).map(i => (i, txt(i))).toDF("doc_id", "text"))
    val idx = graft.operators.TextIndex.create(cat, "db.tidx", base0, nBuckets = 4)
    val base = cat.renameTable("db.corpus", "db.corpus2")
    // the index resolves its base THROUGH the rewritten location…
    val reloaded = graft.operators.TextIndex.load(cat, "db.tidx")
    assert(reloaded.base.location === base.location)
    // …and the routing refresh still catches churn end-to-end
    base.append((40L until 60L).map(i => (i, txt(i))).toDF("doc_id", "text"))
    graft.streaming.Changelog.refreshRegisteredIndexes(base)
    assert(graft.operators.TextIndex.load(cat, "db.tidx").watermark ===
      base.meta.currentSnapshot.map(_.snapshotId))
    val got = reloaded.search(Seq(1 -> "w3"), 3).collect()
    assert(got.nonEmpty)
    // renaming the INDEX rewrites the base's routing list the same way
    cat.renameTable("db.tidx", "db.tidx2")
    assert(base.meta.properties("graft.tindex.indexes")
      .contains(cat.loadTable("db.tidx2").location))
    graft.streaming.Changelog.refreshRegisteredIndexes(base) // must not warn-skip
    assert(graft.operators.TextIndex.load(cat, "db.tidx2")
      .search(Seq(1 -> "w3"), 3).collect().toSeq === got.toSeq)
  }

  test("renaming a BASE leaves its index's unrelated properties byte-identical: " +
    "only the base location is rewritten") {
    val wh = Files.createTempDirectory("graft-ren").toString
    val cat = new LakeCatalog(spark, wh)
    val base0 = cat.createTable("db.corpus", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    import spark.implicits._
    base0.append(Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text"))
    graft.operators.TextIndex.create(cat, "db.tidx", base0, nBuckets = 2)
    val notes = Map("note" -> "see ticket 12;", "sep" -> ";")
    cat.loadTable("db.tidx").setProperties(notes)
    val base = cat.renameTable("db.corpus", "db.corpus2")
    val props = cat.loadTable("db.tidx").meta.properties
    assert(props("graft.tindex.base-location") === base.location)
    assert(notes.forall { case (k, v) => props.get(k).contains(v) },
      s"unrelated properties rewritten: ${props.filter(p => notes.contains(p._1))}")
  }

  test("old location is tombstoned: createTable at the recycled ident is " +
    "refused (its orphan GC would delete the renamed table's live data); " +
    "dropping the renamed table reclaims every prior location") {
    val wh = Files.createTempDirectory("graft-ren").toString
    val cat = new LakeCatalog(spark, wh)
    val t0 = cat.createTable("db.old", schema)
    t0.append(df(1L -> "a", 2L -> "b"))
    val t = cat.renameTable("db.old", "db.neu")
    val oldDataFile = t.meta.currentSnapshot.get.files.head.path
    assert(oldDataFile.contains("db/old"), "data stays in place")
    // the hazard: a recreate at db.old would adopt db/old/data and its
    // remove_orphan_files would GC db.neu's live rows — refused
    val e = intercept[IllegalArgumentException](cat.createTable("db.old", schema))
    assert(e.getMessage.contains("renamed") && e.getMessage.contains("db.neu"))
    assert(t.toDF.count() === 2, "live data untouched")
    // chained rename accumulates locations; drop reclaims them all
    val t2 = cat.renameTable("db.neu", "db.neu2")
    t2.append(df(3L -> "c"))
    assert(t2.meta.properties(LakeCatalog.RenamedFromLocationsKey)
      .split(";").toSet === Set(s"$wh/db/old", s"$wh/db/neu"))
    intercept[IllegalArgumentException](cat.createTable("db.neu", schema))
    cat.dropTable("db.neu2")
    assert(!Files.exists(Paths.get(wh, "db", "old")), "old dir reclaimed")
    assert(!Files.exists(Paths.get(wh, "db", "neu")), "mid dir reclaimed")
    // the ident is reusable again after the reclaim
    val fresh = cat.createTable("db.old", schema)
    fresh.append(df(9L -> "z"))
    assert(fresh.toDF.count() === 1)
  }

  test("renaming ONTO a tombstoned location is refused — adopting a " +
    "renamed-away table's live data dir is the same hazard for rename " +
    "as for createTable/cloneTable") {
    val wh = Files.createTempDirectory("graft-ren").toString
    val cat = new LakeCatalog(spark, wh)
    val t0 = cat.createTable("db.victim", schema)
    t0.append(df(1L -> "a", 2L -> "b"))
    cat.renameTable("db.victim", "db.moved") // db/victim now tombstoned
    val other = cat.createTable("db.other", schema)
    other.append(df(9L -> "z"))
    // renaming db.other onto the recycled ident would adopt db/victim's
    // directory; its orphan GC would then reclaim db.moved's live rows
    val e = intercept[IllegalArgumentException](
      cat.renameTable("db.other", "db.victim"))
    assert(e.getMessage.contains("tombstoned"))
    assert(cat.loadTable("db.other").toDF.count() === 1, "rename aborted clean")
    assert(cat.loadTable("db.moved").toDF.count() === 2, "victim data intact")
    // dropping the moved table reclaims the location; rename then works
    cat.dropTable("db.moved")
    val renamed = cat.renameTable("db.other", "db.victim")
    assert(renamed.toDF.count() === 1)
  }

  test("SQL surface: ALTER TABLE … RENAME TO through the catalog plugin") {
    val wh = Files.createTempDirectory("graft-ren-sql").toString
    spark.conf.set("spark.sql.catalog.renc",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.renc.warehouse", wh)
    org.apache.spark.sql.graftbridge.CatalogBridge.resetCatalogs(spark)
    spark.sql("CREATE TABLE renc.db.a (id BIGINT, v STRING)")
    spark.sql("INSERT INTO renc.db.a VALUES (1, 'x'), (2, 'y')")
    spark.sql("ALTER TABLE renc.db.a RENAME TO db.b")
    assert(spark.sql("SELECT * FROM renc.db.b").count() === 2)
    assert(intercept[Exception](spark.sql("SELECT * FROM renc.db.a").collect())
      .getMessage.toLowerCase.contains("not"))
  }

  test("wire mode: rename moves the server-side authority, data stays on " +
    "shared storage, zero warehouse metadata throughout") {
    val metaRoot = Files.createTempDirectory("graft-ren-meta").toString
    val warehouse = Files.createTempDirectory("graft-ren-wh").toString
    val srv = new CatalogServer(metaRoot).start()
    try {
      val cat = new RemoteLakeCatalog(spark, warehouse, srv.uri)
      val t0 = cat.createTable("db.wold", schema)
      t0.append(df(1L -> "a"))
      val t = cat.renameTable("db.wold", "db.wneu")
      assert(!cat.tableExists("db.wold") && t.toDF.count() === 1)
      assert(Files.exists(Paths.get(metaRoot, "db", "wneu", "v1.json")))
      assert(!Files.exists(Paths.get(metaRoot, "db", "wold", "v1.json")))
      for (p <- Seq("db/wold/metadata", "db/wneu/metadata"))
        assert(!Files.exists(Paths.get(warehouse, p)))
      t.append(df(2L -> "b"))
      assert(t.toDF.count() === 2)
    } finally srv.stop()
  }
}
