package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Equality delete files (Iceberg v2 equality deletes — the Flink/CDC
  * upsert mechanism the reference runs, IcebergStream.java:118
  * equalityFieldColumns + upsert mode): with table property
  * `write.merge.mode=merge-on-read`, a key-merge batch commits as ONE
  * equality delete file (the batch's keys mask every strictly-older row
  * version) plus the appended upserts — O(batch) writes, zero data-file
  * rewrites. These tests pin:
  *   - read parity with the copy-on-write merge on the same batches,
  *   - sequence semantics (addedSnapshotId): an upsert's own rows survive
  *     its own delete; appends AFTER a delete are never masked,
  *   - exactness gates off (COUNT/MIN-MAX/stats can't vouch under a mask),
  *   - changelog transitions (UPDATE pairs / pure DELETE) emitted once,
  *   - compaction retiring the mask and restoring the fast paths,
  *   - schema rename survival (keys are stored by column id),
  *   - maintenance + persistence (chunk reuse, reload, orphan safety).
  */
class EqualityDeleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshCatalog(): LakeCatalog =
    new LakeCatalog(spark, Files.createTempDirectory("graft-eqdel").toString)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def rows(kv: (Long, String)*): DataFrame = {
    import spark.implicits._
    kv.toSeq.toDF("id", "v")
  }

  private def contents(t: LakeTable): Set[(Long, String)] =
    t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def morTable(cat: LakeCatalog, name: String): LakeTable = {
    val t = cat.createTable(name, schema)
    t.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    t.append(rows(1L -> "a1", 2L -> "b1", 3L -> "c1").coalesce(1))
    t
  }

  test("MoR merge: parity with CoW merge, zero data files rewritten") {
    val cat = freshCatalog()
    val mor = morTable(cat, "e.mor")
    val cow = cat.createTable("e.cow", schema)
    cow.append(rows(1L -> "a1", 2L -> "b1", 3L -> "c1").coalesce(1))
    val before = mor.meta.currentSnapshot.get.files.map(_.path).toSet
    val batchKeys = Seq[Any](1L, 4L)
    val upserts = rows(1L -> "a2", 4L -> "d1")
    mor.mergeByKey("id", batchKeys, upserts)
    cow.mergeByKey("id", batchKeys, upserts)
    assert(contents(mor) === contents(cow))
    assert(contents(mor) === Set(1L -> "a2", 2L -> "b1", 3L -> "c1", 4L -> "d1"))
    val snap = mor.meta.currentSnapshot.get
    assert(before.subsetOf(snap.files.map(_.path).toSet),
      "merge-on-read upsert must not rewrite existing data files")
    assert(snap.eqDeleteFiles.size === 1)
    assert(snap.eqDeleteFiles.head.rowCount === 2) // keys {1, 4}
    assert(snap.summary("merge-mode") === "merge-on-read")
    assert(snap.summary("has-equality-deletes") === "true")
  }

  test("sequence semantics: own upserts survive, successive upserts win, later appends unmasked") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.seq")
    t.mergeByKey("id", Seq[Any](1L), rows(1L -> "a2"))
    assert(contents(t).contains(1L -> "a2"))
    t.mergeByKey("id", Seq[Any](1L), rows(1L -> "a3"))
    assert(contents(t) === Set(1L -> "a3", 2L -> "b1", 3L -> "c1"))
    // pure delete (key with no re-insert) removes the row
    t.mergeByKey("id", Seq[Any](2L), rows())
    assert(contents(t) === Set(1L -> "a3", 3L -> "c1"))
    // a plain append AFTER the delete re-introduces the key: the existing
    // (strictly older) equality delete must NOT mask it
    t.append(rows(2L -> "b-new").coalesce(1))
    assert(contents(t) === Set(1L -> "a3", 2L -> "b-new", 3L -> "c1"))
  }

  test("exactness gates off under an equality mask, restored by compaction") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.gates")
    t.mergeByKey("id", Seq[Any](3L), rows(3L -> "c2"))
    val masked = t.meta.currentSnapshot.get
    assert(masked.eqDeleteFiles.nonEmpty)
    assert(MetaAggregate(t.meta, Some(masked), None,
      Seq(MetaAggregate.MinOf("id"), MetaAggregate.MaxOf("id"))) === None,
      "stats cannot vouch for MIN/MAX under an equality mask")
    assert(t.toDF.count() === 3)
    t.rewritePositionDeletes()
    val clean = t.meta.currentSnapshot.get
    assert(clean.eqDeleteFiles.isEmpty)
    assert(MetaAggregate(t.meta, Some(clean), None, Seq(MetaAggregate.MinOf("id"),
      MetaAggregate.MaxOf("id"))).map(_.map(r => (r.getLong(0), r.getLong(1)))) === Some(Seq((1L, 3L))))
    assert(contents(t) === Set(1L -> "a1", 2L -> "b1", 3L -> "c2"))
  }

  test("compaction rewrites ONLY maskable (strictly older) files") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.compact")
    t.mergeByKey("id", Seq[Any](1L), rows(1L -> "a2"))
    // this append postdates the delete — it must survive compaction intact
    t.append(rows(9L -> "z1").coalesce(1))
    val snap = t.meta.currentSnapshot.get
    val newer = snap.files.filter(f =>
      snap.eqDeleteFiles.forall(_.addedAt <= f.addedSnapshotId)).map(_.path).toSet
    assert(newer.nonEmpty)
    t.rewritePositionDeletes()
    val after = t.meta.currentSnapshot.get.files.map(_.path).toSet
    assert(newer.subsetOf(after), "files newer than every delete are not rewritten")
    assert(contents(t) === Set(1L -> "a2", 2L -> "b1", 3L -> "c1", 9L -> "z1"))
  }

  test("changelog: upsert emits UPDATE pair, pure delete emits DELETE, exactly once") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.cdc")
    val s0 = t.meta.currentSnapshot.get.snapshotId
    t.mergeByKeys("id", rows(1L -> "x", 2L -> "x").select("id"),
      rows(1L -> "a2")) // key 1 updated, key 2 deleted
    val s1 = t.meta.currentSnapshot.get.snapshotId
    val cl = t.changelog(Some(s0), s1, identifierFields = Seq("id"))
    val events = cl.select("_change_type", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(events === Set(
      ("UPDATE_BEFORE", 1L, "a1"), ("UPDATE_AFTER", 1L, "a2"),
      ("DELETE", 2L, "b1")))
    // compaction is changelog-silent (logical content unchanged)
    t.rewritePositionDeletes()
    val s2 = t.meta.currentSnapshot.get.snapshotId
    assert(t.changelog(Some(s1), s2).count() === 0)
  }

  test("mixing modes: positional MoR delete on an equality-masked table never resurrects") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.mixed")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.mergeByKey("id", Seq[Any](1L), rows(1L -> "a2")) // equality-mask a1
    // positional MoR delete of a LIVE row in the same original file
    t.delete(col("v") === "b1")
    assert(contents(t) === Set(1L -> "a2", 3L -> "c1"))
    // the positional delete wrote entries only for live rows: the
    // equality-dead row (1,"a1") was not re-deleted positionally
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.map(_.rowCount).sum === 1)
    // full compaction applies both masks at once
    t.rewritePositionDeletes()
    assert(contents(t) === Set(1L -> "a2", 3L -> "c1"))
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    assert(t.meta.currentSnapshot.get.eqDeleteFiles.isEmpty)
  }

  test("rename of the key column: mask still applies (keys stored by column id)") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.rename")
    t.mergeByKey("id", Seq[Any](2L), rows(2L -> "b2"))
    t.renameColumn("id", "doc_id")
    val got = t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set(1L -> "a1", 2L -> "b2", 3L -> "c1"))
    assert(t.toDF.columns.toSeq === Seq("doc_id", "v"))
  }

  test("concurrent equality delete vs stale-planned rewrite: conflict, not resurrection") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.conflict")
    val planned = t.meta.currentSnapshot
    t.mergeByKey("id", Seq[Any](1L), rows(1L -> "a2"))
    intercept[CommitConflictException] {
      t.commitReplace("main", planned.get.files, "delete", Map.empty, base = planned)
    }
    assert(contents(t) === Set(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }

  test("persistence: delete-manifest chunk shared across appends, cold reload resolves") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.persist")
    t.mergeByKey("id", Seq[Any](1L), rows(1L -> "a2"))
    t.append(rows(7L -> "g1").coalesce(1))
    t.append(rows(8L -> "h1").coalesce(1))
    val last3 = t.meta.snapshots.takeRight(3).map(_.deleteManifest)
    assert(last3.forall(_.isDefined))
    assert(last3.distinct.size === 1,
      "appends must reuse the delete-manifest chunk by content address")
    LakeTable.metaCache.clear()
    Manifests.clearCaches()
    val t2 = cat.loadTable("e.persist")
    val snap = t2.meta.currentSnapshot.get
    assert(snap.eqDeleteFiles.size === 1)
    assert(snap.eqDeleteFiles.head.addedAt > 0)
    assert(contents(t2) === Set(1L -> "a2", 2L -> "b1", 3L -> "c1",
      7L -> "g1", 8L -> "h1"))
  }

  test("maintenance: live equality delete file survives orphan sweep; retired file reclaimed") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.maint")
    t.mergeByKey("id", Seq[Any](1L), rows(1L -> "a2"))
    val delPath = new Path(t.meta.currentSnapshot.get.eqDeleteFiles.head.path)
    val fs = delPath.getFileSystem(spark.sessionState.newHadoopConf())
    t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600_000L)
    assert(fs.exists(delPath), "live equality delete must survive the orphan sweep")
    t.rewritePositionDeletes()
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000L, retainLast = 1)
    assert(!fs.exists(delPath), "retired equality delete reclaimed by expire")
    assert(contents(t) === Set(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }

  test("convert_equality_deletes: minor compaction — positions materialized, " +
    "no data rewritten, COUNT exact again") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.convert")
    t.mergeByKey("id", Seq[Any](1L), rows(1L -> "a2")) // update key 1
    t.mergeByKey("id", Seq[Any](3L), rows())           // pure-delete key 3
    val before = t.meta.currentSnapshot.get.files.map(_.path).toSet
    t.convertEqualityDeletes()
    val snap = t.meta.currentSnapshot.get
    assert(snap.eqDeleteFiles.isEmpty, "equality set retired")
    assert(snap.files.map(_.path).toSet === before, "zero data files rewritten")
    // killed rows: old (1,a1) and (3,c1) → 2 positional entries, exact
    // 4 physical rows (3 original + 1 upserted version) − 2 killed = 2 live
    assert(snap.deleteFiles.map(_.rowCount).sum === 2)
    assert(snap.summary("total-records") === "2")
    assert(contents(t) === Set(1L -> "a2", 2L -> "b1", 3L -> "c1") - (3L -> "c1"))
    // stats MIN/MAX still gated (positional mask remains), COUNT is exact
    assert(t.toDF.count() === 2)
    // idempotent no-op on a table with no equality deletes
    val v = t.meta.version
    t.convertEqualityDeletes()
    assert(t.meta.version === v)
    // and the full rewrite clears everything
    t.rewritePositionDeletes()
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    assert(contents(t) === Set(1L -> "a2", 2L -> "b1"))
  }

  test("streaming CDC ingest path: mergeChangelog on a merge-on-read table") {
    val cat = freshCatalog()
    val t = morTable(cat, "e.stream")
    import spark.implicits._
    val batch = Seq(
      ("U", 1L, "a2", 10L), ("D", 2L, "b1", 11L), ("I", 5L, "e1", 12L)
    ).toDF("op", "id", "v", "seq")
    graft.streaming.Changelog.mergeChangelog(t, batch, key = "id", seqCol = "seq",
      batchId = 0L, writerId = "w1")
    assert(contents(t) === Set(1L -> "a2", 3L -> "c1", 5L -> "e1"))
    // batch replay (exactly-once guard) commits nothing
    val v = t.meta.version
    graft.streaming.Changelog.mergeChangelog(t, batch, key = "id", seqCol = "seq",
      batchId = 0L, writerId = "w1")
    assert(t.meta.version === v)
    // the commit was O(batch): one equality delete + one appended file
    val snap = t.meta.currentSnapshot.get
    assert(snap.eqDeleteFiles.size === 1)
    assert(snap.summary("merge-mode") === "merge-on-read")
  }
}
