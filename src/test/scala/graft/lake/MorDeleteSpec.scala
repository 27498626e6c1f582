package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Merge-on-read positional deletes (Iceberg v2 `write.delete.mode=
  * merge-on-read` / `write.update.mode=merge-on-read`): point DML on a
  * 100 TB table must write O(matched-rows) bytes, not rewrite gigabyte
  * data files. These tests pin the contract:
  *   - scan parity with copy-on-write (the mask is invisible to readers),
  *   - data files byte-untouched by a MoR DELETE/UPDATE,
  *   - metadata counts exact (COUNT(*) fast path stays metadata-only),
  *   - changelog emits each deleted row exactly once (and compaction none),
  *   - compaction / rewrite_position_deletes retires the delete set,
  *   - maintenance (expire / orphan sweep) treats delete files as live,
  *   - concurrent-writer safety: a CoW rewrite planned before a MoR
  *     delete landed must abort, not resurrect the deleted rows.
  */
class MorDeleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshCatalog(): LakeCatalog =
    new LakeCatalog(spark, Files.createTempDirectory("graft-mor").toString)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("v", DoubleType)))

  private def rows(ids: Range, grp: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, grp, i * 1.5)).toDF("id", "grp", "v")
  }

  /** Exactly three files (coalesce(1) per append): ids 0-9 ("a"),
    * 10-19 ("b"), 20-29 ("c") — deterministic stats bounds per file. */
  private def threeFileTable(cat: LakeCatalog, name: String,
                             mode: String = "merge-on-read"): LakeTable = {
    val t = cat.createTable(name, schema)
    t.setProperties(Map("write.delete.mode" -> mode))
    t.append(rows(0 until 10, "a").coalesce(1))
    t.append(rows(10 until 20, "b").coalesce(1))
    t.append(rows(20 until 30, "c").coalesce(1))
    t
  }

  private def dataFilePaths(t: LakeTable): Set[String] =
    t.meta.currentSnapshot.map(_.files.map(_.path).toSet).getOrElse(Set.empty)

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("MoR DELETE: scan parity, zero data files rewritten, one delete file") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t1")
    val before = dataFilePaths(t)
    val v0 = t.meta.version
    t.delete(col("id") === 3 || col("id") === 15)
    val snap = t.meta.currentSnapshot.get
    assert(dataFilePaths(t) === before, "MoR delete must not touch data files")
    assert(snap.deleteFiles.size === 1)
    assert(snap.deleteFiles.head.rowCount === 2)
    assert(snap.deleteFiles.head.counts.values.sum === 2)
    assert(snap.summary("delete-mode") === "merge-on-read")
    assert(ids(t.toDF) === ((0L until 30L).filterNot(i => i == 3 || i == 15)))
    assert(t.meta.version === v0 + 1)
    // filtered read still prunes AND masks
    assert(ids(t.read(filter = Some(col("id") < 10))) ===
      (0L until 10L).filterNot(_ == 3))
  }

  test("metadata counts stay exact: COUNT(*) = Σfile rows − Σdelete rows") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t2")
    t.delete(col("id").isin(1, 2, 11, 21))
    val snap = t.meta.currentSnapshot.get
    val metaCount = snap.files.map(_.rowCount).sum - snap.deleteFiles.map(_.rowCount).sum
    assert(metaCount === 26)
    assert(t.toDF.count() === 26)
    assert(snap.summary("total-records") === "26")
  }

  test("overlapping second DELETE stays disjoint; identical re-run commits nothing") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t3")
    t.delete(col("id") < 5)                 // deletes 0-4
    t.delete(col("id") < 8)                 // must add ONLY 5-7
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.map(_.rowCount).sum === 8)
    assert(ids(t.toDF) === (8L until 30L))
    // re-running the same predicate matches nothing new → no commit
    val v = t.meta.version
    t.delete(col("id") < 8)
    assert(t.meta.version === v, "no-op MoR delete must not commit")
    assert(snap.deleteFiles.map(_.rowCount).sum === 8)
  }

  test("whole-file predicate is still metadata-only (no delete file written)") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t4")
    t.delete(col("id") === 3) // partial → delete entries on file a
    t.delete(col("grp") === "a" || (col("id") >= 10 && col("id") < 20) || col("id") === 25)
    val snap = t.meta.currentSnapshot.get
    // files a & b dropped wholly (stats prove it) — and dropping file a
    // must PRUNE its earlier delete entry; file c gets position deletes
    assert(snap.files.size === 1)
    assert(snap.deleteFiles.flatMap(_.counts.keys).toSet ===
      snap.files.map(f => new Path(f.path).getName).toSet)
    assert(snap.deleteFiles.map(_.rowCount).sum === 1) // only id=25
    assert(ids(t.toDF) === (20L until 30L).filterNot(_ == 25))
  }

  test("time travel reads pre-delete snapshots unmasked") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t5")
    val s0 = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("id") === 7)
    assert(ids(t.read(snapshotId = Some(s0))) === (0L until 30L))
    assert(ids(t.toDF) === (0L until 30L).filterNot(_ == 7))
  }

  test("changelog: MoR delete emits DELETE rows exactly once; compaction emits nothing") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t6")
    val s0 = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("id").isin(4, 14))
    val s1 = t.meta.currentSnapshot.get.snapshotId
    val cl = t.changelog(Some(s0), s1)
    val deleted = cl.filter(col("_change_type") === "DELETE")
    assert(ids(deleted) === Seq(4L, 14L))
    assert(cl.filter(col("_change_type") === "INSERT").count() === 0)
    // compaction applies the mask; logical content unchanged → empty diff
    t.rewritePositionDeletes()
    val s2 = t.meta.currentSnapshot.get.snapshotId
    assert(t.changelog(Some(s1), s2).count() === 0)
    // full-range changelog replays insert+delete consistently
    val full = t.changelog(None, s2)
    assert(full.filter(col("_change_type") === "DELETE").count() === 2)
    assert(full.filter(col("_change_type") === "INSERT").count() === 30)
  }

  test("rewrite_position_deletes rewrites ONLY affected files and clears the delete set") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t7")
    t.delete(col("id") === 12) // only file b affected
    val before = t.meta.currentSnapshot.get.files.map(_.path).toSet
    t.rewritePositionDeletes()
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty)
    val after = snap.files.map(_.path).toSet
    assert((before -- after).size === 1, "exactly the affected file replaced")
    assert((after -- before).size === 1)
    assert(ids(t.toDF) === (0L until 30L).filterNot(_ == 12))
    // stats fast path restored
    assert(MetaAggregate(t.meta, Some(snap), None, Seq(MetaAggregate.MinOf("id"),
      MetaAggregate.MaxOf("id"))).map(_.map(r => (r.getLong(0), r.getLong(1)))) === Some(Seq((0L, 29L))))
    // idempotent: empty delete set → no commit
    val v = t.meta.version
    t.rewritePositionDeletes()
    assert(t.meta.version === v)
  }

  test("rewrite_data_files (compaction) applies the mask and retires entries") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t8")
    t.delete(col("id").isin(0, 10, 20))
    t.rewriteDataFiles(targetSizeBytes = 1L << 30)
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty)
    assert(ids(t.toDF) === (0L until 30L).filterNot(i => i == 0 || i == 10 || i == 20))
    assert(t.toDF.count() === 27)
  }

  test("CoW delete and merge upsert on a masked table never resurrect deleted rows") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t9")
    t.delete(col("id") === 5) // MoR entry on file a
    // switch to CoW and delete another id in the SAME file: the rewrite
    // must read under the mask
    t.setProperties(Map("write.delete.mode" -> "copy-on-write"))
    t.delete(col("id") === 6)
    assert(ids(t.toDF) === (0L until 30L).filterNot(i => i == 5 || i == 6))
    // a key-merge rewriting file b must keep file b's masked rows dead
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") === 13)
    t.mergeByKey("id", Seq(14L), rows(14 until 15, "B"))
    assert(ids(t.toDF) === (0L until 30L).filterNot(i => Set(5L, 6L, 13L)(i)))
    assert(t.toDF.filter(col("id") === 14).head.getString(1) === "B")
  }

  test("MoR UPDATE: O(matched) writes — old files kept, delete entries + new rows") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t10")
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    val before = dataFilePaths(t)
    t.update(Map("v" -> lit(-1.0)), Some(col("id").isin(2, 22)))
    val snap = t.meta.currentSnapshot.get
    assert(before.subsetOf(snap.files.map(_.path).toSet), "old files kept")
    assert(snap.deleteFiles.map(_.rowCount).sum === 2)
    assert(snap.summary("update-mode") === "merge-on-read")
    val got = t.toDF.filter(col("v") === -1.0)
    assert(ids(got) === Seq(2L, 22L))
    assert(t.toDF.count() === 30)
    // changelog with identifier fields pairs the transition as an UPDATE
    val cl = t.changelog(Some(snap.parentId.get), snap.snapshotId, Seq("id"))
    val byType = cl.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("UPDATE_BEFORE" -> 2L, "UPDATE_AFTER" -> 2L))
    // a second MoR update over an already-updated row reads the NEW version
    t.update(Map("v" -> (col("v") * 2)), Some(col("id") === 2))
    assert(t.toDF.filter(col("id") === 2).head.getDouble(2) === -2.0)
    assert(t.toDF.count() === 30)
  }

  test("concurrent MoR delete vs CoW rewrite planned earlier: conflict, not resurrection") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t11")
    val planned = t.meta.currentSnapshot // CoW op plans against this
    t.delete(col("id") === 9) // MoR delete lands first
    // the replayed CoW commit (same file list it planned) must abort: the
    // file-set diff is empty but row-level content changed under it
    val files = planned.get.files
    intercept[CommitConflictException] {
      t.commitReplace("main", files, "delete", Map.empty, base = planned)
    }
    assert(ids(t.toDF) === (0L until 30L).filterNot(_ == 9))
  }

  test("appends share the delete-manifest chunk; reload resolves the mask from disk") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t12")
    t.delete(col("id") === 1)
    t.append(rows(30 until 35, "d"))
    t.append(rows(35 until 40, "e"))
    val snaps = t.meta.snapshots.takeRight(3)
    val chunkNames = snaps.map(_.deleteManifest)
    assert(chunkNames.forall(_.isDefined))
    assert(chunkNames.distinct.size === 1,
      "append snapshots must REUSE the delete-manifest chunk by content address")
    // cold reload (fresh caches) re-inflates deleteFiles from the chunk
    LakeTable.metaCache.clear()
    Manifests.clearCaches()
    val t2 = cat.loadTable("m.t12")
    assert(t2.meta.currentSnapshot.get.deleteFiles.map(_.rowCount).sum === 1)
    assert(ids(t2.toDF) === (0L until 40L).filterNot(_ == 1))
  }

  test("expire/orphan maintenance treats delete files as live until retired") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t13")
    t.delete(col("id") === 8)
    val delPath = new Path(t.meta.currentSnapshot.get.deleteFiles.head.path)
    val fs = delPath.getFileSystem(spark.sessionState.newHadoopConf())
    // orphan sweep with "everything is old enough": live delete file survives
    t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600_000L)
    assert(fs.exists(delPath), "live delete file must survive the orphan sweep")
    assert(ids(t.toDF) === (0L until 30L).filterNot(_ == 8))
    // retire the mask, expire history → the delete file becomes reclaimable
    t.rewritePositionDeletes()
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000L, retainLast = 1)
    assert(!fs.exists(delPath), "retired delete file reclaimed by expire")
    assert(ids(t.toDF) === (0L until 30L).filterNot(_ == 8))
  }

  test("rewrite_delete_files compacts N delete files into one, content unchanged") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t15")
    t.delete(col("id") === 2)
    t.delete(col("id") === 13)
    t.delete(col("id") === 27)
    val snap0 = t.meta.currentSnapshot.get
    assert(snap0.deleteFiles.size === 3)
    val dataBefore = snap0.files.map(_.path).toSet
    t.rewriteDeleteFiles()
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.size === 1, "three delete files compact to one")
    assert(snap.deleteFiles.head.rowCount === 3)
    assert(snap.files.map(_.path).toSet === dataBefore)
    assert(ids(t.toDF) === (0L until 30L).filterNot(i => Set(2L, 13L, 27L)(i)))
    // compacted single file → no-op
    val v = t.meta.version
    t.rewriteDeleteFiles()
    assert(t.meta.version === v)
  }

  test("a WAP branch naming a tag refuses delete-file compaction and appends; the tag stays put") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.tagged")
    t.delete(col("id") === 3)
    t.delete(col("id") === 15)
    assert(t.meta.currentSnapshot.get.deleteFiles.size === 2)
    t.createTag("audit")
    val tagged = t.meta.refs("audit")
    val v0 = t.meta.version
    spark.conf.set("spark.wap.branch", "audit")
    try Seq[() => Any](() => t.rewriteDeleteFiles(), () => t.append(rows(30 until 31, "d")))
      .foreach { op =>
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains("cannot write to tag audit"))
      }
    finally spark.conf.unset("spark.wap.branch")
    assert(t.meta.refs("audit") === tagged)
    assert(t.meta.version === v0)
  }

  test("a large MoR DELETE rolls the position set across >1 delete file; compaction folds them back (r11)") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("m.bigdel", schema)
    // 1000-entry roll target: a 5k-row delete must fan out, never funnel
    // through one task (the coalesce(1) this test exists to forbid)
    t.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.delete.target-records" -> "1000"))
    // four data files × 2500 rows
    for (base <- 0 until 4)
      t.append((0 until 2500).map(i => ((base * 2500 + i).toLong, s"g$base",
        i * 1.0)).toDF("id", "grp", "v").coalesce(1))
    val before = dataFilePaths(t)
    t.delete(col("id") % 2 === 0) // 5000 positions across all 4 files
    val snap = t.meta.currentSnapshot.get
    assert(dataFilePaths(t) === before, "MoR delete must not touch data files")
    assert(snap.deleteFiles.size > 1,
      s"5000 positions at a 1000-record target must roll: got ${snap.deleteFiles.size} file(s)")
    // counts exact: Σ per-file counts == 5000, disjoint across delete files
    assert(snap.deleteFiles.map(_.rowCount).sum === 5000L)
    // read parity + metadata-only COUNT(*) parity
    assert(t.toDF.count() === 5000L)
    assert(ids(t.toDF) === (0L until 10000L).filter(_ % 2 == 1))
    // compaction folds the mask back to ONE file at a larger target
    t.setProperties(Map("write.delete.target-records" -> "10000000"))
    t.rewriteDeleteFiles()
    val after = t.meta.currentSnapshot.get
    assert(after.deleteFiles.size === 1)
    assert(after.deleteFiles.head.rowCount === 5000L)
    assert(ids(t.toDF) === (0L until 10000L).filter(_ % 2 == 1))
  }

  test("rewrite_delete_files prunes entries of dropped data files — no count resurrection (r10)") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t15b")
    // ONE delete file spanning file1 (id 2) and file2 (id 13), plus a
    // second on file3 — both raw parquets outlive file drops
    t.delete(col("id").isin(2, 13))
    t.delete(col("id") === 27)
    assert(t.meta.currentSnapshot.get.deleteFiles.size === 2)
    // drop file1 wholesale (metadata-only CoW delete): the first delete
    // file's METADATA counts are pruned to file2, but its parquet still
    // holds the dead (file1, pos) entry
    t.setProperties(Map("write.delete.mode" -> "copy-on-write"))
    t.delete(col("id") < 10)
    assert(t.meta.currentSnapshot.get.deleteFiles.map(_.rowCount).sum === 2,
      "metadata counts pruned to live files (13, 27)")
    t.rewriteDeleteFiles()
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.size === 1)
    // the merged file must cover LIVE files only — resurrecting the dead
    // file1 entry would inflate rowCount to 3 and under-report COUNT(*)
    assert(snap.deleteFiles.head.rowCount === 2,
      s"dead entries resurrected: ${snap.deleteFiles.head.counts}")
    assert(snap.summary("total-records").toLong === t.toDF.count())
    assert(ids(t.toDF) === (10L until 30L).filterNot(i => i == 13 || i == 27))
  }

  test("position_deletes metadata table lists the masked (file, pos) rows") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t16")
    t.delete(col("id").isin(4, 15))
    val pd = MetadataTables(t, "position_deletes").collect()
    assert(pd.length === 2)
    val names = t.meta.currentSnapshot.get.deleteFiles.flatMap(_.counts.keys).toSet
    assert(pd.map(_.getString(0)).toSet === names)
    assert(pd.map(_.getString(2)).toSet ===
      t.meta.currentSnapshot.get.deleteFiles.map(_.path).toSet)
    // empty on an unmasked table
    t.rewritePositionDeletes()
    assert(MetadataTables(t, "position_deletes").count() === 0)
  }

  test("concurrent MoR deletes from many threads: conflict-retry loses no mask") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t17")
    // 8 writers each MoR-delete a distinct id concurrently; the delete-set
    // divergence check forces losers to replan — every mask must land
    val targets = Seq(1L, 4L, 11L, 14L, 21L, 24L, 7L, 17L)
    val threads = targets.map { id =>
      new Thread(() => {
        LakeTable.withConflictRetry(attempts = 20) {
          t.delete(col("id") === id)
        }
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.map(_.rowCount).sum === targets.size.toLong,
      "every concurrent delete's positions must survive the race")
    assert(ids(t.toDF) === (0L until 30L).filterNot(targets.contains))
    // history is linear: each surviving commit parents the previous
    val byId = t.meta.snapshots.map(s => s.snapshotId -> s).toMap
    var cur = Option(snap)
    var chain = 0
    while (cur.isDefined) { chain += 1; cur = cur.get.parentId.flatMap(byId.get) }
    assert(chain >= targets.size + 3, "one committed snapshot per delete + appends")
  }

  test("all_files / all_delete_files span retained history; expiry shrinks them") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t18")
    t.delete(col("id") === 5)
    t.rewritePositionDeletes() // replaces the masked file, retires the mask
    val allFiles = MetadataTables(t, "all_files")
    val curFiles = MetadataTables(t, "files")
    assert(allFiles.count() > curFiles.count(),
      "history must hold files the current snapshot no longer references")
    val allDels = MetadataTables(t, "all_delete_files").collect()
    assert(allDels.length === 1)
    assert(allDels.head.getString(0) === "position")
    assert(allDels.head.getLong(3) === 1L) // the fullest (pre-prune) count
    assert(MetadataTables(t, "delete_files").count() === 0, "none live now")
    // expiring history makes all_* converge on the live set
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000L, retainLast = 1)
    assert(MetadataTables(t, "all_files").count() === curFiles.count())
    assert(MetadataTables(t, "all_delete_files").count() === 0)
  }

  test("metadata_log_entries: one row per committed metadata version (r9)") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t19") // create + 1 props + 3 appends
    t.delete(col("id") === 5)
    val log = MetadataTables(t, "metadata_log_entries")
      .orderBy("metadata_version").collect()
    assert(log.length === t.meta.version, "one entry per version file on disk")
    assert(log.map(_.getInt(2)).toSeq === (1 to t.meta.version))
    // the last entry records the current snapshot
    assert(log.last.getLong(3) === t.meta.currentSnapshot.get.snapshotId)
    // earlier entries point at earlier (or no) snapshots, monotonically
    val snaps = log.flatMap(r => if (r.isNullAt(3)) None else Some(r.getLong(3)))
    assert(snaps.toSeq === snaps.sorted.toSeq)
  }

  test("WAP: staged MoR delete is invisible until cherry-picked") {
    val cat = freshCatalog()
    val t = threeFileTable(cat, "m.t14")
    t.setProperties(Map("write.wap.enabled" -> "true"))
    spark.conf.set("spark.wap.id", "audit-1")
    try {
      t.delete(col("id") === 17)
      assert(ids(t.toDF) === (0L until 30L), "staged delete invisible on main")
      val stagedId = t.meta.snapshots.last.snapshotId
      assert(t.meta.snapshots.last.staged)
      assert(ids(t.read(snapshotId = Some(stagedId))) ===
        (0L until 30L).filterNot(_ == 17), "auditable via snapshot id")
      t.cherrypick(stagedId)
      assert(ids(t.toDF) === (0L until 30L).filterNot(_ == 17))
    } finally spark.conf.unset("spark.wap.id")
  }

  test("WAP: a staged append cherry-picked after an equality-delete upsert " +
      "on main keeps its rows") {
    import spark.implicits._
    val cat = freshCatalog()
    val t = cat.createTable("m.cp", StructType(Seq(
      StructField("id", LongType), StructField("s", StringType))))
    t.setProperties(Map("write.merge.mode" -> "merge-on-read",
      "write.wap.enabled" -> "true"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    spark.conf.set("spark.wap.id", "cp-1")
    try t.append(Seq((3L, "c")).toDF("id", "s"))
    finally spark.conf.unset("spark.wap.id")
    val staged = t.meta.snapshots.last
    assert(staged.staged)
    t.mergeByKey("id", Seq(3L), Seq((3L, "x")).toDF("id", "s"))
    assert(t.meta.currentSnapshot.get.eqDeleteFiles.nonEmpty,
      "the upsert on main must commit an equality delete")
    // the published files are new to main: they take the publishing
    // snapshot's id, so the earlier equality delete cannot mask them
    t.cherrypick(staged.snapshotId)
    assert(t.toDF.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "x"), (3L, "c")))
  }
}
