package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Selective bin-pack compaction ([[LakeTable.binPack]]): routine
  * small-files maintenance on a 100 TB table must cost O(small-file
  * bytes), never O(table bytes). Contract pinned here:
  *   - only files under the min-input threshold are rewritten; every
  *     other file keeps its exact metadata entry (path byte-identical),
  *   - logical content unchanged (scan parity, exact metadata counts,
  *     changelog emits nothing),
  *   - partition-scoped runs touch only the named partition,
  *   - a lone small file (nothing to merge with) is left alone,
  *   - merge-on-read-masked files are excluded (they belong to
  *     rewrite_position_deletes),
  *   - concurrent appends are never lost (conflict-retry),
  *   - CALL rewrite_data_files(strategy => 'binpack') dispatches here.
  */
class BinPackSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshCatalog(): LakeCatalog =
    new LakeCatalog(spark, Files.createTempDirectory("graft-binpack").toString)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("v", DoubleType)))

  private def rows(ids: Range, grp: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, grp, i * 1.5)).toDF("id", "grp", "v")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def files(t: LakeTable): Seq[DataFile] =
    t.meta.currentSnapshot.map(_.files).getOrElse(Seq.empty)

  /** Partition value of `f` for logical source column `colName` (file
    * partitionValues are keyed by the spec field's physical name). */
  private def partVal(t: LakeTable, f: DataFile, colName: String): Option[String] = {
    val m = t.meta
    m.spec.fields.find(pf => m.schema.byId(pf.sourceId).exists(_.name == colName))
      .flatMap(pf => f.partitionValues.get(pf.physicalName))
  }

  /** One "big" file (ids 0-999) + 4 small single-row-group appends. */
  private def smallFilesTable(cat: LakeCatalog, name: String): LakeTable = {
    val t = cat.createTable(name, schema)
    t.append(rows(0 until 1000, "big").coalesce(1))
    (0 until 4).foreach(i =>
      t.append(rows((1000 + 10 * i) until (1000 + 10 * (i + 1)), "s").coalesce(1)))
    t
  }

  test("merges only small files; the big file keeps its exact entry") {
    val cat = freshCatalog()
    val t = smallFilesTable(cat, "b.t1")
    val before = files(t)
    assert(before.size === 5)
    val big = before.maxBy(_.sizeBytes)
    // threshold between the big file and the small ones
    t.binPack(targetSizeBytes = big.sizeBytes - 1)
    val after = files(t)
    assert(after.size === 2, s"4 small files must become 1: $after")
    assert(after.contains(big), "untouched file must keep its exact metadata entry")
    val packed = after.filterNot(_ == big)
    assert(packed.size === 1)
    assert(packed.head.rowCount === 40L)
    assert(packed.head.addedSnapshotId === t.meta.currentSnapshot.get.snapshotId)
    // scan parity + exact metadata count
    assert(ids(t.toDF) === (0L until 1040L))
    assert(t.meta.currentSnapshot.get.summary("total-records") === "1040")
    assert(t.meta.currentSnapshot.get.summary("binpack-rewritten-files") === "4")
    assert(t.meta.currentSnapshot.get.operation === "replace")
  }

  test("no-op cases commit nothing: all-big table, lone small file") {
    val cat = freshCatalog()
    val t = cat.createTable("b.t2", schema)
    t.append(rows(0 until 500, "a").coalesce(1))
    t.append(rows(500 until 1000, "b").coalesce(1))
    val v0 = t.meta.version
    // both files exceed the threshold → untouched
    t.binPack(targetSizeBytes = 10)
    assert(t.meta.version === v0, "no candidates → no commit")
    // one small file but minInputFiles=2 → untouched (threshold set so
    // only the 1-row file is a candidate, not the two 500-row files)
    t.append(rows(1000 until 1001, "c").coalesce(1))
    val v1 = t.meta.version
    t.binPack(targetSizeBytes = files(t).map(_.sizeBytes).max)
    assert(t.meta.version === v1, "a lone small file has nothing to merge with")
  }

  test("partition-scoped: only the named partition's files are touched") {
    val cat = freshCatalog()
    val t = cat.createTable("b.t3", schema, partitionBy = Seq("grp" -> "identity"))
    (0 until 3).foreach(i => t.append(rows(i * 10 until (i + 1) * 10, "a").coalesce(1)))
    (0 until 3).foreach(i => t.append(rows(100 + i * 10 until 100 + (i + 1) * 10, "b").coalesce(1)))
    val before = files(t)
    assert(before.size === 6)
    val bFiles = before.filter(f => partVal(t, f, "grp").contains("b")).toSet
    t.binPack(partitionFilter = Map("grp" -> "a"))
    val after = files(t)
    assert(after.count(f => partVal(t, f, "grp").contains("a")) === 1)
    assert(after.filter(f => partVal(t, f, "grp").contains("b")).toSet === bFiles,
      "the other partition must stay byte-untouched")
    assert(ids(t.toDF) === ((0L until 30L) ++ (100L until 130L)))
    // packed output lands in the right partition dir (metadata truth)
    val packed = after.find(f => partVal(t, f, "grp").contains("a")).get
    assert(packed.rowCount === 30L)
  }

  test("unscoped run packs per partition group, never across") {
    val cat = freshCatalog()
    val t = cat.createTable("b.t4", schema, partitionBy = Seq("grp" -> "identity"))
    (0 until 2).foreach(i => t.append(rows(i * 10 until (i + 1) * 10, "a").coalesce(1)))
    (0 until 2).foreach(i => t.append(rows(100 + i * 10 until 100 + (i + 1) * 10, "b").coalesce(1)))
    t.binPack()
    val after = files(t)
    assert(after.size === 2, s"one packed file per partition: $after")
    assert(after.flatMap(f => partVal(t, f, "grp")).sorted === Seq("a", "b"))
    assert(after.map(_.rowCount).sum === 40L)
    assert(ids(t.toDF) === ((0L until 20L) ++ (100L until 120L)))
  }

  test("merge-on-read-masked files are excluded from packing") {
    val cat = freshCatalog()
    val t = cat.createTable("b.t5", schema,
      properties = Map("write.delete.mode" -> "merge-on-read"))
    (0 until 3).foreach(i => t.append(rows(i * 10 until (i + 1) * 10, "s").coalesce(1)))
    t.delete(col("id") === 5) // masks the first file
    val masked = t.meta.currentSnapshot.get.deleteFiles.flatMap(_.counts.keys).toSet
    assert(masked.size === 1)
    t.binPack()
    val after = files(t)
    // the masked file survives untouched; the two clean ones merged
    assert(after.size === 2)
    assert(after.exists(f => masked.contains(new org.apache.hadoop.fs.Path(f.path).getName)),
      "masked file must not be packed (that's rewrite_position_deletes' job)")
    assert(t.meta.currentSnapshot.get.deleteFiles.map(_.rowCount).sum === 1L,
      "the delete mask must survive the compaction commit")
    assert(ids(t.toDF) === (0L until 30L).filterNot(_ == 5L))
  }

  test("changelog emits nothing for a binpack commit") {
    val cat = freshCatalog()
    val t = smallFilesTable(cat, "b.t6")
    val head0 = t.meta.currentSnapshot.get.snapshotId
    t.binPack(targetSizeBytes = files(t).map(_.sizeBytes).max - 1)
    val head1 = t.meta.currentSnapshot.get.snapshotId
    assert(head1 !== head0)
    assert(t.changelog(Some(head0), head1).count() === 0L,
      "compaction changes no logical content — the changelog must be empty")
  }

  test("concurrent appends during binpack: nothing lost either way") {
    val cat = freshCatalog()
    val t = smallFilesTable(cat, "b.t7")
    val big = files(t).maxBy(_.sizeBytes)
    val appender = new Thread(() => {
      (0 until 5).foreach { i =>
        LakeTable.withConflictRetry(attempts = 20) {
          t.append(rows((2000 + i) until (2001 + i), "x").coalesce(1)); ()
        }
      }
    })
    appender.start()
    LakeTable.withConflictRetry(attempts = 20) {
      t.binPack(targetSizeBytes = big.sizeBytes - 1); ()
    }
    appender.join(120000)
    assert(ids(t.toDF) === ((0L until 1040L) ++ (2000L until 2005L)),
      "every concurrently appended row and every packed row must survive")
    assert(t.meta.currentSnapshot.get.summary.contains("total-records"))
  }

  test("CALL rewrite_data_files(strategy => 'binpack') dispatches with options") {
    val cat = freshCatalog()
    val t = cat.createTable("b.t8", schema, partitionBy = Seq("grp" -> "identity"))
    (0 until 2).foreach(i => t.append(rows(i * 10 until (i + 1) * 10, "a").coalesce(1)))
    (0 until 2).foreach(i => t.append(rows(100 + i * 10 until 100 + (i + 1) * 10, "b").coalesce(1)))
    t.binPack(targetSizeBytes = 512L * 1024 * 1024,
      partitionFilter = LakeTable.parsePartitionWhere("grp=a"))
    val after = files(t)
    assert(after.count(f => partVal(t, f, "grp").contains("a")) === 1)
    assert(after.count(f => partVal(t, f, "grp").contains("b")) === 2)
    assert(ids(t.toDF) === ((0L until 20L) ++ (100L until 120L)))
  }

  test("sortBy keeps packed output sort-clustered: rows in file order, tight bounds") {
    val cat = freshCatalog()
    val t = cat.createTable("b.t10", schema)
    // small appends with INTERLEAVED id ranges — unpacked, each file's
    // [min,max] id bounds overlap every other's
    t.append(rows(0 until 10, "s").coalesce(1))
    t.append(rows(20 until 30, "s").coalesce(1))
    t.append(rows(10 until 20, "s").coalesce(1))
    t.append(rows(30 until 40, "s").coalesce(1))
    t.binPack(sortBy = Seq("id"))
    val after = files(t)
    assert(after.size === 1)
    // physical row order inside the packed file is sorted (what keeps
    // parquet row-group/footer bounds tight for range pruning)
    val physical = spark.read.parquet(after.head.path)
    val idPhys = physical.columns.head // c1 = id
    val inOrder = physical.select(idPhys).collect().map(_.getLong(0)).toSeq
    assert(inOrder === inOrder.sorted, "packed file must be internally sorted")
    assert(ids(t.toDF) === (0L until 40L))
  }

  test("two racing binPacks: one wins, the loser re-plans or no-ops, content intact") {
    val cat = freshCatalog()
    val t = smallFilesTable(cat, "b.t12")
    val big = files(t).maxBy(_.sizeBytes)
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        LakeTable.withConflictRetry(attempts = 20) {
          t.binPack(targetSizeBytes = big.sizeBytes - 1); ()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    // content identical; live files compacted exactly once (the loser
    // either re-planned over an already-compact table — a no-op — or
    // packed the winner's leftovers, which there are none of here)
    assert(ids(t.toDF) === (0L until 1040L))
    assert(files(t).size === 2, s"exactly big + packed expected: ${files(t)}")
    assert(t.meta.currentSnapshot.get.summary("total-records") === "1040")
  }

  test("write.target-file-size-bytes rolls oversized task outputs at ~target (r9)") {
    val cat = freshCatalog()
    val t = cat.createTable("b.t11", schema)
    // first append seeds the bytes/row estimate from footer stats
    t.append(rows(0 until 1000, "s").coalesce(1))
    val seed = files(t).head
    val bytesPerRow = seed.sizeBytes / seed.rowCount
    // target ≈ 1000 rows worth of bytes; a 5000-row single-partition
    // append must roll into ~5 files instead of one giant file
    t.setProperties(Map("write.target-file-size-bytes" ->
      (bytesPerRow * 1000).toString))
    t.append(rows(10000 until 15000, "s").coalesce(1))
    val appended = files(t).filterNot(_ == seed)
    assert(appended.size >= 4 && appended.size <= 7,
      s"5000 rows at a 1000-row target must roll into ~5 files: ${appended.map(_.rowCount)}")
    assert(appended.map(_.rowCount).sum === 5000L)
    assert(appended.forall(_.rowCount <= 1100),
      "no rolled file may meaningfully exceed the record cap")
    assert(ids(t.toDF) === ((0L until 1000L) ++ (10000L until 15000L)))
  }

  test("time travel to the pre-binpack snapshot still reads the old files") {
    val cat = freshCatalog()
    val t = smallFilesTable(cat, "b.t9")
    val head0 = t.meta.currentSnapshot.get.snapshotId
    t.binPack(targetSizeBytes = files(t).map(_.sizeBytes).max - 1)
    assert(ids(t.read(snapshotId = Some(head0))) === (0L until 1040L))
  }

  test("rewrite_data_files(where) (r16): only may-match files rewritten " +
    "— others keep exact entries; content unchanged; the slice can " +
    "re-sort without an O(table) rewrite; masked files excluded") {
    val cat = freshCatalog()
    val t = cat.createTable("b.w1", schema)
    // three appends with disjoint id ranges → per-file id bounds
    t.append(rows(0 until 400, "a").coalesce(1))
    t.append(rows(400 until 800, "b").coalesce(1))
    t.append(rows(800 until 1200, "c").coalesce(1))
    val before = files(t)
    assert(before.size === 3)
    // scope: only the id<400 file may match (per-file id bounds disjoint)
    t.rewriteDataFiles(sortBy = Seq("id"),
      where = Some(col("id") < 150L))
    val after = files(t)
    // the two non-matching files keep their EXACT metadata entries
    val keptPaths = after.map(_.path).toSet
    assert(before.count(f => keptPaths.contains(f.path)) === 2,
      s"exactly the two out-of-range files stay; got ${after.map(_.path)}")
    assert(ids(t.toDF) === (0L until 1200L), "content unchanged")
    val summary = t.meta.currentSnapshot.get.summary
    assert(summary("where-rewritten-files") === "1")
    assert(summary("sort-order") === "id")
    // no-op predicate → zero commits
    val v0 = t.meta.version
    t.rewriteDataFiles(where = Some(col("id") > 999999L))
    assert(t.meta.version === v0, "no may-match files ⇒ no commit")
    // MoR-masked file is excluded even when its stats match
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") === 500L)
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    val v1 = t.meta.version
    t.rewriteDataFiles(where = Some(col("id") === 500L))
    assert(t.meta.version === v1,
      "masked file must be excluded (rewrite_position_deletes' job)")
    assert(ids(t.toDF) === ((0L until 1200L).filterNot(_ == 500L)))
    // predicate-scoped rewrite over a SQL predicate string
    t.rewriteDataFiles(where = Some(expr("id >= 800")))
    assert(ids(t.toDF) === ((0L until 1200L).filterNot(_ == 500L)))
    assert(t.meta.currentSnapshot.get.summary("where-rewritten-files") === "1")
  }
}
