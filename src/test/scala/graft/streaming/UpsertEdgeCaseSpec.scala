package graft.streaming

import graft.lake.{LakeCatalog, LakeTable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** Edge shapes of a changelog upsert batch, in both merge modes. The
  * upsert writes its rows without first asking whether there are any
  * (an emptiness probe is a Spark job), discards the zero-row file the
  * writer leaves for an empty input, and learns whether the batch has any
  * key from its bounded key probe. Each case checks the rows, the number
  * of snapshots, and that no zero-row data file is committed or left
  * behind in the table directory. */
class UpsertEdgeCaseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tableSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("seq", LongType)))
  private val batchSchema = StructType(StructField("op", StringType) +: tableSchema.fields)

  private def batch(rows: (String, java.lang.Long, String, Long)*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (op, k, v, s) => Row(op, k, v, s) }: _*), batchSchema)

  /** Rows 1 -> a, 2 -> b in one file and 3 -> c in another. */
  private def table(mode: String): LakeTable = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("graft-upsert-edge").toString)
    val t = cat.createTable("e.t", tableSchema, properties = Map(
      "write.merge.mode" -> mode))
    t.append(batch(("I", 1L, "a", 1L), ("I", 2L, "b", 2L)).drop("op").coalesce(1))
    t.append(batch(("I", 3L, "c", 3L)).drop("op").coalesce(1))
    t
  }

  private def contents(t: LakeTable): Map[Long, String] =
    t.toDF.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** No committed data file is empty, and every data file in the table
    * directory is referenced by some snapshot (a discarded empty upsert
    * file must be deleted, not orphaned). */
  private def assertNoEmptyFiles(t: LakeTable): Unit = {
    val m = t.meta
    val cur = m.currentSnapshot.get
    assert(cur.files.forall(_.rowCount > 0), s"zero-row data file committed: ${cur.files}")
    val referenced = m.snapshots.flatMap(_.files.map(f => new File(f.path.stripPrefix("file:")).getName)).toSet
    val onDisk = new File(new File(t.location.stripPrefix("file:")), "data").listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith("eqdel-") &&
        !n.startsWith("del-")).toSet
    assert(onDisk -- referenced === Set.empty[String], "unreferenced data files left behind")
  }

  for (mode <- Seq("merge-on-read", "copy-on-write")) {
    test(s"$mode: an all-delete batch deletes its keys and adds no data file") {
      val t = table(mode)
      val n0 = t.meta.snapshots.size
      val files0 = t.meta.currentSnapshot.get.files.map(_.path).toSet
      Changelog.mergeChangelog(t, batch(("D", 1L, null, 10L), ("-U", 3L, "c", 11L)),
        "id", "seq", batchId = 1L)
      assert(contents(t) === Map(2L -> "b"))
      assert(t.meta.snapshots.size === n0 + 1)
      val snap = t.meta.currentSnapshot.get
      if (mode == "merge-on-read") {
        assert(snap.eqDeleteFiles.size === 1, "the batch commits one equality delete")
        assert(snap.eqDeleteFiles.head.rowCount === 2L)
        assert(snap.files.map(_.path).toSet === files0, "and no data file")
        assert(snap.summary("added-data-files") === "0")
      } else {
        // only the first file's survivor is rewritten; the second file
        // had no survivor and no upsert file is added
        val added = snap.files.map(_.path).filterNot(files0)
        assert(added.size === 1 && new File(added.head).getName.startsWith("rw-"), added)
      }
      assertNoEmptyFiles(t)
    }

    test(s"$mode: an all-insert batch commits its rows and no empty file") {
      val t = table(mode)
      val n0 = t.meta.snapshots.size
      Changelog.mergeChangelog(t, batch(("I", 4L, "d", 10L), ("I", 5L, "e", 11L)),
        "id", "seq", batchId = 1L)
      assert(contents(t) === Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
      assert(t.meta.snapshots.size === n0 + 1)
      assert(t.meta.currentSnapshot.get.summary("merge-keys") === "2")
      assertNoEmptyFiles(t)
    }

    test(s"$mode: an empty batch commits nothing") {
      val t = table(mode)
      val v0 = t.meta.version
      Changelog.mergeChangelog(t, batch(), "id", "seq", batchId = 1L)
      Changelog.mergeChangelog(t, batch(), "id", "seq")
      assert(t.meta.version === v0)
      assert(contents(t) === Map(1L -> "a", 2L -> "b", 3L -> "c"))
      assertNoEmptyFiles(t)
    }

    test(s"$mode: a batch of only null keys commits nothing") {
      val t = table(mode)
      val v0 = t.meta.version
      Changelog.mergeChangelog(t, batch(("I", null, "n", 10L), ("D", null, null, 11L)),
        "id", "seq", batchId = 1L)
      assert(t.meta.version === v0)
      assert(contents(t) === Map(1L -> "a", 2L -> "b", 3L -> "c"))
      assertNoEmptyFiles(t)
    }
  }

  test("mergeByKeys without batch keys still commits a row-empty batch that carries a summary") {
    // the MV/index refresh pins its watermark this way: the commit must land
    val t = table("merge-on-read")
    val n0 = t.meta.snapshots.size
    val none = batch().drop("op")
    t.mergeByKeys("id", none.select("id"), none, extraSummary = Map("pin" -> "7"))
    assert(t.meta.snapshots.size === n0 + 1)
    assert(t.meta.currentSnapshot.get.summary("pin") === "7")
    assertNoEmptyFiles(t)
  }
}
