package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** Randomized equivalence of `convertEqualityDeletes` with its defining
  * set difference. The conversion computes the killed positions directly
  * (one masked scan semi-joined to sequence-tagged key sets); the
  * definition it must match, computed here from the table's own mask
  * helpers, is
  *
  *   killed = candidate rows live under the POSITIONAL mask only
  *            EXCEPT ALL rows live under BOTH masks
  *
  * over `(_gd_file, _gd_pos)`. Each seed builds a random history that
  * mixes the shapes the semi-join form must get right: several mask
  * classes (appends and upserts interleaved), hot keys repeated across
  * equality-delete files, null keys in the table, a key column renamed
  * between batches, a second key layout (upserts keyed on another
  * column), and positional deletes read through deletion vectors or the
  * anti-join fallback. The written positions must equal the definition
  * exactly — no position lost, none added, none written twice — and the
  * table must read the same before and after. */
class EqualityConversionPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("k2", IntegerType),
    StructField("v", StringType)))

  private def frame(rows: Seq[Row], idName: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(schema.fields.updated(0, StructField(idName, LongType))))

  /** A random row: ids drawn from a small domain (hot keys repeat across
    * batches), one in ten ids and k2s null. */
  private def row(rnd: Random, tag: Int): Row = Row(
    if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(60).toLong),
    if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(12)),
    s"t$tag")

  /** The killed positions by definition, and the candidate-file count. */
  private def definition(t: LakeTable): Set[(String, Long)] = {
    val m = t.meta
    val snap = m.currentSnapshot
    val eqDels = snap.get.eqDeleteFiles
    val candidates = snap.get.files.filter(f => eqDels.exists(_.addedAt > f.addedSnapshotId))
    val cols = Seq(col("_gd_file"), col("_gd_pos"))
    val posOnly = t.maskPositions(m, snap, candidates, withMeta = true).select(cols: _*)
    val both = t.liveRows(m, snap, candidates, withMeta = true).select(cols: _*)
    val killed = posOnly.exceptAll(both).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(killed.length === killed.toSet.size, "the definition holds each position once")
    killed.toSet
  }

  private def contents(t: LakeTable): Seq[Row] =
    t.toDF.collect().toSeq.sortBy(_.toString)

  private def runSeed(seed: Int): Unit = {
    val rnd = new Random(seed)
    val cat = new LakeCatalog(spark, Files.createTempDirectory("graft-eqconv").toString)
    val t = cat.createTable("p.t", schema, properties = Map(
      "write.merge.mode" -> "merge-on-read",
      "write.delete.mode" -> "merge-on-read"))
    var idName = "id"
    var tag = 0
    def rows(n: Int): Seq[Row] = (0 until n).map { _ => tag += 1; row(rnd, tag) }
    t.append(frame(rows(80), idName).coalesce(2))
    var renamed = false
    var secondLayout = false
    (0 until 7).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 => t.append(frame(rows(10 + rnd.nextInt(20)), idName).coalesce(1))
        case 2 =>
          // positional delete: one k2 value's rows
          t.delete(col("k2") === rnd.nextInt(12))
        case 3 if !renamed =>
          val to = idName + "_r"
          t.renameColumn(idName, to)
          idName = to
          renamed = true
        case 4 | 5 if !secondLayout || rnd.nextBoolean() =>
          // a second key layout: upsert keyed on k2
          val ups = frame(rows(1 + rnd.nextInt(6)), idName)
          t.mergeByKeys("k2", ups.select("k2"), ups)
          secondLayout = true
        case _ =>
          // upsert keyed on the id column; a hot key set repeats, some
          // keys are deleted only (keys without an upsert row)
          val ups = frame(rows(3 + rnd.nextInt(15)), idName)
          val extra = frame((0 until 3).map(_ => Row(
            java.lang.Long.valueOf(rnd.nextInt(8).toLong), null, "x")), idName)
          t.mergeByKeys(idName, ups.select(idName).union(extra.select(idName)), ups)
      }
    }
    // at least one equality delete on the id column, always
    val last = frame(rows(5), idName)
    t.mergeByKeys(idName, last.select(idName), last)
    val before = t.meta.currentSnapshot.get
    assert(before.eqDeleteFiles.nonEmpty)
    val want = definition(t)
    val rowsBefore = contents(t)
    t.convertEqualityDeletes()
    val after = t.meta.currentSnapshot.get
    assert(after.eqDeleteFiles.isEmpty)
    val added = after.deleteFiles.filterNot(d => before.deleteFiles.exists(_.path == d.path))
    val got =
      if (added.isEmpty) Seq.empty[(String, Long)]
      else spark.read.schema(LakeTable.DeleteEntrySchema).parquet(added.map(_.path): _*)
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    val layouts = before.eqDeleteFiles.map(_.keyIds).distinct.size
    val classes = before.files.map(f => before.eqDeleteFiles.count(_.addedAt > f.addedSnapshotId))
      .filter(_ > 0).distinct.size
    withClue(s"seed $seed ($classes mask classes, $layouts key layouts, renamed=$renamed): ") {
      assert(got.size === got.toSet.size, "a position written twice")
      assert(got.toSet === want)
      assert(added.map(_.rowCount).sum === want.size.toLong)
      assert(contents(t) === rowsBefore)
    }
  }

  test("convertEqualityDeletes writes exactly posOnly EXCEPT ALL bothMasks (seeded histories)") {
    (1 to 8).foreach { seed =>
      // odd seeds read positional masks through the anti-join fallback
      if (seed % 2 == 1) spark.conf.set(DeleteVectors.ReadConf, "false")
      try runSeed(seed)
      finally spark.conf.unset(DeleteVectors.ReadConf)
    }
  }

  test("two key layouts over one row: the position is written once") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("graft-eqconv").toString)
    val t = cat.createTable("p.two", schema, properties = Map(
      "write.merge.mode" -> "merge-on-read"))
    t.append(frame(Seq(Row(1L, 10, "a"), Row(2L, 20, "b"), Row(null, 30, "c")), "id").coalesce(1))
    // both upserts' key sets match row (1, 10): once by id, once by k2
    t.mergeByKeys("id", frame(Seq(Row(1L, null, "x")), "id").select("id"),
      frame(Seq.empty, "id"))
    t.mergeByKeys("k2", frame(Seq(Row(null, 10, "y")), "id").select("k2"),
      frame(Seq.empty, "id"))
    val want = definition(t)
    assert(want.size === 1)
    t.convertEqualityDeletes()
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.map(_.rowCount).sum === 1L)
    assert(contents(t).map(_.getString(2)) === Seq("b", "c"))
  }
}
