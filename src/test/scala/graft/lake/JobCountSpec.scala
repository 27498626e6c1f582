package graft.lake

import graft.{ExtensionsSession, JobTrace}
import graft.streaming.Changelog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** Spark-job budgets of the merge-on-read CDC path and of a small SQL
  * MERGE. At these sizes a job costs a fixed ~70-90 ms of driver and
  * codegen CPU whatever it reads, so the number of jobs IS the cost of a
  * small upsert, a point lookup or a delete-mask conversion. Each test
  * counts the jobs one operation starts ([[graft.JobTrace]]) and pins the
  * budget, so a change that silently re-adds a probe, an `isEmpty` or a
  * distinct shuffle fails here rather than in a benchmark, naming where
  * each job came from.
  *
  * The CDC table mirrors a keyed CDC target: merge-on-read upserts, a
  * manifest bloom on the key, 5,000 seeded rows in one file. */
class JobCountSpec extends AnyFunSuite with JobTrace {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("seq", LongType)))

  private def cdcTable(name: String): LakeTable = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("graft-jobs").toString)
    val t = cat.createTable(name, schema, properties = Map(
      BloomSkip.ColumnsKey -> "id",
      "write.merge.mode" -> "merge-on-read"))
    import spark.implicits._
    t.append((0L until 5000L).map(k => (k, s"v$k", 0L)).toDF("id", "v", "seq").coalesce(1))
    t
  }

  private val batchSchema = StructType(StructField("op", StringType) +: schema.fields)

  /** A 250-key changelog batch: inserts of fresh keys, updates (-U/U
    * pairs) and deletes of live keys, a few keys changed twice. */
  private def batch(rnd: Random, firstNew: Long, seq0: Long): DataFrame = {
    var seq = seq0
    val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var fresh = firstNew
    while (keys.size < 250) {
      seq += 2
      rnd.nextInt(3) match {
        case 0 => out += Row(Changelog.Insert, fresh, s"n$fresh", seq); keys += fresh; fresh += 1
        case 1 =>
          val k = rnd.nextInt(5000).toLong
          out += Row(Changelog.Delete, k, null, seq); keys += k
        case _ =>
          val k = rnd.nextInt(5000).toLong
          out += Row(Changelog.UpdateBefore, k, null, seq)
          out += Row(Changelog.UpdateAfter, k, s"u$seq", seq + 1); keys += k
          if (rnd.nextInt(10) == 0) out += Row(Changelog.UpdateAfter, k, s"w$seq", seq + 2)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*), batchSchema)
  }

  /** Four merged batches: four live equality deletes, four mask classes. */
  private def withFourBatches(name: String): LakeTable = {
    val t = cdcTable(name)
    val rnd = new Random(7)
    (0 until 4).foreach { b =>
      Changelog.mergeChangelog(t, batch(rnd, 10000L + 1000L * b, 100000L * (b + 1)),
        "id", "seq", batchId = b.toLong)
    }
    assert(t.meta.currentSnapshot.get.eqDeleteFiles.size === 4)
    t
  }

  // the last-wins shuffle, the materialization of the cached batch, the
  // key probe, the upsert write, the equality-delete write and the
  // manifest-bloom build
  test("a 250-key merge-on-read mergeChangelog batch runs at most 6 Spark jobs") {
    val t = cdcTable("j.merge")
    val rnd = new Random(11)
    Changelog.mergeChangelog(t, batch(rnd, 10000L, 100000L), "id", "seq", batchId = 0L)
    val before = t.meta.version
    val (_, jobs) = jobsOf {
      Changelog.mergeChangelog(t, batch(rnd, 20000L, 200000L), "id", "seq", batchId = 1L)
    }
    assert(t.meta.version === before + 1, "the batch commits once")
    assert(t.meta.currentSnapshot.get.summary("merge-keys") === "250")
    assertJobs(jobs, 6, "a 250-key MoR merge batch")
  }

  // the per-file entry count (key broadcast, scan map, result), the
  // delete-file write (key broadcast, write), the deletion-vector build
  test("convertEqualityDeletes over four live equality deletes runs at most 6 Spark jobs") {
    val t = withFourBatches("j.convert")
    val want = t.toDF.collect().toSet
    val (_, jobs) = jobsOf(t.convertEqualityDeletes())
    assert(t.meta.currentSnapshot.get.eqDeleteFiles.isEmpty)
    assert(t.toDF.collect().toSet === want)
    assertJobs(jobs, 6, "convertEqualityDeletes")
  }

  // the key-set broadcast and the masked scan
  test("a point read(filter) on a table with live equality deletes runs at most 2 Spark jobs") {
    val t = withFourBatches("j.read")
    // the key the last batch updated: its old version sits in a masked
    // older file, its new one in the newest, unmasked file
    val k = 7L
    Changelog.mergeChangelog(t, spark.createDataFrame(java.util.Arrays.asList(
      Row(Changelog.UpdateBefore, k, null, 900000L),
      Row(Changelog.UpdateAfter, k, "last", 900001L)), batchSchema),
      "id", "seq", batchId = 4L)
    val (rows, jobs) = jobsOf(t.read(filter = Some(col("id") === k)).collect())
    assert(rows.map(_.getString(1)).toSeq === Seq("last"))
    assertJobs(jobs, 2, "a point lookup under equality deletes")
  }

  /** A session with GraftExtensions (SQL MERGE INTO is translated only
    * there) and a graft catalog `jc` on the shared context. */
  private lazy val sqlSpark: SparkSession = {
    spark
    ExtensionsSession.withCatalog("jc", Files.createTempDirectory("graft-jobs-sql").toString)
  }

  /** The reference notebooks' upsert, as the notebook benchmark runs it: a
    * 10-row VALUES source (5 keys matched, 5 new) merged into a 40-row
    * table. Returns the jobs the MERGE started; checks the merged rows. */
  private def notebookMergeJobs(name: String, props: String): Jobs = {
    val t = s"jc.db.$name"
    sqlSpark.sql("CREATE DATABASE IF NOT EXISTS jc.db")
    sqlSpark.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT)$props")
    sqlSpark.sql(s"INSERT INTO $t VALUES " +
      (0 until 40).map(i => s"($i, 'g${i % 3}', $i)").mkString(", "))
    val hit = Set(3, 11, 19, 27, 35)
    val src = (hit.toSeq.sorted ++ (40 until 45)).map(i => s"($i, 'n', ${1000 + i})").mkString(", ")
    val (_, jobs) = jobsOf(sqlSpark.sql(
      s"""MERGE INTO $t t USING (SELECT * FROM VALUES $src AS s(id, grp, v)) s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
    val got = sqlSpark.sql(s"SELECT id, grp, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = (0 until 45).map { i =>
      if (hit(i) || i >= 40) (i.toLong, "n", 1000L + i) else (i.toLong, s"g${i % 3}", i.toLong)
    }.toSet
    assert(got === want)
    jobs
  }

  // the target-key lookup, the survivor rewrite and the upsert write
  test("a 10-row VALUES MERGE INTO a copy-on-write table runs at most 3 Spark jobs") {
    assertJobs(notebookMergeJobs("cow", ""), 3, "a small-source copy-on-write MERGE")
  }

  test("a 10-row VALUES MERGE INTO a merge-on-read table runs at most 3 Spark jobs") {
    assertJobs(notebookMergeJobs("mor", " TBLPROPERTIES ('write.merge.mode'='merge-on-read')"),
      3, "a small-source merge-on-read MERGE")
  }
}
