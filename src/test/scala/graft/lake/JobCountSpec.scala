package graft.lake

import graft.{ExtensionsSession, JobTrace}
import graft.operators.{Decontaminate, Dedup}
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
  * Codegen budgets ([[graft.JobTrace.compilesOf]]) pin the other fixed
  * cost: a repeated lookup or MERGE of new keys must run the generated
  * code of the last one, not compile its own.
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

  // the last-wins shuffle, the key probe (which also stores the pinned
  // batch), the upsert write, the equality-delete write and the
  // manifest-bloom build: five jobs
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

  // the per-file entry count (scan map, result), the delete-file write
  // and the deletion-vector build; the four deletes' keys are probed
  // inside the scan, so no key broadcast runs
  test("convertEqualityDeletes over four live equality deletes runs at most 4 Spark jobs") {
    val t = withFourBatches("j.convert")
    val want = t.toDF.collect().toSet
    val (_, jobs) = jobsOf(t.convertEqualityDeletes())
    assert(t.meta.currentSnapshot.get.eqDeleteFiles.isEmpty)
    assert(t.toDF.collect().toSet === want)
    assertJobs(jobs, 4, "convertEqualityDeletes")
  }

  // the masked scan alone: the equality keys are probed inside it
  test("a point read(filter) on a table with live equality deletes runs at most 1 Spark job") {
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
    assertJobs(jobs, 1, "a point lookup under equality deletes")
  }

  // The lookup's filter constants are bound as a referenced set, and its
  // equality-delete and position masks probe referenced sets too, so once
  // one lookup has compiled its classes every further lookup, whatever its
  // key, runs the same generated code from Spark's codegen cache.
  test("after one warm lookup, five point lookups of new keys under equality deletes compile 0 classes") {
    val t = withFourBatches("j.compiles")
    def lookup(k: Long): DataFrame = t.read(filter = Some(col("id") === k))
    // seeded keys no batch changed, whose lookups read the same files as
    // the warm one: only the key constant differs between the six reads
    val warm = 1L
    val files = lookup(warm).inputFiles.toSet
    val keys = t.toDF.filter(col("seq") === 0L && col("id") > warm).select("id").collect()
      .map(_.getLong(0)).sorted.iterator.filter(k => lookup(k).inputFiles.toSet == files).take(5).toSeq
    assert(keys.size === 5)
    val want = keys.map(k => t.toDF.filter(col("id") === k).collect().toSet)
    lookup(warm).collect()
    val (got, n) = compilesOf(keys.map(k => lookup(k).collect().toSet))
    assert(got === want && got.forall(_.size == 1))
    assert(n === 0L, s"five lookups of new keys compiled $n classes, budget 0")
  }

  // the per-file entry count (scan map, result), the merged write and
  // the deletion-vector build; the live-file set is probed inside the
  // scan, so no broadcast runs
  test("rewriteDeleteFiles over five positional delete files runs at most 4 Spark jobs") {
    val t = cdcTable("j.rewritedel")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    (0 until 5).foreach(i => t.delete(col("id") === (100L * i + 3L)))
    assert(t.meta.currentSnapshot.get.deleteFiles.size === 5)
    val want = t.toDF.collect().toSet
    val (_, jobs) = jobsOf(t.rewriteDeleteFiles())
    assert(t.meta.currentSnapshot.get.deleteFiles.size === 1)
    assert(t.toDF.collect().toSet === want)
    assert(want.size === 4995)
    assertJobs(jobs, 4, "rewriteDeleteFiles")
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

  /** The classes compiled by `rounds` 10-row VALUES MERGEs into a fresh
    * 40-row table, after two warm MERGEs (on a merge-on-read table the
    * second is the first to read under an equality delete, a new plan
    * shape). Round r updates keys 5r..5r+4 and inserts keys
    * 100+5r..100+5r+4, so every round's keys are new; the merged rows
    * are checked. */
  private def repeatedMergeCompiles(name: String, props: String, rounds: Int): Long = {
    val t = s"jc.db.$name"
    sqlSpark.sql("CREATE DATABASE IF NOT EXISTS jc.db")
    sqlSpark.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT)$props")
    sqlSpark.sql(s"INSERT INTO $t VALUES " +
      (0 until 40).map(i => s"($i, 'g${i % 3}', $i)").mkString(", "))
    def merge(r: Int): Unit = {
      val src = (0 until 5).flatMap(i => Seq(5 * r + i, 100 + 5 * r + i))
        .map(k => s"($k, 'n', ${1000 + k})").mkString(", ")
      sqlSpark.sql(
        s"""MERGE INTO $t t USING (SELECT * FROM VALUES $src AS s(id, grp, v)) s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    merge(0)
    merge(1)
    val (_, n) = compilesOf((2 to rounds + 1).foreach(merge))
    val got = sqlSpark.sql(s"SELECT id, grp, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val merged = (0 until 5 * (rounds + 2)).flatMap(i => Seq(i, 100 + i)).toSet
    val want = ((0 until 40).toSet ++ merged).map { i =>
      if (merged(i)) (i.toLong, "n", 1000L + i) else (i.toLong, s"g${i % 3}", i.toLong)
    }
    assert(got === want)
    n
  }

  // The target-key lookup and the copy-on-write survivor filter bind their
  // keys as a set, so a MERGE of new keys runs the last one's code. With
  // the keys inlined, each round compiled the lookup (and, copy-on-write,
  // the survivor filter) on the driver and again in the task: 12 and 6
  // classes over three rounds. The budget leaves room for one class and
  // its task copy.
  test("three more 10-row VALUES MERGEs of new keys into a copy-on-write table compile at most 2 classes") {
    val n = repeatedMergeCompiles("cowc", "", 3)
    assert(n <= 2L, s"three MERGEs of new keys compiled $n classes, budget 2")
  }

  test("three more 10-row VALUES MERGEs of new keys into a merge-on-read table compile at most 2 classes") {
    val n = repeatedMergeCompiles("morc", " TBLPROPERTIES ('write.merge.mode'='merge-on-read')", 3)
    assert(n <= 2L, s"three MERGEs of new keys compiled $n classes, budget 2")
  }

  // A source over the small-source bound (1,024 rows) takes the distributed
  // path: the bounded source probe (2), the key bounds (2), the pinned
  // matched-ness join's shuffles (3), the key probe that stores it, and the
  // survivor and upsert writes.
  test("a 1,100-row-source MERGE INTO a copy-on-write table runs at most 10 Spark jobs") {
    val t = "jc.db.bigsrc"
    sqlSpark.sql("CREATE DATABASE IF NOT EXISTS jc.db")
    sqlSpark.sql(s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT)")
    sqlSpark.sql(s"INSERT INTO $t SELECT id, concat('g', id % 3), id FROM range(2000)")
    // keys 1500..2599: 500 matched, 600 new
    val (_, jobs) = jobsOf(sqlSpark.sql(
      s"""MERGE INTO $t t USING (SELECT id, 'n' AS grp, id + 1000 AS v FROM range(1500, 2600)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
    val got = sqlSpark.sql(s"SELECT id, grp, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = (0L until 2600L).map { i =>
      if (i >= 1500L) (i, "n", i + 1000L) else (i, s"g${i % 3}", i)
    }.toSet
    assert(got === want)
    assertJobs(jobs, 10, "a distributed-source copy-on-write MERGE")
  }

  // the distinct eval keys' shuffle, the bloom build that stores the
  // pinned keys (2) and the result's read (2)
  test("one Decontaminate call, its result read, runs at most 5 Spark jobs") {
    val corpus = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"))
    val eval = corpus.filter(col("doc_id") % 7 === 0).select(md5(col("text")).as("fp"))
    val (n, jobs) = jobsOf(
      Decontaminate.decontaminate(corpus, eval, md5(col("text")), "fp").collect().length)
    assert(n === 2000 - 286)
    assertJobs(jobs, 5, "a decontaminate call and its read")
    // pinning the eval keys runs its shuffle stages as a SQL execution of
    // its own, so no job is one of no query
    assert(jobs.jobs.forall(_.executionId.isDefined),
      s"every job must belong to a SQL execution:\n${jobs.report}")
  }

  // The distributed min-label loop, round by round: the neighbor join and
  // label update's shuffles, and the convergence count, which stores the
  // pinned round. Measured as the difference between a 10-round and a
  // 3-round chain.
  test("seven more distributed connected-components rounds run at most 43 more Spark jobs") {
    def chainJobs(edges: Int): Int = {
      val pairs = spark.range(edges).selectExpr("id as id_a", "id + 1 as id_b")
      val (labels, jobs) = jobsOf(Dedup.connectedComponents(pairs, driverMaxEdges = 0))
      assert(labels.filter(col("label") =!= 0L).isEmpty)
      jobs.count
    }
    val short = chainJobs(2) // 3 rounds
    val long = chainJobs(9) // 10 rounds
    info(s"3 rounds: $short jobs, 10 rounds: $long jobs")
    assert(long - short <= 43, s"7 more rounds ran ${long - short} more Spark jobs, budget 43")
    assert(long <= 60, s"a 10-round run ran $long Spark jobs, budget 60")
  }
}
