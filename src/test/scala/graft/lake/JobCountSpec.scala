package graft.lake

import graft.streaming.Changelog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Random

/** Spark-job budgets of the merge-on-read CDC path. At CDC batch sizes a
  * job costs a fixed ~70-90 ms of driver and codegen CPU whatever it
  * reads, so the number of jobs IS the cost of a small upsert, a point
  * lookup or a delete-mask conversion. Each test counts the jobs one
  * operation starts (a listener on job start) and pins the budget, so a
  * change that silently re-adds a probe, an `isEmpty` or a distinct
  * shuffle fails here rather than in a benchmark.
  *
  * The table mirrors a keyed CDC target: merge-on-read upserts, a
  * manifest bloom on the key, 5,000 seeded rows in one file. */
class JobCountSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("seq", LongType)))

  /** Jobs started while `body` runs (listener bus drained on both ends). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBridge.flush(sc)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBridge.flush(sc)
      info(s"${n.get} Spark jobs")
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

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
    assert(jobs <= 6, s"a 250-key MoR merge batch ran $jobs jobs")
  }

  // the per-file entry count (key broadcast, scan map, result), the
  // delete-file write (key broadcast, write), the deletion-vector build
  test("convertEqualityDeletes over four live equality deletes runs at most 6 Spark jobs") {
    val t = withFourBatches("j.convert")
    val want = t.toDF.collect().toSet
    val (_, jobs) = jobsOf(t.convertEqualityDeletes())
    assert(t.meta.currentSnapshot.get.eqDeleteFiles.isEmpty)
    assert(t.toDF.collect().toSet === want)
    assert(jobs <= 6, s"convertEqualityDeletes ran $jobs jobs")
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
    assert(jobs <= 2, s"a point lookup under equality deletes ran $jobs jobs")
  }
}
