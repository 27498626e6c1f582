package graft.lake

import graft.operators.{Similarity, TextIndex, VectorIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Retention-stranded refresh watermarks: when expire_snapshots (manual
  * or ingest-cadence) drops the snapshot an MV / vector-index /
  * text-index refresh would resume from, the refresh must not wedge on
  * the changelog's bare `not an ancestor` require forever. Contract under
  * test:
  *   - secondary indexes SELF-HEAL — a full-window recompute from the
  *     retained table start is exact for presence-based state, including
  *     ghost keys whose delete predates retained history;
  *   - materialized views FAIL ACTIONABLY naming rebuild() (a from-genesis
  *     delta over existing aggregate state would double-count);
  *   - ingest-cadence auto-expiry FLOORS its retention at registered
  *     sibling watermarks (capped), so the auto-pipeline cannot strand
  *     the indexes it is itself keeping fresh;
  *   - the auto-refresh loop surfaces a stranded view in the
  *     materialized_views health listing instead of failing silently. */
class RetentionStrandSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshCatalog(tag: String): LakeCatalog = new LakeCatalog(spark,
    Files.createTempDirectory(s"graft-strand-$tag").toString)

  // --- vector fixtures (VectorIndexSpec's shapes) ---------------------
  private def vec(id: Long): Seq[Float] = {
    val c = (id % 5).toInt
    (0 until 8).map { d =>
      (if (d == c) 10f else 0f) + ((id * 2654435761L + d * 97) % 7).toFloat * 0.1f
    }
  }
  private def vecDf(ids: Seq[Long]): DataFrame = {
    val rows = ids.map(i => Row(i, vec(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType)))))
  }
  private def assignSet(df: DataFrame, cs: Seq[Seq[Float]]): Set[(Long, Int)] =
    Similarity.ivfAssignWith(df, cs, "id", "embedding")
      .select(col("id"), col("list_id").cast(IntegerType))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
  private def indexSet(idx: VectorIndex): Set[(Long, Int)] =
    idx.state.toDF.select("id", "list_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  // --- text fixtures (TextIndexSpec's shapes) -------------------------
  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")
  private def text(id: Long): String = {
    val n = 3 + (id * 7 % 10).toInt
    (0 until n).map(j => vocab(((id * 2654435761L + j * 13) % vocab.size).toInt.abs))
      .mkString(" ")
  }
  private def docsDf(ids: Seq[Long]): DataFrame = {
    val rows = ids.map(i => Row(i, text(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType))))
  }
  private val tQueries = Seq((1, "alpha"), (1, "kappa"), (2, "gamma"),
    (2, "zeta"), (3, "theta"))

  test("stranded MV watermark: refresh fails naming rebuild(); rebuild " +
    "recovers; reads keep declining to a sound cold scan") {
    val cat = freshCatalog("mv")
    val base = cat.createTable("db.facts", StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("v", LongType))))
    def rows(ids: Range): DataFrame = {
      val data = ids.map(i => Row(i.toLong, s"g${i % 3}", (i * 7).toLong))
      spark.createDataFrame(java.util.Arrays.asList(data: _*),
        base.meta.schema.sparkSchema)
    }
    base.append(rows(0 until 50))
    val mv = MaterializedAgg.create(cat, "db.facts_by_g", base,
      Seq("g"), Seq(MaterializedAgg.AggCol("sum", "v", "total")))
    mv.refresh()
    val wm = mv.watermark.get
    // churn past the watermark, then expire it away
    base.append(rows(50 until 80))
    base.delete(col("id") < 10)
    base.append(rows(80 until 100))
    base.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 2)
    assert(base.meta.snapshot(wm).isEmpty, "test premise: watermark expired")
    val e = intercept[IllegalStateException] { mv.refresh() }
    assert(e.getMessage.contains("rebuild()"),
      s"the error must name the recovery, got: ${e.getMessage}")
    assert(e.getMessage.contains("no longer an ancestor"))
    // rebuild recovers exactly
    val fresh = mv.rebuild()
    val want = base.toDF.groupBy("g").agg(sum("v").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fresh.read().collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === want)
  }

  test("stranded vector-index watermark: refresh self-heals to the exact " +
    "live assignment — including ghosts whose delete predates retention") {
    val cat = freshCatalog("vx")
    val base = cat.createTable("db.vecs", StructType(Seq(
      StructField("id", LongType), StructField("embedding", ArrayType(FloatType)))))
    base.append(vecDf(0L until 100L))
    val idx = VectorIndex.create(cat, "db.vidx", base, "id", "embedding",
      nlist = 5, iters = 1)
    val cs = idx.centroids
    val wm = idx.watermark.get
    // the delete lands in history that will be EXPIRED: keys 0..9 become
    // ghosts only the key-union can evict
    base.delete(col("id") < 10)
    base.append(vecDf(100L until 150L))
    base.append(vecDf(150L until 200L))
    base.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 2)
    assert(base.meta.snapshot(wm).isEmpty, "test premise: watermark expired")
    assert(idx.refresh() === base.meta.currentSnapshot.map(_.snapshotId))
    assert(idx.centroids === cs, "self-heal must keep the pinned centroids")
    val got = indexSet(idx)
    assert(got === assignSet(base.toDF, cs))
    assert(!got.exists(_._1 < 10),
      "ghost keys deleted in expired history must leave the index")
    // back on the incremental path afterwards
    base.append(vecDf(200L until 220L))
    idx.refresh()
    assert(indexSet(idx) === assignSet(base.toDF, cs))
  }

  test("stranded text-index watermark: refresh self-heals — search and " +
    "corpus constants match a from-scratch index, ghosts evicted") {
    val cat = freshCatalog("tx")
    val base = cat.createTable("tx.base", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    base.append(docsDf(0L until 80L))
    val idx = TextIndex.create(cat, "tx.tidx", base, nBuckets = 4)
    val wm = idx.watermark.get
    base.delete(col("doc_id") < 10) // becomes expired history → ghosts
    base.append(docsDf(100L until 150L))
    base.append(docsDf(150L until 180L))
    base.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 2)
    assert(base.meta.snapshot(wm).isEmpty, "test premise: watermark expired")
    assert(idx.refresh() === base.meta.currentSnapshot.map(_.snapshotId))
    val fresh = TextIndex.create(cat, "tx.tidx2", base, nBuckets = 4)
    assert(idx.corpusStats === fresh.corpusStats)
    assert(idx.search(tQueries, 10).collect().toSeq ===
      fresh.search(tQueries, 10).collect().toSeq)
    assert(idx.state.toDF.filter(col("doc_id") < 10).count() === 0L,
      "ghost postings must leave the index")
    // incremental again afterwards
    base.append(docsDf(300L until 320L))
    idx.refresh()
    assert(idx.search(tQueries, 10).collect().toSeq ===
      TextIndex.create(cat, "tx.tidx3", base, nBuckets = 4)
        .search(tQueries, 10).collect().toSeq)
  }

  test("ingest-cadence auto-expiry floors keep-last at registered sibling " +
    "watermarks (capped): the auto-pipeline cannot strand its own indexes") {
    val cat = freshCatalog("floor")
    val base = cat.createTable("db.vecs", StructType(Seq(
      StructField("id", LongType), StructField("embedding", ArrayType(FloatType)))),
      properties = Map("graft.maintenance.expire.keep-last" -> "4"))
    base.append(vecDf(0L until 60L))
    val idx = VectorIndex.create(cat, "db.vidx", base, "id", "embedding",
      nlist = 4, iters = 1)
    val wm = idx.watermark.get
    // 12 ingest commits with per-commit maintenance and NO index refresh:
    // bare keep-last=4 would expire the watermark; the floor holds it
    (0 until 12).foreach { i =>
      base.append(vecDf((100L + i * 10) until (100L + i * 10 + 10)))
      base.autoMaintain()
    }
    assert(base.isAncestorRetained(wm, base.meta.currentSnapshot.get.snapshotId),
      "the floor must keep the lagging index watermark a retained ancestor")
    assert(base.meta.snapshots.count(!_.staged) > 4 + 2,
      "test premise: the floor (not bare keep-last) is what held retention")
    // the index resumes INCREMENTALLY from its held watermark
    idx.refresh()
    assert(indexSet(idx) === assignSet(base.toDF, idx.centroids))
    // the floor is CAPPED: a sibling stuck beyond the cap strands (and
    // self-heals) rather than growing metadata without bound
    base.updateProperties(_ +
      ("graft.maintenance.expire.watermark-floor-cap" -> "6"))
    val wm2 = idx.watermark.get
    (0 until 12).foreach { i =>
      base.append(vecDf((300L + i * 10) until (300L + i * 10 + 10)))
      base.autoMaintain()
    }
    assert(!base.isAncestorRetained(wm2, base.meta.currentSnapshot.get.snapshotId),
      "past the cap the strand is allowed")
    assert(base.meta.snapshots.count(!_.staged) <= 6 + 2 + 1,
      "metadata stays bounded by the cap")
    idx.refresh() // self-heal path
    assert(indexSet(idx) === assignSet(base.toDF, idx.centroids))
  }

  test("ingest-cadence auto-expiry floor holds a lagging MV's and a lagging " +
    "text index's watermark too") {
    val cat = freshCatalog("floor2")
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType)))
    val props = Map("graft.maintenance.expire.keep-last" -> "3")
    val mvBase = cat.createTable("db.facts", schema, properties = props)
    val txBase = cat.createTable("db.corpus", schema, properties = props)
    Seq(mvBase, txBase).foreach(_.append(docsDf(0L until 20L)))
    val mv = MaterializedAgg.create(cat, "db.facts_by_text", mvBase,
      Seq("text"), Seq(MaterializedAgg.AggCol("count", "*", "n")))
    mv.refresh()
    val idx = TextIndex.create(cat, "db.tidx", txBase, nBuckets = 2)
    val lagging = Seq(mvBase -> mv.watermark.get, txBase -> idx.watermark.get)
    // 8 ingest commits per base with per-commit maintenance and no
    // refresh: bare keep-last=3 would expire both watermarks
    (0 until 8).foreach { i =>
      lagging.foreach { case (base, _) =>
        base.append(docsDf((100L + i * 5) until (105L + i * 5)))
        base.autoMaintain()
      }
    }
    lagging.foreach { case (base, wm) =>
      assert(base.isAncestorRetained(wm, base.meta.currentSnapshot.get.snapshotId),
        s"${base.meta.name}: the floor must keep the lagging watermark a retained ancestor")
      assert(base.meta.snapshots.count(!_.staged) > 3 + 2,
        s"${base.meta.name}: test premise: the floor (not bare keep-last) held retention")
    }
  }

  test("auto-refresh loop surfaces a stranded view in the " +
    "materialized_views health listing") {
    val cat = freshCatalog("health")
    val base = cat.createTable("db.facts", StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("v", LongType))))
    def rows(ids: Range): DataFrame = {
      val data = ids.map(i => Row(i.toLong, s"g${i % 3}", (i * 7).toLong))
      spark.createDataFrame(java.util.Arrays.asList(data: _*),
        base.meta.schema.sparkSchema)
    }
    base.append(rows(0 until 40))
    val mv = MaterializedAgg.create(cat, "db.facts_by_g", base,
      Seq("g"), Seq(MaterializedAgg.AggCol("count", "*", "n")))
    mv.refresh()
    base.append(rows(40 until 60))
    base.append(rows(60 until 80))
    base.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    // the per-batch refresh hook must record the failure, not throw
    graft.streaming.Changelog.refreshRegisteredViews(base)
    val row = MetadataTables(base, "materialized_views")
      .select("refresh_failures", "last_error").collect().head
    assert(row.getLong(0) >= 1L)
    assert(row.getString(1).contains("rebuild()"),
      "the recorded error must carry the actionable recovery")
  }
}
