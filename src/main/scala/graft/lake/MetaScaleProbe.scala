package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Metadata-layer scale probe: is commit cost O(churn) or O(files)?
  *
  * Grows a lake table to 10^4 files through metadata-only synthetic
  * appends (10 files per commit — the data plane is irrelevant to what
  * this measures) under a production-shaped retention policy
  * (expire_snapshots retainLast=50 every 100 commits), and records at
  * file-count checkpoints:
  *   - avg commit wall time over the last 20 commits
  *   - avg NEW metadata bytes per commit (chunks + manifest lists + root)
  *   - root JSON size
  *   - what the pre-r9 single-JSON design would have written per commit
  *     (every retained snapshot embedding its full file list)
  *   - cold/warm metadata resolve wall
  *
  * The claim under test (VERDICT r8 `weak` grade): chunk bytes per append
  * stay flat as the table grows 100× because unchanged manifest chunks are
  * REUSED across snapshots, while the old design's write grows with
  * retained-snapshots × files. Also measures rewrite_manifests compaction.
  *
  * Run: sbt "runMain graft.lake.MetaScaleProbe"; results → SCALEPROBE.md.
  */
object MetaScaleProbe {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  /** Synthetic footer stats — shaped like real per-column stats so chunk
    * bytes are representative. */
  private def synthFile(location: String, i: Long): DataFile =
    DataFile(
      path = s"$location/data/app-synthetic-$i.parquet",
      specId = 0, schemaId = 0, partitionValues = Map.empty,
      rowCount = 100000L, sizeBytes = 128L * 1024 * 1024,
      stats = Map(
        "c1" -> ColStat(Some((i * 1000).toString), Some((i * 1000 + 999).toString), 0L),
        "c2" -> ColStat(Some("0.0"), Some("99.9"), 12L)))

  /** Metadata-only append of `n` synthetic files (snapshot minting, the
    * commit protocol and manifest assignment are EXACTLY the production
    * path — only the parquet write is skipped). */
  private def appendSynthetic(t: LakeTable, n: Int, idBase: Long): TableMeta =
    t.commit { m =>
      val parent = m.currentSnapshot
      val newFiles = (0 until n).map(k => synthFile(t.location, idBase + k))
      m.withSnapshot(LakeTable.MainBranch, parent, "append",
        Map("added-data-files" -> n.toString),
        parent.map(_.files).getOrElse(Seq.empty) ++ newFiles)
    }

  /** Direct java.nio listing — Hadoop's RawLocalFileSystem forks a process
    * per file for permission info, which would dominate the measurement. */
  private def metaBytes(t: LakeTable): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(t.location, "metadata")
    if (!java.nio.file.Files.isDirectory(dir)) Map.empty
    else {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .map(p => p.getFileName.toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warehouse = java.nio.file.Files.createTempDirectory("graft-metaprobe").toString
    val cat = new LakeCatalog(spark, warehouse)
    val t = cat.createTable("probe.meta", schema)

    val filesPerCommit = 10
    val totalCommits = 1000 // -> 10^4 files
    val checkpoints = Set(10, 100, 500, 1000)
    val window = 20
    var seen = metaBytes(t)
    var wallNs = List.empty[Long]
    var newBytes = List.empty[Long]

    println("files,avg_commit_ms,avg_new_meta_bytes,root_json_bytes,old_design_bytes_per_commit")
    (1 to totalCommits).foreach { c =>
      val t0 = System.nanoTime()
      val m = appendSynthetic(t, filesPerCommit, c.toLong * 1000)
      wallNs = (System.nanoTime() - t0) :: wallNs.take(window - 1)
      val now = metaBytes(t)
      newBytes = now.view.filterKeys(k => !seen.contains(k)).values.sum :: newBytes.take(window - 1)
      seen = now
      if (c % 100 == 0) {
        // production-shaped maintenance cadence: retention + manifest
        // compaction (Iceberg's expire_snapshots + rewrite_manifests) —
        // without compaction the per-commit manifest list grows with the
        // append count (one tiny chunk per append), with it the steady
        // state is O(files/target-files) chunk refs
        t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 50)
        t.rewriteManifests()
        seen = metaBytes(t) // don't count maintenance against the next commit
      }
      if (checkpoints.contains(c)) {
        val files = m.currentSnapshot.map(_.files.size).getOrElse(0)
        // the old design: EVERY retained snapshot re-embeds its full file
        // list in the single JSON rewritten by this commit
        val oldDesign = Meta.toJson(m).length.toLong
        val root = metaBytes(t).getOrElse(s"v${m.version}.json", 0L)
        println(s"$files,${wallNs.sum / wallNs.size / 1e6}," +
          s"${newBytes.sum / newBytes.size},$root,$oldDesign")
      }
    }

    // cold vs warm resolve at 10^4 files
    Manifests.clearCaches()
    val c0 = System.nanoTime(); val mCold = t.meta
    val coldMs = (System.nanoTime() - c0) / 1e6
    val w0 = System.nanoTime(); val mWarm = t.meta
    val warmMs = (System.nanoTime() - w0) / 1e6
    println(s"resolve_cold_ms=$coldMs resolve_warm_ms=$warmMs " +
      s"files=${mWarm.currentSnapshot.map(_.files.size).getOrElse(0)} " +
      s"chunks=${mCold.currentSnapshot.map(_.manifests.size).getOrElse(0)}")

    // rewrite_manifests compaction at 10^4 files
    val before = t.meta.currentSnapshot.get.manifests.size
    val r0 = System.nanoTime()
    val mr = t.rewriteManifests()
    val rwMs = (System.nanoTime() - r0) / 1e6
    val after = mr.currentSnapshot.get.manifests.size
    println(s"rewrite_manifests: chunks $before -> $after in ${rwMs}ms")
    // and the post-compaction append cost
    val seen2 = metaBytes(t)
    val a0 = System.nanoTime()
    appendSynthetic(t, filesPerCommit, 999000L)
    val postMs = (System.nanoTime() - a0) / 1e6
    val post = metaBytes(t)
    val postNew = post.view.filterKeys(k => !seen2.contains(k)).values.sum
    println(s"post_compaction_append: ${postMs}ms, $postNew new metadata bytes")
    spark.stop()
  }
}
