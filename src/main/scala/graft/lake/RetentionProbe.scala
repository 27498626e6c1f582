package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Growth-shape probe for the r13 metadata bounds (results in
  * SCALEPROBE.md): a continuously-ingested table accretes one snapshot
  * AND one version file per commit, and every version document carries
  * the whole snapshot list — so WITHOUT bounds, per-commit metadata cost
  * and the metadata directory both grow linearly in stream length.
  *
  * Two tables run the same 600 metadata-only commits (the commit
  * protocol, manifest assignment, and version publishing are exactly the
  * production path; the parquet write is irrelevant to what this
  * measures): one UNBOUNDED, one with `graft.maintenance.expire.keep-last
  * = 50` (applied via autoMaintain each commit, the ingest-loop cadence)
  * + `write.metadata.delete-after-commit.enabled` max 50. At commit
  * checkpoints: root-document bytes, version-file count, snapshot count,
  * avg commit wall over the trailing 20.
  *
  * Run: sbt "runMain graft.lake.RetentionProbe" (never concurrently with
  * another Spark main). */
object RetentionProbe {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  private def synthFile(location: String, i: Long): DataFile =
    DataFile(
      path = s"$location/data/app-synthetic-$i.parquet",
      specId = 0, schemaId = 0, partitionValues = Map.empty,
      rowCount = 100000L, sizeBytes = 128L * 1024 * 1024,
      stats = Map(
        "c1" -> ColStat(Some((i * 1000).toString), Some((i * 1000 + 999).toString), 0L),
        "c2" -> ColStat(Some("0.0"), Some("99.9"), 12L)))

  private def appendSynthetic(t: LakeTable, idBase: Long): Unit = {
    t.commit { m =>
      val parent = m.currentSnapshot
      m.withSnapshot(LakeTable.MainBranch, parent, "append", Map("added-data-files" -> "1"),
        parent.map(_.files).getOrElse(Seq.empty) :+ synthFile(t.location, idBase))
    }
    ()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warehouse = java.nio.file.Files.createTempDirectory("graft-retprobe").toString
    val cat = new LakeCatalog(spark, warehouse)

    def run(name: String, bounded: Boolean): Unit = {
      val props =
        if (!bounded) Map.empty[String, String]
        else Map(
          "graft.maintenance.expire.keep-last" -> "50",
          "graft.maintenance.every-commits" -> "100000", // isolate expiry
          "write.metadata.delete-after-commit.enabled" -> "true",
          "write.metadata.previous-versions-max" -> "50")
      val t = cat.createTable(s"probe.$name", schema, properties = props)
      val walls = scala.collection.mutable.ArrayBuffer[Double]()
      for (i <- 1 to 600) {
        val t0 = System.nanoTime()
        appendSynthetic(t, i.toLong)
        if (bounded) { t.autoMaintain(); () }
        walls += (System.nanoTime() - t0) / 1e6
        if (i % 200 == 0) {
          val dir = java.nio.file.Paths.get(t.location, "metadata")
          val s = java.nio.file.Files.list(dir)
          val (nVersions, rootBytes) = try {
            import scala.jdk.CollectionConverters._
            val vs = s.iterator().asScala.map(_.getFileName.toString)
              .filter(_.matches("v\\d+\\.json")).toSeq
            val latest = vs.map(_.stripPrefix("v").stripSuffix(".json").toInt).max
            (vs.size, java.nio.file.Files.size(dir.resolve(s"v$latest.json")))
          } finally s.close()
          val avgWall = walls.takeRight(20).sum / 20
          println(f"""{"probe":"retention","table":"$name","commits":$i,""" +
            f""""snapshots":${t.meta.snapshots.size},"version_files":$nVersions,""" +
            f""""root_kb":${rootBytes / 1024.0}%.1f,"avg_commit_ms":$avgWall%.1f}""")
        }
      }
    }
    run("unbounded", bounded = false)
    run("bounded", bounded = true)
    spark.stop()
  }
}
