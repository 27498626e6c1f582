package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** [[FakeObjectStoreFS]] under a `listcount://` scheme that counts
  * listings of table `metadata` directories. Registered via
  * `fs.listcount.impl`; top-level with a no-arg constructor because
  * Hadoop instantiates it reflectively. */
class ListingCountFS extends FakeObjectStoreFS {
  override def getScheme: String = "listcount"
  override def getUri: URI = URI.create("listcount:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "metadata") ListingCountFS.metadataListings.incrementAndGet()
    super.listStatus(f)
  }
}

object ListingCountFS {
  val metadataListings = new AtomicInteger()
}

/** How a fresh table handle finds the latest metadata version
  * (`LakeTable.currentVersion`): an accurate `version-hint.text` plus a
  * forward existence probe, listing the metadata directory only when the
  * hint cannot be trusted. A listing costs O(metadata files) on every
  * cold read (measured at 17 s for 4k commits' metadata on a local
  * filesystem, SCALEPROBE.md "Multi-table transactions (r14)"), so the
  * accurate-hint path must stay listing-free. */
class VersionHintSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a fresh handle with an accurate hint lists no metadata; a hint " +
      "naming a retired version falls back to one listing") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.listcount.impl", classOf[ListingCountFS].getName)
    val cat = new LakeCatalog(spark,
      s"listcount://${Files.createTempDirectory("graft-hint")}")
    val t = cat.createTable("db.t", StructType(Seq(StructField("id", LongType))),
      properties = Map(
        "write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "5"))
    for (i <- 1 to 20) t.setProperties(Map("k" -> i.toString))
    val head = t.meta.version
    val metaDir = new Path(t.location, "metadata")
    val fs = metaDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(metaDir, "v3.json")), "v3 must be retired")

    /** (version a fresh handle resolves, metadata listings it paid) */
    def fresh(): (Int, Int) = {
      LakeTable.invalidateLocation(t.location)
      ListingCountFS.metadataListings.set(0)
      val v = cat.loadTable("db.t").meta.version
      (v, ListingCountFS.metadataListings.get)
    }
    assert(fresh() === ((head, 0)))

    val out = fs.create(new Path(metaDir, "version-hint.text"), true)
    out.write("3".getBytes("UTF-8")); out.close()
    val (v, listings) = fresh()
    assert(v === head, "a retired hint must still resolve the true head")
    assert(listings >= 1)
  }
}
