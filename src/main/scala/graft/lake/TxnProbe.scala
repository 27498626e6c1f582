package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Transaction-protocol scale probe: is the multi-table commit cycle
  * (manifest + fence + decide + publish, [[LakeTransaction]]) really
  * O(participants) metadata work, independent of table SIZE?
  *
  * Grows two participant tables from 20 to 20,000 files each through the
  * same metadata-only synthetic appends [[MetaScaleProbe]] uses (the
  * data plane is irrelevant to what this measures), then at each size
  * runs a transaction whose staged writes are one small real append per
  * table, and records:
  *   - stage wall (the two branch commits — churn-shaped by design)
  *   - commit-cycle wall (manifest + 2 fences + decision + 2 publishes)
  *   - commit-cycle metadata bytes written to the txn log
  *
  * The claim under test (SURVEY D40): the commit cycle stays FLAT as the
  * participants grow 1000× in file count, because every protocol step is
  * a constant number of CAS commits whose chunked manifests REUSE the
  * parent's file-list chunks — no step reads or writes anything
  * file-count-shaped. Also measures a crash recovery (decision=commit,
  * zero publishes) at the largest size: the breaker's roll-forward must
  * cost the same as the coordinator's publish, not a table scan.
  *
  * Run: sbt "runMain graft.lake.TxnProbe"; results → SCALEPROBE.md.
  */
object TxnProbe {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  private def synthFile(location: String, i: Long): DataFile =
    DataFile(
      path = s"$location/data/app-synthetic-$i.parquet",
      specId = 0, schemaId = 0, partitionValues = Map.empty,
      rowCount = 100000L, sizeBytes = 128L * 1024 * 1024,
      stats = Map(
        "c1" -> ColStat(Some((i * 1000).toString), Some((i * 1000 + 999).toString), 0L)))

  private def appendSynthetic(t: LakeTable, n: Int, idBase: Long): Unit = {
    t.commit { m =>
      val parent = m.currentSnapshot
      m.withSnapshot(LakeTable.MainBranch, parent, "append",
        Map("added-data-files" -> n.toString),
        parent.map(_.files).getOrElse(Seq.empty) ++
          (0 until n).map(k => synthFile(t.location, idBase + k)))
    }
    ()
  }

  private def ms[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-txnprobe").toString
    val cat = new LakeCatalog(spark, wh)
    val a = cat.createTable("p.ta", schema)
    val b = cat.createTable("p.tb", schema)
    a.append(Seq((0L, 0.0)).toDF("id", "v"))
    b.append(Seq((0L, 0.0)).toDF("id", "v"))

    var files = 0L
    println(f"${"files/table"}%12s ${"plain ms"}%10s ${"stage ms"}%10s ${"cycle ms"}%10s")
    for (target <- Seq(20, 200, 2000, 20000)) {
      while (files < target) {
        appendSynthetic(a, 10, files); appendSynthetic(b, 10, files)
        files += 10
        // production-shaped retention (MetaScaleProbe's policy): an
        // unbounded snapshot list makes any COLD meta resolve O(history ×
        // files) for every reader — a pre-existing, retention-governed
        // cost this probe must not conflate with the txn protocol's own
        if (files % 1000 == 0) {
          a.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 50)
          b.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 50)
          ()
        }
      }
      // warm the resolved-meta caches the way a live engine would be
      a.meta; b.meta
      // baseline: the SAME append on main, outside any transaction — the
      // stage column is this path plus one branch-fork ref commit, so
      // any growth both columns share is the append path, not the
      // transaction protocol
      val (_, plainMs) = ms {
        a.append(Seq((files + 500000L, 9.0)).toDF("id", "v"))
      }
      val txn = cat.beginTransaction()
      val (_, stageMs) = ms {
        txn.table("p.ta").append(Seq((files, 1.0)).toDF("id", "v"))
        txn.table("p.tb").append(Seq((files, 1.0)).toDF("id", "v"))
      }
      val parts = txn.participants
      val (_, cycleMs) = ms {
        txn.writeManifest(parts)
        txn.fenceAll(parts)
        txn.decide("commit")
        txn.publishAll(parts)
        txn.markDone()
      }
      println(f"$files%12d $plainMs%10.1f $stageMs%10.1f $cycleMs%10.1f")
    }

    // crash recovery at the largest size: coordinator dies with the
    // decision written and ZERO tables published; a blocked writer's
    // roll-forward must be publish-shaped, not size-shaped
    val ttl0 = Map(LakeTransaction.FenceTtlKey -> "0")
    a.setProperties(ttl0); b.setProperties(ttl0)
    val txn = cat.beginTransaction()
    txn.table("p.ta").append(Seq((9999999L, 2.0)).toDF("id", "v"))
    txn.table("p.tb").append(Seq((9999999L, 2.0)).toDF("id", "v"))
    val parts = txn.participants
    txn.writeManifest(parts); txn.fenceAll(parts); txn.decide("commit")
    val (_, recoverMs) = ms {
      a.append(Seq((files + 1, 3.0)).toDF("id", "v")) // blocked → recovers
    }
    println(f"roll-forward recovery at $files files/table: $recoverMs%10.1f ms " +
      "(one foreign append incl. recovering BOTH publishes)")
    spark.stop()
  }
}
