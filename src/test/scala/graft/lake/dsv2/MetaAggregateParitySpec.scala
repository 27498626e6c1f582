package graft.lake.dsv2

import graft.ExtensionsSession
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** Randomized parity of metadata-answered aggregates
  * ([[graft.lake.MetaAggregate]]) against a scan. Four seeded tables of
  * random rows take their steps in shuffled order, with random inserts
  * between. The unpartitioned ones (odd seeds) take a copy-on-write
  * DELETE, a merge-on-read DELETE, an equality-delete upsert and a
  * position-delete compaction; the ones partitioned by `seg` (even seeds)
  * a merge-on-read DELETE, `ADD COLUMN … DEFAULT`, a partition-spec
  * change (a second field added, or `seg` dropped) and the compaction. After each step a fixed set of aggregate
  * shapes — ungrouped COUNT(*), COUNT(col), MIN and MAX, on partitioned
  * tables also grouped by `seg` and the group-only `GROUP BY seg` — must
  * give the same rows in the extensions session (metadata, where it
  * answers) as the same aggregate over the rows a session without
  * extensions scans. One scan per step serves every shape: a scan costs a
  * Spark job, an aggregate over the collected rows none. The shapes also
  * run against each table's first snapshot (`VERSION AS OF`). */
class MetaAggregateParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val warehouse = Files.createTempDirectory("graft-meta-agg").toString

  /** Scans every aggregate: the catalog is registered at runtime, so
    * reads take the V1 fallback and no analyzer rule answers from
    * metadata. */
  private lazy val scanSide: SparkSession = small {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.magg", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.magg.warehouse", warehouse)
    s
  }

  private lazy val extSide: SparkSession = small {
    spark
    ExtensionsSession.withCatalog("magg", warehouse)
  }

  /** Tables of a few rows: one shuffle partition, no adaptive re-planning. */
  private def small(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** One output column of a shape: the group column, COUNT(*), or
    * COUNT/MIN/MAX of a column. */
  sealed trait Out
  case object Seg extends Out
  case object CountStar extends Out
  final case class Of(fn: String, col: String) extends Out

  private def shapes(cols: Seq[String], grouped: Boolean): Seq[(Boolean, Seq[Out])] = {
    val stats = cols.flatMap(c => Seq(Of("COUNT", c), Of("MIN", c), Of("MAX", c))) :+ Of("COUNT", "v")
    Seq(false -> Seq(CountStar), false -> stats) ++ (if (!grouped) Nil
    else Seq(true -> Seq(Seg, CountStar), true -> (Seg +: stats), true -> Seq(Seg)))
  }

  private def sqlOf(t: String, grouped: Boolean, outs: Seq[Out]): String = {
    val select = outs.map {
      case Seg => "seg"
      case CountStar => "COUNT(*)"
      case Of(fn, c) => s"$fn($c)"
    }.mkString(", ")
    s"SELECT $select FROM $t" + (if (grouped) " GROUP BY seg" else "")
  }

  /** The shape over the scanned rows, each row as `Row.toString`. */
  private def expected(rows: Seq[Row], grouped: Boolean, outs: Seq[Out]): Seq[String] = {
    val groups = if (grouped) rows.groupBy(_.getAs[String]("seg")).toSeq else Seq((null, rows))
    groups.map { case (key, rs) =>
      Row(outs.map {
        case Seg => key
        case CountStar => rs.size.toLong
        case Of(fn, c) =>
          val vs = rs.map(_.getAs[Any](c)).filter(_ != null)
            .sortBy(_.asInstanceOf[Number].longValue())
          fn match {
            case "COUNT" => vs.size.toLong
            case "MIN" => vs.headOption.orNull
            case _ => vs.lastOption.orNull
          }
      }: _*).toString
    }.sorted
  }

  /** Runs the shapes (the grouped ones only when `grouped`) in the
    * extensions session against one scan of the table's rows in the
    * session without extensions; returns the shapes the extensions
    * session answered without a file scan. */
  private def check(t: String, cols: Seq[String], grouped: Boolean, step: String): Seq[String] = {
    val scanned = scanSide.sql(s"SELECT * FROM $t").collect().toSeq
    shapes(cols, grouped).flatMap { case (byGroup, outs) =>
      val q = sqlOf(t, byGroup, outs)
      val ext = extSide.sql(q)
      assert(ext.collect().map(_.toString).toSeq.sorted === expected(scanned, byGroup, outs),
        s"after $step: $q")
      if (ext.queryExecution.executedPlan.toString.contains("FileScan")) None else Some(q)
    }
  }

  private def scenario(seed: Int): Seq[String] = {
    val rnd = new Random(seed)
    val ident = s"db.t$seed"
    val t = s"magg.$ident"
    val partitioned = seed % 2 == 0
    def run(sql: String): Unit = { extSide.sql(sql); () }
    run("CREATE DATABASE IF NOT EXISTS magg.db")
    run(s"CREATE TABLE $t (id BIGINT, k INT, v DOUBLE, seg STRING)" +
      (if (partitioned) " PARTITIONED BY (seg)" else ""))
    var nextId = 0L
    var cols = Seq("k", "id")
    def lit(present: Boolean, v: Any, sqlType: String) =
      if (present) v.toString else s"CAST(NULL AS $sqlType)"
    def values(n: Int): String = (0 until n).map { _ =>
      nextId += 1
      val seg = rnd.nextInt(6) match {
        case 5 => "CAST(NULL AS STRING)"
        case s => s"'${"abcde" (s)}'"
      }
      val w = if (cols.contains("w")) s", ${lit(rnd.nextInt(4) > 0, rnd.nextInt(50), "BIGINT")}" else ""
      s"($nextId, ${lit(rnd.nextInt(4) > 0, rnd.nextInt(200) - 100, "INT")}, " +
        s"${lit(rnd.nextInt(3) > 0, rnd.nextInt(100) / 4.0, "DOUBLE")}, $seg$w)"
    }.mkString(", ")
    def insert(): Unit = run(s"INSERT INTO $t SELECT /*+ REPARTITION(${1 + rnd.nextInt(2)}) */ * " +
      s"FROM VALUES ${values(2 + rnd.nextInt(5))}")
    // every other row: a partition of a row or two often loses them all,
    // which under merge-on-read leaves its files live but fully masked
    def delete(mode: String): Unit = {
      run(s"ALTER TABLE $t SET TBLPROPERTIES ('write.delete.mode'='$mode')")
      run(s"DELETE FROM $t WHERE id % 2 = ${rnd.nextInt(2)}")
    }
    def lake = extSide.sessionState.catalogManager.catalog("magg")
      .asInstanceOf[GraftCatalog].lake.loadTable(ident)
    val ops: Seq[(String, () => Unit)] = Seq(
      "merge-on-read DELETE" -> (() => delete("merge-on-read")),
      "rewrite_position_deletes" -> (() =>
        run(s"CALL magg.system.rewrite_position_deletes('$ident')"))) ++ (
      if (partitioned) Seq(
        "ADD COLUMN w DEFAULT 7" -> { () =>
          run(s"ALTER TABLE $t ADD COLUMN w BIGINT DEFAULT 7")
          cols :+= "w"
        },
        // a second field keeps `seg` an identity field of every spec; a
        // dropped one leaves later files without a `seg` value
        "partition-spec change" -> (() => run(s"ALTER TABLE $t " +
          (if (seed % 4 == 2) "ADD PARTITION FIELD bucket(2, id)" else "DROP PARTITION FIELD seg"))))
      else Seq(
        "copy-on-write DELETE" -> (() => delete("copy-on-write")),
        "equality-delete upsert" -> { () =>
          val keys = (1 to 2).map(_ => 1L + rnd.nextInt(nextId.toInt))
          val table = lake
          table.setProperties(Map("write.merge.mode" -> "merge-on-read"))
          val schema = table.meta.schema.sparkSchema
          val upserts = extSide.sql(s"SELECT * FROM VALUES ${values(1)}")
            .toDF(schema.fieldNames: _*)
            .select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
          table.mergeByKey("id", keys, upserts)
          ()
        }))
    insert()
    val first = lake.meta.currentSnapshot.get.snapshotId
    val answered = rnd.shuffle(ops).flatMap { case (step, op) =>
      op()
      if (rnd.nextInt(3) == 0) insert()
      check(t, cols, partitioned, step)
    }
    // the first snapshot: one insert, no mask, the original spec
    answered ++ check(s"$t VERSION AS OF $first", Seq("k", "id"), partitioned,
      "VERSION AS OF the first snapshot")
  }

  test("metadata-answered aggregates match the scan, row for row, over random table histories") {
    val answered = (1 to 4).flatMap(scenario)
    info(s"${answered.size} shape runs answered from metadata")
    // parity is only worth something if metadata answered: every shape
    // must have done so at least once
    for (shape <- Seq("SELECT COUNT(*) FROM", "SELECT COUNT(k)", "SELECT seg, COUNT(*)",
        "SELECT seg, COUNT(k)", "SELECT seg FROM"))
      assert(answered.exists(_.startsWith(shape)), s"no '$shape' shape answered from metadata")
  }
}
