package graftbench

import graft.lake.{LakeCatalog, LakeTable}
import graft.streaming.Changelog
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable

/** cdc_ingest: changelog micro-batches applied back to back to a keyed
  * merge-on-read lake table through Changelog.mergeChangelog (the
  * foreachBatch sink's catch-up mode), two point lookups after each batch,
  * and LakeTable.autoMaintain once per round. Every lookup and the final
  * table are checked against an in-benchmark last-wins model. */
final class CdcIngest extends Workload {
  /** Rounds take 5 to 10 CPU seconds, so two fit a run's time budget. Two
    * rounds make four commits, one cycle of equality-delete conversion,
    * so their mean covers the same maintenance steps in every run. */
  override def minRounds: Int = 2
  val SeedRows = 5000
  val BatchChanges = 250
  val BatchesPerRound = 2
  val HotKeys = 100

  private val tableSchema = StructType(Inputs.ordersSchema.fields :+ StructField("seq", LongType))
  private val batchSchema = StructType(StructField("op", StringType) +: tableSchema.fields)
  private type Vals = (Long, String, Double, Long, String) // custkey, status, price, date, priority

  private var rnd: SplittableRandom = _
  private var seedRows: Seq[Row] = Nil
  private val model = mutable.HashMap.empty[Long, (Vals, Long)]
  private var nextKey = 0L
  private var nextSeq = 0L
  private var batchId = 0L
  private var table: LakeTable = _
  private var watch: DirWatch = _
  private var userBytes = 0L
  private var digest = 0L

  def inputDigest: String = f"$digest%016x"

  private def vals(r: SplittableRandom): Vals =
    (r.nextInt(15000).toLong, "FOP".charAt(r.nextInt(3)).toString,
      math.round((1000 + r.nextDouble() * 499000) * 100) / 100.0,
      Inputs.OrderEpoch + r.nextInt(2404) * Inputs.Day, s"${1 + r.nextInt(5)}-P")

  private def row(op: String, key: Long, v: Vals, seq: Long): Row =
    Row(op, key, v._1, v._2, v._3, new Timestamp(v._4), v._5, seq)

  def prepare(ctx: Ctx): Unit = {
    rnd = new SplittableRandom(ctx.seed)
    seedRows = (0 until SeedRows).map { k =>
      val v = vals(rnd)
      model(k.toLong) = (v, 0L)
      Row(k.toLong, v._1, v._2, v._3, new Timestamp(v._4), v._5, 0L)
    }
    nextKey = SeedRows
    nextSeq = 1
    digest = seedRows.take(1000).map(_.hashCode.toLong).sum
  }

  def setup(ctx: Ctx, dir: File): Unit = {
    val cat = new LakeCatalog(ctx.spark, new File(dir, "warehouse").getPath)
    // Maintenance is due by commit counts (equality deletes converted once
    // four are live, binpack every 8 commits, expiry past 20 snapshots).
    // Every round commits the same number of times, so the timed rounds of
    // every run meet the same maintenance steps.
    table = cat.createTable("cdc.orders", tableSchema, properties = Map(
      "graft.bloom.columns" -> "o_orderkey",
      "write.merge.mode" -> "merge-on-read",
      "graft.maintenance.every-commits" -> "8",
      "graft.maintenance.expire.keep-last" -> "16"))
    table.append(Inputs.frame(ctx.spark, tableSchema, seedRows))
    watch = new DirWatch(new File(table.location.stripPrefix("file:")))
    watch.poll()
  }

  /** One batch of changes: inserts, updates as -U/U pairs and deletes,
    * skewed towards a hot key set, a tenth of the keys changed twice. */
  private def batch(): Seq[Row] = {
    val live = model.keysIterator.toArray
    def existing(): Long =
      if (rnd.nextInt(10) < 3) rnd.nextInt(HotKeys).toLong else live(rnd.nextInt(live.length))
    val out = mutable.ArrayBuffer.empty[Row]
    def update(k: Long): Unit = {
      val old = model.get(k).map(_._1).getOrElse(vals(rnd))
      out += row(Changelog.UpdateBefore, k, old, nextSeq)
      out += row(Changelog.UpdateAfter, k, vals(rnd), nextSeq + 1)
      nextSeq += 2
    }
    // the first change always updates a live key (the planted fault drops it)
    update(live(rnd.nextInt(live.length)))
    while (out.size < BatchChanges) {
      val k = rnd.nextInt(4) match {
        case 0 => out += row(Changelog.Insert, nextKey, vals(rnd), nextSeq); nextSeq += 1; nextKey += 1; nextKey - 1
        case 1 => val k = existing(); out += row(Changelog.Delete, k, vals(rnd), nextSeq); nextSeq += 1; k
        case _ => val k = existing(); update(k); k
      }
      if (rnd.nextInt(10) == 0) update(k)
    }
    out.toSeq
  }

  /** Last-wins per key: the highest seq decides; I and U keep the row. */
  private def applyToModel(rows: Seq[Row]): Int = {
    val latest = rows.groupBy(_.getLong(1)).map { case (k, rs) => k -> rs.maxBy(_.getLong(7)) }
    latest.foreach { case (k, r) =>
      val op = r.getString(0)
      if (op == Changelog.Insert || op == Changelog.UpdateAfter)
        model(k) = ((r.getLong(2), r.getString(3), r.getDouble(4), r.getTimestamp(5).getTime, r.getString(6)), r.getLong(7))
      else model.remove(k)
    }
    latest.size
  }

  private def logicalBytes(r: Row): Long =
    r.getString(0).length + 8 + 8 + r.getString(3).length + 8 + 8 + r.getString(6).length + 8

  private def liveFiles(): (Set[String], Int) = {
    val s = table.meta.currentSnapshot
    (s.map(_.files.map(_.path).toSet).getOrElse(Set.empty),
      s.map(x => x.deleteFiles.size + x.eqDeleteFiles.size).getOrElse(0))
  }

  /** A write operation, with its file churn and bytes counted when traced. */
  private def write(ctx: Ctx, name: String)(body: => Unit): Unit = {
    val before = if (ctx.isTraced) liveFiles()._1 else Set.empty[String]
    ctx.op(name, if (name == "merge") Seq("op") else Nil, write = true) {
      ctx.span(if (name == "merge") "streaming.merge" else "lake.maintain")(body)
    }
    val (d, m) = watch.poll()
    if (ctx.isTraced) {
      ctx.count("lake.files_rewritten", (before -- liveFiles()._1).size)
      ctx.count("lake.data_bytes_written", d)
      ctx.count("lake.meta_bytes_written", m)
      if (name == "merge") ctx.count("streaming.merge_ms", ctx.lastWallMs)
      else { ctx.count("lake.maintain_ms", ctx.lastWallMs); ctx.count("lake.maintain_bytes_rewritten", d) }
    }
  }

  def round(ctx: Ctx, r: Int): Unit = {
    val s = ctx.spark
    (1 to BatchesPerRound).foreach { b =>
      val rows = batch()
      val firstKey = rows.head.getLong(1)
      val sent = if (ctx.fault) rows.filter(_.getLong(1) != firstKey) else rows
      val df = Inputs.frame(s, batchSchema, sent)
      batchId += 1
      val id = batchId
      write(ctx, "merge") {
        Changelog.mergeChangelog(table, df, "o_orderkey", "seq", batchId = id)
      }
      val applied = applyToModel(rows)
      userBytes += rows.map(logicalBytes).sum
      ctx.count("streaming.rows_in", rows.size)
      ctx.count("streaming.rows_applied", applied)
      // one key the batch changed: the first, which the planted fault
      // withholds; then a live key, so that every lookup finds one row
      lookup(ctx, firstKey)
      val live = model.keysIterator.toArray
      lookup(ctx, live(rnd.nextInt(live.length)))
      if (b == BatchesPerRound) write(ctx, "maintain")(table.autoMaintain())
    }
  }

  private def lookup(ctx: Ctx, k: Long): Unit = {
    var df: org.apache.spark.sql.DataFrame = null
    val got = ctx.op("lookup", Seq("read")) {
      val t0 = System.nanoTime()
      df = ctx.span("lake.scan_plan")(table.read(filter = Some(col("o_orderkey") === k)))
      ctx.count("lake.scan_plan_ms", (System.nanoTime() - t0) / 1e6)
      val rows = ctx.span("exec.action")(df.collect())
      ctx.catalyst(df.queryExecution)
      rows
    }
    if (ctx.isTraced && df != null) {
      val names = df.inputFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      val live = liveFiles()._1.map(p => p.substring(p.lastIndexOf('/') + 1))
      ctx.count("lake.files_scanned", live.count(names.contains))
      ctx.count("lake.files_live", live.size)
    }
    got.foreach { rows =>
      val want = model.get(k)
      val ok = (rows.length, want) match {
        case (0, None) => true
        case (1, Some((v, seq))) =>
          val x = rows.head
          x.getLong(0) == k && x.getLong(1) == v._1 && x.getString(2) == v._2 &&
            x.getDouble(3) == v._3 && x.getTimestamp(4).getTime == v._4 && x.getString(5) == v._5 &&
            x.getLong(6) == seq
        case _ => false
      }
      if (!ok) ctx.mismatch(s"lookup $k: got ${rows.mkString(",")}, model ${want.getOrElse("absent")}")
    }
  }

  def finish(ctx: Ctx): Map[String, Double] = {
    val rows = table.toDF.collect()
    val got = rows.map(x => x.getLong(0) ->
      (((x.getLong(1), x.getString(2), x.getDouble(3), x.getTimestamp(4).getTime, x.getString(5)), x.getLong(6)))).toMap
    ctx.attempted += 1
    if (got.size != rows.length || got != model.toMap)
      ctx.mismatch(s"final table: ${rows.length} rows, ${model.size} in the model, " +
        s"${(got.keySet diff model.keySet).size + (model.keySet diff got.keySet).size} keys differ")
    val bytes = LakeFiles.bytesUnder(new File(table.location.stripPrefix("file:")))
    Map("lake.bytes_per_live_row" -> bytes.toDouble / model.size.max(1),
      "lake.write_amp" -> (watch.dataBytes + watch.metaBytes).toDouble / userBytes.max(1))
  }

  override def gauges(ctx: Ctx): Map[String, Double] = {
    val m = table.meta
    val (files, deletes) = liveFiles()
    Map("lake.snapshots" -> m.snapshots.size.toDouble, "lake.live_data_files" -> files.size.toDouble,
      "lake.live_delete_files" -> deletes.toDouble)
  }
}
