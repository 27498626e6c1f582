package graftbench

import org.apache.spark.sql.Row

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable

/** notebook_sql: each round runs a seeded script of the reference
  * notebooks' SQL against a small table through the `lake` DSv2 catalog
  * in a session built with GraftExtensions: DDL, INSERT, UPDATE, DELETE,
  * MERGE INTO, ADD COLUMN, a branch write and fast-forward, VERSION AS OF
  * reads, the snapshots/files/history/refs tables, rewrite_data_files,
  * expire_snapshots and DROP. Statements touch few rows, so the fixed
  * cost per statement dominates. Every read is checked against a model. */
final class NotebookSql extends Workload {
  override def extensions: Boolean = true
  override def setupReps: Int = 5
  /** Rounds take 5 to 6 CPU seconds, so two fit a run's time budget. */
  override def minRounds: Int = 2
  val Rows = 40

  private var seed = 0L
  private var warehouse: File = _
  private val bytesPerRow = mutable.ArrayBuffer.empty[Double]
  private val writeAmp = mutable.ArrayBuffer.empty[Double]
  private var shape = Map.empty[String, Double]
  private var digest = 0L

  def inputDigest: String = f"$digest%016x"

  def prepare(ctx: Ctx): Unit = {
    seed = ctx.seed
    digest = (0 until 4).map(r => new SplittableRandom(seed * 7919L + r).nextLong()).sum
  }

  def setup(ctx: Ctx, dir: File): Unit = {
    warehouse = new File(dir, "warehouse")
    ctx.spark.conf.set("spark.sql.catalog.lake", "graft.lake.dsv2.GraftCatalog")
    ctx.spark.conf.set("spark.sql.catalog.lake.warehouse", warehouse.getPath)
    ctx.spark.sql("CREATE DATABASE IF NOT EXISTS lake.nb").collect()
    ctx.spark.sql("SHOW TABLES IN lake.nb").collect()
  }

  private type M = mutable.TreeMap[Long, (String, Long, String)] // id -> grp, v, note

  def round(ctx: Ctx, r: Int): Unit = {
    val rnd = new SplittableRandom(seed * 7919L + r)
    val t = s"lake.nb.t$r"
    val ident = s"nb.t$r"
    val dir = new File(warehouse, s"nb/t$r")
    val watch = new DirWatch(dir)
    var userBytes = 0L
    val model: M = mutable.TreeMap.empty
    val grps = Array("a", "b", "c", "d", "e")
    def grp() = grps(rnd.nextInt(grps.length))
    def rowBytes(g: String, note: String) = 8 + g.length + 8 + Option(note).map(_.length).getOrElse(0)

    def stmt(kind: String, sql: String, read: Boolean = false): Option[Array[Row]] = {
      val res = ctx.op(kind, if (read) Seq("op", "read") else Seq("op"), write = !read) {
        ctx.span("dsv2.stmt") {
          val df = ctx.spark.sql(sql)
          val rows = ctx.span("exec.action")(df.collect())
          // a command runs inside Spark's analysis phase, so its phase
          // times would include the command itself: record reads only
          if (read) ctx.catalyst(df.queryExecution)
          rows
        }
      }
      ctx.count("dsv2.statements", 1)
      if (kind != "select") ctx.count(s"dsv2.${kind}_ms", ctx.lastWallMs)
      val (d, m) = watch.poll()
      ctx.count("lake.data_bytes_written", d)
      ctx.count("lake.meta_bytes_written", m)
      res
    }
    def expect(kind: String, sql: String, want: Seq[Row]): Unit =
      stmt(kind, sql, read = true).foreach { rows =>
        val got = rows.toSeq.map(Checksum.canon)
        val exp = want.map(Checksum.canon)
        if (got != exp) ctx.mismatch(s"$sql\n  got      ${got.mkString(" ")}\n  expected ${exp.mkString(" ")}")
      }
    def expectWith(kind: String, sql: String)(ok: Array[Row] => Boolean): Unit =
      stmt(kind, sql, read = true).foreach { rows =>
        if (!ok(rows)) ctx.mismatch(s"$sql: got ${rows.mkString(" ")}")
      }
    def all(m: M, withNote: Boolean) = m.toSeq.map { case (id, (g, v, n)) =>
      if (withNote) Row(id, g, v, n) else Row(id, g, v) }
    def totals(m: M) = Seq(Row(m.size.toLong, m.values.map(_._2).sum))

    stmt("ddl", s"CREATE TABLE $t (id BIGINT, grp STRING, v BIGINT)")
    val first = (0 until Rows).map(i => (i.toLong, (grp(), rnd.nextInt(1000).toLong, null: String)))
    stmt("insert", s"INSERT INTO $t VALUES " +
      first.map { case (id, (g, v, _)) => s"($id, '$g', $v)" }.mkString(", "))
    first.foreach { case (id, x) => model(id) = x; userBytes += rowBytes(x._1, null) }
    val atFirst = model.clone()
    var firstSnapshot = -1L
    expectWith("metadata_table", s"SELECT snapshot_id FROM $t.snapshots ORDER BY committed_at, snapshot_id") { rows =>
      rows.headOption.foreach(x => firstSnapshot = x.getLong(0))
      rows.length == 1
    }

    val (mod, delta) = (rnd.nextInt(5), 1 + rnd.nextInt(50))
    // planted fault: graft is asked for a different increment than the model applies
    stmt("update", s"UPDATE $t SET v = v + ${if (ctx.fault) delta + 1 else delta} WHERE id % 5 = $mod")
    model.keys.filter(_ % 5 == mod).foreach { id =>
      val (g, v, n) = model(id); model(id) = (g, v + delta, n); userBytes += rowBytes(g, n)
    }
    val mod7 = rnd.nextInt(7)
    stmt("delete", s"DELETE FROM $t WHERE id % 7 = $mod7")
    model.keys.filter(_ % 7 == mod7).toSeq.foreach(model.remove)

    val src = (Seq.fill(5)(rnd.nextInt(Rows).toLong) ++ (Rows until Rows + 5).map(_.toLong)).distinct
      .map(id => (id, grp(), rnd.nextInt(1000).toLong))
    stmt("merge",
      s"""MERGE INTO $t t USING (SELECT * FROM VALUES ${src.map { case (i, g, v) => s"($i, '$g', $v)" }.mkString(", ")}
         |AS s(id, grp, v)) s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    src.foreach { case (i, g, v) => model(i) = (g, v, null); userBytes += rowBytes(g, null) }

    stmt("ddl", s"ALTER TABLE $t ADD COLUMN note STRING")
    val noted = (0 until 5).map(i => ((Rows + 10 + i).toLong, (grp(), rnd.nextInt(1000).toLong, s"n$i")))
    stmt("insert", s"INSERT INTO $t VALUES " +
      noted.map { case (id, (g, v, n)) => s"($id, '$g', $v, '$n')" }.mkString(", "))
    noted.foreach { case (id, x) => model(id) = x; userBytes += rowBytes(x._1, x._3) }
    expect("select", s"SELECT id, grp, v, note FROM $t ORDER BY id", all(model, withNote = true))

    val branch = s"b$r"
    stmt("branch", s"ALTER TABLE $t CREATE BRANCH $branch")
    val onBranch = (0 until 3).map(i => ((Rows + 20 + i).toLong, (grp(), rnd.nextInt(1000).toLong, s"w$i")))
    val branchModel = model.clone() ++= onBranch
    onBranch.foreach { case (_, x) => userBytes += rowBytes(x._1, x._3) }
    ctx.op("branch", Seq("op"), write = true) {
      ctx.span("dsv2.stmt") {
        ctx.spark.sql(s"SET spark.wap.branch = $branch").collect()
        try ctx.spark.sql(s"INSERT INTO $t VALUES " +
          onBranch.map { case (id, (g, v, n)) => s"($id, '$g', $v, '$n')" }.mkString(", ")).collect()
        finally ctx.spark.sql("RESET spark.wap.branch").collect()
      }
    }
    ctx.count("dsv2.statements", 1)
    ctx.count("dsv2.branch_ms", ctx.lastWallMs)
    expect("time_travel", s"SELECT COUNT(*), SUM(v) FROM $t VERSION AS OF '$branch'", totals(branchModel))
    stmt("branch", s"CALL lake.system.fast_forward(table => '$ident', branch => 'main', to => '$branch')")
    model ++= onBranch
    expect("time_travel", s"SELECT id, grp, v FROM $t VERSION AS OF $firstSnapshot ORDER BY id",
      all(atFirst, withNote = false))
    expect("metadata_table", s"SELECT name FROM $t.refs ORDER BY name", Seq(Row(branch), Row("main")))
    // main carries at least the five data commits above
    expectWith("metadata_table", s"SELECT COUNT(*) FROM $t.history")(_.head.getLong(0) >= 5)
    stmt("procedure", s"CALL lake.system.rewrite_data_files(table => '$ident')")
    expect("metadata_table", s"SELECT COUNT(*) FROM $t.files", Seq(Row(1L)))
    stmt("procedure", s"CALL lake.system.expire_snapshots(table => '$ident', retain_last => 2)")
    expect("select", s"SELECT id, grp, v, note FROM $t ORDER BY id", all(model, withNote = true))

    // storage figures of this round's table, taken before it is dropped
    watch.poll()
    val bytes = LakeFiles.bytesUnder(dir)
    bytesPerRow += bytes.toDouble / model.size
    writeAmp += (watch.dataBytes + watch.metaBytes).toDouble / userBytes
    if (ctx.isTraced) {
      val m = new graft.lake.LakeCatalog(ctx.spark, warehouse.getPath).loadTable(ident).meta
      val snap = m.currentSnapshot
      shape = Map("lake.snapshots" -> m.snapshots.size.toDouble,
        "lake.live_data_files" -> snap.map(_.files.size).getOrElse(0).toDouble,
        "lake.live_delete_files" -> snap.map(s => s.deleteFiles.size + s.eqDeleteFiles.size).getOrElse(0).toDouble)
    }
    stmt("ddl", s"DROP TABLE $t")
  }

  def finish(ctx: Ctx): Map[String, Double] =
    Map("lake.bytes_per_live_row" -> Stats.median(bytesPerRow.toSeq), "lake.write_amp" -> Stats.median(writeAmp.toSeq))

  override def gauges(ctx: Ctx): Map[String, Double] = shape
}
