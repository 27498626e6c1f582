package graft.lake.dsv2

import graft.ExtensionsSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** Randomized parity of SQL `MERGE INTO` against an in-test model of
  * graft's MERGE semantics, after every statement. A MERGE plans one of two
  * ways: a source of at most 1,024 rows without NOT MATCHED BY SOURCE is
  * collected and merged from the driver, anything else stays distributed
  * (see [[GraftMerge]]). Both must give the same table, so the seeded
  * scenarios mix: conditional MATCHED UPDATE/DELETE, conditional INSERT,
  * null source keys, repeated unmatched source keys, an INT source key
  * merged into a BIGINT target, string keys, a branch target, both merge
  * modes, local and RDD-backed sources, plus NOT MATCHED BY SOURCE and a
  * 1,100-row source for the distributed path.
  *
  * The model (graft's documented semantics): a source row is matched iff
  * its non-null key equals some target key; the first action whose
  * condition is TRUE wins. A winning MATCHED action deletes every target
  * row with that key and an UPDATE adds its replacement row; a winning
  * INSERT adds its row. NOT MATCHED BY SOURCE deletes, by key, target keys
  * absent from the source whose condition holds, and null-keyed target
  * rows whose condition holds. */
class MergePropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val sqlSpark: SparkSession = {
    spark
    ExtensionsSession.withCatalog("mp", Files.createTempDirectory("graft-merge-prop").toString)
  }

  /** (key, tag, v): key is a java.lang.Long or a String. */
  type R = (Option[Any], Option[String], Option[Long])

  /** One MERGE clause: its SQL, its condition (three-valued; over the
    * source row, or the target row for NOT MATCHED BY SOURCE) and, for
    * UPDATE/INSERT, the row it writes. */
  final case class Clause(sql: String, cond: R => Option[Boolean], out: Option[R => R])

  private def always(r: R): Option[Boolean] = Some(true)

  private def matchedClauses(rnd: Random): Seq[Clause] = {
    val x = 10 + rnd.nextInt(80)
    val conditional = rnd.shuffle(Seq(
      Clause(s"WHEN MATCHED AND s.v < $x THEN DELETE", _._3.map(_ < x), None),
      Clause("WHEN MATCHED AND s.tag = 'a' THEN UPDATE SET id = s.id, tag = s.tag, v = s.v + 1",
        _._2.map(_ == "a"), Some(s => (s._1, s._2, s._3.map(_ + 1)))))).take(rnd.nextInt(3))
    val last = rnd.nextInt(3) match {
      case 0 => Seq(Clause("WHEN MATCHED THEN UPDATE SET *", always, Some(identity[R])))
      case 1 => Seq(Clause("WHEN MATCHED THEN DELETE", always, None))
      case _ => Seq.empty
    }
    conditional ++ last
  }

  private def notMatchedClauses(rnd: Random): Seq[Clause] = {
    val conditional =
      if (rnd.nextBoolean()) Seq(Clause("WHEN NOT MATCHED AND s.v % 2 = 0 THEN INSERT *",
        _._3.map(_ % 2 == 0), Some(identity[R])))
      else Seq.empty
    val last =
      if (rnd.nextInt(3) > 0) Seq(Clause(
        "WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, s.tag, s.v * 10)",
        always, Some(s => (s._1, s._2, s._3.map(_ * 10)))))
      else Seq.empty
    conditional ++ last
  }

  private def notMatchedBySource(rnd: Random): Option[Clause] = rnd.nextInt(4) match {
    case 0 =>
      val x = 10 + rnd.nextInt(80)
      Some(Clause(s"WHEN NOT MATCHED BY SOURCE AND t.v > $x THEN DELETE", _._3.map(_ > x), None))
    case 1 => Some(Clause("WHEN NOT MATCHED BY SOURCE THEN DELETE", always, None))
    case _ => None
  }

  /** The model's MERGE. */
  private def merge(target: Seq[R], source: Seq[R], m: Seq[Clause], n: Seq[Clause],
                    nmbs: Option[Clause]): Seq[R] = {
    val targetKeys = target.flatMap(_._1).toSet
    val deleted = scala.collection.mutable.Set.empty[Any]
    val added = scala.collection.mutable.ArrayBuffer.empty[R]
    source.foreach { s =>
      val matched = s._1.exists(targetKeys)
      (if (matched) m else n).find(_.cond(s).contains(true)).foreach { c =>
        if (matched) deleted += s._1.get
        c.out.foreach(f => added += f(s))
      }
    }
    val sourceKeys = source.flatMap(_._1).toSet
    val byNmbs: R => Boolean = nmbs match {
      case None => _ => false
      case Some(c) =>
        val keys = target.filter(t => t._1.exists(k => !sourceKeys(k)) && c.cond(t).contains(true))
          .flatMap(_._1).toSet
        t => t._1.fold(c.cond(t).contains(true))(keys)
    }
    target.filterNot(t => t._1.exists(deleted) || byNmbs(t)) ++ added
  }

  private def canon(rows: Seq[R]): Seq[String] = rows.map(_.toString).sorted

  private def assertRows(got: Seq[R], want: Seq[R], clue: => String): Unit = {
    val (g, w) = (canon(got), canon(want))
    if (g != w) fail(s"$clue\n  missing: ${w.diff(g).mkString(" ")}\n  extra:   ${g.diff(w).mkString(" ")}")
  }

  private def tableRows(ident: String): Seq[R] =
    sqlSpark.sql(s"SELECT id, tag, v FROM $ident").collect().toSeq.map { r =>
      (Option(r.get(0)), Option(r.getString(1)), if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }

  /** A key column: the target's type, the source's type, and key `i` as
    * the model holds it and as the source row carries it. */
  private final case class KeyKind(targetType: String, sourceType: DataType,
                                   model: Int => Any, source: Int => Any)
  private val LongKeys = KeyKind("BIGINT", LongType, _.toLong, _.toLong)
  private val IntSourceKeys = KeyKind("BIGINT", IntegerType, _.toLong, i => i)
  private val StringKeys = KeyKind("STRING", StringType, i => f"k$i%03d", i => f"k$i%03d")

  private def randomRow(rnd: Random, key: Option[Int], kind: KeyKind): (R, Row) = {
    val tag = if (rnd.nextInt(6) == 0) None else Some(Seq("a", "b", "c")(rnd.nextInt(3)))
    val v = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(100).toLong)
    ((key.map(kind.model), tag, v),
      Row(key.map(kind.source).orNull, tag.orNull, v.map(Long.box).orNull))
  }

  private def sourceFrame(rows: Seq[Row], kind: KeyKind, rdd: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("id", kind.sourceType),
      StructField("tag", StringType), StructField("v", LongType)))
    if (rdd) sqlSpark.createDataFrame(sqlSpark.sparkContext.parallelize(rows, 2), schema)
    else sqlSpark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** One scenario: a 40-row target, then `merges` random MERGE statements,
    * each checked against the model (and, on a branch target, main checked
    * unchanged). */
  private def scenario(seed: Int, kind: KeyKind, mor: Boolean, onBranch: Boolean,
                       merges: Int, sourceRows: Random => Int, allowNmbs: Boolean): Unit = {
    val rnd = new Random(seed)
    val name = s"mp.db.t$seed"
    sqlSpark.sql("CREATE DATABASE IF NOT EXISTS mp.db")
    sqlSpark.sql(s"CREATE TABLE $name (id ${kind.targetType}, tag STRING, v BIGINT)" +
      (if (mor) " TBLPROPERTIES ('write.merge.mode'='merge-on-read')" else ""))
    val keys = rnd.shuffle((0 until 60).toList).take(37).map(Some(_)) ++ Seq.fill(3)(None)
    val first = keys.map(k => randomRow(rnd, k, kind))
    val initial = first.map(_._1)
    sourceFrame(first.map(_._2), kind, rdd = false).createOrReplaceTempView(s"init$seed")
    sqlSpark.sql(s"INSERT INTO $name SELECT * FROM init$seed")
    assertRows(tableRows(name), initial, "after the initial INSERT")
    val target =
      if (!onBranch) name
      else {
        sqlSpark.sql(s"CALL mp.system.create_branch('db.t$seed', 'b')")
        s"$name.branch_b"
      }
    var model: Seq[R] = initial
    (0 until merges).foreach { step =>
      val nRows = sourceRows(rnd)
      val keyRange = math.max(80, nRows * 4 / 3)
      // a tenth of the keys null, a fifth repeating an earlier row's key
      val srcKeys = (0 until nRows).foldLeft(Vector.empty[Option[Int]]) { (acc, _) =>
        acc :+ (rnd.nextInt(10) match {
          case 0 => None
          case 1 | 2 if acc.nonEmpty => acc(rnd.nextInt(acc.size))
          case _ => Some(rnd.nextInt(keyRange))
        })
      }
      val src = srcKeys.map(k => randomRow(rnd, k, kind))
      val view = s"src${seed}_$step"
      sourceFrame(src.map(_._2), kind, rdd = rnd.nextInt(3) == 0).createOrReplaceTempView(view)
      var (m, n) = (matchedClauses(rnd), notMatchedClauses(rnd))
      val nmbs = if (allowNmbs) notMatchedBySource(rnd) else None
      if (m.isEmpty && n.isEmpty && nmbs.isEmpty) m = Seq(Clause("WHEN MATCHED THEN DELETE", always, None))
      val sql = s"MERGE INTO $target t USING $view s ON t.id = s.id\n" +
        (m ++ n ++ nmbs).map(_.sql).mkString("\n")
      sqlSpark.sql(sql)
      model = merge(model, src.map(_._1), m, n, nmbs)
      assertRows(tableRows(target), model, s"seed $seed step $step (${src.size} source rows):\n$sql")
      if (onBranch) assertRows(tableRows(name), initial, s"main after seed $seed step $step")
    }
  }

  private val small: Random => Int = r => 1 + r.nextInt(24)

  test("small-source MERGE: 10 seeded scenarios of 3 statements match the model") {
    val kinds = Seq(LongKeys, IntSourceKeys, StringKeys)
    (0 until 10).foreach { i =>
      scenario(seed = 100 + i, kind = kinds(i % 3), mor = i % 2 == 1, onBranch = i % 4 == 3,
        merges = 3, sourceRows = small, allowNmbs = false)
    }
  }

  test("distributed MERGE (NOT MATCHED BY SOURCE, 1,100-row source) matches the same model") {
    scenario(seed = 200, kind = LongKeys, mor = false, onBranch = false,
      merges = 3, sourceRows = small, allowNmbs = true)
    scenario(seed = 201, kind = IntSourceKeys, mor = true, onBranch = true,
      merges = 3, sourceRows = small, allowNmbs = true)
    scenario(seed = 202, kind = StringKeys, mor = false, onBranch = false,
      merges = 2, sourceRows = _ => 1100, allowNmbs = false)
    scenario(seed = 203, kind = LongKeys, mor = true, onBranch = false,
      merges = 2, sourceRows = _ => 1100, allowNmbs = true)
  }
}
