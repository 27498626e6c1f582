package graft.lake.dsv2

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Automatic materialized-view query routing ([[GraftMvRoute]]): a
  * matching aggregate over the base table must read the maintained view
  * state (no aggregate executes at all — the state IS the answer), but
  * ONLY while the view is exactly fresh; stale views, shape mismatches,
  * and semantic near-misses (count(col) vs COUNT(*)) must scan normally.
  * Results must be row-identical either way. */
class MvRouteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // a fresh session, not getOrCreate(): a shared session from another
    // suite would come back WITHOUT GraftExtensions and the routing rule
    val s = graft.ExtensionsSession.withCatalog("lake",
      Files.createTempDirectory("graft-mvroute").toString)
    org.apache.spark.sql.graftbridge.CatalogBridge.resetCatalogs(s)
    s.sql("CREATE DATABASE IF NOT EXISTS lake.db")
    s
  }

  private def sql(q: String): DataFrame = spark.sql(q)

  /** The routing signal: a routed query's physical plan has NO aggregate
    * operator (the state projection is the whole answer); an unrouted
    * aggregate always hashes/sorts-aggregates over a scan. */
  private def isRouted(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Aggregate")

  private def rows(df: DataFrame): Seq[(String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("fresh MV answers a matching aggregate with zero aggregation; stale never routes") {
    sql("CREATE TABLE lake.db.rb (g STRING, v BIGINT, w DOUBLE)")
    sql("INSERT INTO lake.db.rb VALUES ('a', 1, 0.5), ('a', 2, 1.5), ('b', 10, 2.0)")
    sql("""CREATE MATERIALIZED VIEW lake.db.rmv AS
          |SELECT g, COUNT(*) AS n, sum(v) AS t
          |FROM lake.db.rb GROUP BY g""".stripMargin)
    val q = "SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.rb GROUP BY g ORDER BY g"
    val routedDf = sql(q)
    assert(isRouted(routedDf), "fresh view must answer the matching aggregate:\n" +
      routedDf.queryExecution.executedPlan.toString)
    assert(rows(routedDf) === Seq(("a", 2L, 3L), ("b", 1L, 10L)))
    // aliasing/order/subset variations still route
    assert(isRouted(sql("SELECT sum(v) AS total, g FROM lake.db.rb GROUP BY g")))
    // stale: base moved past the watermark → no zero-aggregation route
    // (r11 compensation still answers from state+delta, which aggregates
    // the churn — the file-set proof lives in the dedicated r11 tests)
    sql("INSERT INTO lake.db.rb VALUES ('b', 5, 3.0), ('c', 7, 4.0)")
    val staleDf = sql(q)
    assert(!isRouted(staleDf), "stale view must NOT take the zero-agg route")
    assert(rows(staleDf) === Seq(("a", 2L, 3L), ("b", 2L, 15L), ("c", 1L, 7L)))
    // refresh → routes again, identical rows
    sql("REFRESH MATERIALIZED VIEW lake.db.rmv")
    val freshDf = sql(q)
    assert(isRouted(freshDf), "refreshed view must route again")
    assert(rows(freshDf) === rows(staleDf))
    // the refresh-health listing is a SQL-reachable metadata table (r11)
    val listing = sql(
      "SELECT view, fresh, refresh_failures FROM lake.db.rb.materialized_views").collect()
    assert(listing.exists(r => r.getString(0) == "db.rmv" && r.getBoolean(1)
      && r.getLong(2) == 0L), listing.mkString(","))
  }

  test("shape and semantic mismatches scan normally") {
    sql("CREATE TABLE lake.db.rb2 (g STRING, h STRING, v BIGINT)")
    sql("INSERT INTO lake.db.rb2 VALUES ('a', 'x', 1), ('b', 'y', 2)")
    sql("""CREATE MATERIALIZED VIEW lake.db.rmv2 AS
          |SELECT g, COUNT(*) AS n, sum(v) AS t
          |FROM lake.db.rb2 GROUP BY g""".stripMargin)
    // different group column
    assert(!isRouted(sql("SELECT h, count(*) AS n FROM lake.db.rb2 GROUP BY h")))
    // count(v) is null-sensitive — the view only has COUNT(*)
    assert(!isRouted(sql("SELECT g, count(v) AS n FROM lake.db.rb2 GROUP BY g")))
    // an aggregate the view lacks
    assert(!isRouted(sql("SELECT g, min(v) AS lo FROM lake.db.rb2 GROUP BY g")))
    // DISTINCT never routes
    assert(!isRouted(sql("SELECT g, count(DISTINCT v) AS n FROM lake.db.rb2 GROUP BY g")))
    // a filter on a NON-group column below the aggregate never routes
    assert(!isRouted(sql(
      "SELECT g, count(*) AS n FROM lake.db.rb2 WHERE v > 1 GROUP BY g")))
    // … and a mixed predicate (group AND non-group) never routes either
    assert(!isRouted(sql(
      "SELECT g, count(*) AS n FROM lake.db.rb2 WHERE g = 'a' AND v > 0 GROUP BY g")))
    // matching shape still routes (sanity that the view is live + fresh)
    assert(isRouted(sql("SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.rb2 GROUP BY g")))
    // HAVING rides on top of the routed aggregate: the filter references
    // the aggregate's output by exprId, which the rewrite preserves
    val having = sql(
      "SELECT g, count(*) AS n FROM lake.db.rb2 GROUP BY g HAVING count(*) >= 1 ORDER BY g")
    assert(isRouted(having), "HAVING must not block routing:\n" +
      having.queryExecution.executedPlan.toString)
    assert(having.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 1L)))
    // DROP deregisters: the same query scans again (and still answers)
    sql("DROP MATERIALIZED VIEW lake.db.rmv2")
    val after = sql("SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.rb2 GROUP BY g ORDER BY g")
    assert(!isRouted(after))
    assert(rows(after) === Seq(("a", 1L, 1L), ("b", 1L, 2L)))
  }

  test("group-column WHERE routes as a filter over the presented state (r11)") {
    sql("CREATE TABLE lake.db.fb (g STRING, h STRING, v BIGINT)")
    sql("INSERT INTO lake.db.fb VALUES ('a', 'x', 1), ('a', 'y', 2), ('b', 'x', 10), ('c', 'z', 40)")
    sql("""CREATE MATERIALIZED VIEW lake.db.fmv AS
          |SELECT g, h, COUNT(*) AS n, sum(v) AS t
          |FROM lake.db.fb GROUP BY g, h""".stripMargin)
    // equality on one group column
    val eq = sql("SELECT g, h, count(*) AS n, sum(v) AS t FROM lake.db.fb WHERE g = 'a' GROUP BY g, h ORDER BY h")
    assert(isRouted(eq), "group-column equality filter must route:\n" +
      eq.queryExecution.executedPlan.toString)
    assert(eq.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq(("a", "x", 1L, 1L), ("a", "y", 1L, 2L)))
    // compound predicate over BOTH group columns, IN + inequality
    val in = sql(
      "SELECT g, h, count(*) AS n FROM lake.db.fb WHERE g IN ('a','b') AND h <> 'y' GROUP BY g, h ORDER BY g")
    assert(isRouted(in))
    assert(in.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("a", "x", 1L), ("b", "x", 1L)))
    // filter inside a subquery wrapper is transparent too
    val sub = sql(
      """SELECT g, h, count(*) AS n FROM (
        |  SELECT * FROM lake.db.fb WHERE g = 'b') s
        |GROUP BY g, h""".stripMargin)
    assert(isRouted(sub), "subquery-wrapped group filter must route:\n" +
      sub.queryExecution.executedPlan.toString)
    assert(sub.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("b", "x", 1L)))
    // filtered rows match a direct scan exactly once the view is stale
    sql("INSERT INTO lake.db.fb VALUES ('a', 'x', 100)")
    val stale = sql("SELECT g, h, count(*) AS n, sum(v) AS t FROM lake.db.fb WHERE g = 'a' GROUP BY g, h ORDER BY h")
    assert(stale.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq(("a", "x", 2L, 101L), ("a", "y", 1L, 2L)))
    // nondeterministic predicates never route, even over group columns
    assert(!isRouted(sql(
      "SELECT g, count(*) AS n FROM lake.db.fb WHERE g > string(rand()) GROUP BY g")))
  }

  test("star-schema routing: the dim-join aggregate reads the view; key/kind/dim-change mismatches scan (r10)") {
    sql("CREATE TABLE lake.db.sf (ok BIGINT, ck BIGINT, price BIGINT)")
    sql("CREATE TABLE lake.db.sd (ck2 BIGINT, seg STRING)")
    sql("INSERT INTO lake.db.sd VALUES (1, 'gold'), (2, 'iron')")
    sql("INSERT INTO lake.db.sf VALUES (10, 1, 100), (11, 1, 50), (12, 2, 7), (13, 3, 999)")
    sql("""CREATE MATERIALIZED VIEW lake.db.smvr AS
          |SELECT d.seg, COUNT(*) AS n, sum(f.price) AS t
          |FROM lake.db.sf f JOIN lake.db.sd d ON f.ck = d.ck2
          |GROUP BY d.seg""".stripMargin)
    val starQ = """SELECT d.seg, count(*) AS n, sum(f.price) AS t
                  |FROM lake.db.sf f JOIN lake.db.sd d ON f.ck = d.ck2
                  |GROUP BY d.seg ORDER BY d.seg""".stripMargin
    val routed = sql(starQ)
    assert(isRouted(routed), "matching star aggregate must read the view:\n" +
      routed.queryExecution.executedPlan.toString)
    assert(rows(routed) === Seq(("gold", 2L, 150L), ("iron", 1L, 7L)))
    // ON-key mismatch (joining on the price column) scans normally
    assert(!isRouted(sql(
      """SELECT d.seg, count(*) AS n FROM lake.db.sf f
        |JOIN lake.db.sd d ON f.price = d.ck2 GROUP BY d.seg""".stripMargin)))
    // join-kind mismatch (LEFT vs the view's INNER) scans normally
    assert(!isRouted(sql(
      """SELECT d.seg, count(*) AS n FROM lake.db.sf f
        |LEFT JOIN lake.db.sd d ON f.ck = d.ck2 GROUP BY d.seg""".stripMargin)))
    // the plain (dim-free) aggregate over the base must NOT take the
    // star view — a dim-free query matches only a dim-free view
    assert(!isRouted(sql("SELECT ck, count(*) AS n FROM lake.db.sf GROUP BY ck")))
    // fact churn → stale → the zero-agg route stops; r11 compensation
    // still answers through the dim-enriched delta, rows identical
    sql("INSERT INTO lake.db.sf VALUES (14, 2, 3)")
    assert(!isRouted(sql(starQ)))
    assert(rows(sql(starQ)) === Seq(("gold", 2L, 150L), ("iron", 2L, 10L)))
    sql("REFRESH MATERIALIZED VIEW lake.db.smvr")
    assert(isRouted(sql(starQ)))
    assert(rows(sql(starQ)) === Seq(("gold", 2L, 150L), ("iron", 2L, 10L)))
    // a subquery wrapper around the join is transparent for matching
    val wrapped = sql(
      """SELECT seg, count(*) AS n, sum(price) AS t FROM (
        |  SELECT d.seg, f.price FROM lake.db.sf f
        |  JOIN lake.db.sd d ON f.ck = d.ck2) s
        |GROUP BY seg""".stripMargin)
    assert(isRouted(wrapped), "subquery-wrapped star join must still route:\n" +
      wrapped.queryExecution.executedPlan.toString)
    // DIMENSION churn → deltas are unsound AND routing must stop, even
    // though the base watermark still matches
    sql("INSERT INTO lake.db.sd VALUES (3, 'clay')")
    val afterDim = sql(starQ)
    assert(!isRouted(afterDim), "a mutated dimension must disable routing")
    assert(rows(afterDim) ===
      Seq(("clay", 1L, 999L), ("gold", 2L, 150L), ("iron", 2L, 10L)))
  }

  test("stale view compensates read-side: no pre-watermark base files scanned (r11)") {
    sql("CREATE TABLE lake.db.cb (g STRING, v BIGINT)")
    sql("INSERT INTO lake.db.cb VALUES ('a', 1), ('b', 10)")
    sql("INSERT INTO lake.db.cb VALUES ('a', 2)")
    sql("""CREATE MATERIALIZED VIEW lake.db.cmv AS
          |SELECT g, COUNT(*) AS n, sum(v) AS t FROM lake.db.cb GROUP BY g""".stripMargin)
    val cat = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse"))
    val preFiles = cat.loadTable("db.cb").toDF.inputFiles.toSet
    assert(preFiles.nonEmpty)
    // go stale: two more appends past the watermark
    sql("INSERT INTO lake.db.cb VALUES ('b', 5), ('c', 7)")
    sql("INSERT INTO lake.db.cb VALUES ('c', 3)")
    val q = "SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.cb GROUP BY g ORDER BY g"
    val comp = sql(q)
    val scanned = comp.inputFiles.toSet
    assert(scanned.intersect(preFiles).isEmpty,
      "compensated route must not scan pre-watermark base files, scanned:\n" +
        scanned.intersect(preFiles).mkString("\n"))
    assert(rows(comp) === Seq(("a", 2L, 3L), ("b", 2L, 15L), ("c", 2L, 10L)))
    // compensation disabled → the same query scans the base, same rows
    spark.conf.set(GraftMvRoute.CompensateKey, "false")
    try {
      val scan = sql(q)
      assert(scan.inputFiles.toSet.intersect(preFiles).nonEmpty,
        "with compensation off a stale view must scan normally")
      assert(rows(scan) === rows(comp))
    } finally spark.conf.unset(GraftMvRoute.CompensateKey)
    // group-column WHERE composes with compensation
    val filtered = sql(
      "SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.cb WHERE g = 'c' GROUP BY g")
    assert(filtered.inputFiles.toSet.intersect(preFiles).isEmpty)
    assert(rows(filtered) === Seq(("c", 2L, 10L)))
    // a window beyond the commit bound falls back to the scan: the
    // changelog plan would union one diff per commit, so compensation
    // must refuse long-stale views instead of out-costing the scan
    spark.conf.set(GraftMvRoute.CompensateMaxCommitsKey, "1")
    try {
      val bounded = sql(q) // window is 2 commits > bound 1
      assert(bounded.inputFiles.toSet.intersect(preFiles).nonEmpty,
        "a window beyond max-commits must scan normally")
      assert(rows(bounded) === rows(comp))
    } finally spark.conf.unset(GraftMvRoute.CompensateMaxCommitsKey)
    // refresh catches up → the zero-aggregation fresh route resumes
    sql("REFRESH MATERIALIZED VIEW lake.db.cmv")
    assert(isRouted(sql(q)))
  }

  test("count/sum views compensate across delete windows reading only churn files; min/max falls back (r11)") {
    val cat = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse"))
    sql("CREATE TABLE lake.db.dv (g STRING, v BIGINT)")
    sql("INSERT INTO lake.db.dv VALUES ('a', 1)")
    val f1 = cat.loadTable("db.dv").toDF.inputFiles.toSet
    sql("INSERT INTO lake.db.dv VALUES ('b', 10)")
    val f12 = cat.loadTable("db.dv").toDF.inputFiles.toSet
    sql("INSERT INTO lake.db.dv VALUES ('c', 100)")
    val f123 = cat.loadTable("db.dv").toDF.inputFiles.toSet
    val f2 = f12 -- f1; val f3 = f123 -- f12
    assert(f2.nonEmpty && f3.nonEmpty)
    sql("""CREATE MATERIALIZED VIEW lake.db.dmv AS
          |SELECT g, COUNT(*) AS n, sum(v) AS t FROM lake.db.dv GROUP BY g""".stripMargin)
    // a CoW DELETE rewrites exactly b's file — the compensated route may
    // read THAT file (it is the churn) but must not touch a or c's files
    sql("DELETE FROM lake.db.dv WHERE g = 'b'")
    val comp = sql("SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.dv GROUP BY g ORDER BY g")
    val scanned = comp.inputFiles.toSet
    assert(scanned.intersect(f1 ++ f3).isEmpty,
      "compensation across a delete window must read only the churn files")
    assert(rows(comp) === Seq(("a", 1L, 1L), ("c", 1L, 100L)))

    // min/max: an append-only window compensates algebraically…
    sql("CREATE TABLE lake.db.mm (g STRING, v BIGINT)")
    sql("INSERT INTO lake.db.mm VALUES ('a', 5), ('b', 50)")
    sql("""CREATE MATERIALIZED VIEW lake.db.mmv AS
          |SELECT g, min(v) AS lo, max(v) AS hi FROM lake.db.mm GROUP BY g""".stripMargin)
    val mmPre = cat.loadTable("db.mm").toDF.inputFiles.toSet
    sql("INSERT INTO lake.db.mm VALUES ('a', 1), ('b', 99)")
    val mq = "SELECT g, min(v) AS lo, max(v) AS hi FROM lake.db.mm GROUP BY g ORDER BY g"
    val mmComp = sql(mq)
    assert(mmComp.inputFiles.toSet.intersect(mmPre).isEmpty,
      "append-only window must compensate min/max without a base scan")
    assert(rows(mmComp) === Seq(("a", 1L, 5L), ("b", 50L, 99L)))
    // …but a delete in the window may have clipped the extreme — the
    // route must refuse and the full scan answer
    sql("DELETE FROM lake.db.mm WHERE v = 99")
    val fb = sql(mq)
    assert(fb.inputFiles.toSet.intersect(mmPre).nonEmpty,
      "min/max over a delete window must fall back to the full scan")
    assert(rows(fb) === Seq(("a", 1L, 5L), ("b", 50L, 50L)))
  }

  test("time travel and branches bypass the view; write targets are untouched") {
    sql("CREATE TABLE lake.db.rb3 (g STRING, v BIGINT)")
    sql("INSERT INTO lake.db.rb3 VALUES ('a', 1)")
    val lt = new graft.lake.LakeCatalog(spark,
      spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.rb3")
    val snap1 = lt.meta.currentSnapshot.get.snapshotId
    sql("INSERT INTO lake.db.rb3 VALUES ('a', 2), ('b', 3)")
    sql("""CREATE MATERIALIZED VIEW lake.db.rmv3 AS
          |SELECT g, COUNT(*) AS n, sum(v) AS t FROM lake.db.rb3 GROUP BY g""".stripMargin)
    assert(isRouted(sql("SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.rb3 GROUP BY g")))
    // VERSION AS OF pins a historical snapshot — the view reflects head
    val tt = sql(s"SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.rb3 VERSION AS OF $snap1 GROUP BY g")
    assert(!isRouted(tt), "time travel must never route to the view")
    assert(rows(tt) === Seq(("a", 1L, 1L)))
    // a WAP session redirects un-pinned reads to the audit branch — the
    // view reflects main, so routing must disable itself entirely
    spark.conf.set("spark.wap.branch", "audit_x")
    try {
      val lt3 = new graft.lake.LakeCatalog(spark,
        spark.conf.get("spark.sql.catalog.lake.warehouse")).loadTable("db.rb3")
      lt3.createBranch("audit_x")
      assert(!isRouted(sql(
        "SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.rb3 GROUP BY g")),
        "WAP-branch sessions must never route to the main-lineage view")
    } finally spark.conf.unset("spark.wap.branch")
    assert(isRouted(sql("SELECT g, count(*) AS n, sum(v) AS t FROM lake.db.rb3 GROUP BY g")),
      "routing resumes once the WAP session ends")
    // INSERT INTO t SELECT-aggregate-over-t: source side may route, the
    // write target must stay a DSv2 relation (no crash, correct result)
    sql("CREATE TABLE lake.db.rb3sink (g STRING, n BIGINT, t BIGINT)")
    sql("INSERT INTO lake.db.rb3sink SELECT g, count(*), sum(v) FROM lake.db.rb3 GROUP BY g")
    assert(sql("SELECT COUNT(*) FROM lake.db.rb3sink").head.getLong(0) === 2L)
  }
}
