package graft.queries

import graft.QuerySpec
import graft.QuerySpec._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import java.util.concurrent.ConcurrentHashMap

/** Oracle-gated lake-layer queries: ingest driver testdata into real lake
  * tables through the DSv2 SQL surface, run the notebook-style operations
  * (INSERT SELECT / DELETE FROM / VERSION AS OF), and compare the result
  * against DuckDB over the ORIGINAL parquet — so the table format, the
  * catalog, CoW DML and time travel are verified by the same exact-hash
  * gate as the relational queries, not just by ScalaTest.
  *
  * Setup is memoized per (session, sfDir): the lake warehouse is built
  * once (deterministic content), queries then only read/rebuild what the
  * scenario needs, so repeated bench runs measure steady-state reads.
  */
object LakeOps {

  private case class Env(warehouse: String, firstRegionSnapshot: Long,
                         chgFromSnapshot: Long,
                         /** sibling session WITH GraftExtensions — queries
                           * whose POINT is an analyzer fast path (q96) run
                           * their SQL here, the way the engine deploys. */
                         ext: SparkSession)
  private val envs = new graft.SessionCache[Env]()

  /** q83's DuckDB-side oracle, GENERATED by the export during setup (the
    * SQL embeds the snapshot's data/delete-file paths, so it cannot be a
    * static string). Keyed per sf dir like the envs: a JVM that touched
    * several dirs must not dump another warehouse's paths. Verify runs
    * one dir and dumps AFTER running every query, so exactly one entry
    * exists at dump time; anything else is reported, not guessed. */
  private val exportOracleSqls = new ConcurrentHashMap[String, String]()

  /** q87's hive-layout source directory, per sf dir (the oracle reads the
    * SAME files DuckDB-side with hive_partitioning — the path is only
    * known once setup has built the layout, so the oracle is deferred). */
  private val hiveDirs = new ConcurrentHashMap[String, String]()

  /** q100's TTL cutoff (epoch-ns), per sf dir — derived from the data at
    * setup time, embedded in the deferred oracle. */
  private val ttlCuts = new ConcurrentHashMap[String, Long]()

  private def ensure(s: SparkSession, dir: String): Env = {
    envs.getOrElseUpdate(s, dir) {
      graft.Tables.registerAll(s, dir)
      val wh = java.nio.file.Files.createTempDirectory("graft-lakeops").toString
      // reads (q31-q33) go through the caller's session via the V1Scan
      // fallback; the DML setup runs on a sibling session WITH
      // GraftExtensions (shared context, own sessionState) because the
      // arbitrary-predicate SQL DELETE below needs the GraftDelete
      // analyzer translation — the driver builds its Verify/Bench
      // sessions without extensions, same as the no-extensions spec path
      s.conf.set("spark.sql.catalog.lake", "graft.lake.dsv2.GraftCatalog")
      s.conf.set("spark.sql.catalog.lake.warehouse", wh)
      // the session may already hold a cached `lake` catalog instantiated
      // against an older warehouse conf (another test suite, an earlier
      // ensure) — drop the cache so the conf above takes effect
      org.apache.spark.sql.graftbridge.CatalogBridge.resetCatalogs(s)
      // created aside: a later getOrCreate() (another test suite, a
      // caller's lazy session) must not receive this ext session, whose
      // cached `lake` catalog points at OUR temp warehouse and ignores
      // their conf
      val ext = graft.Sessions.createAside(SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions()(_)))
      ext.conf.set("spark.sql.catalog.lake", "graft.lake.dsv2.GraftCatalog")
      ext.conf.set("spark.sql.catalog.lake.warehouse", wh)
      graft.Tables.registerAll(ext, dir) // temp views are per-session
      def sqlx(q: String) = ext.sql(q)
      s.sql("CREATE DATABASE IF NOT EXISTS lake.ops")
      // self-heal after a failed earlier attempt: Spark caches the catalog
      // instance (and thus the original warehouse) per session, so a retry
      // of this lambda would otherwise trip over half-created tables
      Seq("nation", "supplier", "region", "chg", "mvbase", "mv_orders",
        "bkt_orders", "bkt_cust", "cust_mor", "ord_mor",
        "star_fact", "star_dim", "star_mv", "exp", "imported", "himp", "mig",
        "blm", "line_dv", "pstat", "pdel", "txn_open", "txn_done",
        "ttl_ev", "ttl_ev2", "cl_t", "cl_src")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS lake.ops.$t"))
      // q89 (r13): manifest-bloom table — md5 keys span the full hex
      // domain, so min/max stats overlap across every file and ONLY the
      // per-file blooms can separate the appends at lookup time
      s.sql("""CREATE TABLE lake.ops.blm (okey BIGINT, k STRING, price DOUBLE)
              |TBLPROPERTIES ('graft.bloom.columns'='k',
              |               'graft.bloom.fpp'='0.001')""".stripMargin)
      for (b <- 0 until 4)
        s.sql(s"""INSERT INTO lake.ops.blm
                 |SELECT o_orderkey, md5(CAST(o_orderkey AS STRING)), o_totalprice
                 |FROM orders WHERE o_orderkey % 4 = $b""".stripMargin)
      // q86: register the ORIGINAL part.parquet in place (no copy), then
      // rename a column — the per-import schema group must keep the DDL
      // metadata-only for the foreign file too
      s.sql("""CREATE TABLE lake.ops.imported
              |  (p_partkey BIGINT, p_name STRING, p_brand STRING,
              |   p_type STRING, p_size INT, p_retailprice DOUBLE)""".stripMargin)
      s.sql(s"CALL lake.system.add_files('ops.imported', '$dir/part.parquet')")
      s.sql("ALTER TABLE lake.ops.imported RENAME COLUMN p_retailprice TO price")
      // q87 (r12): a hive key=value layout (the reference's monthly-taxi
      // shape, one file per partition value, the key ONLY in the path)
      // imported into an identity-PARTITIONED table, then the partition
      // column renamed — reads must fill it from the path and prune on it
      val hiveDir = s"$wh/hive_orders"
      val ord = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      for (st <- Seq("O", "F", "P"))
        ord.filter(col("o_orderstatus") === st).drop("o_orderstatus")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$hiveDir/o_orderstatus=$st")
      s.sql("""CREATE TABLE lake.ops.himp
              |  (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
              |PARTITIONED BY (o_orderstatus)""".stripMargin)
      s.sql(s"CALL lake.system.add_files('ops.himp', '$hiveDir')")
      s.sql("ALTER TABLE lake.ops.himp RENAME COLUMN o_orderstatus TO status")
      // q88 (r12): migrate derives the table FROM the same hive layout —
      // no pre-declared schema; the path column becomes an identity
      // partition typed by discovery (two tables share the foreign files)
      s.sql(s"CALL lake.system.migrate('ops.mig', '$hiveDir')")
      hiveDirs.put(dir, hiveDir)
      // q31: nation round-trip (INSERT INTO ... SELECT — D13)
      s.sql("""CREATE TABLE lake.ops.nation
              |  (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)""".stripMargin)
      s.sql("INSERT INTO lake.ops.nation SELECT n_nationkey, n_name, n_regionkey FROM nation")
      // q32: supplier copy, then SQL DELETE (CoW / metadata-only paths)
      s.sql("""CREATE TABLE lake.ops.supplier
              |  (s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE)""".stripMargin)
      s.sql("INSERT INTO lake.ops.supplier SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")
      s.sql("DELETE FROM lake.ops.supplier WHERE s_nationkey < 10")
      // q33: region in two commits; remember the first snapshot for AS OF
      s.sql("CREATE TABLE lake.ops.region (r_regionkey BIGINT, r_name STRING)")
      s.sql("INSERT INTO lake.ops.region SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 2")
      val cat = new graft.lake.LakeCatalog(s, wh)
      val snap1 = cat.loadTable("ops.region").meta.currentSnapshot.get.snapshotId
      s.sql("INSERT INTO lake.ops.region SELECT r_regionkey, r_name FROM region WHERE r_regionkey >= 2")
      // q59: customer subset in two commits + a CoW DELETE, changelog'd
      // from after the first commit (so the log = batch-2 inserts + the
      // delete's row-level removals, incl. delete-after-insert pairs)
      s.sql("CREATE TABLE lake.ops.chg (id BIGINT, name STRING)")
      s.sql("INSERT INTO lake.ops.chg SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 50")
      val chgFrom = cat.loadTable("ops.chg").meta.currentSnapshot.get.snapshotId
      s.sql("""INSERT INTO lake.ops.chg
              |SELECT c_custkey, c_name FROM customer
              |WHERE c_custkey > 50 AND c_custkey <= 100""".stripMargin)
      // a MODULO predicate — deliberately NOT V1-Filter-translatable, so
      // this exercises the GraftDelete arbitrary-predicate SQL DELETE
      // path (extensions session); matches straddle both batches, so the
      // log holds deletes of batch-1 rows AND delete-after-insert pairs
      // (60,70,80,90,100)
      sqlx("DELETE FROM lake.ops.chg WHERE id % 10 = 0")
      // q63: a materialized aggregate maintained INCREMENTALLY — refresh
      // runs BETWEEN the base commits, so the final view state is the
      // product of three churn-sized refreshes (initial build, insert
      // delta, delete delta with a min/max rescan), never a recompute.
      // The oracle recomputes the same aggregate over the final logical
      // content from the original parquet.
      s.sql("""CREATE TABLE lake.ops.mvbase
              |  (o_orderkey BIGINT, o_orderstatus STRING,
              |   o_totalprice DECIMAL(18,2))""".stripMargin)
      s.sql("""INSERT INTO lake.ops.mvbase
              |SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
              |FROM orders WHERE o_orderkey <= 3000""".stripMargin)
      val mvBase = cat.loadTable("ops.mvbase")
      import graft.lake.MaterializedAgg
      val mv = MaterializedAgg.create(cat, "ops.mv_orders", mvBase,
        Seq("o_orderstatus"), Seq(
          MaterializedAgg.AggCol("count", "o_orderkey", "n"),
          MaterializedAgg.AggCol("sum", "o_totalprice", "total"),
          MaterializedAgg.AggCol("avg", "o_totalprice", "avg_price"),
          MaterializedAgg.AggCol("min", "o_totalprice", "lo"),
          MaterializedAgg.AggCol("max", "o_totalprice", "hi")))
      mv.refresh()
      s.sql("""INSERT INTO lake.ops.mvbase
              |SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
              |FROM orders WHERE o_orderkey > 3000 AND o_orderkey <= 6000""".stripMargin)
      mv.refresh()
      // modulo delete straddles both batches; group extremes regress
      sqlx("DELETE FROM lake.ops.mvbase WHERE o_orderkey % 7 = 0")
      mv.refresh()
      // q65: co-bucketed fact/dim pair for the storage-partitioned join —
      // both bucketed bucket(8) on the join key, hash-distributed writes
      // so each bucket is one file per task wave (GraftSpj scaladoc)
      s.sql("""CREATE TABLE lake.ops.bkt_orders
              |  (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
              |PARTITIONED BY (bucket(8, o_custkey))
              |TBLPROPERTIES ('write.distribution-mode'='hash')""".stripMargin)
      s.sql("""INSERT INTO lake.ops.bkt_orders
              |SELECT o_orderkey, o_custkey, o_totalprice FROM orders""".stripMargin)
      s.sql("""CREATE TABLE lake.ops.bkt_cust
              |  (c_custkey BIGINT, c_mktsegment STRING)
              |PARTITIONED BY (bucket(8, c_custkey))
              |TBLPROPERTIES ('write.distribution-mode'='hash')""".stripMargin)
      s.sql("INSERT INTO lake.ops.bkt_cust SELECT c_custkey, c_mktsegment FROM customer")
      // q75: merge-on-read row-level DML — the DELETE writes a positional
      // delete file (zero data files rewritten) and the UPDATE writes
      // delete entries + new row versions; readers subtract the mask at
      // scan time. The oracle recomputes the final logical content from
      // the original parquet.
      s.sql("""CREATE TABLE lake.ops.cust_mor
              |  (c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE,
              |   c_mktsegment STRING)
              |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
              |               'write.update.mode'='merge-on-read')""".stripMargin)
      s.sql("""INSERT INTO lake.ops.cust_mor
              |SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE), c_mktsegment
              |FROM customer""".stripMargin)
      s.sql("DELETE FROM lake.ops.cust_mor WHERE c_acctbal < 0")
      sqlx("UPDATE lake.ops.cust_mor SET c_mktsegment = 'VIP' WHERE c_acctbal > 9000")
      // q76: equality-delete upsert (merge-on-read merge — the Flink CDC
      // shape): one CDC batch deletes every %50 key and upserts every %40
      // key with a new status/price, committed as ONE equality delete
      // file + appends (zero rewrites). The read goes through the
      // equality mask; the oracle recomputes the final logical content.
      // q96 (r14): metadata-served grouped aggregation — an identity-
      // partitioned table whose GROUP BY partition → COUNT(*)/COUNT(col)/
      // MIN/MAX answers from per-file partition values + footer stats
      // (GraftReadRule), and a merge-on-read twin whose grouped COUNT(*)
      // stays metadata-exact by subtracting per-file masked counts.
      // REPARTITION(2): two files per partition value, so per-group
      // folds cross file boundaries.
      s.sql("""CREATE TABLE lake.ops.pstat
              |  (okey BIGINT, ck BIGINT, status STRING)
              |PARTITIONED BY (status)""".stripMargin)
      s.sql("""INSERT INTO lake.ops.pstat
              |SELECT /*+ REPARTITION(2) */ o_orderkey,
              |  CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS BIGINT)
              |       ELSE o_custkey END,
              |  o_orderstatus
              |FROM orders WHERE o_orderkey <= 30000""".stripMargin)
      s.sql("""CREATE TABLE lake.ops.pdel (okey BIGINT, status STRING)
              |PARTITIONED BY (status)
              |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
      s.sql("""INSERT INTO lake.ops.pdel
              |SELECT /*+ REPARTITION(2) */ o_orderkey, o_orderstatus
              |FROM orders WHERE o_orderkey <= 30000""".stripMargin)
      sqlx("DELETE FROM lake.ops.pdel WHERE okey % 5 = 0")
      require(cat.loadTable("ops.pdel").meta.currentSnapshot.get
        .deleteFiles.nonEmpty, "q96 setup must leave a positional mask")
      // q94 (r14): deletion-vector MoR DML — three stacked positional-
      // delete commits over the same files, so every affected data file
      // carries multiple bitmap refs ([[graft.lake.DeleteVectors]]) and
      // the read is served by the per-row DV probe (no join, no
      // delete-parquet scan — plan-gated in PlanSpec). The oracle
      // recomputes the final logical content from the original parquet.
      s.sql("""CREATE TABLE lake.ops.line_dv
              |  (l_orderkey BIGINT, l_linenumber BIGINT, l_quantity DOUBLE,
              |   l_returnflag STRING)
              |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
      s.sql("""INSERT INTO lake.ops.line_dv
              |SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE),
              |       l_returnflag
              |FROM lineitem WHERE l_orderkey <= 20000""".stripMargin)
      sqlx("DELETE FROM lake.ops.line_dv WHERE l_orderkey % 7 = 0")
      sqlx("DELETE FROM lake.ops.line_dv WHERE l_linenumber = 3 AND l_orderkey % 2 = 0")
      s.sql("DELETE FROM lake.ops.line_dv WHERE l_quantity < 5.0")
      val lineDv = cat.loadTable("ops.line_dv")
      val dvDels = lineDv.meta.currentSnapshot.get.deleteFiles
      require(dvDels.nonEmpty &&
        dvDels.forall(d => d.vectors.keySet == d.counts.keySet),
        "q94 setup must leave every positional delete DV-covered")
      s.sql("""CREATE TABLE lake.ops.ord_mor
              |  (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
              |TBLPROPERTIES ('write.merge.mode'='merge-on-read')""".stripMargin)
      s.sql("""INSERT INTO lake.ops.ord_mor
              |SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE)
              |FROM orders WHERE o_orderkey <= 5000""".stripMargin)
      val ordMor = cat.loadTable("ops.ord_mor")
      val batchKeys = s.table("orders")
        .filter(col("o_orderkey") <= 5000 &&
          (col("o_orderkey") % 50 === 0 || col("o_orderkey") % 40 === 0))
        .select(col("o_orderkey"))
      val batchUpserts = s.table("orders")
        .filter(col("o_orderkey") <= 5000 && col("o_orderkey") % 40 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
          (col("o_totalprice") + 1).cast("double").as("o_totalprice"))
      ordMor.mergeByKeys("o_orderkey", batchKeys, batchUpserts)
      require(ordMor.meta.currentSnapshot.get.eqDeleteFiles.nonEmpty,
        "q76 setup must exercise the equality-delete path")
      // q98 (r14): multi-table transaction ([[graft.lake.LakeTransaction]])
      // — an open/done order ledger where "fulfillment" must move rows
      // between two tables ATOMICALLY. First a staged-then-ROLLED-BACK
      // transaction (a bogus move of half the ledger) whose effects must
      // be absent from BOTH tables, then the real move committed through
      // the full fence/decide/publish protocol. The oracle recomputes
      // both final states from the original parquet, so one leaked
      // staged row, one lost delete, or a half-published pair breaks the
      // counts and sums bit-for-bit.
      s.sql("CREATE TABLE lake.ops.txn_open (o_orderkey BIGINT, o_totalprice DOUBLE)")
      s.sql("""INSERT INTO lake.ops.txn_open
              |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE)
              |FROM orders WHERE o_orderkey <= 8000""".stripMargin)
      s.sql("CREATE TABLE lake.ops.txn_done (o_orderkey BIGINT, o_totalprice DOUBLE)")
      val bogus = cat.beginTransaction()
      bogus.table("ops.txn_open").delete(col("o_orderkey") <= 4000)
      bogus.table("ops.txn_done").append(s.table("orders")
        .filter(col("o_orderkey") <= 4000)
        .select((col("o_orderkey") + 1000000L).as("o_orderkey"),
          col("o_totalprice").cast("double")))
      bogus.rollback()
      val move = cat.beginTransaction()
      move.table("ops.txn_done").append(s.table("orders")
        .filter(col("o_orderkey") <= 8000 && col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), col("o_totalprice").cast("double")))
      move.table("ops.txn_open").delete(col("o_orderkey") % 9 === 0)
      move.commit()
      // q100 (r14): row-level TTL retention + table RENAME under the
      // oracle gate. Cutoff = the events ts midpoint rounded UP to a
      // whole millisecond (ttlExpire's cutoff arithmetic is ms-grained),
      // derived from the data so both engines compute the identical
      // BIGINT. Two inserts split the corpus at the cutoff, so the aged
      // half's files are ALL provably expired — the sweep must drop them
      // metadata-only — and the table is then renamed, so the read goes
      // through the moved authority over the original data files.
      val mm = s.sql("SELECT MIN(ts) AS mn, MAX(ts) AS mx FROM events").head()
      val cutNs = ((mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2)
        / 1000000L + 1L) * 1000000L
      ttlCuts.put(dir, cutNs)
      s.sql("""CREATE TABLE lake.ops.ttl_ev (eid BIGINT, ts BIGINT, etype STRING)
              |TBLPROPERTIES ('graft.ttl.column'='ts','graft.ttl.unit'='ns',
              |               'graft.ttl.ms'='1000')""".stripMargin)
      s.sql(s"""INSERT INTO lake.ops.ttl_ev
               |SELECT event_id, ts, event_type FROM events WHERE ts < $cutNs""".stripMargin)
      s.sql(s"""INSERT INTO lake.ops.ttl_ev
               |SELECT event_id, ts, event_type FROM events WHERE ts >= $cutNs""".stripMargin)
      val ttlT = cat.loadTable("ops.ttl_ev")
      require(ttlT.ttlExpire(nowMs = cutNs / 1000000L + 1000L),
        "q100 setup: the aged half must expire")
      val ttlSnap = ttlT.meta.currentSnapshot.get
      require(ttlSnap.operation == "ttl-expire" &&
        ttlSnap.summary("metadata-only") == "true" &&
        ttlSnap.summary("deleted-data-files").toInt >= 1,
        "q100 setup: expiry must be one metadata-only file-drop commit")
      cat.renameTable("ops.ttl_ev", "ops.ttl_ev2")
      // q102 (r15): zero-copy CLONE under the oracle gate — clone a
      // CoW-masked orders slice, then ATTACK the shared bytes from the
      // source side: rewrite (CoW delete), expire all history, and run an
      // orphan sweep with a FUTURE cutoff. Without clone-aware GC the
      // sweep deletes every file the clone reads; the oracle recomputes
      // the clone-time content from the raw parquet, so one lost byte
      // fails the read (missing file) or the hash.
      s.sql("CREATE TABLE lake.ops.cl_src (o_orderkey BIGINT, o_totalprice DOUBLE)")
      s.sql("""INSERT INTO lake.ops.cl_src
              |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE)
              |FROM orders WHERE o_orderkey <= 6000""".stripMargin)
      sqlx("DELETE FROM lake.ops.cl_src WHERE o_orderkey % 7 = 0")
      s.sql("CALL lake.system.clone_table('ops.cl_src', 'ops.cl_t')")
      sqlx("DELETE FROM lake.ops.cl_src WHERE o_orderkey % 3 = 0")
      val clSrc = cat.loadTable("ops.cl_src")
      clSrc.expireSnapshots(System.currentTimeMillis() + 3600000L, retainLast = 1)
      clSrc.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600000L)
      // q82: star-schema materialized view through the SQL DDL surface —
      // dimension-enriched (customer segment) incremental aggregate with
      // COUNT(*), refreshed BETWEEN the fact commits (initial build,
      // insert delta, delete delta), so the final state is three composed
      // churn-sized refreshes. The oracle recomputes the join-aggregate
      // over the final logical content from the original parquet.
      s.sql("""CREATE TABLE lake.ops.star_fact
              |  (o_orderkey BIGINT, o_custkey BIGINT,
              |   o_totalprice DECIMAL(18,2))""".stripMargin)
      s.sql("""CREATE TABLE lake.ops.star_dim
              |  (c_custkey BIGINT, c_mktsegment STRING)""".stripMargin)
      s.sql("INSERT INTO lake.ops.star_dim SELECT c_custkey, c_mktsegment FROM customer")
      s.sql("""INSERT INTO lake.ops.star_fact
              |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2))
              |FROM orders WHERE o_orderkey <= 3000""".stripMargin)
      sqlx("""CREATE MATERIALIZED VIEW lake.ops.star_mv AS
             |SELECT d.c_mktsegment, COUNT(*) AS n_orders,
             |  sum(f.o_totalprice) AS revenue
             |FROM lake.ops.star_fact f
             |JOIN lake.ops.star_dim d ON f.o_custkey = d.c_custkey
             |GROUP BY d.c_mktsegment""".stripMargin)
      s.sql("""INSERT INTO lake.ops.star_fact
              |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2))
              |FROM orders WHERE o_orderkey > 3000 AND o_orderkey <= 6000""".stripMargin)
      sqlx("REFRESH MATERIALIZED VIEW lake.ops.star_mv")
      sqlx("DELETE FROM lake.ops.star_fact WHERE o_orderkey % 9 = 0")
      sqlx("REFRESH MATERIALIZED VIEW lake.ops.star_mv")
      // q83: second-engine read path — a lake table with a column RENAME
      // (two write-time schema groups) and a merge-on-read DELETE,
      // exported as a standalone DuckDB scan (LakeTable.exportScan). The
      // oracle for q83 IS the generated SQL: the driver's DuckDB resolves
      // the snapshot through the export and must read row-identical
      // content from the very same parquet bytes.
      s.sql("""CREATE TABLE lake.ops.exp
              |  (p_partkey BIGINT, p_name STRING, p_retailprice DOUBLE)
              |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
      s.sql("""INSERT INTO lake.ops.exp
              |SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE)
              |FROM part WHERE p_partkey <= 400""".stripMargin)
      s.sql("ALTER TABLE lake.ops.exp RENAME COLUMN p_name TO part_name")
      s.sql("""INSERT INTO lake.ops.exp
              |SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE)
              |FROM part WHERE p_partkey > 400 AND p_partkey <= 600""".stripMargin)
      // modulo predicate → untranslatable for stats pruning → positional
      // delete entries across BOTH schema groups
      sqlx("DELETE FROM lake.ops.exp WHERE p_partkey % 7 = 0")
      // and an equality-delete upsert on top (CDC shape): the export must
      // cut mask classes and key-anti-join them, alongside the positional
      // mask and the rename mapping — all executed for real by DuckDB
      val expT = cat.loadTable("ops.exp")
      expT.setProperties(Map("write.merge.mode" -> "merge-on-read"))
      val expKeys = s.table("part")
        .filter(col("p_partkey") <= 600 &&
          (col("p_partkey") % 5 === 0 || col("p_partkey") % 11 === 0))
        .select(col("p_partkey"))
      val expUps = s.table("part")
        .filter(col("p_partkey") <= 600 && col("p_partkey") % 5 === 0)
        .select(col("p_partkey"),
          org.apache.spark.sql.functions.upper(col("p_name")).as("part_name"),
          (col("p_retailprice") + 10).cast("double").as("p_retailprice"))
      expT.mergeByKeys("p_partkey", expKeys, expUps)
      val export = expT.exportScan()
      require(export.deleteFiles.nonEmpty, "q83 export must carry a delete mask")
      require(expT.meta.currentSnapshot.get.eqDeleteFiles.nonEmpty,
        "q83 export must carry an equality mask")
      exportOracleSqls.put(dir,
        s"SELECT * FROM (\n${export.sql}\n) ORDER BY p_partkey")
      Env(wh, snap1, chgFrom, ext)
    }
  }

  /** Parquet → lake table (SQL INSERT SELECT) → aggregate read through the
    * catalog; oracle aggregates the original parquet directly. */
  val q31 = plan("q31_lake_roundtrip",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT n_regionkey, COUNT(*) AS n,
              |  MIN(n_name) AS first_name, MAX(n_nationkey) AS max_key
              |FROM lake.ops.nation
              |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    },
    duckSql = """SELECT n_regionkey, COUNT(*) AS n,
      |  MIN(n_name) AS first_name, MAX(n_nationkey) AS max_key
      |FROM nation
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)

  /** SQL DELETE FROM applied to the lake copy; oracle filters the rows the
    * delete would have removed. */
  val q32 = plan("q32_lake_delete",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT s_nationkey, COUNT(*) AS n,
              |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
              |FROM lake.ops.supplier
              |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    },
    duckSql = """SELECT s_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM supplier WHERE s_nationkey >= 10
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)

  /** SQL time travel: VERSION AS OF the first commit sees only batch 1;
    * oracle recomputes batch 1 from the original parquet. */
  val q33 = plan("q33_lake_timetravel",
    fn = (s, dir) => {
      val env = ensure(s, dir)
      s.sql(s"""SELECT r_regionkey, r_name
               |FROM lake.ops.region VERSION AS OF ${env.firstRegionSnapshot}
               |ORDER BY r_regionkey""".stripMargin)
    },
    duckSql = """SELECT r_regionkey, r_name FROM region
      |WHERE r_regionkey < 2 ORDER BY r_regionkey""".stripMargin)

  /** Row-level CDC changelog ([[graft.lake.LakeTable.changelog]]): every
    * insert/delete on the table's ancestry after a snapshot, per-commit
    * file-set-pruned (only files a commit added/removed are read; CoW
    * survivor rows cancel via exceptAll). The oracle reconstructs the
    * same event log from the original parquet: batch-2 rows as inserts,
    * the delete predicate's matches as deletes — a row inserted in batch
    * 2 and then deleted appears as BOTH, which is what a changelog
    * consumer (e.g. a downstream merge) must see. `_commit_snapshot_id` /
    * `_change_ordinal` are dropped from the projection (snapshot ids are
    * run-local). `_change_type` values are Iceberg's uppercase contract. */
  val q59 = plan("q59_lake_changelog",
    fn = (s, dir) => {
      val env = ensure(s, dir)
      val t = new graft.lake.LakeCatalog(s, env.warehouse).loadTable("ops.chg")
      val head = t.meta.currentSnapshot.get.snapshotId
      t.changelog(Some(env.chgFromSnapshot), head)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("name"),
          org.apache.spark.sql.functions.col("_change_type"))
        .orderBy("_change_type", "id")
    },
    duckSql = """SELECT c_custkey AS id, c_name AS name, 'INSERT' AS _change_type
      |FROM customer WHERE c_custkey > 50 AND c_custkey <= 100
      |UNION ALL
      |SELECT c_custkey AS id, c_name AS name, 'DELETE' AS _change_type
      |FROM customer WHERE c_custkey <= 100 AND c_custkey % 10 = 0
      |ORDER BY _change_type, id""".stripMargin)

  /** Incrementally-maintained aggregate ([[graft.lake.MaterializedAgg]]):
    * the view was refreshed BETWEEN the base table's commits (initial
    * build, insert delta, delete delta with min/max rescan) during setup —
    * this query only READS the materialized state, so a hash match proves
    * three incremental refreshes composed to exactly the aggregate DuckDB
    * computes from scratch over the final logical content. AVG is
    * finalized as an exact DECIMAL-sum-over-count double division, same
    * arithmetic on both engines. */
  val q63 = plan("q63_incremental_agg",
    fn = (s, dir) => {
      val env = ensure(s, dir)
      val cat = new graft.lake.LakeCatalog(s, env.warehouse)
      import org.apache.spark.sql.functions.col
      graft.lake.MaterializedAgg.load(cat, "ops.mv_orders").read()
        .select(col("o_orderstatus"), col("n"),
          col("total").cast("double").as("total"), col("avg_price"),
          col("lo").cast("double").as("lo"), col("hi").cast("double").as("hi"))
        .orderBy("o_orderstatus")
    },
    duckSql = """SELECT o_orderstatus, COUNT(o_orderkey) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(o_totalprice) AS avg_price,
      |  CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
      |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
      |FROM orders
      |WHERE o_orderkey <= 6000 AND o_orderkey % 7 <> 0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  /** Storage-partitioned join ([[graft.lake.dsv2.GraftSpj]]): orders ⋈
    * customer, both lake tables bucketed `bucket(8, custkey)`, joined with
    * `spark.sql.sources.v2.bucketing.enabled=true` — the v2 batch scans
    * report KeyGroupedPartitioning and the join runs with NO shuffle on
    * either input (plan-gated in GraftSpjSpec and PlanSpec; at 100 TB the
    * elided fact-side exchange is the query's dominant cost). The conf
    * stays set for the session: it only affects bucket-partitioned lake
    * tables, of which this query's pair are the only ones. Oracle = the
    * same join-aggregate over the original parquet. */
  val q65 = plan("q65_spj_join",
    fn = (s, dir) => {
      ensure(s, dir)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql("""SELECT c.c_mktsegment, COUNT(*) AS n_orders,
              |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              |FROM lake.ops.bkt_orders o
              |JOIN lake.ops.bkt_cust c ON o.o_custkey = c.c_custkey
              |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
    },
    duckSql = """SELECT c.c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)

  /** Merge-on-read row-level DML (Iceberg v2 `write.delete.mode` /
    * `write.update.mode` = merge-on-read): the DELETE marks `(file, pos)`
    * pairs in a kilobyte delete file and the UPDATE appends new row
    * versions + delete entries — zero data files rewritten; every reader
    * subtracts the positional mask at scan time. The oracle recomputes the
    * final logical content (delete filter + update CASE) from the original
    * parquet, so a masked read must be row-identical to materialized DML. */
  val q75 = plan("q75_mor_dml",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT c_mktsegment, COUNT(*) AS n,
              |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
              |FROM lake.ops.cust_mor
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
    duckSql = """SELECT
      |  CASE WHEN c_acctbal > 9000 THEN 'VIP' ELSE c_mktsegment END AS c_mktsegment,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer WHERE NOT (c_acctbal < 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Deletion-vector read acceleration ([[graft.lake.DeleteVectors]]):
    * three stacked merge-on-read DELETEs leave every affected data file
    * under multiple positional masks; the scan subtracts them with the
    * per-row bitmap probe (OR over the file's refs) instead of the
    * anti-join — no join, no shuffle, no per-query delete-parquet read.
    * A hash match against the oracle's from-scratch recomputation proves
    * the bitmaps encode exactly the deleted position set across commit
    * stacking, rolled delete files, and the codegen filter path. */
  val q94 = plan("q94_dv_dml",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT l_returnflag, COUNT(*) AS n,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
              |FROM lake.ops.line_dv
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },
    duckSql = """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |WHERE l_orderkey <= 20000
      |  AND NOT (l_orderkey % 7 = 0)
      |  AND NOT (l_linenumber = 3 AND l_orderkey % 2 = 0)
      |  AND NOT (l_quantity < 5.0)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)


  /** Multi-table ACID transaction ([[graft.lake.LakeTransaction]]): rows
    * moved between two tables through one staged-branch / fence / decide /
    * publish cycle, after a staged-then-rolled-back transaction whose
    * effects must have vanished without trace. Both tables' final
    * contents hash-match the oracle's recomputation from the raw
    * parquet: a leaked staged row, a lost delete, a half-published pair,
    * or fence residue (which would block the later reads' setup commits)
    * all break it. */
  val q98 = plan("q98_multitable_txn",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT side, CAST(n AS BIGINT) AS n, total FROM (
              |  SELECT 'done' AS side, COUNT(*) AS n,
              |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              |  FROM lake.ops.txn_done
              |  UNION ALL
              |  SELECT 'open', COUNT(*),
              |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |  FROM lake.ops.txn_open)
              |ORDER BY side""".stripMargin)
    },
    duckSql = """SELECT side, CAST(n AS BIGINT) AS n, total FROM (
      |  SELECT 'done' AS side, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderkey <= 8000 AND o_orderkey % 9 = 0
      |  UNION ALL
      |  SELECT 'open', COUNT(*),
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |  FROM orders WHERE o_orderkey <= 8000 AND NOT (o_orderkey % 9 = 0)) t
      |ORDER BY side""".stripMargin)

  /** Row-level TTL retention + table rename under the oracle gate
    * ([[graft.lake.LakeTable.ttlExpire]] / [[graft.lake.LakeCatalog
    * .renameTable]]): the aged half of an events copy is dropped by ONE
    * metadata-only ttl-expire commit (setup asserts the snapshot shape),
    * the table is renamed — metadata authority moved, data files in
    * place — and the read goes through the NEW ident. The oracle
    * recomputes the surviving rows from the raw parquet with the same
    * data-derived cutoff, so a row expired too eagerly, a survivor
    * dropped with its file, or a rename that lost any file breaks the
    * counts and BIGINT ts extremes. */
  val q100 = planDeferred("q100_ttl_rename",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT etype, CAST(COUNT(*) AS BIGINT) AS n,
              |  CAST(MIN(ts) AS BIGINT) AS mn, CAST(MAX(ts) AS BIGINT) AS mx
              |FROM lake.ops.ttl_ev2
              |GROUP BY etype ORDER BY etype""".stripMargin)
    },
    duckSql = () => {
      import scala.jdk.CollectionConverters._
      ttlCuts.asScala.toMap match {
        case m if m.size == 1 =>
          val cut = m.values.head
          s"""WITH ev AS (SELECT event_type AS etype, epoch_ns(ts) AS tns FROM events)
             |SELECT etype, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(MIN(tns) AS BIGINT) AS mn, CAST(MAX(tns) AS BIGINT) AS mx
             |FROM ev WHERE tns >= $cut
             |GROUP BY etype ORDER BY etype""".stripMargin
        case m if m.isEmpty =>
          "SELECT 'q100 setup did not run - no ttl cutoff recorded' AS err"
        case m =>
          s"SELECT 'q100 ambiguous: ${m.size} sf dirs in one JVM' AS err"
      }
    })

  /** Metadata-served grouped aggregation ([[graft.lake.dsv2.GraftReadRule]]
    * r14): GROUP BY an identity-partition column with COUNT(*) /
    * COUNT(col) / MIN / MAX answers from per-file partition values +
    * footer stats — a LocalRelation, ZERO data files read at any table
    * size — and a merge-on-read twin whose grouped COUNT(*) stays
    * metadata-exact by subtracting per-file masked counts. Runs on the
    * extensions session (the fast path is an analyzer rule); the oracle
    * recomputes both branches from the original parquet, so a hash match
    * proves the metadata answers equal a real scan's. */
  val q96 = plan("q96_meta_agg",
    fn = (s, dir) => {
      val env = ensure(s, dir)
      env.ext.sql("""SELECT 'clean' AS src, status, n, nck, mn, mx FROM (
                    |  SELECT status, COUNT(*) AS n, COUNT(ck) AS nck,
                    |         MIN(okey) AS mn, MAX(okey) AS mx
                    |  FROM lake.ops.pstat GROUP BY status)
                    |UNION ALL
                    |SELECT 'masked', status, n, CAST(NULL AS BIGINT),
                    |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM (
                    |  SELECT status, COUNT(*) AS n
                    |  FROM lake.ops.pdel GROUP BY status)
                    |ORDER BY src, status""".stripMargin)
    },
    duckSql = """SELECT 'clean' AS src, o_orderstatus AS status, COUNT(*) AS n,
      |  COUNT(CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_custkey END) AS nck,
      |  MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
      |FROM orders WHERE o_orderkey <= 30000 GROUP BY 2
      |UNION ALL
      |SELECT 'masked', o_orderstatus, COUNT(*), CAST(NULL AS BIGINT),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      |FROM orders WHERE o_orderkey <= 30000 AND NOT (o_orderkey % 5 = 0)
      |GROUP BY 2
      |ORDER BY src, status""".stripMargin)

  /** Equality-delete upsert (merge-on-read MERGE — the reference's Flink
    * CDC upsert, IcebergStream.java:118): the read side resolves the
    * equality mask (strictly-older rows of batch keys die, the batch's
    * own inserts survive) and must be row-identical to the oracle's
    * recomputation of the final logical content from the original
    * parquet. */
  val q76 = plan("q76_eq_upsert",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM lake.ops.ord_mor
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },
    duckSql = """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM (
      |  SELECT CASE WHEN o_orderkey % 40 = 0 THEN 'X' ELSE o_orderstatus END
      |           AS o_orderstatus,
      |         CASE WHEN o_orderkey % 40 = 0 THEN o_totalprice + 1
      |              ELSE o_totalprice END AS p
      |  FROM orders
      |  WHERE o_orderkey <= 5000
      |    AND NOT (o_orderkey % 50 = 0 AND o_orderkey % 40 <> 0)
      |) GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  /** Star-schema materialized view created + maintained through the SQL
    * DDL ([[graft.lake.dsv2.GraftSqlParser]] CREATE/REFRESH MATERIALIZED
    * VIEW with a dimension JOIN and COUNT(*)): this query only READS the
    * state table, so a hash match proves the DDL path built the same
    * DimJoin-enriched incremental aggregate the Scala API maintains, and
    * that three churn-sized refreshes (build, insert delta, delete delta)
    * composed to exactly DuckDB's from-scratch join-aggregate. */
  val q82 = plan("q82_star_mv_sql",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT c_mktsegment, n_orders,
              |  CAST(revenue AS DOUBLE) AS revenue
              |FROM lake.ops.star_mv ORDER BY c_mktsegment""".stripMargin)
    },
    duckSql = """SELECT c.c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderkey <= 6000 AND o.o_orderkey % 9 <> 0
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)

  /** Second-engine read path ([[graft.lake.LakeTable.exportScan]]): the
    * Spark side reads the lake table (rename-evolved, merge-on-read
    * delete-masked) through the catalog; the ORACLE side is the
    * export-generated DuckDB SQL over the snapshot's exact parquet paths
    * — a hash match means DuckDB, with no Spark and no copy, resolved the
    * same logical content through exported metadata (the reference's
    * PyIceberg→DuckDB client path). */
  val q83 = QuerySpec.planDeferred("q83_duckdb_export",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT p_partkey, part_name, p_retailprice
              |FROM lake.ops.exp ORDER BY p_partkey""".stripMargin)
    },
    duckSql = () => {
      import scala.jdk.CollectionConverters._
      exportOracleSqls.asScala.toMap match {
        case m if m.size == 1 => m.values.head
        case m if m.isEmpty =>
          "SELECT 'q83 setup did not run - no export generated' AS err"
        case m => // ambiguous: several dirs ran in this JVM — refuse to guess
          s"SELECT 'q83 oracle ambiguous across dirs: ${m.keys.mkString(", ")}' AS err"
      }
    })

  /** Foreign-parquet import (D36, r11): the ORIGINAL testdata
    * part.parquet is registered IN PLACE via `CALL lake.system.add_files`
    * — no copy, footer stats only — then rename-evolved (the per-import
    * schema group keeps later DDL metadata-only for foreign files too)
    * and read through the catalog with a pruning filter. The oracle reads
    * the same parquet directly in DuckDB: a hash match proves the import
    * registered the bytes, the schema bridge, and the stats without
    * touching the data. */
  val q86 = plan("q86_add_files_import",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT p_brand, COUNT(*) AS n,
              |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
              |  CAST(MIN(p_size) AS BIGINT) AS min_size,
              |  CAST(MAX(p_partkey) AS BIGINT) AS max_key
              |FROM lake.ops.imported WHERE p_size > 20
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    },
    duckSql = """SELECT p_brand, COUNT(*) AS n,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  CAST(MIN(p_size) AS BIGINT) AS min_size,
      |  CAST(MAX(p_partkey) AS BIGINT) AS max_key
      |FROM part WHERE p_size > 20
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin)

  /** Hive-layout import (D36 extension, r12): a `key=value` directory of
    * per-month-style files — the partition value ONLY in the path — is
    * registered in place into an identity-PARTITIONED table via
    * `CALL lake.system.add_files`, and the partition column then renamed.
    * The read must fill the column from the path segment, prune on the
    * recorded partition tuple, and survive the rename metadata-only. The
    * oracle reads the SAME directory in DuckDB with hive_partitioning —
    * a hash match proves path-derived values, not a copy. */
  val q87 = planDeferred("q87_hive_import",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT status, COUNT(*) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
              |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key
              |FROM lake.ops.himp WHERE status <> 'P'
              |GROUP BY status ORDER BY status""".stripMargin)
    },
    duckSql = () => {
      import scala.jdk.CollectionConverters._
      hiveDirs.asScala.toMap match {
        case m if m.size == 1 =>
          val d = m.values.head
          s"""SELECT o_orderstatus AS status, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key
             |FROM read_parquet('$d/o_orderstatus=*/*.parquet', hive_partitioning=1)
             |WHERE o_orderstatus <> 'P'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
        case m if m.isEmpty =>
          "SELECT 'q87 setup did not run - no hive layout built' AS err"
        case m =>
          s"SELECT 'q87 oracle ambiguous across dirs: ${m.keys.mkString(", ")}' AS err"
      }
    })

  /** `migrate`-derived table (D36 extension, r12): the q87 hive layout
    * again, but the table is created FROM the files — merged footer
    * schema, the path-only status column as an identity partition. The
    * filter composes stats pruning on a bytes column with the
    * path-derived partition column; the oracle reads the same directory. */
  val q88 = planDeferred("q88_migrate",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT o_orderstatus AS status, COUNT(*) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM lake.ops.mig WHERE o_orderkey % 10 = 0
              |GROUP BY o_orderstatus ORDER BY status""".stripMargin)
    },
    duckSql = () => {
      import scala.jdk.CollectionConverters._
      hiveDirs.asScala.toMap match {
        case m if m.size == 1 =>
          val d = m.values.head
          s"""SELECT o_orderstatus AS status, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM read_parquet('$d/o_orderstatus=*/*.parquet', hive_partitioning=1)
             |WHERE o_orderkey % 10 = 0
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
        case m if m.isEmpty =>
          "SELECT 'q88 setup did not run - no hive layout built' AS err"
        case m =>
          s"SELECT 'q88 oracle ambiguous across dirs: ${m.keys.mkString(", ")}' AS err"
      }
    })

  /** Manifest-bloom point lookup (r13): the table declares
    * `graft.bloom.columns` on an md5 key, so every append recorded a
    * per-file bloom and the IN lookup prunes to the files that can hold
    * the probed keys (min/max overlap on the full hex domain — stats
    * alone prune nothing; BloomSkipSpec gates the files-scanned shape).
    * The oracle recomputes the keys over the original parquet in DuckDB —
    * a hash match proves the bloom-pruned read returns exactly the rows
    * an unpruned engine computes. */
  val q89 = plan("q89_bloom_lookup",
    fn = (s, dir) => {
      ensure(s, dir)
      // LITERAL md5 keys: they constant-fold, so the IN pushes down as a
      // literal filter and reaches the manifest blooms (a scalar-subquery
      // key would stay a runtime filter and never prune files); keys
      // 1/17/41 exist at every SF (dense orderkeys), one key is absent
      s.sql("""SELECT okey, k, CAST(price AS DOUBLE) AS price
              |FROM lake.ops.blm
              |WHERE k IN (md5('1'), md5('17'), md5('41'), md5('no-such-key'))
              |ORDER BY okey""".stripMargin)
    },
    duckSql = """SELECT o_orderkey AS okey,
      |  md5(CAST(o_orderkey AS VARCHAR)) AS k,
      |  CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders
      |WHERE md5(CAST(o_orderkey AS VARCHAR)) IN
      |  (md5('1'), md5('17'), md5('41'), md5('no-such-key'))
      |ORDER BY okey""".stripMargin)

  /** Zero-copy CLONE under the oracle gate ([[graft.lake.LakeCatalog
    * .cloneTable]]): the setup clones a CoW-masked slice, then the SOURCE
    * rewrites, expires ALL history, and runs an orphan sweep with a
    * future cutoff — the maximally hostile GC sequence against the
    * shared bytes. The read goes through the CLONE; the oracle
    * recomputes the clone-time content (keys ≤ 6000, % 7 survivors) from
    * the raw parquet, so a single reclaimed byte fails the scan and a
    * single leaked post-clone source delete fails the hash. */
  val q102 = plan("q102_clone_gc",
    fn = (s, dir) => {
      ensure(s, dir)
      s.sql("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
              |  MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
              |FROM lake.ops.cl_t""".stripMargin)
    },
    duckSql = """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
      |FROM orders WHERE o_orderkey <= 6000 AND o_orderkey % 7 <> 0""".stripMargin)

  /** ANALYZE TABLE under the oracle gate ([[graft.lake.Analyze]]): a
    * lake copy of four orders columns is exact-analyzed and the `stats`
    * metadata table projected; the oracle recomputes NDV / null count /
    * min / max from the raw parquet with plain aggregates — a drifted
    * distinct count, missed null, or mis-stringified bound breaks the
    * hash. Exact-NDV mode is the audit path (n distinct aggregates plan
    * an Expand ×4); the 100 TB default is one HLL++ pass, spec-gated for
    * accuracy in AnalyzeSpec. */
  private val statEnvs = new graft.SessionCache[String]()
  val q106 = plan("q106_analyze_stats",
    fn = (s, dir) => {
      val wh = statEnvs.getOrElseUpdate(s, dir) {
        graft.Tables.registerAll(s, dir)
        val wh0 = java.nio.file.Files.createTempDirectory("graft-anastat").toString
        val cat = new graft.lake.LakeCatalog(s, wh0)
        val src = s.table("orders").select(
          "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        val t = cat.createTable("ops.ostat",
          org.apache.spark.sql.types.StructType(src.schema.fields))
        t.append(src)
        t.analyzeTable(exactNdv = true)
        wh0
      }
      new graft.lake.LakeCatalog(s, wh).loadTable("ops.ostat")
        .metadataTable("stats")
        .select(org.apache.spark.sql.functions.col("column"),
          org.apache.spark.sql.functions.col("ndv"),
          org.apache.spark.sql.functions.col("null_count"),
          org.apache.spark.sql.functions.col("min"),
          org.apache.spark.sql.functions.col("max"))
        .orderBy("column")
    },
    duckSql = Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus")
      .map(c =>
        s"""SELECT '$c' AS "column", CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
           |  CAST(MIN($c) AS VARCHAR) AS min, CAST(MAX($c) AS VARCHAR) AS max
           |FROM orders""".stripMargin)
      .mkString("\nUNION ALL\n") + "\nORDER BY \"column\"")

  /** r17: the q41 twin the r16 verdict asked for — the same
    * distinct-token question q41 answers with a mergeable HLL sketch,
    * answered EXACTLY through ANALYZE's exact-NDV audit path over a lake
    * table of the exploded tokens. Exactness makes the row
    * DuckDB-checkable (COUNT(DISTINCT) oracle) where q41's lgK=12 sketch
    * can only be error-band-gated (OperatorsSpec ≤5%). The 100 TB answer
    * to this question stays q41's sketch; this is its audit. */
  private val tokEnvs = new graft.SessionCache[String]()
  val q108 = plan("q108_exact_token_ndv",
    fn = (s, dir) => {
      val wh = tokEnvs.getOrElseUpdate(s, dir) {
        graft.Tables.registerAll(s, dir)
        val wh0 = java.nio.file.Files.createTempDirectory("graft-tokstat").toString
        val cat = new graft.lake.LakeCatalog(s, wh0)
        val src = s.sql("""SELECT lang, w FROM (
          SELECT lang, explode(split(lower(text), '\\s+')) AS w FROM documents)
          WHERE w <> ''""")
        val t = cat.createTable("ops.tok",
          org.apache.spark.sql.types.StructType(src.schema.fields))
        t.append(src)
        t.analyzeTable(exactNdv = true)
        wh0
      }
      new graft.lake.LakeCatalog(s, wh).loadTable("ops.tok")
        .metadataTable("stats")
        .select(org.apache.spark.sql.functions.col("column"),
          org.apache.spark.sql.functions.col("ndv"),
          org.apache.spark.sql.functions.col("null_count"),
          org.apache.spark.sql.functions.col("min"),
          org.apache.spark.sql.functions.col("max"))
        .orderBy("column")
    },
    duckSql = """WITH tok AS (
      |  SELECT lang, w FROM (
      |    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS w
      |    FROM documents) t WHERE w <> '')
      |SELECT 'lang' AS "column", CAST(COUNT(DISTINCT lang) AS BIGINT) AS ndv,
      |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
      |  CAST(MIN(lang) AS VARCHAR) AS min, CAST(MAX(lang) AS VARCHAR) AS max
      |FROM tok
      |UNION ALL
      |SELECT 'w', CAST(COUNT(DISTINCT w) AS BIGINT),
      |  CAST(SUM(CASE WHEN w IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(MIN(w) AS VARCHAR), CAST(MAX(w) AS VARCHAR) FROM tok
      |ORDER BY "column"""".stripMargin)

  def specs: Seq[QuerySpec] =
    Seq(q31, q32, q33, q59, q63, q65, q75, q76, q82, q83, q86, q87, q88, q89,
      q94, q96, q98, q100, q102, q106, q108)
}
