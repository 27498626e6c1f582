package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness/bench query: a Spark plan builder plus (optionally) an
  * equivalent DuckDB SQL oracle the driver hash-compares against at sf0.01.
  *
  * Oracle-parity rules (see SURVEY.md §5):
  *   - every computed column aliased identically on both sides;
  *   - money doubles are exact 2-decimal values → aggregate via
  *     CAST(x AS DECIMAL(18,2)) (exact) and CAST(... AS DOUBLE) at the end
  *     (decimal→double is deterministic, so both engines emit identical bits);
  *   - ints that Spark types as INT but DuckDB as BIGINT (length(), extract())
  *     are cast to BIGINT explicitly;
  *   - never emit raw `events.ts` (ns precision in parquet; Spark truncates
  *     to µs) — bucket or format it first;
  *   - every query is totally ordered (ORDER BY with tie-breaks) so the
  *     result set is deterministic under LIMIT.
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracleFn: Option[() => String],
    bench: Boolean = true) {
  /** The DuckDB oracle SQL. A thunk so that queries whose oracle is
    * GENERATED from run-time state (q83's exported-scan DDL embeds the
    * snapshot's data-file paths) resolve it at dump time — Verify runs
    * every query BEFORE serializing oracle_sql.json. */
  def oracle: Option[String] = oracleFn.map(_())
}

object QuerySpec {
  /** SQL that parses and evaluates identically in Spark SQL and DuckDB. */
  def both(name: String, sql: String, bench: Boolean = true): QuerySpec =
    QuerySpec(name, (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, Some(() => sql), bench)

  /** Divergent dialects: Spark SQL text + DuckDB oracle text. */
  def dialect(name: String, sparkSql: String, duckSql: String, bench: Boolean = true): QuerySpec =
    QuerySpec(name, (s, dir) => { Tables.registerAll(s, dir); s.sql(sparkSql) }, Some(() => duckSql), bench)

  /** DataFrame-API plan + DuckDB oracle text. */
  def plan(name: String, fn: (SparkSession, String) => DataFrame, duckSql: String,
           bench: Boolean = true): QuerySpec =
    QuerySpec(name, fn, Some(() => duckSql), bench)

  /** DataFrame-API plan whose DuckDB oracle text is computed AFTER the
    * query has run (deferred to dump time). */
  def planDeferred(name: String, fn: (SparkSession, String) => DataFrame,
                   duckSql: () => String, bench: Boolean = true): QuerySpec =
    QuerySpec(name, fn, Some(duckSql), bench)

  /** Not SQL-expressible → driver records rows-only check. */
  def planOnly(name: String, fn: (SparkSession, String) => DataFrame,
               bench: Boolean = true): QuerySpec =
    QuerySpec(name, fn, None, bench)
}

/** Loaders for the driver-generated testdata (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts contract: epoch-nanos BIGINT. Testdata generations have
    // stored it both as parquet TIMESTAMP(NANOS) (no Spark type —
    // nanosAsLong surfaces exactly these integers) and as
    // TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ/TIMESTAMP); normalize
    // both to the integers DuckDB's epoch_ns(ts) produces, so every
    // event-time query does exact integer arithmetic in BOTH engines and
    // no engine-specific timestamp semantics (timezone, precision) can
    // diverge. All project sessions run UTC (Verify/Bench/specs), under
    // which the NTZ→LTZ cast is epoch-preserving.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        import org.apache.spark.sql.functions.{col, unix_micros}
        import org.apache.spark.sql.types.TimestampType
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }
  }

  // live session -> dir CURRENTLY backing the views (one entry per
  // session, under a fixed inner key). The view names are shared
  // ("documents" etc.), so memoizing per (session, dir) is wrong: after
  // registerAll(s, sf0.01), a later registerAll(s, sf0.001) would be
  // skipped as "already registered" and silently read the WRONG scale
  // factor. Re-register whenever the requested dir differs. Keyed by the
  // session object, held weakly: an identity-hash key could be reused by
  // a new session after GC and skip its registration.
  private val registered = new SessionCache[String]()

  /** Register all testdata tables as temp views; idempotent per dir,
    * re-points the views when the same session switches dirs. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    registered.compute(spark, "views") { prev =>
      if (!prev.contains(dir)) {
        names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
        // native SQL functions (cosine_sim, quantized_dot) ride along so
        // dialect() query text can use them
        functions.GraftExtensions.register(spark)
      }
      dir
    }
    ()
  }
}

object QueryRegistry {
  def all: Seq[QuerySpec] =
    queries.Relational.specs ++ queries.TextOps.specs ++ queries.VectorOps.specs ++
      queries.LakeOps.specs ++ queries.PipelineOps.specs
  def byName: Map[String, QuerySpec] = all.map(s => s.name -> s).toMap
  def flagship: QuerySpec = queries.Relational.flagship
}
