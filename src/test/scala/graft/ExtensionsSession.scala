package graft

import org.apache.spark.sql.SparkSession

/** A session built WITH GraftExtensions, so SQL DML (UPDATE, DELETE,
  * MERGE INTO) on graft tables is translated to graft's commands. It
  * shares the JVM's SparkContext; `create()` would promote it to the
  * default and active session, so both are restored and other suites'
  * `getOrCreate()` keeps its own session. */
object ExtensionsSession {
  def create(): SparkSession =
    Sessions.createAside(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions()(_)))

  /** [[create]] with a graft catalog named `catalog` over `warehouse`. */
  def withCatalog(catalog: String, warehouse: String): SparkSession = {
    val s = create()
    s.conf.set(s"spark.sql.catalog.$catalog", classOf[graft.lake.dsv2.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse)
    s
  }
}
