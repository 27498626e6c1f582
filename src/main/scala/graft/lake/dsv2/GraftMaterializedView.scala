package graft.lake.dsv2

import graft.lake.{LakeCatalog, Links, MaterializedAgg}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.command.LeafRunnableCommand

/** SQL surface for incrementally-maintained aggregates (q63's engine
  * feature as DDL — stock Spark has no MATERIALIZED VIEW grammar, so
  * [[GraftSqlParser]] intercepts these statement shapes):
  *
  *   CREATE MATERIALIZED VIEW <cat>.<db>.<mv> AS
  *     SELECT g1[, g2…], func(col) AS alias[, …]
  *     FROM <cat>.<db>.<base> GROUP BY g1[, g2…]
  *   REFRESH MATERIALIZED VIEW <cat>.<db>.<mv>
  *   DROP MATERIALIZED VIEW [IF EXISTS] <cat>.<db>.<mv>
  *
  * func ∈ count|sum|avg|min|max (the abelian/semigroup set the delta
  * algebra maintains); every aggregate must be aliased (the alias is the
  * view's column name); group-by items must be the SELECT's bare
  * columns. Creation runs the initial build (which IS the incremental
  * path — a changelog replay from the table's beginning); refresh costs
  * churn, not table size (SCALEPROBE.md `mv_refresh`). The view reads as
  * a normal table (`SELECT * FROM <mv>` presents finalized values —
  * GraftTable's ivm presentation) and refuses direct writes. */
object GraftMaterializedView {

  /** The graft LakeCatalog behind a registered catalog name. */
  private[dsv2] def lakeCatalogOf(spark: SparkSession, catalog: String): LakeCatalog =
    spark.sessionState.catalogManager.catalog(catalog) match {
      case g: GraftCatalog => g.lake
      case other => throw new IllegalArgumentException(
        s"MATERIALIZED VIEW requires a graft catalog; '$catalog' is ${other.getClass.getName}")
    }

  /** Split `cat.db.name` → (catalogName, "db.name"); a 2-part name
    * resolves against the session's CURRENT catalog (`USE lake` +
    * `CREATE MATERIALIZED VIEW db.mv …` — the same session-context
    * resolution table/view DDL gets). */
  private[dsv2] def splitIdent(spark: SparkSession, ident: Seq[String]): (String, String) =
    ident.length match {
      case n if n >= 3 => (ident.head, ident.tail.mkString("."))
      case 2 => (spark.sessionState.catalogManager.currentCatalog.name(),
        ident.mkString("."))
      case _ => throw new IllegalArgumentException(
        s"materialized-view identifiers need at least db.name: ${ident.mkString(".")}")
    }
}

case class CreateMaterializedViewCommand(
    viewIdent: Seq[String], baseIdent: Seq[String],
    groupBy: Seq[String], aggs: Seq[MaterializedAgg.AggCol],
    dims: Seq[MaterializedAgg.DimJoin] = Seq.empty)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (vCat, vIdent) = GraftMaterializedView.splitIdent(spark, viewIdent)
    val (bCat, bIdent) = GraftMaterializedView.splitIdent(spark, baseIdent)
    require(vCat == bCat,
      s"view and base table must live in the same catalog: $vCat vs $bCat")
    // star-schema dims: resolve each against the SAME catalog (the DDL
    // may spell them fully-qualified or catalog-relative)
    val resolvedDims = dims.map { dj =>
      val parts = dj.dimIdent.split("\\.").toSeq
      val (dCat, dIdent) = GraftMaterializedView.splitIdent(spark, parts)
      require(dCat == vCat,
        s"dimension ${dj.dimIdent} must live in the view's catalog $vCat")
      dj.copy(dimIdent = dIdent)
    }
    val lake = GraftMaterializedView.lakeCatalogOf(spark, vCat)
    val mv = MaterializedAgg.create(lake, vIdent, lake.loadTable(bIdent),
      groupBy, aggs, resolvedDims)
    mv.refresh() // initial build = the incremental path from the beginning
    Seq.empty
  }
}

case class RefreshMaterializedViewCommand(viewIdent: Seq[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftMaterializedView.splitIdent(spark, viewIdent)
    val lake = GraftMaterializedView.lakeCatalogOf(spark, cat)
    MaterializedAgg.load(lake, ident).refresh()
    Seq.empty
  }
}

case class DropMaterializedViewCommand(viewIdent: Seq[String], ifExists: Boolean)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftMaterializedView.splitIdent(spark, viewIdent)
    val lake = GraftMaterializedView.lakeCatalogOf(spark, cat)
    if (!lake.tableExists(ident)) {
      if (ifExists) return Seq.empty
      throw new IllegalArgumentException(s"materialized view $ident does not exist")
    }
    // refuse to DROP MATERIALIZED VIEW a plain table (and vice versa:
    // DROP TABLE works on the state table regardless — it IS a table)
    val state = lake.loadTable(ident)
    require(MaterializedAgg.viewSpec(state.meta.properties).isDefined,
      s"$ident is not a materialized view")
    // deregister from the base's routing index (best-effort: a base
    // dropped first just means the pointer dies with it)
    state.meta.properties.get(MaterializedAgg.BaseLocKey).foreach { baseLoc =>
      try {
        // atomic RMW: a concurrent CREATE on the same base must not lose
        // its registration to this deregistration (and vice versa)
        state.sibling(baseLoc).updateProperties(
          Links.remove(MaterializedAgg.ViewsKey, state.location))
        ()
      } catch { case scala.util.control.NonFatal(_) => }
    }
    lake.dropTable(ident)
    Seq.empty
  }
}
