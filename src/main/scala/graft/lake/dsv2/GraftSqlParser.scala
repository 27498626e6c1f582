package graft.lake.dsv2

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** Parser extension adding the reference's Iceberg-grammar DDL spellings:
  *
  *   ALTER TABLE t CREATE BRANCH [IF NOT EXISTS] b [AS OF VERSION <id>]
  *   ALTER TABLE t DROP BRANCH [IF EXISTS] b
  *   ALTER TABLE t CREATE TAG [IF NOT EXISTS] g [AS OF VERSION <id>]
  *   ALTER TABLE t DROP TAG [IF EXISTS] g
  *     (D14; `…WAP with Branches.ipynb` cells 16/60/71)
  *   ALTER TABLE t ADD PARTITION FIELD <col | days(col) | hours(col) |
  *     months(col) | years(col) | bucket(N, col)>
  *   ALTER TABLE t DROP PARTITION FIELD <same>
  *     (D8 partition evolution; Getting Started c27, Berlin Buzzwords
  *     c22-23 — new spec applies to future writes, per-file spec
  *     planning covers the old files)
  *
  * These are Iceberg SQL-extension grammar, not ANSI — Spark's parser
  * rejects them, so we intercept the exact statement shapes up front and
  * delegate every other string to the stock parser untouched. (Branch
  * management is also reachable without the extension through
  * `CALL lake.system.create_branch(...)` — GraftProcedures.)
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan = {
    val plan = GraftSqlParser.parseBranchDdl(sqlText, delegate)
      .orElse(GraftSqlParser.parsePartitionFieldDdl(sqlText, delegate))
      .orElse(GraftSqlParser.parseMaterializedViewDdl(sqlText, delegate))
      .orElse(GraftSqlParser.parseCloneDdl(sqlText, delegate))
      .orElse(GraftSqlParser.parseRestoreDdl(sqlText, delegate))
      .orElse(GraftSqlParser.parseVacuumDdl(sqlText, delegate))
      .orElse(GraftSqlParser.parseAnalyzeDdl(sqlText, delegate))
      .orElse(GraftSqlParser.parseOptimizeDdl(sqlText, delegate))
      .orElse(GraftTxnSql.parse(sqlText))
      .getOrElse(delegate.parsePlan(sqlText))
    // view DDL/reads on graft catalogs rewrite at PARSE time: the
    // analyzer's ResolveSessionCatalog rejects v2-catalog view DDL before
    // any injected resolution rule can run (GraftViewRule scaladoc)
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => GraftViewRule(s)(plan)
      case None => plan
    }
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  // identifier = dotted parts, each either backquoted or word chars;
  // matched lazily up to the CREATE/DROP keyword
  private val Ddl =
    """(?is)\s*ALTER\s+TABLE\s+((?:`[^`]+`|\w+)(?:\s*\.\s*(?:`[^`]+`|\w+))*)\s+(CREATE|DROP)\s+(BRANCH|TAG)\s+(?:(IF\s+NOT\s+EXISTS|IF\s+EXISTS)\s+)?(`[^`]+`|\w+)\s*(?:AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""".r

  /** Grammar violations surface as [[ParseException]] — the type every
    * caller of [[ParserInterface.parsePlan]] already handles — not a bare
    * IllegalArgumentException escaping the parser. */
  private def parseError(sqlText: String, msg: String): Nothing =
    throw new org.apache.spark.sql.catalyst.parser.ParseException(
      Option(sqlText), org.apache.spark.sql.catalyst.trees.Origin(),
      "PARSE_SYNTAX_ERROR", Map("error" -> msg, "hint" -> ""))

  /** Some(command) when the text is one of the branch/tag DDL shapes.
    * `IF NOT EXISTS` is only legal on CREATE (no-op when the ref exists),
    * `IF EXISTS` only on DROP (no-op when the ref is missing), and
    * `AS OF VERSION` only on CREATE; the illegal combinations are rejected
    * at parse time like Iceberg's grammar would. */
  def parseBranchDdl(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case Ddl(ident, verb, kind, modifier, ref, version) =>
        val refName = if (ref.startsWith("`")) ref.substring(1, ref.length - 1) else ref
        val isCreate = verb.equalsIgnoreCase("CREATE")
        val kindUp = kind.toUpperCase(java.util.Locale.ROOT)
        val mod = Option(modifier).map(_.replaceAll("\\s+", " ").toUpperCase(java.util.Locale.ROOT))
        mod.foreach {
          case "IF NOT EXISTS" if !isCreate => parseError(sqlText,
            s"IF NOT EXISTS is not allowed on DROP $kindUp; use IF EXISTS")
          case "IF EXISTS" if isCreate => parseError(sqlText,
            s"IF EXISTS is not allowed on CREATE $kindUp; use IF NOT EXISTS")
          case _ =>
        }
        if (!isCreate && version != null)
          parseError(sqlText, s"AS OF VERSION is not allowed on DROP $kindUp")
        Some(BranchDdlCommand(
          delegate.parseMultipartIdentifier(ident),
          s"${verb.toLowerCase(java.util.Locale.ROOT)}_${kind.toLowerCase(java.util.Locale.ROOT)}",
          refName,
          Option(version).map(_.toLong),
          ifNotExists = isCreate && mod.isDefined,
          ifExists = !isCreate && mod.isDefined))
      case _ => None
    }

  private val PartDdl =
    """(?is)\s*ALTER\s+TABLE\s+((?:`[^`]+`|\w+)(?:\s*\.\s*(?:`[^`]+`|\w+))*)\s+(ADD|DROP)\s+PARTITION\s+FIELD\s+(.+?)\s*;?\s*""".r
  private val TimeTransform = """(?i)\s*(days|hours|months|years)\s*\(\s*`?(\w+)`?\s*\)\s*""".r
  private val BucketTransform = """(?i)\s*bucket\s*\(\s*(\d+)\s*,\s*`?(\w+)`?\s*\)\s*""".r
  private val IdentityField = """\s*`?(\w+)`?\s*""".r

  /** Some(command) when the text is ADD/DROP PARTITION FIELD. */
  def parsePartitionFieldDdl(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case PartDdl(ident, verb, fieldSpec) =>
        val (colName, transform) = fieldSpec match {
          case TimeTransform(t, c) => (c, t.toLowerCase(java.util.Locale.ROOT))
          case BucketTransform(n, c) => (c, s"bucket[$n]")
          case IdentityField(c) => (c, "identity")
          case other => parseError(sqlText, s"unsupported partition transform: $other")
        }
        Some(PartitionFieldDdlCommand(
          delegate.parseMultipartIdentifier(ident),
          add = verb.equalsIgnoreCase("ADD"), colName, transform))
      case _ => None
    }

  private val MvIdent = """(?:`[^`]+`|\w+)(?:\s*\.\s*(?:`[^`]+`|\w+))*"""
  private val CreateMv =
    s"""(?is)\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+($MvIdent)\\s+AS\\s+SELECT\\s+(.+?)\\s+FROM\\s+(.+?)\\s+GROUP\\s+BY\\s+(.+?)\\s*;?\\s*""".r
  private val RefreshMv =
    s"""(?is)\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+($MvIdent)\\s*;?\\s*""".r
  private val DropMv =
    s"""(?is)\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+(?:(IF\\s+EXISTS)\\s+)?($MvIdent)\\s*;?\\s*""".r
  // SELECT items may be qualified (`f.col` / `d.col`) — the qualifier is
  // stripped: MaterializedAgg enforces fact/dim column-name disjointness,
  // so unqualified names are unambiguous in the enriched frame
  private val AggItem =
    """(?i)\s*(count|sum|avg|min|max)\s*\(\s*(?:(\*)|(?:`?\w+`?\s*\.\s*)?`?(\w+)`?)\s*\)\s+AS\s+`?(\w+)`?\s*""".r
  private val BareItem = """\s*(?:`?\w+`?\s*\.\s*)?`?(\w+)`?\s*""".r
  // FROM clause: base table [AS alias] + zero or more equi-joined dims
  // the alias lookahead must exclude EVERY join-introducing keyword:
  // otherwise `FROM fact RIGHT JOIN dim …` consumes RIGHT as the fact
  // alias and the unsupported join kind silently parses as INNER instead
  // of erroring on the FROM-clause tail
  private val FromHead =
    s"""(?is)\\s*($MvIdent)(?:\\s+(?:AS\\s+)?(?!JOIN|LEFT|INNER|RIGHT|FULL|CROSS|SEMI|ANTI)(\\w+))?\\s*(.*)""".r
  private val JoinRe =
    s"""(?is)\\s*(?:(LEFT|INNER)\\s+)?JOIN\\s+($MvIdent)(?:\\s+(?:AS\\s+)?(\\w+))?\\s+ON\\s+((?:`?\\w+`?\\s*\\.\\s*)?`?\\w+`?)\\s*=\\s*((?:`?\\w+`?\\s*\\.\\s*)?`?\\w+`?)\\s*(.*)""".r

  private def unquote(s: String): String =
    s.replace("`", "").replaceAll("\\s+", "")

  /** Some(command) when the text is MATERIALIZED VIEW DDL
    * ([[GraftMaterializedView]]). The SELECT shape is restricted to what
    * the delta algebra maintains: group columns (fact or dimension) +
    * aliased count/sum/avg/min/max aggregates (COUNT(*) included), over
    * one fact table optionally equi-joined to broadcast dimension tables
    * (`[LEFT|INNER] JOIN dim [AS d] ON f.key = d.key` — star schema). */
  def parseMaterializedViewDdl(sqlText: String,
                               delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case CreateMv(view, selectList, fromClause, groupList) =>
        // FROM: base [alias] (JOIN dim [alias] ON a.k = b.k)*
        val (base, dims) = fromClause match {
          case FromHead(b, bAlias, rest) =>
            var joins = Vector.empty[graft.lake.MaterializedAgg.DimJoin]
            var cur = rest
            while (cur.trim.nonEmpty) cur match {
              case JoinRe(kind, dimIdent, dimAlias, lhs, rhs, more) =>
                val dim = unquote(dimIdent)
                val dAlias = Option(dimAlias).getOrElse(dim.split("\\.").last)
                // the side qualified by THIS join's alias (or dim name) is
                // the dimension key; the other side is the (enriched) fact
                def split(q: String): (Option[String], String) = {
                  val parts = unquote(q).split("\\.")
                  if (parts.length == 1) (None, parts(0))
                  else (Some(parts.dropRight(1).mkString(".")), parts.last)
                }
                val (lq, lc) = split(lhs)
                val (rq, rc) = split(rhs)
                def isDimSide(q: Option[String]) =
                  q.contains(dAlias) || q.contains(dim) || q.contains(dim.split("\\.").last)
                val (factKey, dimKey) =
                  if (isDimSide(rq) && !isDimSide(lq)) (lc, rc)
                  else if (isDimSide(lq) && !isDimSide(rq)) (rc, lc)
                  else parseError(sqlText,
                    s"cannot tell the dimension side of ON $lhs = $rhs — " +
                      s"qualify exactly one side with the join's alias '$dAlias'")
                joins :+= graft.lake.MaterializedAgg.DimJoin(dim, factKey, dimKey,
                  Option(kind).map(_.toLowerCase(java.util.Locale.ROOT))
                    .filter(_ == "left").getOrElse("inner"))
                cur = more
              case other => parseError(sqlText,
                s"unsupported FROM clause tail (expected [LEFT|INNER] JOIN " +
                  s"<dim> [AS d] ON <fact.k> = <d.k>): $other")
            }
            (unquote(b), joins)
          case other => parseError(sqlText, s"unsupported FROM clause: $other")
        }
        val groupBy = groupList.split(",").toSeq.map {
          case BareItem(c) => c
          case other => parseError(sqlText,
            s"GROUP BY items must be plain (optionally qualified) columns: $other")
        }
        var bare = Vector.empty[String]
        var aggs = Vector.empty[graft.lake.MaterializedAgg.AggCol]
        selectList.split(",").foreach {
          case AggItem(f, star, c, a) =>
            val fn = f.toLowerCase(java.util.Locale.ROOT)
            if (star != null && fn != "count") parseError(sqlText,
              s"'*' argument is only legal for COUNT, not $fn")
            aggs :+= graft.lake.MaterializedAgg.AggCol(
              fn, if (star != null) "*" else c, a)
          case BareItem(c) => bare :+= c
          case other => parseError(sqlText,
            "materialized-view SELECT items must be group columns or " +
              s"count|sum|avg|min|max(col) AS alias (COUNT(*) allowed): $other")
        }
        if (bare.sorted != groupBy.sorted) parseError(sqlText,
          s"SELECT's bare columns ${bare.mkString(",")} must equal GROUP BY ${groupBy.mkString(",")}")
        if (aggs.isEmpty) parseError(sqlText, "at least one aggregate is required")
        Some(CreateMaterializedViewCommand(
          delegate.parseMultipartIdentifier(view),
          delegate.parseMultipartIdentifier(base), groupBy, aggs,
          dims))
      case RefreshMv(view) =>
        Some(RefreshMaterializedViewCommand(delegate.parseMultipartIdentifier(view)))
      case DropMv(ifExists, view) =>
        Some(DropMaterializedViewCommand(
          delegate.parseMultipartIdentifier(view), ifExists != null))
      case _ => None
    }

  private val CloneDdl =
    s"""(?is)\\s*CREATE\\s+TABLE\\s+($MvIdent)\\s+SHALLOW\\s+CLONE\\s+($MvIdent)\\s*(?:VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s*;?\\s*""".r

  /** Some(command) for Delta's DDL-first clone spelling (r16):
    * `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]` →
    * [[graft.lake.LakeCatalog.cloneTable]] (same semantics as
    * `CALL <cat>.system.clone_table`, including the WAP-staged refusal,
    * tombstoned-location refusal and chain-deep GC registration). DEEP
    * CLONE is deliberately absent — a deep copy is CREATE TABLE AS
    * SELECT, already native. */
  def parseCloneDdl(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case CloneDdl(dst, src, version) =>
        Some(ShallowCloneCommand(
          delegate.parseMultipartIdentifier(dst),
          delegate.parseMultipartIdentifier(src),
          Option(version).map(_.toLong)))
      case _ => None
    }

  private val RestoreDdl =
    s"""(?is)\\s*RESTORE\\s+TABLE\\s+($MvIdent)\\s+TO\\s+(VERSION|TIMESTAMP)\\s+AS\\s+OF\\s+(?:(\\d+)|'([^']+)')\\s*;?\\s*""".r

  /** Delta's `RESTORE TABLE t TO VERSION AS OF n` / `TO TIMESTAMP AS OF
    * <epoch-ms | 'yyyy-mm-dd hh:mm:ss[.f]'>` (r16): move main back to a
    * historical snapshot — one metadata commit, the DDL-first spelling of
    * `CALL <cat>.system.rollback_to_snapshot`. History stays append-only
    * (the rollback is itself a history entry), so a mis-restore is
    * restorable; expire/GC retention is untouched. The timestamp string
    * form parses in the JVM's session zone (`Timestamp.valueOf`). */
  def parseRestoreDdl(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case RestoreDdl(ident, kind, num, str) =>
        val byVersion = kind.equalsIgnoreCase("VERSION")
        if (byVersion && num == null)
          parseError(sqlText, "VERSION AS OF takes a numeric snapshot id")
        Some(RestoreTableCommand(
          delegate.parseMultipartIdentifier(ident),
          snapshotId = if (byVersion) Some(num.toLong) else None,
          timestampMs =
            if (byVersion) None
            else if (num != null) Some(num.toLong)
            else Some(java.sql.Timestamp.valueOf(str).getTime)))
      case _ => None
    }

  private val VacuumDdl =
    s"""(?is)\\s*VACUUM\\s+($MvIdent)\\s*(?:RETAIN\\s+(\\d+)\\s+HOURS\\s*)?(DRY\\s+RUN)?\\s*;?\\s*""".r

  /** Delta's `VACUUM t [RETAIN n HOURS] [DRY RUN]` (r16): expire
    * snapshots older than the horizon, then remove orphan files older
    * than it — the expire+orphan two-step the procedures expose, in the
    * spelling operators actually type. Default retention 168 h (Delta's
    * 7 days). DRY RUN touches nothing (no expire either) and lists the
    * files already unreferenced at the cutoff — a lower bound on what a
    * real vacuum frees, since the real one expires old snapshots first.
    * Clone-aware like the procedures (registered clones' live sets
    * spared, failing closed). */
  def parseVacuumDdl(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case VacuumDdl(ident, hours, dry) =>
        Some(VacuumTableCommand(
          delegate.parseMultipartIdentifier(ident),
          retainHours = Option(hours).map(_.toLong).getOrElse(168L),
          dryRun = dry != null))
      case _ => None
    }

  private val OptimizeDdl =
    s"""(?is)\\s*OPTIMIZE\\s+($MvIdent)\\s*(?:WHERE\\s+(.+?)\\s*)?(?:ZORDER\\s+BY\\s*\\(?\\s*((?:`[^`]+`|\\w+)(?:\\s*,\\s*(?:`[^`]+`|\\w+))*)\\s*\\)?\\s*)?;?\\s*""".r

  /** Delta's `OPTIMIZE t [WHERE pred] [ZORDER BY (c, …)]` (r16): the
    * DDL-first spelling of the compaction procedures. Bare OPTIMIZE =
    * small-file binpack; WHERE scopes a rewrite to may-match files (the
    * r16 predicate-scoped rewrite — whole-file granularity, content
    * provably unchanged); ZORDER BY = the clustering rewrite. OPTIMIZE
    * is not Spark grammar, so interception shadows nothing; a non-graft
    * ident fails at run time naming the requirement.
    *
    * Parse hardening (r17): the captured column list is tokenized
    * backtick-aware (a backticked name may contain commas), and a WHERE
    * predicate is validated via `delegate.parseExpression` AT PARSE TIME
    * — the regex cuts the predicate lazily at the first `ZORDER BY`
    * token, so a predicate whose text contains the literal `ZORDER BY`
    * (e.g. inside a string literal) would otherwise be silently
    * truncated; validation turns that into a loud ParseException naming
    * the limitation instead of a mis-scoped rewrite. */
  def parseOptimizeDdl(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case OptimizeDdl(ident, where, zorder) =>
        val pred = Option(where).map(_.trim).filter(_.nonEmpty)
        pred.foreach { p =>
          try delegate.parseExpression(p)
          catch { case e: Exception => parseError(sqlText,
            s"OPTIMIZE WHERE predicate failed to parse: '$p' (${e.getMessage}). " +
            "Note: a predicate containing the literal text 'ZORDER BY' is " +
            "truncated there — rewrite it without that token sequence.") }
        }
        Some(OptimizeTableCommand(
          delegate.parseMultipartIdentifier(ident),
          where = pred,
          zorderBy = Option(zorder).toSeq
            .flatMap(z => ZorderColToken.findAllIn(z).toSeq)
            .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)))
      case _ => None
    }

  /** Backtick-aware column token: a backticked name (commas allowed
    * inside) or a bare word — mirrors the alternation in [[OptimizeDdl]]. */
  private val ZorderColToken = "`[^`]+`|\\w+".r

  private val AnalyzeDdl =
    s"""(?is)\\s*ANALYZE\\s+TABLE\\s+($MvIdent)\\s+COMPUTE\\s+STATISTICS\\s*(?:(NOSCAN)|FOR\\s+ALL\\s+COLUMNS|FOR\\s+COLUMNS\\s+((?:`[^`]+`|\\w+)(?:\\s*,\\s*(?:`[^`]+`|\\w+))*))?\\s*;?\\s*""".r

  /** Spark's own `ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN | FOR
    * COLUMNS c, … | FOR ALL COLUMNS]` grammar, routed to [[Analyze]] for
    * graft tables (stock Spark rejects ANALYZE on v2 tables outright).
    * Only intercepts idents that resolve to a graft catalog AT PARSE
    * TIME — everything else falls through to the delegate so session-
    * catalog ANALYZE keeps its native behavior. */
  def parseAnalyzeDdl(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case AnalyzeDdl(ident, noscan, cols) =>
        val parts = delegate.parseMultipartIdentifier(ident)
        val graftOwned = org.apache.spark.sql.SparkSession.getActiveSession.exists { s =>
          try { GraftDdlResolve(s, parts, "ANALYZE TABLE"); true }
          catch { case _: Exception => false }
        }
        if (!graftOwned) None
        else Some(GraftAnalyzeCommand(parts,
          columns = Option(cols).toSeq.flatMap(_.split(",").toSeq)
            .map(_.trim.stripPrefix("`").stripSuffix("`")),
          noscan = noscan != null))
      case _ => None
    }
}

/** Runs a branch/tag DDL against the graft catalog owning the table. */
case class BranchDdlCommand(nameParts: Seq[String], op: String, ref: String,
                            snapshotId: Option[Long],
                            ifNotExists: Boolean = false,
                            ifExists: Boolean = false) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (gc, ident) = GraftDdlResolve(spark, nameParts, "branch DDL")
    val t = gc.lake.loadTable(ident)
    op match {
      case "create_branch" => t.createBranch(ref, snapshotId, ifNotExists)
      case "drop_branch" => t.dropBranch(ref, ifExists)
      case "create_tag" => t.createTag(ref, snapshotId, ifNotExists)
      case "drop_tag" => t.dropTag(ref, ifExists)
      case other => throw new IllegalStateException(s"unknown branch ddl $other")
    }
    Seq.empty
  }
}

/** ADD/DROP PARTITION FIELD: evolve the default partition spec (new spec
  * applies to future writes only — existing files keep their spec id and
  * are planned per-spec at scan, SURVEY §4 split planning). */
case class PartitionFieldDdlCommand(nameParts: Seq[String], add: Boolean,
                                    colName: String, transform: String)
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (gc, ident) = GraftDdlResolve(spark, nameParts, "partition-field DDL")
    val t = gc.lake.loadTable(ident)
    val m = t.meta
    val current: Seq[(String, String)] = m.partitionSpecs
      .find(_.specId == m.defaultSpecId).map(_.fields).getOrElse(Seq.empty)
      .flatMap(pf => m.schema.byId(pf.sourceId).map(c => c.name -> pf.transform))
    val next =
      if (add) {
        require(!current.contains(colName -> transform),
          s"partition field $transform($colName) already exists")
        current :+ (colName -> transform)
      } else {
        require(current.contains(colName -> transform),
          s"no partition field $transform($colName) to drop")
        current.filterNot(_ == colName -> transform)
      }
    t.replacePartitionSpec(next)
    Seq.empty
  }
}

/** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]`: zero-copy
  * clone through the catalog owning both idents. Source and destination
  * must resolve to the SAME graft catalog — a cross-catalog clone would
  * put the clone's GC registration where the other catalog's sweeps
  * never look. */
case class ShallowCloneCommand(dstParts: Seq[String], srcParts: Seq[String],
                               asOfSnapshotId: Option[Long])
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (gc, dst) = GraftDdlResolve(spark, dstParts, "SHALLOW CLONE")
    val (sgc, src) = GraftDdlResolve(spark, srcParts, "SHALLOW CLONE")
    require(sgc eq gc,
      s"SHALLOW CLONE source and destination must live in the same " +
        s"catalog (got '${sgc.name}' and '${gc.name}') — the clone's " +
        "GC registration must be visible to the source's expire/orphan " +
        "sweeps")
    gc.lake.cloneTable(src, dst, asOfSnapshotId)
    Seq.empty
  }
}

/** Shared ident→(graft catalog, table) resolution for the DDL commands. */
private[dsv2] object GraftDdlResolve {
  def apply(spark: SparkSession, nameParts: Seq[String],
            what: String): (GraftCatalog, String) = {
    val cm = spark.sessionState.catalogManager
    val (cat, tableParts) = nameParts match {
      case head +: rest if rest.nonEmpty && cm.isCatalogRegistered(head) =>
        (cm.catalog(head), rest)
      case _ => (cm.currentCatalog, nameParts)
    }
    cat match {
      case g: GraftCatalog => (g, tableParts.mkString("."))
      case other => throw new UnsupportedOperationException(
        s"$what requires a graft catalog, got '${other.name}'")
    }
  }
}

/** `OPTIMIZE t [WHERE pred] [ZORDER BY (…)]` → binpack (bare) or the
  * predicate-scoped / z-order rewrite. Returns one metrics row like
  * Delta's OPTIMIZE. */
case class OptimizeTableCommand(nameParts: Seq[String], where: Option[String],
                                zorderBy: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "rewritten_files", org.apache.spark.sql.types.LongType, nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "added_files", org.apache.spark.sql.types.LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (gc, ident) = GraftDdlResolve(spark, nameParts, "OPTIMIZE")
    val t = gc.lake.loadTable(ident)
    val v0 = t.meta.currentSnapshot.map(_.snapshotId)
    val m =
      if (where.isEmpty && zorderBy.isEmpty) t.binPack()
      else t.rewriteDataFiles(
        zorderBy = zorderBy,
        where = where.map(org.apache.spark.sql.functions.expr))
    val s = m.currentSnapshot.filterNot(s => v0.contains(s.snapshotId))
    def n(k: String) = s.flatMap(_.summary.get(k)).flatMap(_.toLongOption).getOrElse(0L)
    Seq(Row(Seq("rewritten-data-files", "binpack-rewritten-files",
      "where-rewritten-files").map(n).max, n("added-data-files")))
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS …` on a graft table →
  * [[graft.lake.Analyze.run]]. Exact-NDV audit mode is opt-in via the
  * session conf `spark.graft.analyze.exact-ndv=true` (Spark's grammar has
  * no spelling for it; the default HLL pass is the 100 TB path). */
case class GraftAnalyzeCommand(nameParts: Seq[String], columns: Seq[String],
                               noscan: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (gc, ident) = GraftDdlResolve(spark, nameParts, "ANALYZE TABLE")
    val exact = spark.conf.getOption("spark.graft.analyze.exact-ndv")
      .exists(_.equalsIgnoreCase("true"))
    gc.lake.loadTable(ident).analyzeTable(columns, exactNdv = exact, noscan = noscan)
    Seq.empty
  }
}

/** `RESTORE TABLE t TO VERSION|TIMESTAMP AS OF …` → one metadata commit
  * moving main back (the rollback procedure's DDL spelling). */
case class RestoreTableCommand(nameParts: Seq[String],
                               snapshotId: Option[Long],
                               timestampMs: Option[Long])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (gc, ident) = GraftDdlResolve(spark, nameParts, "RESTORE TABLE")
    val t = gc.lake.loadTable(ident)
    val target = snapshotId.getOrElse {
      val ts = timestampMs.get
      t.resolveSnapshot(asOfTimestampMs = Some(ts)).map(_.snapshotId)
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot of $ident at or before timestamp $ts"))
    }
    t.rollbackTo(target)
    Seq.empty
  }
}

/** `VACUUM t [RETAIN n HOURS] [DRY RUN]` → expire snapshots older than
  * the horizon, then remove (or, dry, just LIST) orphan files older than
  * it. Returns one row per removed/listed path so `spark.sql("VACUUM
  * …").show()` reads like Delta's. */
case class VacuumTableCommand(nameParts: Seq[String], retainHours: Long,
                              dryRun: Boolean) extends LeafRunnableCommand {

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "path", org.apache.spark.sql.types.StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (gc, ident) = GraftDdlResolve(spark, nameParts, "VACUUM")
    val t = gc.lake.loadTable(ident)
    val cutoff = System.currentTimeMillis() - retainHours * 3600_000L
    // DRY RUN touches nothing — including the expire step — so it lists
    // the files ALREADY unreferenced at this horizon (a lower bound on a
    // real vacuum, which expires old snapshots first and may free more)
    if (!dryRun) t.expireSnapshots(cutoff)
    val removed = t.removeOrphanFiles(olderThanMs = cutoff, dryRun = dryRun)
    removed.map(Row(_))
  }
}

object GraftTxnSql {
  // ANSI spellings for the multi-table transaction surface
  // ([[graft.lake.SqlTransactions]] — the CALL procedures' twins). Bare
  // `BEGIN` is NOT intercepted: Spark 4's SQL scripting owns
  // `BEGIN … END` compound blocks, so only the explicit
  // BEGIN/START TRANSACTION forms route here. Spark has no COMMIT /
  // ROLLBACK statements of its own (the stock parser rejects them), so
  // intercepting those bare forms shadows nothing.
  private val BeginTxn =
    """(?is)\s*(?:BEGIN|START)\s+TRANSACTION\s*;?\s*""".r
  private val CommitTxn =
    """(?is)\s*COMMIT(?:\s+(?:TRANSACTION|WORK))?\s*;?\s*""".r
  private val RollbackTxn =
    """(?is)\s*ROLLBACK(?:\s+(?:TRANSACTION|WORK))?\s*;?\s*""".r

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case BeginTxn() => Some(BeginTxnCommand())
    case CommitTxn() => Some(CommitTxnCommand())
    case RollbackTxn() => Some(RollbackTxnCommand())
    case _ => None
  }

  /** The LakeCatalog a bare (catalog-less) transaction statement binds
    * to: the session's CURRENT catalog when it is a graft catalog,
    * otherwise the single configured graft catalog — ambiguity or
    * absence errors with the explicit alternatives. */
  private[dsv2] def resolveLake(spark: SparkSession): graft.lake.LakeCatalog = {
    val cm = spark.sessionState.catalogManager
    cm.currentCatalog match {
      case g: GraftCatalog => g.lake
      case _ =>
        val prefix = "spark.sql.catalog."
        val names = spark.conf.getAll.toSeq.collect {
          case (k, v) if k.startsWith(prefix) &&
            !k.stripPrefix(prefix).contains(".") &&
            v == classOf[GraftCatalog].getName => k.stripPrefix(prefix)
        }.sorted
        names match {
          case Seq(one) => cm.catalog(one) match {
            case g: GraftCatalog => g.lake
            case other => throw new IllegalStateException(
              s"catalog $one did not initialize as a graft catalog: $other")
          }
          case Seq() => throw new IllegalStateException(
            "BEGIN TRANSACTION needs a graft catalog: register one " +
              "(spark.sql.catalog.<name> = graft.lake.dsv2.GraftCatalog) " +
              "or CALL <cat>.system.begin_transaction()")
          case many => throw new IllegalStateException(
            s"BEGIN TRANSACTION is ambiguous across graft catalogs " +
              s"(${many.mkString(", ")}) — USE <catalog> first, or " +
              "CALL <cat>.system.begin_transaction()")
        }
    }
  }
}

case class BeginTxnCommand() extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val txnId = graft.lake.SqlTransactions.begin(GraftTxnSql.resolveLake(spark))
    System.err.println(s"[graft] transaction $txnId begun")
    Seq.empty
  }
}

case class CommitTxnCommand() extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.lake.SqlTransactions.commit(spark)
    Seq.empty
  }
}

case class RollbackTxnCommand() extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.lake.SqlTransactions.rollback(spark)
    Seq.empty
  }
}
