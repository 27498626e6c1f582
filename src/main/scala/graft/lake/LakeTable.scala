package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.nio.charset.StandardCharsets
import java.util.UUID

/** A versioned lake table: Parquet data files + JSON snapshot metadata,
  * providing the reference's Iceberg-table capabilities (SURVEY.md §2.9):
  * snapshot isolation, time travel, branches, WAP staging, copy-on-write
  * DML with a metadata-only DELETE fast path, schema & partition evolution,
  * metadata tables, and maintenance procedures.
  *
  * Scale notes: commits are metadata-file writes (no data read); stats come
  * from parquet footers at write time; reads hand Spark a pruned file list,
  * so Catalyst's parquet scan keeps its own row-group pruning, column
  * pruning and whole-stage codegen on top.
  */
/** A copy-on-write commit lost its snapshot-isolation validation: the
  * branch moved (or lost files) since the operation planned its file
  * set. Re-read the table and re-plan the operation to retry. */
case class CommitConflictException(message: String) extends RuntimeException(message)

class LakeTable private[lake] (val spark: SparkSession, val location: String,
                               store0: MetaStore = null) {
  import LakeTable._

  private val hadoopConf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem = new Path(location).getFileSystem(hadoopConf)
  private def metaDir = new Path(location, "metadata")
  private def dataDir = new Path(location, "data")

  // ---- metadata IO -------------------------------------------------------
  // Every metadata read/write goes through the MetaStore seam: filesystem
  // under <location>/metadata by default, or the wire-protocol catalog
  // client ([[HttpMetaStore]]) when the table is resolved through a
  // catalog service — data-file I/O below never switches, matching the
  // REST-catalog + object-store split.

  private[graft] val metaStore: MetaStore =
    Option(store0).getOrElse(new FsMetaStore(fs, location))

  /** Resolve a SIBLING table (an MV state table from the routing index, a
    * view's recorded base location) through the SAME metadata authority
    * as this table — a `uri`-mode table resolves siblings over the wire,
    * a filesystem table under the sibling's location. Every feature that
    * follows a location found in table properties must come through here,
    * never [[LakeTable.at]] (which hard-codes the filesystem). */
  def sibling(loc: String): LakeTable =
    if (loc == location) this
    else new LakeTable(spark, loc, metaStore.sibling(location, loc))

  private def versionName(v: Int) = s"v$v.json"

  /** Atomically publish a COMPLETE metadata file, failing if it exists.
    * Delegates to the per-scheme [[Publish]] strategy: hard-link on local
    * filesystems, write-then-atomic-rename on rename-atomic stores (HDFS),
    * and a registered [[Publish.ConditionalPut]] on object stores with a
    * put-if-absent primitive. See [[PublishStrategy]] for why plain
    * `fs.create(p, overwrite=false)` is not an option. */

  /** Monotonic cache of the highest version this handle has observed —
    * version files are never deleted (rollback only moves refs), so probing
    * can start here instead of re-walking from the hint. Keeps `meta` access
    * at one existence probe amortized instead of O(versions) filesystem
    * round-trips per read (a real cost on object storage with thousands of
    * snapshots). */
  @volatile private var lastSeenVersion: Int = 0

  /** Latest committed version: start from max(hint, last-seen), probe forward. */
  def currentVersion: Int = {
    val hint = try metaStore.read("version-hint.text").trim.toInt
      catch { case _: Exception => 0 }
    var v = math.max(math.max(hint, lastSeenVersion), 0)
    while (metaStore.exists(versionName(v + 1))) v += 1
    // Bounded-retention tables (retireOldVersions) leave a HOLE below the
    // retention floor, so a stale advisory hint must not be trusted: the
    // forward probe can strand a reader at v1 (always retained — it is
    // the existence marker) or at the hint itself when the hinted file
    // was retired. Retirement deletes UPWARD from a persisted progress
    // marker to the floor (retireOldVersions, r15 — crash-proof), so the
    // retained set is always {v1} ∪ one contiguous top range — any
    // EXISTING version > 1 is inside that range and the
    // forward probe from it reaches the true head. A listing is therefore
    // needed only in the two genuinely ambiguous cases: a fresh handle
    // stranded at v ≤ 1 (the hint pointed below the hole, or was
    // missing), or a hint naming a retired file. Fresh handles on large
    // tables with an accurate hint pay ZERO listings (measured 17 s for
    // one listing at 4k commits' metadata on local fs — SCALEPROBE.md
    // "Multi-table transactions (r14)"; VersionHintSpec counts them).
    if ((lastSeenVersion == 0 && v <= 1) ||
        (v >= 1 && !metaStore.exists(versionName(v)))) {
      val pat = "^v(\\d+)\\.json$".r
      v = metaStore.list().flatMap { case (n, _) =>
        pat.findFirstMatchIn(n).map(_.group(1).toInt)
      }.maxOption.getOrElse(v)
    }
    lastSeenVersion = v
    v
  }

  /** Latest metadata with every snapshot's file list re-inflated from its
    * manifest chunks ([[Manifests.resolve]] — each distinct chunk is read
    * once through the process-wide immutable cache). Version files are
    * immutable once published, so the RESOLVED meta is also cached
    * process-wide per (location, version): a warm `meta` is one existence
    * probe + a map hit, and commit latency stops scaling with file count
    * (the resolve at 10^4 files costs ~400 ms; the probe's avg commit fell
    * from ~670 ms to flat ~35 ms with this cache). Invalidated explicitly
    * on drop/recreate, which restarts version numbering at a reused
    * location ([[LakeTable.invalidateLocation]]). */
  def meta: TableMeta = {
    // wire stores answer (version, root) in ONE round trip; filesystem
    // stores fall back to hint-read + forward-probe (r12)
    metaStore.resolveLatest() match {
      case Some((v, body)) =>
        lastSeenVersion = math.max(lastSeenVersion, v)
        val key = s"${metaStore.id}#v$v"
        val hit = LakeTable.metaCache.get(key)
        if (hit != null) return hit
        val m = Manifests.resolve(Meta.fromJson(body), metaStore)
        LakeTable.cacheMeta(key, m)
        m
      case None =>
        val v = currentVersion
        val key = s"${metaStore.id}#v$v"
        val hit = LakeTable.metaCache.get(key)
        if (hit != null) return hit
        val m = Manifests.resolve(Meta.fromJson(metaStore.read(versionName(v))), metaStore)
        LakeTable.cacheMeta(key, m)
        m
    }
  }

  /** Optimistic-concurrency commit: apply `transform` to the latest metadata
    * and win the race to create the next version file; retry on collision.
    *
    * An identity transform (next == base before the version bump) commits
    * nothing and returns the base unchanged — so no-op paths (`IF NOT
    * EXISTS` on an existing ref, dropping a ref a concurrent writer
    * already removed) never produce spurious metadata versions. */
  private[lake] def commit(transform: TableMeta => TableMeta,
                           fenceOwner: Option[String] = None): TableMeta = {
    var attempts = 0
    var recoveryTried = false
    while (attempts < 20) {
      val base = meta
      val applied = transform(base)
      if (applied == base) return base
      // multi-table transaction fence: while `graft.txn.fence` is set,
      // MAIN must not move — and the fence itself must not be altered or
      // dropped — except by the owning transaction's own protocol steps
      // (fence/publish/abort/recover pass their txnId as `fenceOwner`).
      // The fenced transaction's publish sets main := its branch head
      // without re-reading it, so a foreign main movement between
      // decision and publish would be silently lost; and a foreign
      // transform that REPLACES properties wholesale (CREATE OR REPLACE)
      // would drop the fence key, which under the old "fence preserved
      // verbatim" condition slipped past the guard and let publish
      // resurrect pre-replace content. Commits that leave main AND the
      // fence alone (branch staging, branch drops, property updates,
      // another transaction's rollback) are safe under a fence and pass.
      // An expired fence (coordinator died) is resolved in place — the
      // transaction rolls forward or back per its decision slot — then
      // this commit retries against the recovered state.
      val fence = base.properties.get(LakeTransaction.FenceKey)
      val ownedByCaller = fenceOwner.isDefined &&
        fence.map(_.takeWhile(_ != '\t')) == fenceOwner
      if (fence.isDefined && !ownedByCaller &&
          (applied.refs.get(MainBranch) != base.refs.get(MainBranch) ||
            applied.properties.get(LakeTransaction.FenceKey) != fence)) {
        val ttl = base.properties.get(LakeTransaction.FenceTtlKey)
          .flatMap(_.toLongOption)
          .getOrElse(LakeTransaction.DefaultFenceTtlMs)
        val txn = fence.get.takeWhile(_ != '\t')
        if (recoveryTried ||
            !LakeTransaction.tryRecoverFence(this, fence.get, ttl))
          throw CommitConflictException(
            s"table $location is fenced by in-flight multi-table " +
              s"transaction $txn — retry after it completes, or recover " +
              "it via LakeCatalog.recoverTransactions() once " +
              s"${LakeTransaction.FenceTtlKey} has elapsed")
        recoveryTried = true
        attempts += 1
        // fence resolved: loop retries the transform on fresh metadata
      } else {
        val next = applied.copy(version = base.version + 1)
        // Chunk new snapshots' file lists BEFORE the version race: reused
        // parent chunks cost zero bytes, new chunks are content-addressed
        // (idempotent across retries), and a committed version therefore
        // never references a missing chunk. The version JSON itself carries
        // only chunk names — commit bytes are O(churn), not O(history×files).
        val (inMemory, persisted) = Manifests.assign(next, metaStore)
        if (metaStore.putIfAbsent(versionName(next.version),
            Meta.toJson(persisted).getBytes(StandardCharsets.UTF_8))) {
          metaStore.putOverwrite("version-hint.text",
            next.version.toString.getBytes(StandardCharsets.UTF_8))
          lastSeenVersion = math.max(lastSeenVersion, next.version)
          LakeTable.cacheMeta(s"${metaStore.id}#v${next.version}", inMemory)
          retireOldVersions(next)
          return inMemory
        }
        attempts += 1
      }
    }
    throw new IllegalStateException(s"commit contention on $location after 20 attempts")
  }

  /** Bounded version-file retention (Iceberg's
    * `write.metadata.delete-after-commit.enabled` +
    * `write.metadata.previous-versions-max`, default 100): after a
    * successful commit, version files below `version - max` are deleted.
    * Without this a continuously-ingested table accretes one version file
    * per commit FOREVER (~17k/day at a 5 s trigger). Time travel is
    * unaffected — snapshots live in the CURRENT version's document, old
    * version files serve only the metadata log. `v1.json` is always
    * retained: it is the catalog's existence marker (tableExists keys on
    * it).
    *
    * The walk is bounded by a persisted progress marker
    * (`retired-below.text` = highest version known retired) and deletes
    * UPWARD from the marker to the floor — so the retained set is
    * `{v1} ∪ one contiguous top range` at EVERY instant, crashes
    * included. (The r14 shape walked DOWNWARD and stopped at the first
    * already-missing file: a crash mid catch-up left a permanent residue
    * {v2..k} BELOW the hole, never reclaimed, and a fresh handle whose
    * stale hint landed in that residue forward-probed to the residue top
    * and silently served stale metadata — the contiguity invariant
    * [[currentVersion]]'s zero-listing fast path depends on.) Steady
    * state costs one marker read, one delete, one marker write per
    * commit; the first commit after enabling catches up over the whole
    * backlog once, and already-missing files inside the catch-up range
    * are skipped, not treated as a stop signal. */
  private def retireOldVersions(next: TableMeta): Unit = {
    if (!next.properties.get("write.metadata.delete-after-commit.enabled")
        .contains("true")) return
    val max = next.properties.get("write.metadata.previous-versions-max")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(100)
    val floor = next.version - max - 1
    if (floor < 2) return
    val retiredBelow =
      try metaStore.read("retired-below.text").trim.toInt
      catch { case _: Exception => 1 }
    var v = math.max(retiredBelow + 1, 2)
    while (v <= floor) {
      try { if (metaStore.exists(versionName(v))) { metaStore.delete(versionName(v)); () } }
      catch {
        case _: Exception =>
          // best-effort: record progress so far; next commit retries from
          // here (deletion is upward, so the top range stays contiguous)
          try metaStore.putOverwrite("retired-below.text",
            (v - 1).toString.getBytes(StandardCharsets.UTF_8))
          catch { case _: Exception => () }
          return
      }
      v += 1
    }
    try metaStore.putOverwrite("retired-below.text",
      floor.toString.getBytes(StandardCharsets.UTF_8))
    catch { case _: Exception => () }
  }

  // ---- session-conf plumbing (WAP, ref: Integrated Audits c13-c27) --------

  private def confOpt(key: String): Option[String] =
    try spark.conf.getOption(key).filter(_.nonEmpty) catch { case _: Exception => None }

  private def wapId: Option[String] = confOpt("spark.wap.id")
  private def wapBranch: Option[String] = confOpt("spark.wap.branch")

  /** Iceberg rejects a session that sets BOTH `spark.wap.id` and
    * `spark.wap.branch` (the two route writes to different places — a
    * staged unpublished snapshot vs a named branch — and silently
    * preferring one would skip the other's audit path). Enforced at every
    * write when the table has WAP enabled, like SparkWriteConf does. */
  private def requireWapUnambiguous(m: TableMeta): Unit =
    require(!(m.properties.get("write.wap.enabled").contains("true") &&
        wapId.isDefined && wapBranch.isDefined),
      "cannot set both spark.wap.id and spark.wap.branch")

  private def resolveWriteBranch(explicit: Option[String]): String =
    explicit.orElse(wapBranch).getOrElse(MainBranch)

  /** Where a write planned against `m0` lands: the branch it commits to,
    * whether it stages its snapshot for WAP audit (a `spark.wap.id`
    * session on a `write.wap.enabled` table, with no explicit branch), and
    * the snapshot it plans against. Refuses an ambiguous WAP session. */
  private def writeTarget(m0: TableMeta,
                          toBranch: Option[String]): (String, Boolean, Option[Snapshot]) = {
    requireWapUnambiguous(m0)
    val branch = resolveWriteBranch(toBranch)
    val staged = wapId.isDefined &&
      m0.properties.get("write.wap.enabled").contains("true") && toBranch.isEmpty
    (branch, staged, m0.branchHead(branch))
  }

  // ---- write path ----------------------------------------------------------

  /** Align an input DataFrame to the table schema by column name and rename
    * to physical ids; unmentioned nullable columns become null. */
  private def toPhysical(df: DataFrame, schema: LakeSchema): DataFrame = {
    val inCols = df.columns.toSet
    val cols = schema.columns.map { c =>
      if (c.generationSql.isDefined) {
        val computed = expr(c.generationSql.get).cast(c.sparkType)
        if (!inCols.contains(c.name)) computed.as(c.physicalName)
        else
          // a supplied NON-NULL value must AGREE with the generation
          // expression (Delta semantics) — asserted in the write
          // projection, one comparison per row, no extra pass. NULL is
          // "not supplied": Spark pads absent columns with NULL during
          // INSERT resolution, so a null here means the writer omitted
          // the column, and the computed value is stored.
          when(df.col(c.name).isNull, computed)
            .otherwise(
              when(isnull(assert_true(df.col(c.name).cast(c.sparkType) <=> computed,
                concat(lit(s"generated column ${c.name} (${c.generationSql.get}) " +
                  "does not match the supplied value on row: "),
                  to_json(struct(df.columns.toIndexedSeq.map(df.col): _*))))),
                computed))
            .as(c.physicalName)
      }
      else if (inCols.contains(c.name)) df.col(c.name).cast(c.sparkType).as(c.physicalName)
      // absent column: ANSI INSERT-without-column-list semantics — the
      // CURRENT default if declared, else NULL
      else if (c.currentDefaultSql.isDefined)
        expr(c.currentDefaultSql.get).cast(c.sparkType).as(c.physicalName)
      else if (c.nullable) lit(null).cast(c.sparkType).as(c.physicalName)
      else throw new IllegalArgumentException(s"missing required column ${c.name}")
    }
    df.select(cols: _*)
  }

  /** Write `df` (already physical-named) as data files under the given spec;
    * returns DataFile entries with footer stats.
    * `filePrefix` encodes the producing operation in the data file name:
    * "app" for append snapshots, "rw" for copy-on-write rewrites. The
    * streaming read-back (Changelog.streamRead) filters on "app-*" so a
    * CoW rewrite never re-delivers rows — the same append-only streaming
    * semantics Iceberg's streaming read enforces. */
  /** `sortWithinPhysical`: physical column names to keep rows sorted by
    * INSIDE each written file. The dynamic-partition write path sorts its
    * input by the partition columns (one open file at a time), and that
    * sort is not stable — it silently destroys any pre-existing row
    * order. Sorting by (partitionCols ++ sortCols) here makes the
    * partition-sort requirement already satisfied, so the within-file
    * order survives; sort-clustered rewrites pass their sort columns so
    * sorted-scan reporting ([[graft.lake.dsv2.GraftBatchScan]]) is
    * actually true at the row level, not just at file-stats level. */
  private def writeDataFiles(physical: DataFrame, m: TableMeta,
                             filePrefix: String = "rw",
                             sortWithinPhysical: Seq[String] = Seq.empty): Seq[DataFile] = {
    val schema = m.schema
    val spec = m.spec
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val tmp = new Path(location, s"tmp-${UUID.randomUUID().toString.take(8)}")
    val partCols = spec.fields.map(_.physicalName)
    val withParts0 = spec.fields.foldLeft(physical) { (d, f) =>
      val src = schema.byId(f.sourceId).getOrElse(
        throw new IllegalStateException(s"partition source id ${f.sourceId} not in schema"))
      d.withColumn(f.physicalName, Transforms.expr(f.transform, d.col(src.physicalName), src.sparkType))
    }
    // write.distribution-mode=hash (Iceberg's write distribution): cluster
    // rows by partition value before the write so each partition value is
    // produced by ONE task — without it, files-per-append = tasks ×
    // partition-values-per-task, the small-files factory at 100 TB.
    // Default "none" keeps writes shuffle-free (right for single-partition
    // micro-batches and huge per-partition loads).
    // write.distribution-mode=range + write.sort-order (Iceberg's pair):
    // range-partition the batch by the declared sort columns and sort
    // within tasks, so files land with DISJOINT min/max on those columns
    // — range predicates then prune files from the FIRST commit, no
    // sort-by compaction pass needed. The sort columns resolve by
    // LOGICAL name at write time (rename-safe: the property is rewritten
    // with renames like the bloom columns... it is consulted per write).
    val sortOrderCols = m.properties.get("write.sort-order")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
      .flatMap(c => schema.byName(c).map(_.physicalName))
    val withParts1 = m.properties.get("write.distribution-mode") match {
      case Some("hash") if partCols.nonEmpty =>
        withParts0.repartition(partCols.map(c => col(c)): _*)
      case Some("range") if sortOrderCols.nonEmpty =>
        withParts0.repartitionByRange(
          (partCols ++ sortOrderCols).map(c => col(c)): _*)
      case _ => withParts0
    }
    val sortCols = (partCols ++ sortWithinPhysical ++ sortOrderCols).distinct
    val withParts =
      if (sortCols.nonEmpty && (sortWithinPhysical.nonEmpty || sortOrderCols.nonEmpty))
        withParts1.sortWithinPartitions(sortCols.map(c => col(c)): _*)
      else withParts1
    // write.bloom-filter.columns: per-column parquet bloom filters for
    // high-cardinality point lookups — row-group-level pruning inside the
    // files our min/max stats can't separate (hashes, ids). Pure write
    // option; Spark's vectorized reader uses them transparently.
    val bloomCols = m.properties.get("write.bloom-filter.columns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
      .flatMap(c => schema.byName(c).map(_.physicalName))
    val writer0 = withParts.write.mode("overwrite")
    val writer1 = bloomCols.foldLeft(writer0)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    // write.target-file-size-bytes: roll oversized task outputs at
    // ~target size. Spark's writer rolls by RECORDS, so the record cap is
    // derived from the table's own footer-measured bytes/row (metadata
    // already in hand — no sampling pass). Self-tuning: every commit's
    // stats refresh the estimate. Without this, one giant input partition
    // writes one giant file — the inverse of the small-files problem, and
    // just as real at 100 TB (a 10 GB file defeats task-level parallelism
    // and spills single readers). First-ever append has no estimate and
    // writes unrolled; the next append corrects.
    val writer = m.properties.get("write.target-file-size-bytes")
      .flatMap(s => s.toLongOption).flatMap { tb =>
        val files = m.currentSnapshot.map(_.files).getOrElse(Seq.empty)
        val rows = files.map(_.rowCount).sum
        val bytes = files.map(_.sizeBytes).sum
        if (rows > 0 && bytes > 0)
          Some(math.max(1L, tb / math.max(1L, bytes / rows)))
        else None
      }.fold(writer1)(n => writer1.option("maxRecordsPerFile", n))
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer).parquet(tmp.toString)

    // enumerate written parquet files; parse partition values from dirs;
    // move to flat data/ names (layout is cosmetic — metadata is the truth)
    val found = listParquet(fs, tmp)
    fs.mkdirs(dataDir)
    val files = found.map { p =>
      val rel = p.toString.stripPrefix(tmp.toString).stripPrefix("/")
      val partVals = rel.split("/").dropRight(1).flatMap { seg =>
        seg.split("=", 2) match {
          // unescape ONLY %XX sequences (Hive/Spark unescapePathName):
          // URLDecoder also turns literal '+' into a space, and Spark does
          // NOT escape '+' in partition dirs — a string partition value
          // "a+b" would be stored as "a b" and then mis-pruned
          case Array(k, v) => Some(k -> unescapePathName(v))
          case _ => None
        }
      }.toMap
      val target = new Path(dataDir, s"$filePrefix-${UUID.randomUUID().toString.take(12)}.parquet")
      if (!fs.rename(p, target))
        throw new IllegalStateException(s"failed to move $p -> $target")
      val (rows, bytes, stats) = Stats.fromFooter(target.toString, hadoopConf)
      DataFile(target.toString, spec.specId, schema.schemaId, partVals, rows, bytes, stats)
    }
    fs.delete(tmp, true)
    files
  }

  /** `files` less the zero-row ones, which are deleted: writing an empty
    * frame still leaves one schema-only file (Spark's writer emits it from
    * partition 0), and committing it would add a data file with no rows. */
  private def dropEmptyFiles(files: Seq[DataFile]): Seq[DataFile] = {
    val (empty, kept) = files.partition(_.rowCount == 0)
    empty.foreach(f => fs.delete(new Path(f.path), false))
    kept
  }

  /** Append rows — one new snapshot (ref: S11/S12 sinks; every append = a
    * snapshot, like the reference's checkpoint-cadence commits). Honors WAP:
    * with `spark.wap.id` set and `write.wap.enabled=true` the snapshot is
    * staged (invisible to all refs); with `spark.wap.branch` set it commits
    * to that branch. */
  /** Schema-drift handling for continuous ingest (`write.merge-schema` =
    * true, Delta's mergeSchema / Iceberg's accept-any-schema shape): an
    * append whose frame carries UNKNOWN columns auto-evolves the table —
    * one schema commit adding the new columns (fresh stable ids, forced
    * nullable so every pre-drift file reads NULL for them) before the
    * data commit. Without the property the engine keeps its default:
    * unknown columns are dropped by the physical projection ([[toPhysical]]
    * selects schema columns only) — and that drop is SILENT data loss for
    * a drifting stream, which is exactly why the opt-in exists. Type
    * changes are NOT auto-applied (a widening is an explicit
    * [[updateColumnType]] DDL); the new columns append at schema end.
    * Idempotent under concurrent drift: a racing writer adding the same
    * column first just makes this a no-op. */
  private def mergeSchemaIfEnabled(df: DataFrame): TableMeta = {
    val m0 = meta
    if (!m0.properties.get("write.merge-schema").contains("true")) return m0
    val known = m0.schema.columns.map(_.name).toSet
    if (df.schema.fields.forall(f => known(f.name))) return m0
    commit { m =>
      val s = m.schema
      val stillNew = df.schema.fields.filterNot(f => s.byName(f.name).isDefined)
      if (stillNew.isEmpty) m // raced: someone else added them — no new version
      else {
        var lastId = m.lastColumnId
        val added = stillNew.toSeq.map { f =>
          lastId += 1
          LakeColumn(lastId, f.name, f.dataType.json, nullable = true, None)
        }
        val next = LakeSchema(m.schemas.map(_.schemaId).max + 1, s.columns ++ added)
        m.copy(schemas = m.schemas :+ next, currentSchemaId = next.schemaId,
          lastColumnId = lastId)
      }
    }
  }

  /** CHECK-constraint enforcement (ANSI semantics: a row violates only
    * when the predicate is FALSE — NULL passes). Constraints live in
    * table properties (`graft.constraint.<name>` → predicate SQL; see
    * [[graft.lake.dsv2.GraftCatalog]] for the `ALTER TABLE … ADD
    * CONSTRAINT … CHECK` DDL and [[graft.lake.dsv2.GraftTable]] for the
    * `Table.constraints()` surface Spark's own analyzer enforces on SQL
    * writes via CheckInvariant). This guard covers the Scala write
    * paths with ZERO extra passes: each constraint becomes a filter
    * `isnull(assert_true(coalesce(pred, true), msg))` fused into the
    * write projection — assert_true rewrites to an If, so the error
    * message (with the offending row as JSON) is only materialized on a
    * violating row, and a violation fails the write job before any
    * commit. Cost at 100 TB: nothing beyond evaluating the predicate on
    * the batch being written; the table is never rescanned. */
  private def withCheckConstraints(m: TableMeta, df: DataFrame): DataFrame = {
    val prefix = "graft.constraint."
    val checks = m.properties.collect {
      case (k, sql) if k.startsWith(prefix) => k.stripPrefix(prefix) -> sql
    }
    if (checks.isEmpty) return df
    // Materialize the logical post-write row BEFORE evaluating predicates
    // (Spark's own CheckInvariant placement — after defaults/generated
    // columns resolve): absent columns take their CURRENT default (else
    // NULL), generated columns their generation expression (a supplied
    // NULL means "not supplied" — toPhysical stores the computed value,
    // so the check must see it too; a supplied non-null passes through
    // and still reaches toPhysical's agreement assert). Without this, a
    // CHECK referencing a default-filled column fails to RESOLVE on a
    // legitimate INSERT, and one referencing a generated column aborts
    // every UPDATE (whose projection drops unassigned generated columns
    // for recompute). The added columns are harmless downstream:
    // toPhysical computes identical values for them.
    val inCols = df.columns.toSet
    val complete = m.schema.columns.foldLeft(df) { (d, c) =>
      if (c.generationSql.isDefined) {
        val computed = expr(c.generationSql.get).cast(c.sparkType)
        if (!inCols.contains(c.name)) d.withColumn(c.name, computed)
        else d.withColumn(c.name,
          coalesce(d.col(c.name).cast(c.sparkType), computed))
      }
      else if (!inCols.contains(c.name))
        d.withColumn(c.name, c.currentDefaultSql.map(expr)
          .getOrElse(lit(null)).cast(c.sparkType))
      else d
    }
    checks.foldLeft(complete) { case (d, (name, sql)) =>
      d.filter(isnull(assert_true(
        coalesce(expr(sql), lit(true)),
        concat(lit(s"CHECK constraint '$name' ($sql) violated by row: "),
          to_json(struct(d.columns.map(col): _*))))))
    }
  }

  /** Identity-column assignment (GENERATED … AS IDENTITY): values are
    * `next + monotonically_increasing_id() × step` — unique with GAPS
    * ALLOWED (Delta identity semantics; mono ids are sparse across
    * partitions). The post-write high-water comes from the new files'
    * FOOTER STATS (no extra pass), and the property advance rides in the
    * same commit as the data, guarded against a concurrent allocation
    * from the same base (the loser gets CommitConflictException and
    * re-plans — ids are never double-issued). ALWAYS refuses supplied
    * non-null values row-level; BY DEFAULT keeps them. */
  private def assignIdentity(m: TableMeta, df: DataFrame): (DataFrame, Seq[(LakeColumn, Long)]) = {
    val idCols = m.schema.columns.filter(_.identityStart.isDefined)
    if (idCols.isEmpty) return (df, Seq.empty)
    var d = df
    val planned = idCols.map { c =>
      val step = c.identityStep.getOrElse(1L)
      val base = m.properties.get(s"graft.identity.next.${c.id}")
        .flatMap(_.toLongOption).getOrElse(c.identityStart.get)
      val assigned = (lit(base) + monotonically_increasing_id() * lit(step))
        .cast(c.sparkType)
      d =
        if (!d.columns.contains(c.name)) d.withColumn(c.name, assigned)
        else if (c.identityAllowExplicit)
          d.withColumn(c.name, coalesce(d.col(c.name).cast(c.sparkType), assigned))
        else d.withColumn(c.name,
          when(d.col(c.name).isNull, assigned).otherwise(
            when(isnull(assert_true(lit(false),
              concat(lit(s"identity column ${c.name} is GENERATED ALWAYS — " +
                "explicit values are not allowed; row: "),
                to_json(struct(df.columns.toIndexedSeq.map(df.col): _*))))),
              assigned)))
      c -> base
    }
    (d, planned)
  }

  /** Post-write identity high-water from the new files' footer stats. */
  private def identityAdvance(planned: Seq[(LakeColumn, Long)],
                              files: Seq[DataFile]): Map[String, String] =
    planned.map { case (c, base) =>
      val step = c.identityStep.getOrElse(1L)
      val vals = files.flatMap(_.stats.get(c.physicalName))
        .flatMap(s => (if (step > 0) s.max else s.min).flatMap(_.toLongOption))
      val next =
        if (vals.isEmpty) base
        else if (step > 0) vals.max + step else vals.min + step
      s"graft.identity.next.${c.id}" -> next.toString
    }.toMap

  /** Commit-time guard: the identity base each assignment planned from
    * must still be current, else a concurrent append issued overlapping
    * values and this one must re-plan. */
  private def requireIdentityUnmoved(m: TableMeta,
                                     planned: Seq[(LakeColumn, Long)]): Unit =
    planned.foreach { case (c, base) =>
      val cur = m.properties.get(s"graft.identity.next.${c.id}")
        .flatMap(_.toLongOption).getOrElse(c.identityStart.get)
      if (cur != base) throw CommitConflictException(
        s"identity range for ${c.name} was allocated concurrently " +
          s"(planned from $cur ≠ $base) — re-plan and retry")
    }

  def append(df: DataFrame, toBranch: Option[String] = None,
             extraSummary: Map[String, String] = Map.empty): TableMeta = {
    val m0 = mergeSchemaIfEnabled(df)
    val (branch, staged, _) = writeTarget(m0, toBranch)
    val (df1, idPlan) = assignIdentity(m0, df)
    val newFiles = writeDataFiles(
      toPhysical(withCheckConstraints(m0, df1), m0.schema), m0, filePrefix = "app")
    val idProps = identityAdvance(idPlan, newFiles)
    // manifest blooms for the new files (one aggregate over just-written
    // data; a no-op unless the table declares graft.bloom.columns)
    val bloomBundle = BloomSkip.buildBundleFor(spark, metaStore, m0, newFiles)
    commit { m =>
      requireIdentityUnmoved(m, idPlan)
      val parent = m.branchHead(branch)
      val summary = Map(
        "added-data-files" -> newFiles.size.toString,
        "added-records" -> newFiles.map(_.rowCount).sum.toString) ++
        wapId.map("wap.id" -> _) ++
        bloomBundle.map(BloomSkip.BundleSummaryKey -> _) ++
        extraSummary
      // appends only add files: the parent's merge-on-read delete entries
      // all still apply, unpruned; the new files are stamped with this
      // commit's id so no LIVE equality delete (all strictly older) masks
      // them
      m.withSnapshot(branch, parent, "append", summary,
        parent.map(_.files).getOrElse(Seq.empty) ++
          newFiles.map(_.copy(addedSnapshotId = m.nextSnapshotId)),
        deleteFiles = parent.map(_.deleteFiles).getOrElse(Seq.empty),
        eqDeleteFiles = parent.map(_.eqDeleteFiles).getOrElse(Seq.empty),
        staged = staged, properties = idProps)
    }
  }

  /** Register existing FOREIGN parquet files as table data IN PLACE
    * (Iceberg's `add_files` / migrate import — ref: the reference's
    * taxi-parquet bootstrap, spark/Dockerfile:81-95): one append-shaped
    * snapshot whose DataFile entries point at the source files with
    * footer-derived row counts and column stats — no data is read or
    * rewritten, so importing N TB costs N footer reads (metadata-bound at
    * any volume). `source` may be a single parquet file or a directory
    * (recursive).
    *
    * The bridge to the stable-id world is a dedicated per-import SCHEMA
    * GROUP: native files store columns as `c<id>`, foreign files keep
    * their original names, so the import records a schema whose columns
    * carry the same ids as the current schema but a `physicalOverride` =
    * the original name and the FILE's (possibly narrower) type. The
    * existing per-write-time-schema read mapping then does everything:
    * scans read the original names, stats-pruning resolves bounds through
    * the same ids, and LATER renames/widenings on the table stay
    * metadata-only for imported files too.
    *
    * Constraints: every table column must exist in the files under its
    * current LOGICAL name with the same Spark type (or one the table's
    * widening rules accept) — EXCEPT identity-partition source columns,
    * which a hive `key=value` layout stores only in the path (r12): each
    * file must then carry a `<column>=<value>` path segment, the value is
    * recorded in the file's partition tuple (so hidden-partition pruning
    * and SPJ treat imported files exactly like native ones), and the
    * import schema marks the column `fromPath` so readers fill it from
    * the path instead of the footer. Non-identity transforms refuse (a
    * hive layout carries no transform provenance). Basenames must be
    * unique table-wide (the positional-delete mask keys on basename).
    * Imported rows are trusted as-is (constraints/generation are
    * write-path concerns, as in Iceberg). The files live OUTSIDE the
    * table directory: maintenance never deletes them — compaction copies
    * content into table-owned files and retires only the REFERENCE. */
  def addFiles(source: String): TableMeta = {
    val m0 = meta
    require(m0.spec.fields.forall(_.transform == "identity"),
      "add_files into a partitioned table requires identity partitions " +
        "(a hive key=value layout carries no transform provenance)")
    val partSources: Seq[(PartitionField, LakeColumn)] =
      m0.spec.fields.map(pf => pf -> m0.schema.byId(pf.sourceId).getOrElse(
        throw new IllegalStateException(
          s"partition source id ${pf.sourceId} not in schema")))
    val partSourceNames = partSources.map(_._2.name).toSet
    val src = new Path(source)
    val srcFs = src.getFileSystem(hadoopConf)
    val status = srcFs.getFileStatus(src)
    val paths =
      if (status.isDirectory) LakeTable.listParquet(srcFs, src) else Seq(src)
    require(paths.nonEmpty, s"add_files: no parquet files under $source")
    val names = paths.map(_.getName)
    require(names.distinct.size == names.size,
      s"add_files: duplicate basenames in $source (positional masks key on basename)")
    // hive-layout partition tuples: key=value directory segments, matched
    // by the spec source columns' current names, %XX-unescaped like the
    // native write path's directory parse
    val pathTuples: Map[Path, Map[String, String]] = paths.map { p =>
      val segs = p.toString.split("/").dropRight(1).toSeq.flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if partSourceNames.contains(k) =>
            Some(k -> LakeTable.unescapePathName(v))
          case _ => None
        }
      }
      // a path carrying the same key twice with CONFLICTING values has no
      // unambiguous partition tuple — refuse rather than pick one (every
      // downstream parse of the path — DuckDB's hive_partitioning in the
      // exportScan SQL, external hive readers — must agree on the value)
      segs.groupBy(_._1).foreach { case (k, vs) =>
        require(vs.map(_._2).distinct.size == 1,
          s"add_files: $p carries conflicting values for partition " +
            s"column $k (${vs.map(_._2).distinct.mkString(", ")}) — " +
            "ambiguous hive layout")
      }
      p -> segs.toMap
    }.toMap
    partSources.foreach { case (_, sc) =>
      pathTuples.collectFirst { case (p, vs) if !vs.contains(sc.name) => p }
        .foreach(p => throw new IllegalArgumentException(
          s"add_files: $p carries no ${sc.name}=<value> path segment " +
            s"(the table partitions by ${sc.name})"))
    }
    // one merged-footer schema check: every table column present by its
    // logical name, type equal or widening-compatible — partition source
    // columns instead come from the path and must NOT be in the bytes
    val fileSchema = spark.read.parquet(paths.map(_.toString): _*).schema
    val importCols = m0.schema.columns.map { c =>
      fileSchema.find(_.name == c.name) match {
        case Some(_) if partSourceNames.contains(c.name) =>
          throw new IllegalArgumentException(
            s"add_files: partition column ${c.name} is also present in the " +
              "file bytes — a hive layout stores it only in the path")
        case Some(f) =>
          require(f.dataType == c.sparkType ||
              LakeTable.isWidening(f.dataType, c.sparkType),
            s"add_files: column ${c.name} is ${f.dataType.simpleString} in the " +
              s"files but ${c.sparkType.simpleString} in the table")
          c.copy(dataType = f.dataType.json, physicalOverride = Some(c.name))
        case None if partSourceNames.contains(c.name) =>
          // value lives in the path; the directory string casts to the
          // TABLE's type at read time (no footer type to bridge)
          c.copy(physicalOverride = Some(c.name), fromPath = true)
        case None =>
          throw new IllegalArgumentException(
            s"add_files: column ${c.name} missing from $source " +
              "(files must carry every table column under its current name)")
      }
    }
    val stats = paths.map(p => p -> Stats.fromFooter(p.toString, hadoopConf))
    commit { m =>
      if (m.currentSchemaId != m0.currentSchemaId)
        throw CommitConflictException(
          "add_files planned against a schema that changed — retry")
      if (m.defaultSpecId != m0.defaultSpecId)
        throw CommitConflictException(
          "add_files planned against a partition spec that changed — retry")
      val importSchema = LakeSchema(m.schemas.map(_.schemaId).max + 1, importCols)
      val parent = m.currentSnapshot
      val parentFiles = parent.map(_.files).getOrElse(Seq.empty)
      val taken = parentFiles.map(f => new Path(f.path).getName).toSet
      names.find(taken.contains).foreach(n => throw new IllegalArgumentException(
        s"add_files: basename $n already referenced by the table"))
      val newFiles = stats.map { case (p, (rows, bytes, st)) =>
        val pv = partSources.map { case (pf, sc) =>
          pf.physicalName -> pathTuples(p)(sc.name)
        }.toMap
        DataFile(p.toString, m.spec.specId, importSchema.schemaId, pv,
          rows, bytes, st, addedSnapshotId = m.nextSnapshotId)
      }
      val summary = Map(
        "imported-files" -> newFiles.size.toString,
        "added-data-files" -> newFiles.size.toString,
        "added-records" -> newFiles.map(_.rowCount).sum.toString,
        "source" -> source)
      m.copy(schemas = m.schemas :+ importSchema)
        .withSnapshot(MainBranch, parent, "append", summary, parentFiles ++ newFiles,
          deleteFiles = parent.map(_.deleteFiles).getOrElse(Seq.empty),
          eqDeleteFiles = parent.map(_.eqDeleteFiles).getOrElse(Seq.empty))
    }
  }

  // ---- read path -----------------------------------------------------------

  /** Build FileBounds for pruning: logical column names resolved against the
    * file's *write-time* physical names and the table's current types. */
  private[lake] def fileBounds(m: TableMeta, f: DataFile): Pruning.FileBounds = {
    val schema = m.schemas.find(_.schemaId == f.schemaId).getOrElse(m.schema)
    val cols = m.schema.columns.flatMap { cur =>
      schema.byId(cur.id).flatMap { written =>
        f.stats.get(written.physicalName).map(st => cur.name -> (st, written.sparkType))
      }
    }.toMap
    val spec = m.partitionSpecs.find(_.specId == f.specId)
    val partition = spec.map(_.fields.flatMap { pf =>
      for {
        src <- m.schema.byId(pf.sourceId)
        v <- f.partitionValues.get(pf.physicalName)
      } yield src.name -> (pf.transform, v)
    }.toMap).getOrElse(Map.empty)
    val partitionTypes = spec.map(_.fields.flatMap(pf =>
      m.schema.byId(pf.sourceId).map(src => src.name -> src.sparkType))
      .toMap).getOrElse(Map.empty[String, DataType])
    Pruning.FileBounds(f.rowCount, cols, partition, partitionTypes)
  }

  /** DataFrame over a set of files, mapped to the current logical schema
    * (rename/widen/add handled per write-time schema group — SURVEY §4
    * "split planning").
    *
    * `withRowMeta` appends `_gd_file` (= `_metadata.file_name`, the UUID
    * basename — unique per table) and `_gd_pos` (= `_metadata.row_index`)
    * — the positional-delete join key. Both come from Spark's parquet
    * metadata columns, so the values are identical at delete-encode time
    * and at scan time regardless of URI form or split planning. */
  private def dataFrameFor(m: TableMeta, files: Seq[DataFile],
                           withRowMeta: Boolean = false): DataFrame = {
    val cur = m.schema
    if (files.isEmpty) {
      val schema =
        if (!withRowMeta) cur.sparkSchema
        else StructType(cur.sparkSchema.fields.toSeq :+
          StructField("_gd_file", StringType) :+ StructField("_gd_pos", LongType))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      val groups = files.groupBy(_.schemaId)
      val parts = groups.map { case (schemaId, fs) =>
        val written = m.schemas.find(_.schemaId == schemaId).getOrElse(cur)
        val pathCols = written.columns.filter(_.fromPath)
        val fileOnlySchema = StructType(written.physicalSchema.fields
          .filterNot(f => pathCols.exists(_.physicalName == f.name)))
        val raw0 = spark.read.schema(fileOnlySchema)
          .parquet(fs.map(_.path): _*)
        // hive-layout import groups (r12): a fromPath column's value is
        // in the file's `name=value` path segment, not the bytes. Fill it
        // from the RECORDED partition tuple (r13) — the exact values
        // hidden-partition pruning and the DSv2/SPJ read already use —
        // via one broadcast join on the table-unique basename, still ONE
        // scan (no per-partition plan nodes). Re-parsing the path here
        // (the r12 regexp) could disagree with addFiles' last-wins
        // directory-segment parse on adversarial layouts, leaving
        // pruning and row values inconsistent.
        val raw = if (pathCols.isEmpty) raw0 else {
          val lookupRows = fs.map { f =>
            val spec = m.partitionSpecs.find(_.specId == f.specId)
            val vals = pathCols.map { c =>
              spec.flatMap(_.fields.find(p =>
                  p.sourceId == c.id && p.transform == "identity"))
                .flatMap(pf => f.partitionValues.get(pf.physicalName))
                .filter(_ != "__HIVE_DEFAULT_PARTITION__").orNull
            }
            Row.fromSeq(fileName(f.path) +: vals)
          }
          val lookupSchema = StructType(
            StructField("_gd_pv_file", StringType, nullable = false) +:
              pathCols.map(c => StructField("_gd_pv_" + c.physicalName,
                StringType)))
          val lookup = spark.createDataFrame(
            java.util.Arrays.asList(lookupRows: _*), lookupSchema)
          val joined = raw0.join(broadcast(lookup),
            col("_metadata.file_name") === col("_gd_pv_file"), "left")
          pathCols.foldLeft(joined) { (d, c) =>
            // directory-string semantics: cast the recorded raw segment
            // exactly like Spark casts partition-directory values
            d.withColumn(c.physicalName,
              col("_gd_pv_" + c.physicalName).cast(c.sparkType))
          }.drop(("_gd_pv_file" +:
            pathCols.map("_gd_pv_" + _.physicalName)): _*)
        }
        val cols = cur.columns.map { c =>
          written.byId(c.id) match {
            case Some(w) => raw.col(w.physicalName).cast(c.sparkType).as(c.name)
            // column added after this file was written: rows logically
            // hold the EXISTS default frozen at ADD COLUMN time (else
            // NULL) — the metadata-only backfill
            case None => c.existsDefaultSql.map(expr).getOrElse(lit(null))
              .cast(c.sparkType).as(c.name)
          }
        } ++ (if (withRowMeta)
          Seq(col("_metadata.file_name").as("_gd_file"),
            col("_metadata.row_index").as("_gd_pos"))
        else Seq.empty)
        raw.select(cols: _*)
      }.toSeq
      parts.reduce(_ unionByName _)
    }
  }

  private def fileName(path: String): String = new Path(path).getName

  /** Drop delete entries whose referenced data file is no longer live; a
    * delete file whose every referenced file is gone drops entirely. */
  private def pruneDeleteFiles(dels: Seq[DeleteFile],
                               liveNames: Set[String]): Seq[DeleteFile] =
    dels.flatMap { d =>
      val kept = d.counts.filter { case (n, _) => liveNames.contains(n) }
      if (kept.isEmpty) None
      else if (kept.size == d.counts.size) Some(d)
      else Some(d.copy(counts = kept,
        dv = d.vectors.filter { case (n, _) => kept.contains(n) }))
    }

  /** `(_gd_file, _gd_pos)` rows of the given delete files. */
  private def deleteEntriesDf(dels: Seq[DeleteFile]): DataFrame =
    spark.read.schema(LakeTable.DeleteEntrySchema).parquet(dels.map(_.path): _*)
      .select(col("file_name").as("_gd_file"), col("pos").as("_gd_pos"))

  /** Read `files` under `snap`'s merge-on-read delete masks — positional
    * first, then equality. Scale shape: files with no applicable deletes
    * scan untouched; affected files are masked inside the scan while the
    * mask is small (deletion vectors, driver-held equality keys) and
    * anti-join metadata-sized delete sets above that, broadcast while
    * provably small, shuffle-hash beyond — both masks are bounded by
    * churn since the last compaction, never table size. */
  private[lake] def dataFrameForLive(m: TableMeta, snap: Option[Snapshot],
                                     files: Seq[DataFile]): DataFrame =
    liveRows(m, snap, files, withMeta = false)

  /** Read `files` under BOTH merge-on-read masks (positions, then
    * equality keys); `withMeta = true` keeps `_gd_file`/`_gd_pos` for
    * callers that go on to write delete entries (MoR DELETE/UPDATE).
    * Per mask class and key layout, deletes holding at most
    * [[LakeTable.InScanMaskKeys]] keys are applied as a filter inside the
    * scan ([[InKeySet]] over keys held on the driver, [[EqDeleteKeys]]):
    * a point lookup under equality deletes is then one Spark job, the
    * scan. Larger deletes anti-join their key files
    * ([[eqDeleteKeysDf]]), broadcast while at most 4M keys. */
  private[lake] def liveRows(m: TableMeta, snap: Option[Snapshot],
                             files: Seq[DataFile], withMeta: Boolean): DataFrame = {
    val eqDels = snap.map(_.eqDeleteFiles).getOrElse(Seq.empty)
    if (eqDels.isEmpty || files.isEmpty)
      return maskPositions(m, snap, files, withMeta)
    // An equality delete masks only files committed STRICTLY before it
    // (addedSnapshotId < addedAt) — an upsert's own inserted files survive
    // its own delete. Files with the same APPLICABLE delete subset form
    // one mask class: classes are cut by the distinct addedAt thresholds,
    // so their count is bounded by live equality deletes + 1 (churn since
    // compaction), NOT by the table's commit count — the steady state
    // after compaction is one class with one anti-join.
    val classOf_ = (f: DataFile) => eqDels.count(_.masks(f))
    files.groupBy(classOf_).toSeq.sortBy(_._1).map { case (_, bucket) =>
      val applicable = eqDels.filter(_.masks(bucket.head))
      val src = maskPositions(m, snap, bucket, withMeta)
      applicable.groupBy(_.keyIds).foldLeft(src) { case (acc, (keyIds, dels)) =>
        val keyNames = keyIds.map(id => m.schema.byId(id).getOrElse(throw
          new IllegalStateException(
            s"equality-delete key column id $id not in schema")).name)
        eqKeySet(m, keyIds, dels) match {
          // few keys: probed inside the scan, no exchange and no job
          case Some(keys) => acc.filter(!InKeySet(col(keyNames.head), keys))
          case None =>
            val kdf0 = eqDeleteKeysDf(m, dels)
            val kdf = if (dels.map(_.rowCount).sum <= 4L * 1000 * 1000)
              broadcast(kdf0) else kdf0
            // plain (null-rejecting) equality like mergeByKeys: null-keyed
            // rows can never match a delete key and survive
            acc.join(kdf, keyNames, "left_anti")
        }
      }
    }.reduce(_ unionByName _)
  }

  /** Positional-delete mask only (the equality layer sits on top in
    * [[liveRows]]): files with no entries scan untouched. Affected files
    * whose every referencing delete file carries a deletion-vector ref
    * are masked by a per-row bitmap probe inside the scan's codegen
    * filter ([[DvIsDeleted]]) — no join, no shuffle, no per-query read of
    * the delete parquet, at any churn level. Files not fully covered
    * (pre-DV metadata, a skipped oversized build) anti-join the
    * metadata-sized position set — broadcast while provably small
    * (Σ metadata counts), shuffle-hash above that. */
  private[lake] def maskPositions(m: TableMeta, snap: Option[Snapshot],
                                  files: Seq[DataFile], withMeta: Boolean): DataFrame = {
    def finish(df: DataFrame): DataFrame =
      if (withMeta) df else df.drop("_gd_file", "_gd_pos")
    val dels = snap.map(_.deleteFiles).getOrElse(Seq.empty)
    if (dels.isEmpty) return dataFrameFor(m, files, withRowMeta = withMeta)
    val names = files.map(f => fileName(f.path)).toSet
    val affectedNames = dels.flatMap(_.counts.keys).toSet.intersect(names)
    if (affectedNames.isEmpty) return dataFrameFor(m, files, withRowMeta = withMeta)
    val dvRead = spark.conf.get(DeleteVectors.ReadConf, "true").toBoolean
    // a data file is DV-covered when every delete file referencing it has
    // a bitmap ref for it — the refs' union (disjoint by the write-side
    // anti-join invariant) then equals its full deleted-position set
    val dvNames =
      if (!dvRead) Set.empty[String]
      else affectedNames.filter(n =>
        dels.forall(d => !d.counts.contains(n) || d.vectors.contains(n)))
    val ajNames = affectedNames -- dvNames
    val (withDel, plain) =
      files.partition(f => affectedNames.contains(fileName(f.path)))
    val (dvFiles, ajFiles) = withDel.partition(f => dvNames.contains(fileName(f.path)))
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (plain.nonEmpty)
      parts += dataFrameFor(m, plain, withRowMeta = withMeta)
    if (dvFiles.nonEmpty) {
      val refs: Map[String, Seq[DvRef]] = dvNames.iterator
        .map(n => n -> dels.flatMap(_.vectors.get(n))).toMap
      val masked = dataFrameFor(m, dvFiles, withRowMeta = true).filter(
        !DvIsDeleted(col("_gd_file"), col("_gd_pos"), refs,
          new SerializableConfiguration(hadoopConf)))
      parts += finish(masked)
    }
    if (ajFiles.nonEmpty) {
      val relevant = dels.filter(_.counts.keys.exists(ajNames.contains))
      val src = dataFrameFor(m, ajFiles, withRowMeta = true)
      val entries0 = deleteEntriesDf(relevant)
      // a delete file may also reference files NOT being read here (pruned
      // or partial scans, DV-covered siblings) — those entries no-op in
      // the anti join
      val entries =
        if (relevant.map(_.rowCount).sum <= 4L * 1000 * 1000) broadcast(entries0)
        else entries0
      parts += finish(src.join(entries, Seq("_gd_file", "_gd_pos"), "left_anti"))
    }
    parts.reduce(_ unionByName _)
  }

  /** The keys of `dels` (one key layout) held on the driver as an in-scan
    * probe set, or None above [[LakeTable.InScanMaskKeys]] keys. */
  private def eqKeySet(m: TableMeta, keyIds: Seq[Int],
                       dels: Seq[EqualityDeleteFile]): Option[KeySet] =
    EqDeleteKeys.masks(spark, hadoopConf, m, keyIds, dels, InScanMaskKeys)

  /** Key tuples of the given equality delete files, as a DataFrame with
    * CURRENT logical column names (keys are stored by stable column id,
    * physical names `c<id>`, so renames are free): the join side of the
    * masks above [[LakeTable.InScanMaskKeys]] keys, and of
    * [[changelog]]'s equality transitions. Building the frame runs no
    * job; a broadcast of it runs one. NOT deduplicated: the consumers are
    * anti- and semi-joins, whose build side needs no unique keys, and a
    * distinct would cost a shuffle job on every read of a table with live
    * equality deletes. `withAddedAt` appends each tuple's delete-file
    * sequence number (`addedAt`) as `_gd_eq_at`. */
  private def eqDeleteKeysDf(m: TableMeta, dels: Seq[EqualityDeleteFile],
                             withAddedAt: Boolean = false): DataFrame = {
    val byLayout = dels.groupBy(d =>
      (d.keyIds, d.schemaId, if (withAddedAt) d.addedAt else 0L))
    byLayout.map { case ((keyIds, schemaId, addedAt), ds) =>
      val written = m.schemas.find(_.schemaId == schemaId).getOrElse(m.schema)
      val fields = keyIds.map { id =>
        val w = written.byId(id).getOrElse(throw new IllegalStateException(
          s"equality-delete key id $id missing from schema $schemaId"))
        StructField(w.physicalName, w.sparkType, nullable = true)
      }
      val raw = spark.read.schema(StructType(fields)).parquet(ds.map(_.path): _*)
      raw.select(keyIds.map { id =>
        val cur = m.schema.byId(id).getOrElse(throw new IllegalStateException(
          s"equality-delete key id $id dropped from current schema"))
        raw.col(written.byId(id).get.physicalName).cast(cur.sparkType).as(cur.name)
      } ++ (if (withAddedAt) Seq(lit(addedAt).as("_gd_eq_at")) else Nil): _*)
    }.reduce(_ unionByName _)
  }

  /** Resolve which snapshot a read sees: explicit snapshot-id > explicit
    * branch > session `spark.wap.branch` > main (S3-S5, D16). Staged WAP
    * snapshots are only visible via explicit snapshot-id (D15).
    * Snapshot id 0 is the BEFORE-ANY-SNAPSHOT sentinel (real ids start at
    * 1): it resolves to None — the empty table — so a repeatable-read pin
    * taken on a then-empty table stays empty even after foreign commits
    * ([[SqlTransactions.readPin]]). */
  def resolveSnapshot(snapshotId: Option[Long] = None, branch: Option[String] = None,
                      asOfTimestampMs: Option[Long] = None): Option[Snapshot] = {
    if (snapshotId.contains(0L)) return None
    val m = meta
    snapshotId.map(id => m.snapshot(id).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id")))
      .orElse(asOfTimestampMs.map { ts =>
        m.snapshots.filter(s => !s.staged && s.timestampMs <= ts)
          .sortBy(s => (s.timestampMs, s.snapshotId)).lastOption.getOrElse(
            throw new IllegalArgumentException(s"no snapshot as of $ts"))
      })
      .orElse(branch.map(b => m.snapshotFor(b).getOrElse(
        throw new IllegalArgumentException(s"no branch $b"))))
      .orElse(wapBranch.flatMap(m.snapshotFor))
      .orElse(m.currentSnapshot)
  }

  /** Scan → DataFrame. `filter` both prunes whole files (stats + hidden
    * partitions) and is applied to rows. In the row filter, the constants
    * of each top-level `key = c` or `key IN (c, …)` conjunct are bound as
    * a referenced set ([[BoundKeys.filter]]), so a lookup of a new key
    * runs the same generated code as the last one and compiles nothing. */
  def read(snapshotId: Option[Long] = None, branch: Option[String] = None,
           asOfTimestampMs: Option[Long] = None, filter: Option[Column] = None): DataFrame = {
    val m = meta
    val snap = resolveSnapshot(snapshotId, branch, asOfTimestampMs)
    val all = snap.map(_.files).getOrElse(Seq.empty)
    val files = filter match {
      case Some(f) => pruneFiles(m, all, Pruning.translate(f))
      case None => all
    }
    val df = dataFrameForLive(m, snap, files)
    filter.map(BoundKeys.filter(df, _)).getOrElse(df)
  }

  def toDF: DataFrame = read()

  /** Scan-planning file pruning: footer stats + hidden partitions
    * ([[Pruning.mayMatch]]), then manifest blooms ([[BloomSkip.filter]])
    * over the survivors — both sound over-approximations, composed as
    * AND. Shared by [[read]] and the DSv2 pushed-filter path. */
  private[graft] def pruneFiles(m: TableMeta, files: Seq[DataFile],
                                p: Pruning.Pred): Seq[DataFile] = {
    val statsKept = files.filter(f => Pruning.mayMatch(p, fileBounds(m, f)))
    BloomSkip.filter(metaStore, m, p, statsKept)
  }

  /** DML classification with the same two pruning tiers: `touched` may
    * hold matching rows; `untouched` provably cannot (stats OR bloom
    * disproved it) and rides into the new snapshot unrewritten. On a
    * hash-keyed CDC table the key bounds span every file, so the bloom is
    * what keeps an upsert batch from rewriting the whole table. */
  private def partitionTouched(m: TableMeta, files: Seq[DataFile],
                               p: Pruning.Pred): (Seq[DataFile], Seq[DataFile]) = {
    val touched = pruneFiles(m, files, p)
    val ts = touched.map(_.path).toSet
    (touched, files.filterNot(f => ts(f.path)))
  }

  // ---- DML (D10-D13, D3) ---------------------------------------------------

  /** DELETE FROM WHERE — metadata-only when stats prove a file wholly
    * matches (Getting Started.ipynb c20); for partially matching files,
    * copy-on-write rewrite (c21/23) by default, or merge-on-read positional
    * delete files with table property `write.delete.mode=merge-on-read`
    * (Iceberg v2's knob): the matched `(file, pos)` pairs are written as a
    * kilobyte-sized delete file and subtracted at scan time — a point
    * DELETE on a 100 TB table stops rewriting gigabyte data files.
    * Compaction (`rewrite_data_files` / `rewrite_position_deletes`)
    * retires the entries. */
  def delete(condition: Column, toBranch: Option[String] = None,
             extraSummary: Map[String, String] = Map.empty): TableMeta = {
    val m0 = meta
    val (branch, stagedWap, snap) = writeTarget(m0, toBranch)
    val all = snap.map(_.files).getOrElse(Seq.empty)
    val p = Pruning.translate(condition)
    val keep = scala.collection.mutable.ArrayBuffer[DataFile]()
    val drop = scala.collection.mutable.ArrayBuffer[DataFile]()
    val rewrite = scala.collection.mutable.ArrayBuffer[DataFile]()
    // blooms can clear files whose stats overlap the predicate (hash-like
    // columns): a cleared file provably holds no matching row → keep
    val bloomMay = BloomSkip.filter(metaStore, m0, p, all).map(_.path).toSet
    all.foreach { f =>
      val b = fileBounds(m0, f)
      if (!Pruning.mayMatch(p, b) || !bloomMay(f.path)) keep += f
      else if (Pruning.allMatch(p, b)) drop += f
      else rewrite += f
    }
    val mor = m0.properties.get("write.delete.mode").contains("merge-on-read")
    if (mor) {
      // positions matching the predicate, minus positions already deleted
      // (keeps delete files disjoint, so metadata counts stay exact and a
      // re-run of the same DELETE commits nothing)
      val newDel: Seq[DeleteFile] = if (rewrite.isEmpty) Seq.empty else {
        val cond = coalesce(condition, lit(false))
        // read LIVE rows (both masks) so entries stay disjoint from prior
        // positional deletes and never target already-equality-dead rows
        val matched = liveRows(m0, snap, rewrite.toSeq, withMeta = true)
          .filter(cond).select(col("_gd_file"), col("_gd_pos"))
        writeDeleteFiles(matched)
      }
      val remaining = keep.toSeq ++ rewrite.toSeq
      if (drop.isEmpty && newDel.isEmpty) m0 // nothing matched — no commit
      else commitReplace(branch, remaining, "delete", extraSummary ++ Map(
        "deleted-data-files" -> drop.size.toString,
        "added-delete-files" -> newDel.size.toString,
        "added-position-deletes" -> newDel.map(_.rowCount).sum.toString,
        "delete-mode" -> "merge-on-read",
        "metadata-only" -> newDel.isEmpty.toString), base = snap,
        conflictPredicate = Some(p), staged = stagedWap,
        extraDeleteFiles = newDel)
    } else {
      val rewritten: Seq[DataFile] = if (rewrite.isEmpty) Seq.empty else {
        // keep rows where the predicate is NOT TRUE (false or null survive);
        // read under the delete mask so previously MoR-deleted rows are not
        // resurrected into the rewritten files
        val remaining = dataFrameForLive(m0, snap, rewrite.toSeq)
          .filter(!coalesce(condition, lit(false)))
        writeDataFiles(toPhysical(remaining, m0.schema), m0)
      }
      // nothing matched — no commit (the MoR branch's guard, CoW twin):
      // a re-run of the same DELETE (or a TTL sweep with nothing aged)
      // must not mint an empty snapshot per call
      if (drop.isEmpty && rewrite.isEmpty) m0
      else commitReplace(branch, keep.toSeq ++ rewritten, "delete", extraSummary ++ Map(
        "deleted-data-files" -> drop.size.toString,
        "rewritten-data-files" -> rewrite.size.toString,
        "metadata-only" -> rewrite.isEmpty.toString), base = snap,
        conflictPredicate = Some(p), staged = stagedWap)
    }
  }

  /** Write the key tuples of `keyDf` as ONE equality delete file
    * under `data/eqdel-*.parquet` (physical column names, so renames stay
    * metadata-only); None when the key set is empty. `addedAt` is a
    * placeholder — [[commitReplace]] stamps it with the committing
    * snapshot id. Bounds of the first key column ride along (ColStat
    * encoding via the same footer-stats reader as data files).
    * `keyDf` holds distinct tuples, so the write needs no distinct
    * shuffle — unless a key needs a cast to the table's type, which may
    * fold distinct values together. `driverKeys`, the same one-column key
    * set already on the driver, seeds [[EqDeleteKeys]], so reads of the
    * new delete never read its file back. */
  private def writeEqualityDeleteFile(keyDf: DataFrame,
                                      keyCols: Seq[String],
                                      m: TableMeta,
                                      driverKeys: Option[Seq[Any]]): Option[EqualityDeleteFile] = {
    val schema = m.schema
    val cols = keyCols.map(k => schema.byName(k).getOrElse(
      throw new IllegalArgumentException(s"merge key column $k not in schema")))
    val phys0 = keyDf.select(cols.map(c =>
      keyDf.col(c.name).cast(c.sparkType).as(c.physicalName)): _*)
    val castFree = cols.forall(c =>
      keyDf.select(keyDf.col(c.name)).schema.head.dataType == c.sparkType)
    val phys = if (castFree) phys0 else phys0.distinct()
    val tmp = new Path(location, s"tmp-eqdel-${UUID.randomUUID().toString.take(8)}")
    phys.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val written = listParquet(fs, tmp)
    require(written.size == 1, s"expected one equality delete file, found ${written.size}")
    val target = new Path(dataDir, s"eqdel-${UUID.randomUUID().toString.take(12)}.parquet")
    fs.mkdirs(dataDir)
    if (!fs.rename(written.head, target))
      throw new IllegalStateException(s"failed to move ${written.head} -> $target")
    fs.delete(tmp, true)
    val (rows, bytes, stats) = Stats.fromFooter(target.toString, hadoopConf)
    if (rows == 0) { fs.delete(target, false); return None }
    // the file holds exactly these values when no cast was needed
    driverKeys.filter(ks => castFree && cols.size == 1 && ks.size == rows).foreach { ks =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(cols.head.sparkType)
      EqDeleteKeys.seed(target.toString, ks.map(k => toCatalyst(k).asInstanceOf[AnyRef]))
    }
    val firstKey = stats.get(cols.head.physicalName)
    Some(EqualityDeleteFile(target.toString, bytes, cols.map(_.id),
      schema.schemaId, rows, addedAt = 0L,
      keyMin = firstKey.flatMap(_.min), keyMax = firstKey.flatMap(_.max)))
  }

  /** Write `(​_gd_file, _gd_pos)` rows as positional delete files under
    * `data/del-*.parquet`; empty when no positions matched. The
    * per-(delete file, data file) counts ride in metadata so liveness
    * pruning and the COUNT(*) fast path never read the parquet.
    *
    * Rolled, not funneled (r11): entries hash-distribute by TARGET DATA
    * FILE — one data file's mask rows land in one delete file, so a read
    * prunes to exactly the masks that reference it — and the partition
    * count scales with the total entry count
    * (`write.delete.target-records` per file, default 4M ≈ tens of MB of
    * dict-encoded parquet). A point DML still plans ONE partition and
    * takes the r10 single-file path with no readback job — no
    * small-files regression for the workload MoR targets — while a giant
    * MoR DELETE fans its position set across tasks instead of one. */
  private def writeDeleteFiles(entries: DataFrame): Seq[DeleteFile] = {
    val counts = entries.groupBy("_gd_file").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return Seq.empty
    val total = counts.values.sum
    val targetRecords = meta.properties.get("write.delete.target-records")
      .flatMap(_.toLongOption).filter(_ > 0L).getOrElse(4L * 1000 * 1000)
    val parts = math.min((total + targetRecords - 1) / targetRecords, 1024L).toInt max 1
    val tmp = new Path(location, s"tmp-del-${UUID.randomUUID().toString.take(8)}")
    val named = entries.select(col("_gd_file").as("file_name"), col("_gd_pos").as("pos"))
    // RANGE partition on (file_name, pos), not hash on file_name: a giant
    // DELETE touching FEW data files (the common shape — positions
    // concentrate where the predicate matches) can hash every distinct
    // file name into one partition and silently defeat the roll (observed:
    // 3 files → 1 of 5 partitions, ~4% of runs by UUID name luck). Ranges
    // split the position space evenly whatever the key cardinality, while
    // keeping each data file's positions CONTIGUOUS — a data file still
    // lands in at most two delete files, so the per-file ref count stays
    // O(1), not O(parts).
    (if (parts == 1) named.coalesce(1)
     else named.repartitionByRange(parts, col("file_name"), col("pos"))
       .sortWithinPartitions("file_name", "pos"))
      .write.mode("overwrite").parquet(tmp.toString)
    val written = listParquet(fs, tmp)
    // per-output counts: the driver-side map covers the single-file case;
    // a rolled write needs one readback aggregation over the KB/MB-scale
    // files just written (keyed by basename — UUID part names are unique)
    val perOut: Map[String, Map[String, Long]] =
      if (written.size == 1) Map(written.head.getName -> counts)
      else spark.read.schema(LakeTable.DeleteEntrySchema).parquet(tmp.toString)
        .groupBy(input_file_name().as("_src"), col("file_name")).count()
        .collect()
        .groupBy(r => fileName(r.getString(0)))
        .map { case (src, rows) =>
          src -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
        }
    fs.mkdirs(dataDir)
    val out = written.flatMap { p =>
      perOut.get(p.getName).filter(_.nonEmpty).map { c =>
        val target = new Path(dataDir, s"del-${UUID.randomUUID().toString.take(12)}.parquet")
        if (!fs.rename(p, target))
          throw new IllegalStateException(s"failed to move $p -> $target")
        DeleteFile(target.toString, fs.getFileStatus(target).getLen, c)
      }
    }
    fs.delete(tmp, true)
    // rolling must never lose or duplicate a position
    require(out.map(_.rowCount).sum == total,
      s"delete-file roll wrote ${out.map(_.rowCount).sum} of $total entries")
    attachDeleteVectors(out)
  }

  /** Build + attach deletion-vector refs for just-written delete files
    * (see [[DeleteVectors]]): one bitmap per (delete file, data file)
    * pair, one content-addressed bundle per call. Keying by the PAIR
    * (r16) means a rolled write whose range boundaries split one data
    * file's positions across two delete files still attaches each delete
    * file a ref covering exactly its own entries — the read path unions
    * a data file's masks across its referencing delete files. Any skip —
    * property off, oversized batch, a cardinality mismatch — leaves refs
    * absent and the read path on its anti-join fallback: never wrong,
    * at worst un-accelerated. */
  private def attachDeleteVectors(out: Seq[DeleteFile]): Seq[DeleteFile] = {
    val enabled = meta.properties.get(DeleteVectors.EnabledProperty)
      .forall(_.toBoolean)
    if (!enabled || out.isEmpty) return out
    DeleteVectors.buildBitmaps(spark, out.map(_.path)) match {
      case None =>
        System.err.println(s"[graft] deletion-vector build skipped: bitmaps " +
          s"exceed ${DeleteVectors.MaxBundleBytes} bytes for this batch — " +
          "reads of these files use the anti-join fallback")
        out
      case Some(bitmaps) =>
        // expected cardinalities keyed (delete-file basename, data file) —
        // exactly how each DeleteFile's own counts map reads
        val expected: Map[(String, String), Long] = out.flatMap { d =>
          val base = fileName(d.path)
          d.counts.map { case (n, c) => (base, n) -> c }
        }.toMap
        val verified = bitmaps.filter { case (k, bytes) =>
          expected.get(k).contains(DvBitmap.cardinality(bytes))
        }
        val refs = DeleteVectors.writeBundle(fs, dataDir, verified)
        out.map { d =>
          val base = fileName(d.path)
          d.copy(dv = d.counts.keys.flatMap(n =>
            refs.get((base, n)).map(n -> _)).toMap)
        }
    }
  }

  /** UPDATE SET — copy-on-write rewrite of files that may match
    * (Getting Started.ipynb c18). */
  def update(assignments: Map[String, Column], condition: Option[Column] = None,
             toBranch: Option[String] = None): TableMeta = {
    val m0 = meta
    val (branch, stagedWap, snap) = writeTarget(m0, toBranch)
    val all = snap.map(_.files).getOrElse(Seq.empty)
    val (touched, untouched) = condition match {
      case Some(c) => partitionTouched(m0, all, Pruning.translate(c))
      case None => (all, Seq.empty[DataFile])
    }
    assignments.keys.foreach(k => require(m0.schema.byName(k).isDefined,
      s"UPDATE target column $k not in schema"))
    if (m0.properties.get("write.update.mode").contains("merge-on-read"))
      return updateMor(m0, snap, branch, touched, untouched, assignments,
        condition, stagedWap)
    val rewritten: Seq[DataFile] = if (touched.isEmpty) Seq.empty else {
      val src = dataFrameForLive(m0, snap, touched)
      // ONE projection, not sequential withColumn: SQL UPDATE semantics
      // require every RHS and the WHERE predicate to read the OLD row. A
      // fold would re-resolve the condition and later RHS against
      // already-updated columns — `SET a = 6, b = 9 WHERE a = 5` would
      // skip b on exactly the matched rows, and `SET a = b, b = a` would
      // fail to swap.
      // generated columns NOT explicitly assigned are DROPPED from the
      // projection so toPhysical RECOMPUTES them from the post-update row
      // (Delta semantics: updating a dependency refreshes the generated
      // value; keeping the stored value would trip the agreement assert
      // and wrongly fail the whole UPDATE). An explicit assignment stays
      // and is agreement-asserted like any supplied value.
      val recomputed = m0.schema.columns
        .filter(c => c.generationSql.isDefined && !assignments.contains(c.name))
        .map(_.name).toSet
      val updated = src.select(src.columns.toIndexedSeq
        .filterNot(recomputed).map { name =>
        assignments.get(name) match {
          case Some(expr0) => condition match {
            case Some(c) =>
              when(coalesce(c, lit(false)), expr0).otherwise(src.col(name)).as(name)
            case None => expr0.as(name)
          }
          case None => src.col(name)
        }
      }: _*)
      // constraints enforced on the rewrite: unchanged rows were valid
      // when written (ADD CONSTRAINT validated them), so only rows the
      // assignments changed can trip the assert
      writeDataFiles(toPhysical(withCheckConstraints(m0, updated), m0.schema), m0)
    }
    commitReplace(branch, untouched ++ rewritten, "overwrite", Map(
      "rewritten-data-files" -> touched.size.toString), base = snap,
      // unconditioned UPDATE touches every row: any concurrent add conflicts
      conflictPredicate = Some(condition.map(Pruning.translate).getOrElse(Pruning.Unknown)),
      staged = stagedWap)
  }

  /** UPDATE with `write.update.mode=merge-on-read` (Iceberg v2): the OLD
    * versions of matched rows become positional delete entries and the NEW
    * versions append as fresh data files — writes are O(matched rows), so
    * updating a handful of rows in a 100 TB table stops rewriting every
    * touched gigabyte file. Non-matching rows of touched files are simply
    * left in place under the delete mask. */
  private def updateMor(m0: TableMeta, snap: Option[Snapshot], branch: String,
                        touched: Seq[DataFile], untouched: Seq[DataFile],
                        assignments: Map[String, Column],
                        condition: Option[Column], stagedWap: Boolean): TableMeta = {
    if (touched.isEmpty) return m0
    val cond = condition.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
    // live rows under BOTH masks, with positions kept for the new entries
    val matched = liveRows(m0, snap, touched, withMeta = true).filter(cond)
    // every RHS reads the OLD row (matched rows pre-assignment), same
    // contract as the CoW projection above; unassigned generated columns
    // drop so toPhysical recomputes them (see the CoW path's comment)
    val dataCols = m0.schema.columns
      .filterNot(c => c.generationSql.isDefined && !assignments.contains(c.name))
      .map(_.name)
    val updated = matched.select(dataCols.map { name =>
      assignments.get(name).map(_.as(name)).getOrElse(col(name))
    }: _*)
    // "rw" prefix like the CoW update path: the streaming read-back
    // delivers appends only, and an UPDATE's new row versions are not
    // appends there any more than a CoW rewrite's survivors are
    val newFiles = writeDataFiles(toPhysical(withCheckConstraints(m0, updated), m0.schema), m0)
    val newDel = writeDeleteFiles(matched.select(col("_gd_file"), col("_gd_pos")))
    if (newFiles.isEmpty && newDel.isEmpty) return m0 // nothing matched
    commitReplace(branch, untouched ++ touched ++ newFiles, "overwrite", Map(
      "update-mode" -> "merge-on-read",
      "added-data-files" -> newFiles.size.toString,
      "added-delete-files" -> newDel.size.toString,
      "added-position-deletes" -> newDel.map(_.rowCount).sum.toString),
      base = snap,
      conflictPredicate = Some(condition.map(Pruning.translate).getOrElse(Pruning.Unknown)),
      staged = stagedWap, extraDeleteFiles = newDel)
  }

  /** Equality-field upsert (J2: `MERGE` = anti-join + union, ref:
    * IcebergStream.java:118 equalityFieldColumns): delete every table row
    * whose `key` is in `keys`, then append `upserts`. Only files whose key
    * bounds overlap `keys` are rewritten — at scale the rewrite set is the
    * files the changelog touches, never the whole table. The key list
    * becomes a driver-local frame typed by the key column, so
    * [[mergeByKeys]] reads it on the driver in either merge mode. */
  def mergeByKey(key: String, keys: Seq[Any], upserts: DataFrame,
                 extraSummary: Map[String, String] = Map.empty,
                 toBranch: Option[String] = None): TableMeta = {
    val dt = meta.schema.byName(key).getOrElse(
      throw new IllegalArgumentException(s"merge key column $key not in schema")).sparkType
    // NULL keys can never equal a delete key (null-keyed table rows survive);
    // the rest take the key column's type, like an IN list's literals
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val rows = keys.filter(_ != null).map(v => Row(toScala(Cast(Literal(v), dt, tz).eval())))
    val keyDf = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField(key, dt))))
    mergeByKeys(key, keyDf, upserts, extraSummary, toBranch)
  }

  /** Distributed equality-field upsert: like [[mergeByKey]] but the delete
    * keys arrive as a DataFrame, and only a bounded sample of them ever
    * reaches the driver, so a CDC catch-up burst of millions of keys is
    * fine. Survivors of a copy-on-write merge are computed with a LEFT
    * ANTI join, or a NOT IN filter for a small batch (both null-safe:
    * null-keyed table rows never match and survive).
    *
    * Plan shape. At CDC batch sizes every Spark job costs a fixed
    * ~70-90 ms of driver and codegen CPU whatever it reads, so the upsert
    * is planned in as few jobs as possible:
    *   - ONE key probe: a bounded collect of at most 1,025 distinct keys.
    *     A batch of at most 1,024 keys is then known exactly on the
    *     driver: it prunes files with an exact IN predicate (stats and
    *     manifest blooms), the equality delete (merge-on-read) reads the
    *     collected keys as a local relation, and copy-on-write survivors
    *     are the touched files' rows NOT IN those keys, with no further
    *     job over the key frame. Only a larger batch pays the
    *     count/[min,max] aggregate, prunes by those bounds and anti-joins
    *     its survivors.
    *   - A key frame whose optimized plan is a local relation (SQL
    *     MERGE's small-source path, [[graft.lake.dsv2.GraftMerge]]) needs
    *     no probe: its keys are taken on the driver.
    *   - The upserts are written unconditionally (no emptiness probe);
    *     the zero-row file Spark's writer leaves for an empty input is
    *     discarded.
    *   - `batchKeys = true` declares that `keyDf` holds each of the
    *     batch's keys exactly once and that every upsert's key is among
    *     them (a last-wins changelog batch): the key frame then skips its
    *     distinct shuffle, and a batch without a non-null key commits
    *     nothing, even with `extraSummary`.
    * A 250-key merge-on-read changelog batch
    * ([[graft.streaming.Changelog.mergeChangelog]]) runs five jobs: the
    * caller's last-wins shuffle, the probe (which stores the caller's
    * pinned batch), the upsert write, the equality-delete write and the
    * manifest-bloom build (JobCountSpec). */
  def mergeByKeys(key: String, keyDf: DataFrame, upserts: DataFrame,
                  extraSummary: Map[String, String] = Map.empty,
                  toBranch: Option[String] = None,
                  nullKeyDelete: Option[Column] = None,
                  batchKeys: Boolean = false): TableMeta = {
    // `nullKeyDelete`: also delete target rows whose KEY IS NULL and the
    // given (target-column) condition holds. Equality machinery can never
    // express this (null never equi-matches), but SQL MERGE's NOT MATCHED
    // BY SOURCE treats null-keyed target rows as not-matched and must
    // delete them — GraftMerge routes that clause here. NULL condition
    // values keep the row (ANSI: only TRUE deletes).
    val nonNull = keyDf.select(keyDf.col(key)).filter(col(key).isNotNull)
    // a key frame over a driver-local relation (SQL MERGE's small-source
    // path) is read on the driver: no distinct, no pin, no probe job
    val localKeys = nonNull.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        Some(nonNull.collect().map(_.get(0)).distinct.toSeq)
          .filter(_.size <= LakeTable.SmallKeyBatch)
      case _ => None
    }
    val kd = if (batchKeys || localKeys.isDefined) nonNull else graft.Materialize(nonNull.distinct())
    try {
      // ORDER BY + LIMIT plans as TakeOrderedAndProject, whose collect is
      // ONE job over every partition (a per-partition bounded top-k);
      // a bare LIMIT would scan partition 0 first and then the rest
      val probe = localKeys.getOrElse(kd.orderBy(col(key)).limit(LakeTable.SmallKeyBatch + 1)
        .collect().map(_.get(0)).toSeq)
      // the collected keys as a local relation: a scan of it runs no job
      // (a broadcast of it would: the exchange collects it in a job of its
      // own, which is why copy-on-write survivors take an IN filter)
      val smallKeys =
        if (probe.size > LakeTable.SmallKeyBatch) None
        else Some(spark.createDataFrame(
          java.util.Arrays.asList(probe.map(Row(_)): _*), kd.schema))
      // a large batch: one 1-row driver fetch of count + bounds
      val bounds = if (smallKeys.isDefined) None else Some(
        kd.agg(count(lit(1)), min(col(key)), max(col(key))).head())
      val nKeys = bounds.fold(probe.size.toLong)(_.getLong(0))
      if (batchKeys && nKeys == 0 && nullKeyDelete.isEmpty) return meta
      val m0 = meta
      val (branch, stagedWap, snap) = writeTarget(m0, toBranch)
      val all = snap.map(_.files).getOrElse(Seq.empty)
      // write.merge.mode=merge-on-read (the Flink/Iceberg CDC upsert
      // design, ref IcebergStream.java:118 equalityFieldColumns + upsert):
      // commit the batch as ONE equality delete (this batch's keys mask
      // every strictly-older row version) + the appended upserts. O(batch)
      // writes, no file rewrites — CDC ingestion cost is flat in table
      // size; compaction (`rewrite_position_deletes`/`rewrite_data_files`)
      // periodically folds the masks back in.
      // null-keyed deletion matches a file iff it may HOLD null keys
      val nullPred = nullKeyDelete.map(_ => Pruning.IsNull(key))
      // a SMALL batch prunes with its exact keys: per-key stats ranges AND
      // manifest blooms then prune files the [min,max] envelope cannot (on
      // a hash-keyed table the envelope spans every file — the bloom is
      // what keeps a point-CDC merge from rewriting the whole table)
      val keysPred =
        if (nKeys == 0) None
        else bounds match {
          case None => Some(Pruning.In(key, probe))
          case Some(r) => Some(Pruning.And(Pruning.GtE(key, r.get(1)), Pruning.LtE(key, r.get(2))))
        }
      val conflictPred = (keysPred, nullPred) match {
        case (Some(b), Some(n)) => Some(Pruning.Or(b, n))
        case (b, n) => b.orElse(n)
      }
      // a null-keyed target row dies iff the condition is TRUE (ANSI)
      val nullKill = nullKeyDelete.map(c => col(key).isNull && coalesce(c, lit(false)))
      // merged upserts are NEW rows: identity columns are assigned here
      // exactly like append (a CDC ingest stream into an identity table
      // must keep ids unique across batches), advanced from footer stats
      // and commit-guarded against concurrent allocation
      val (upserts1, idPlan) = assignIdentity(m0, upserts)
      def writeUpserts(): Seq[DataFile] = dropEmptyFiles(writeDataFiles(
        toPhysical(withCheckConstraints(m0, upserts1), m0.schema), m0, filePrefix = "app"))
      // the distinct key set, local when the probe holds all of it
      val keySet = smallKeys.getOrElse(kd)
      if (m0.properties.get("write.merge.mode").contains("merge-on-read")) {
        val inserted = writeUpserts()
        val eqDel =
          if (nKeys == 0) None
          else writeEqualityDeleteFile(keySet, Seq(key), m0, smallKeys.map(_ => probe))
        // null-keyed rows can't ride the equality mask — encode them as a
        // POSITIONAL delete file over the files that may hold null keys
        val nullDel = nullKill.toSeq.flatMap { kill =>
          val cands = all.filter(f =>
            Pruning.mayMatch(Pruning.IsNull(key), fileBounds(m0, f)))
          if (cands.isEmpty) Seq.empty
          else writeDeleteFiles(liveRows(m0, snap, cands, withMeta = true)
            .filter(kill).select(col("_gd_file"), col("_gd_pos")))
        }
        // a row-empty batch still commits when the caller attached summary
        // metadata: MV/index refresh pins its watermark in extraSummary, and
        // an early return here (e.g. a compaction-only changelog window on a
        // merge-on-read index table) would silently drop the pin — the
        // refresh would then re-read the same window every batch forever
        if (inserted.isEmpty && eqDel.isEmpty && nullDel.isEmpty &&
          extraSummary.isEmpty) return m0
        return commitReplace(branch, all ++ inserted, "overwrite",
          extraSummary ++ Map(
            "merge-keys" -> nKeys.toString,
            "merge-mode" -> "merge-on-read",
            "added-data-files" -> inserted.size.toString,
            "added-equality-delete-files" -> eqDel.size.toString),
          base = snap,
          conflictPredicate = conflictPred,
          staged = stagedWap, extraEqDeleteFiles = eqDel.toSeq,
          extraDeleteFiles = nullDel.toSeq,
          identityPlan = idPlan, identityProps = identityAdvance(idPlan, inserted))
      }
      // the rewrite set and the conflict window are the same predicate by
      // construction — reuse it so they can never desynchronize
      val touchPred = conflictPred
      val (touched, untouched) = touchPred match {
        case None => (Seq.empty[DataFile], all)
        case Some(p) => partitionTouched(m0, all, p)
      }
      val survivors: Seq[DataFile] = if (touched.isEmpty) Seq.empty else {
        val live = dataFrameForLive(m0, snap, touched)
        val remaining = smallKeys match {
          // a key set known on the driver: a NOT IN filter with the keys
          // bound as a set, no join, no broadcast job and no new code per
          // batch; null-keyed rows are never IN and survive
          case Some(_) => BoundKeys.without(live, key, probe, kd.schema.head.dataType)
          // broadcast the key side when it is provably small; else let
          // the planner shuffle both sides on the key
          case None =>
            live.join(if (nKeys <= 1000000L) broadcast(keySet) else keySet,
              Seq(key), "left_anti")
        }
        val kept = nullKill.map(kill => remaining.filter(!kill)).getOrElse(remaining)
        // a touched file whose every row the batch deletes leaves no survivor
        dropEmptyFiles(writeDataFiles(toPhysical(kept, m0.schema), m0))
      }
      val inserted = writeUpserts()
      commitReplace(branch, untouched ++ survivors ++ inserted, "overwrite",
        extraSummary ++ Map(
          "merge-keys" -> nKeys.toString,
          "rewritten-data-files" -> touched.size.toString), base = snap,
        conflictPredicate = conflictPred,
        staged = stagedWap,
        identityPlan = idPlan, identityProps = identityAdvance(idPlan, inserted))
    } finally graft.Materialize.release(kd)
  }

  /** TRUNCATE (D3): new empty snapshot. "Table := empty" is planned
    * against the current head — a concurrent commit aborts rather than
    * being silently wiped. */
  // ---- atomic REPLACE TABLE (RTAS staging) --------------------------------

  /** Write data files for a PENDING (schema, spec) without any commit —
    * the write half of atomic `CREATE OR REPLACE TABLE AS SELECT`
    * ([[graft.lake.dsv2.GraftStagedTable]]). Files land in the table
    * directory but no ref sees them until [[replaceTable]] publishes
    * schema + spec + content in one metadata version; an abort leaves
    * only orphans for `remove_orphan_files`. */
  private[lake] def stageFilesFor(df: DataFrame, pendingSchema: LakeSchema,
                                  pendingSpec: PartitionSpec): Seq[DataFile] = {
    val m = meta
    val m2 = m.copy(
      schemas = m.schemas.filterNot(_.schemaId == pendingSchema.schemaId) :+ pendingSchema,
      currentSchemaId = pendingSchema.schemaId,
      partitionSpecs = m.partitionSpecs.filterNot(_.specId == pendingSpec.specId) :+ pendingSpec,
      defaultSpecId = pendingSpec.specId)
    writeDataFiles(toPhysical(df, pendingSchema), m2, filePrefix = "app")
  }

  /** Atomic table replacement: ONE commit swaps schema, partition spec,
    * properties, and content to exactly `files`. Prior snapshots and
    * schemas stay recorded (metadata history), but branches and tags
    * reset to the new main — REPLACE defines a new logical table, and a
    * pre-replace branch head would resurrect the old content. Fresh
    * column ids mean pre-replace files share no column lineage with the
    * new schema (time travel to old snapshots reads them under the OLD
    * ids, exactly as written). */
  private[lake] def replaceTable(pendingSchema: LakeSchema, pendingSpec: PartitionSpec,
                                 props: Map[String, String],
                                 files: Seq[DataFile]): TableMeta =
    commit { m =>
      // REPLACE redefines the table and RESETS refs to the new main — it
      // cannot be routed to a WAP branch or staged for audit, so running
      // it inside an active WAP session would silently publish unaudited
      // data AND delete the session's audit branch. Refuse, like the other
      // commit paths refuse ambiguous WAP routing.
      requireWapUnambiguous(m)
      require(!(m.properties.get("write.wap.enabled").contains("true") &&
          (wapId.isDefined || wapBranch.isDefined)),
        "CREATE OR REPLACE TABLE ... AS SELECT is not allowed during an " +
          "active WAP session (spark.wap.id / spark.wap.branch is set and " +
          "write.wap.enabled=true): a replace resets all branches and " +
          "cannot be audit-staged. Publish or abandon the WAP session first.")
      val m2 = m.withSnapshot(MainBranch, m.currentSnapshot, "replace-table",
        Map("added-data-files" -> files.size.toString), files)
      m2.copy(
        schemas = m.schemas.filterNot(_.schemaId == pendingSchema.schemaId) :+ pendingSchema,
        currentSchemaId = pendingSchema.schemaId,
        partitionSpecs = m.partitionSpecs.filterNot(_.specId == pendingSpec.specId) :+ pendingSpec,
        defaultSpecId = pendingSpec.specId,
        properties = props,
        lastColumnId = math.max(m.lastColumnId,
          pendingSchema.columns.map(_.id).maxOption.getOrElse(0)),
        refs = Map(MainBranch -> Ref(m2.lastSnapshotId)))
    }

  def truncate(toBranch: Option[String] = None): TableMeta = {
    val (branch, stagedWap, base) = writeTarget(meta, toBranch)
    commitReplace(branch, Seq.empty, "truncate", Map.empty, base = base, strict = true,
      staged = stagedWap)
  }

  /** INSERT OVERWRITE — replace the whole table content in ONE atomic
    * snapshot (op "overwrite"), like Iceberg's overwrite. Readers see
    * either the old or the new content, never an empty intermediate, and
    * a crash mid-write leaves the table untouched (orphaned files are
    * reclaimed by remove_orphan_files). New rows carry the "app" prefix:
    * they are newly added data, delivered by streamRead/readIncremental.
    *
    * Honors WAP exactly like [[append]]: with `spark.wap.id` set and
    * `write.wap.enabled=true` the replacement commits as a STAGED snapshot
    * (current pointer unmoved, invisible to plain reads, auditable via
    * `VERSION AS OF '<wap.id>'`) and publishes through [[cherrypick]] —
    * without this an audit pipeline that uses INSERT OVERWRITE would
    * silently skip its audit gate. */
  def overwrite(df: DataFrame, toBranch: Option[String] = None): TableMeta = {
    val m0 = meta
    val (branch, staged, base) = writeTarget(m0, toBranch)
    // identity continues across an overwrite (Delta semantics: TRUNCATE/
    // OVERWRITE never restarts the sequence — restarting would reissue
    // ids that time travel still exposes)
    val (df1, idPlan) = assignIdentity(m0, df)
    val newFiles = writeDataFiles(
      toPhysical(withCheckConstraints(m0, df1), m0.schema), m0, filePrefix = "app")
    val idProps = identityAdvance(idPlan, newFiles)
    val summary = Map(
      "added-data-files" -> newFiles.size.toString,
      "added-records" -> newFiles.map(_.rowCount).sum.toString)
    if (staged) commit { m =>
      requireIdentityUnmoved(m, idPlan)
      m.withSnapshot(branch, m.branchHead(branch), "overwrite",
        summary ++ wapId.map("wap.id" -> _), newFiles, staged = true, properties = idProps)
    } else commitReplace(branch, newFiles, "overwrite", summary, base = base, strict = true,
      identityPlan = idPlan, identityProps = idProps)
  }

  /** Replace the branch head's file list with `files` in one commit.
    *
    * Snapshot-isolation validation (Iceberg-style): CoW operations plan
    * `files` against a base snapshot read BEFORE the commit; without
    * validation a concurrent append landing in between would silently
    * vanish from the replacement snapshot (lost update — the commit()
    * retry loop re-applies the closure against fresh metadata, but the
    * stale file list bakes the clobber in). Callers therefore pass the
    * base they planned against:
    *   - files ADDED to the branch since base are reconciled into the
    *     new snapshot (concurrent appends commute with a rewrite);
    *   - files REMOVED since base mean a concurrent rewrite touched the
    *     same table state — the keep-list might resurrect deleted rows —
    *     so the commit aborts with [[CommitConflictException]] (caller
    *     may re-plan and retry);
    *   - `strict = true` (full overwrite/truncate: "table := new
    *     content") aborts on ANY concurrent commit, additions included.
    * `base` is the planned-against snapshot — None means the operation
    * planned against an EMPTY branch (still validated: files appearing
    * concurrently reconcile or abort like any other divergence).
    *
    * Isolation level (Iceberg's `delete.isolation-level` analog): the
    * reconciliation above gives SNAPSHOT isolation — concurrent appends
    * merge into a row-level operation's commit un-deleted, so a DELETE
    * can "miss" rows that were appended while it ran. With table property
    * `commit.isolation=serializable`, a row-level op (the callers that
    * pass `conflictPredicate`) instead ABORTS when any concurrently added
    * file's stats overlap its predicate — the outcome is then equal to
    * some serial order, matching Iceberg's default for DELETE/UPDATE/
    * MERGE. Overlap is judged by [[Pruning.mayMatch]] on footer stats:
    * false positives re-plan (safe), false negatives are impossible
    * (mayMatch over-approximates). */
  private[lake] def commitReplace(branch: String, files: Seq[DataFile], op: String,
                                  extraSummary: Map[String, String],
                                  base: Option[Snapshot],
                                  strict: Boolean = false,
                                  conflictPredicate: Option[Pruning.Pred] = None,
                                  staged: Boolean = false,
                                  extraDeleteFiles: Seq[DeleteFile] = Seq.empty,
                                  extraEqDeleteFiles: Seq[EqualityDeleteFile] = Seq.empty,
                                  identityPlan: Seq[(LakeColumn, Long)] = Seq.empty,
                                  identityProps: Map[String, String] = Map.empty)
      : TableMeta = {
    // manifest blooms for the files THIS operation wrote (new vs base):
    // every CoW rewrite / merge survivor / compaction output keeps its
    // coverage, so DML never degrades lookups or later DML classification
    // to stats-only. Built once, before the commit race — the bundle is
    // content-addressed, so retries reuse it; concurrently added files
    // carry their own commits' bundles.
    val bloomBundle =
      BloomSkip.buildBundleFor(spark, metaStore, meta, CommitDiff(base, files).added)
    val summaryWithBloom =
      extraSummary ++ bloomBundle.map(BloomSkip.BundleSummaryKey -> _)
    commit { m =>
      requireIdentityUnmoved(m, identityPlan)
      val parent = m.branchHead(branch)
      val reconciled =
        if (parent.map(_.snapshotId) == base.map(_.snapshotId)) files
        else {
          // merge-on-read deletes landing concurrently are invisible to a
          // file-set diff (they change no files) but DO change row-level
          // content the replanned operation read — a CoW rewrite committed
          // over them would resurrect the deleted rows. Re-plan instead.
          val parentDels = parent.map(s => (s.deleteFiles, s.eqDeleteFiles))
            .getOrElse((Seq.empty, Seq.empty))
          val baseDels = base.map(s => (s.deleteFiles, s.eqDeleteFiles))
            .getOrElse((Seq.empty, Seq.empty))
          if (parentDels != baseDels) throw CommitConflictException(
            s"$op planned against snapshot ${base.map(_.snapshotId).getOrElse(-1L)} " +
              "but a concurrent commit changed the merge-on-read delete set — " +
              "re-plan and retry")
          if (strict) throw CommitConflictException(
            s"$op planned against snapshot ${base.map(_.snapshotId).getOrElse(-1L)} " +
              s"but branch '$branch' moved to ${parent.map(_.snapshotId).getOrElse(-1L)}")
          val concurrent = CommitDiff(base, parent.map(_.files).getOrElse(Seq.empty))
          if (concurrent.removed.nonEmpty) throw CommitConflictException(
            s"$op planned against snapshot ${base.map(_.snapshotId).getOrElse(-1L)}; " +
              s"a concurrent commit removed ${concurrent.removed.size} file(s) it relied on — " +
              "re-plan and retry")
          val added = concurrent.added
          if (m.properties.get("commit.isolation").contains("serializable")) {
            conflictPredicate.foreach { p =>
              val conflicting = added.filter(f => Pruning.mayMatch(p, fileBounds(m, f)))
              if (conflicting.nonEmpty) throw CommitConflictException(
                s"serializable isolation: ${conflicting.size} file(s) added " +
                  s"concurrently with this $op may match its predicate — " +
                  "re-plan and retry")
            }
          }
          files ++ added
        }
      val snapId = m.nextSnapshotId
      // carry the parent's merge-on-read delete entries pruned to files
      // still present (a rewrite/drop of a data file retires its entries —
      // the rewritten file was produced from the delete-masked read), then
      // add this operation's new entries. Pruning keeps the invariant that
      // Σ counts is an exact deleted-row count over LIVE files, which the
      // metadata-only COUNT(*) fast path subtracts.
      // stamp files new to this lineage with the committing snapshot id —
      // the data-sequence number equality deletes order against
      val fresh = CommitDiff(parent, reconciled)
      val stamped = reconciled.map(f =>
        if (fresh.adds(f)) f.copy(addedSnapshotId = snapId) else f)
      val liveNames = stamped.map(f => fileName(f.path)).toSet
      val carriedDels = pruneDeleteFiles(
        parent.map(_.deleteFiles).getOrElse(Seq.empty), liveNames) ++ extraDeleteFiles
      // an equality delete stays live while ANY file it could mask
      // (strictly older) remains; full compaction re-stamps everything
      // and retires the whole set
      val carriedEq = parent.map(_.eqDeleteFiles).getOrElse(Seq.empty)
        .filter(d => stamped.exists(d.masks)) ++
        extraEqDeleteFiles.map(_.copy(addedAt = snapId))
      // a STAGED replacement (row-level op under a wap.id session) records
      // the snapshot but leaves the ref unmoved — invisible to plain reads,
      // auditable via VERSION AS OF '<wap.id>', published by cherrypick
      // (which, for replacement ops, refuses if the branch moved meanwhile)
      m.withSnapshot(branch, parent, op,
        summaryWithBloom ++ (if (staged) wapId.map("wap.id" -> _) else None), stamped,
        deleteFiles = carriedDels, eqDeleteFiles = carriedEq, staged = staged,
        properties = identityProps)
    }
  }

  // ---- schema evolution (D5-D7) -------------------------------------------

  private def evolveSchema(f: LakeSchema => Seq[LakeColumn]): TableMeta =
    evolveSchemaM((_, s) => f(s))

  private def evolveSchemaM(f: (TableMeta, LakeSchema) => Seq[LakeColumn]): TableMeta =
    commit { m =>
      val next = LakeSchema(m.schemas.map(_.schemaId).max + 1, f(m, m.schema))
      m.copy(schemas = m.schemas :+ next, currentSchemaId = next.schemaId,
        lastColumnId = math.max(m.lastColumnId, next.columns.map(_.id).max))
    }

  def renameColumn(from: String, to: String): TableMeta = commit { m =>
    val s = m.schema
    require(s.byName(from).isDefined, s"no column $from")
    require(s.byName(to).isEmpty, s"column $to exists")
    val next = LakeSchema(m.schemas.map(_.schemaId).max + 1,
      s.columns.map(c => if (c.name == from) c.copy(name = to) else c))
    // logical-NAME-keyed table properties follow the rename in the same
    // commit (manifest blooms, parquet write blooms) — left behind they
    // silently detach from the column they configure
    def renamedList(v: String) = v.split(",").map(_.trim)
      .map(n => if (n == from) to else n).mkString(",")
    val props = Seq(BloomSkip.ColumnsKey, "write.bloom-filter.columns",
        "write.sort-order")
      .foldLeft(m.properties)((p, k) =>
        p.get(k).fold(p)(v => p.updated(k, renamedList(v))))
    m.copy(schemas = m.schemas :+ next, currentSchemaId = next.schemaId,
      lastColumnId = math.max(m.lastColumnId, next.columns.map(_.id).max),
      properties = props)
  }

  /** Widening-only type change (int→bigint/double, float→double, …). */
  def updateColumnType(name: String, newType: DataType): TableMeta = evolveSchema { s =>
    val c = s.byName(name).getOrElse(throw new IllegalArgumentException(s"no column $name"))
    require(isWidening(c.sparkType, newType), s"cannot change ${c.sparkType} to $newType")
    s.columns.map(x => if (x.name == name) x.copy(dataType = newType.json) else x)
  }

  def updateColumnComment(name: String, comment: String): TableMeta = evolveSchema { s =>
    require(s.byName(name).isDefined, s"no column $name")
    s.columns.map(c => if (c.name == name) c.copy(comment = Some(comment)) else c)
  }

  def addColumn(name: String, dataType: DataType, after: Option[String] = None,
                comment: Option[String] = None,
                defaultSql: Option[String] = None): TableMeta = evolveSchemaM { (m, s) =>
    require(s.byName(name).isEmpty, s"column $name exists")
    // id from lastColumnId, NOT the current schema's max: after dropColumn,
    // max(current ids)+1 can REUSE the dropped column's id, and the stable-id
    // read mapping would then resolve the new column to the dropped column's
    // physical data in old files (resurrecting deleted values) and pruning
    // would match its predicates against the dropped column's stats
    //
    // defaultSql becomes BOTH the current default (new writes) and the
    // frozen exists-default (what pre-existing rows read) — ADD COLUMN
    // with DEFAULT is metadata-only, no file rewrite.
    val col = LakeColumn(m.lastColumnId + 1, name, dataType.json,
      nullable = true, comment,
      currentDefaultSql = defaultSql, existsDefaultSql = defaultSql)
    insertAfter(s.columns, col, after)
  }

  /** ALTER COLUMN … SET/DROP DEFAULT: changes the CURRENT default only —
    * the exists-default stays frozen at its ADD COLUMN value, so rows
    * that pre-date the column keep reading the value that was promised
    * when it was added (Spark/Delta exists-default semantics). */
  def setColumnDefault(name: String, defaultSql: Option[String]): TableMeta =
    evolveSchema { s =>
      require(s.byName(name).isDefined, s"no column $name")
      s.columns.map(c =>
        if (c.name == name) c.copy(currentDefaultSql = defaultSql) else c)
    }

  /** ALTER COLUMN ... FIRST / AFTER <col> (D6 reorder). */
  def moveColumn(name: String, after: Option[String]): TableMeta = evolveSchema { s =>
    val c = s.byName(name).getOrElse(throw new IllegalArgumentException(s"no column $name"))
    insertAfter(s.columns.filterNot(_.name == name), c, after)
  }

  def dropColumn(name: String): TableMeta = evolveSchema { s =>
    require(s.byName(name).isDefined, s"no column $name")
    s.columns.filterNot(_.name == name)
  }

  private def insertAfter(cols: Seq[LakeColumn], c: LakeColumn,
                          after: Option[String]): Seq[LakeColumn] = after match {
    case None => cols :+ c
    case Some("") => c +: cols // FIRST
    case Some(a) =>
      val i = cols.indexWhere(_.name == a)
      require(i >= 0, s"no column $a")
      (cols.take(i + 1) :+ c) ++ cols.drop(i + 1)
  }

  // ---- partition evolution (D8) ---------------------------------------------

  /** Replace the default partition spec; existing files keep their old
    * spec-id and are planned per-spec at scan (SURVEY §4 split planning). */
  def replacePartitionSpec(fields: Seq[(String, String)]): TableMeta = commit { m =>
    val resolved = fields.map { case (colName, transform) =>
      val c = m.schema.byName(colName).getOrElse(
        throw new IllegalArgumentException(s"no column $colName"))
      PartitionField(c.id, transform)
    }
    val next = PartitionSpec(m.partitionSpecs.map(_.specId).max + 1, resolved)
    m.copy(partitionSpecs = m.partitionSpecs :+ next, defaultSpecId = next.specId)
  }

  // ---- refs / time travel / WAP publication (D14-D18) -----------------------

  /** `ifNotExists`: no-op (no commit) when a branch of this name already
    * exists; still errors if the name is taken by a tag. */
  def createBranch(name: String, at: Option[Long] = None,
                   ifNotExists: Boolean = false): TableMeta = {
    val cur = meta
    cur.refs.get(name) match {
      case Some(r) if ifNotExists =>
        require(r.kind != "tag", s"ref $name exists as a tag")
        cur
      case _ => commit { m =>
        if (ifNotExists && m.refs.get(name).exists(_.kind != "tag")) m
        else {
          require(!m.refs.contains(name), s"ref $name exists")
          val target = at.orElse(m.refs.get(MainBranch).map(_.snapshotId)).getOrElse(
            throw new IllegalStateException("cannot branch an empty table"))
          m.copy(refs = m.refs + (name -> Ref(target)))
        }
      }
    }
  }

  /** `ifExists`: no-op (no commit) when no branch of this name exists.
    * Without the flag a missing branch is an error; a tag never drops here.
    * The kind check re-runs INSIDE the commit transform: the optimistic
    * retry revalidates against fresh metadata, so a concurrent drop +
    * recreate-as-tag between the outer read and the commit can never
    * delete the wrong ref kind (a vanished ref makes the transform an
    * identity → no-op commit). */
  def dropBranch(name: String, ifExists: Boolean = false): TableMeta = {
    require(name != MainBranch, "cannot drop main")
    val cur = meta
    cur.refs.get(name) match {
      case None =>
        require(ifExists, s"no branch $name")
        cur
      case Some(r) =>
        require(r.kind != "tag", s"$name is a tag; use DROP TAG")
        commit { m =>
          m.refs.get(name) match {
            case None => m // concurrently dropped: nothing left to do
            case Some(cr) =>
              require(cr.kind != "tag", s"$name is a tag; use DROP TAG")
              m.copy(refs = m.refs - name)
          }
        }
    }
  }

  /** Immutable named ref to a snapshot (release/audit marker). Tags are
    * readable via `read(branch = tag)` / SQL `VERSION AS OF 'tag'` but can
    * never be written to or moved. `ifNotExists`: no-op when a tag of this
    * name already exists. */
  def createTag(name: String, snapshotId: Option[Long] = None,
                ifNotExists: Boolean = false): TableMeta = {
    val cur = meta
    cur.refs.get(name) match {
      case Some(r) if ifNotExists =>
        require(r.kind == "tag", s"ref $name exists as a branch")
        cur
      case _ => commit { m =>
        if (ifNotExists && m.refs.get(name).exists(_.kind == "tag")) m
        else {
          require(!m.refs.contains(name), s"ref $name exists")
          val target = snapshotId.orElse(m.currentSnapshot.map(_.snapshotId)).getOrElse(
            throw new IllegalStateException("cannot tag an empty table"))
          require(m.snapshot(target).isDefined, s"no snapshot $target")
          m.copy(refs = m.refs + (name -> Ref(target, kind = "tag")))
        }
      }
    }
  }

  /** `ifExists`: no-op (no commit) when no tag of this name exists.
    * Kind re-asserted inside the transform — see [[dropBranch]]. */
  def dropTag(name: String, ifExists: Boolean = false): TableMeta = {
    val cur = meta
    cur.refs.get(name) match {
      case None =>
        require(ifExists, s"no tag $name")
        cur
      case Some(r) =>
        require(r.kind == "tag", s"$name is not a tag")
        commit { m =>
          m.refs.get(name) match {
            case None => m // concurrently dropped: nothing left to do
            case Some(cr) =>
              require(cr.kind == "tag", s"$name is not a tag")
              m.copy(refs = m.refs - name)
          }
        }
    }
  }

  /** CALL fast_forward: move ref `name` forward to branch `to`'s head —
    * the WAP publish step (audit on the branch, then fast-forward main).
    * Requires `name`'s current snapshot to be an ancestor of the target
    * (a true fast-forward, never a silent overwrite). */
  def fastForward(name: String, to: String): TableMeta = commit { m =>
    require(m.refs.get(name).forall(_.kind != "tag"), s"cannot move tag $name")
    val target = m.refs.getOrElse(to,
      throw new IllegalArgumentException(s"no ref $to")).snapshotId
    m.refs.get(name).foreach { cur =>
      require(m.ancestry(m.snapshot(target)).exists(_.snapshotId == cur.snapshotId),
        s"$name (${cur.snapshotId}) is not an ancestor of $to ($target) — not a fast-forward")
    }
    m.moveRef(name, target)
  }

  /** CALL rollback_to_snapshot (D17, Getting Started.ipynb c36). */
  def rollbackTo(snapshotId: Long): TableMeta = commit { m =>
    require(m.snapshot(snapshotId).isDefined, s"no snapshot $snapshotId")
    m.moveRef(MainBranch, snapshotId)
  }

  /** CALL cherrypick_snapshot (D18): publish a staged WAP snapshot onto main
    * — metadata-only; re-applies the staged snapshot's added files on top of
    * the current main (Integrated Audits c37, WAP c52).
    *
    * A staged APPEND commutes with anything main did meanwhile, so its
    * added files are applied on top of the current main. A staged
    * OVERWRITE is "table := new content": its file list replaces main's
    * wholesale, and like the direct overwrite path it refuses to publish
    * (CommitConflictException) if main moved after the overwrite was
    * staged — re-run the overwrite against the new state instead of
    * silently clobbering it. */
  def cherrypick(snapshotId: Long): TableMeta = commit { m =>
    // idempotence FIRST, before resolving the staged snapshot: a retried
    // publish (timeout, at-least-once orchestration) must NOT re-apply —
    // for a staged append that would list every file path twice and double
    // its rows on all subsequent reads. Identity return → commit() writes
    // nothing. The check has TWO layers: snapshot summaries (fast path)
    // AND the `graft.published-source-snapshot-ids` table property — the
    // property survives expire_snapshots (which legitimately drops the
    // publish snapshot and with it the summary marker, AND the staged
    // snapshot, which is older still — so a post-expiry retry would
    // otherwise fail with a confusing "no snapshot" instead of no-op'ing).
    // The property is NOT appended to at publish time — while the publish
    // snapshot lives, its summary IS the marker. expire_snapshots harvests
    // the markers of snapshots it drops into the property, so the property
    // holds only expiry-orphaned ids and stays metadata-sized for the
    // table's lifetime instead of growing one CSV entry per publish.
    val publishedProp = m.properties.getOrElse("graft.published-source-snapshot-ids", "")
    val alreadyPublished =
      m.snapshots.exists(_.summary.get("source-snapshot-id").contains(snapshotId.toString)) ||
        publishedProp.split(",").contains(snapshotId.toString)
    if (alreadyPublished)
      m
    else {
    val staged = m.snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    // duplicate-WAP-commit guard (Iceberg's DuplicateWAPCommitException):
    // a client that re-STAGES the same logical wap session (same wap.id,
    // new snapshot id — e.g. an orchestrator retrying the whole
    // write+publish after losing track) and cherrypicks the new snapshot
    // would double the rows with a marker the source-id check can't see.
    // Published wap.ids live in the publish snapshots' summaries while
    // those live, and in the expiry-harvested property after.
    val publishedWaps = m.properties.getOrElse("graft.published-wap-ids", "")
      .split(",").filter(_.nonEmpty).toSet ++
      m.snapshots.flatMap(_.summary.get("published-wap-id")).filter(_.nonEmpty)
    val stagedWap = staged.summary.get("wap.id").filter(_.nonEmpty)
    stagedWap.filter(publishedWaps.contains).foreach { w =>
      throw new IllegalStateException(
        s"duplicate WAP commit: wap.id '$w' was already published to this table " +
          s"(staged snapshot $snapshotId is a re-stage of the same session) — " +
          "cherry-picking it would apply the write twice")
    }
    val added = m.commitDiff(staged).added
    val mainSnap = m.currentSnapshot
    // any staged non-append is a REPLACEMENT of its parent's file list
    // (overwrite, row-level delete/update/merge, truncate): publishing it
    // over a moved main would silently clobber the interleaved commits,
    // so refuse and make the caller re-run against the new state. Staged
    // APPENDS commute — cherrypick grafts their added files onto the
    // current head.
    val isReplace = staged.staged && staged.operation != "append"
    if (isReplace && mainSnap.map(_.snapshotId) != staged.parentId)
      throw CommitConflictException(
        s"staged ${staged.operation} $snapshotId planned against snapshot " +
          s"${staged.parentId.getOrElse(-1L)} but main moved to " +
          s"${mainSnap.map(_.snapshotId).getOrElse(-1L)} — re-run the operation")
    // a staged replacement publishes with the file and delete sets it
    // planned (main is verified unmoved above); a grafted append keeps
    // main's delete set (its entries' files are all still present in the
    // superset list). Grafted files take the publishing snapshot's id, as
    // Iceberg gives cherry-picked files the new sequence number: an
    // equality delete committed to main after staging must not mask them.
    val from = if (isReplace) Some(staged) else mainSnap
    val grafted = added.map(_.copy(addedSnapshotId = m.nextSnapshotId))
    m.withSnapshot(MainBranch, mainSnap, staged.operation,
      staged.summary ++ Map("published-wap-id" -> staged.summary.getOrElse("wap.id", ""),
        "source-snapshot-id" -> snapshotId.toString),
      if (isReplace) staged.files else mainSnap.map(_.files).getOrElse(Seq.empty) ++ grafted,
      deleteFiles = from.map(_.deleteFiles).getOrElse(Seq.empty),
      eqDeleteFiles = from.map(_.eqDeleteFiles).getOrElse(Seq.empty))
    }
  }

  // ---- maintenance (D19-D21) -------------------------------------------------

  /** Integrity audit (the operator's fsck, `CALL lake.system
    * .verify_table`): does every byte the CURRENT snapshot's metadata
    * references actually exist, with the size the metadata recorded?
    * Returns one row per problem — (kind, path, problem) — empty means
    * the snapshot is fully servable. Checks: data files, positional and
    * equality delete files (existence + exact size), deletion-vector
    * refs (bundle exists, byte range inside it), and — because every
    * metadata object is content-addressed — manifest chunks, manifest
    * lists, delete-manifests and bloom bundles are re-read and their
    * sha256/16 recomputed against the hash their NAME claims (r15:
    * truncation and bit-flips are reported, not just absence), plus the
    * version-file spine (v1 + a contiguous top range — retirement's
    * invariant).
    *
    * Scale shape: file existence/size checks fan out over executors
    * (one `getFileStatus` per referenced file, partitioned); metadata
    * checks are driver-side, O(retained snapshots + chunks). Read-only —
    * safe on a live table; a file a CONCURRENT expiry legitimately
    * removed can appear as a finding (re-run to confirm). */
  def verifyIntegrity(): DataFrame = {
    import org.apache.spark.sql.Row
    // An fsck must not die on the very corruption it exists to report: if
    // manifest inflation fails (corrupt/truncated chunk), fall back to the
    // UNRESOLVED root document — per-file checks then cover only what the
    // root itself carries, but the content-addressed metadata checks below
    // still pinpoint the damaged object, plus one finding for the failure.
    val (m0, resolveFailure) =
      try (meta, None)
      catch {
        case scala.util.control.NonFatal(e) =>
          (Meta.fromJson(metaStore.read(versionName(currentVersion))),
            Some(s"metadata resolve failed: ${e.getMessage}"))
      }
    val snap = m0.currentSnapshot
    // (kind, path, expected size or -1 = existence only, dv range or null)
    val fileChecks: Seq[(String, String, Long, Option[(String, Long, Int)])] =
      snap.toSeq.flatMap { s =>
        s.files.map(f => ("data", f.path, f.sizeBytes, None)) ++
          s.deleteFiles.flatMap { d =>
            ("delete", d.path, d.sizeBytes, None) +:
              d.vectors.toSeq.map { case (df, r) =>
                ("dv", df, -1L, Some((r.bundle, r.offset, r.len)))
              }
          } ++
          s.eqDeleteFiles.map(d => ("eq-delete", d.path, d.sizeBytes, None)) ++
          // DV bundles are content-addressed (`dv-<sha256/16>.bin` over the
          // concatenated bitmaps) — verify the BYTES against the name, not
          // just per-ref ranges: a bit-flipped bundle serves wrong masks at
          // the right length (r15). Deduped; hashed executor-side.
          s.deleteFiles.flatMap(_.vectors.values.map(_.bundle)).distinct
            .map(b => ("dv-bundle", b, -2L, None))
      }
    val conf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
    val bad = spark.sparkContext
      .parallelize(fileChecks, math.max(1, math.min(64, fileChecks.size)))
      .mapPartitions { it =>
        it.flatMap { case (kind, path, size, dv) =>
          try {
            dv match {
              case Some((bundle, off, len)) =>
                val bp = new org.apache.hadoop.fs.Path(bundle)
                val st = bp.getFileSystem(conf.value).getFileStatus(bp)
                if (off + len > st.getLen) Some((kind, path,
                  s"dv range $off+$len exceeds bundle $bundle (${st.getLen} B)"))
                else None
              case None if size == -2L =>
                // STREAM the digest over a fixed buffer: materializing the
                // whole bundle dies with NegativeArraySizeException past
                // 2 GiB (getLen.toInt wraps) — an fsck must not crash on
                // exactly the large inputs it exists to check
                val p = new org.apache.hadoop.fs.Path(path)
                val pfs = p.getFileSystem(conf.value)
                val md = java.security.MessageDigest.getInstance("SHA-256")
                val in = pfs.open(p)
                try {
                  val buf = new Array[Byte](1 << 20)
                  var n = in.read(buf)
                  while (n >= 0) {
                    if (n > 0) md.update(buf, 0, n)
                    n = in.read(buf)
                  }
                } finally in.close()
                val got = md.digest().take(8).map(b => f"$b%02x").mkString
                val want = p.getName.stripPrefix("dv-").stripSuffix(".bin")
                if (got != want) Some((kind, path,
                  s"content hash $got != addressed $want (corrupted bitmaps)"))
                else None
              case None =>
                val p = new org.apache.hadoop.fs.Path(path)
                val st = p.getFileSystem(conf.value).getFileStatus(p)
                if (size >= 0 && st.getLen != size) Some((kind, path,
                  s"size ${st.getLen} B != recorded $size B"))
                else None
            }
          } catch {
            case _: java.io.FileNotFoundException =>
              Some((kind, dv.map(_._1).getOrElse(path), "missing"))
            case e: Exception =>
              Some((kind, path, s"unreadable: ${e.getMessage}"))
          }
        }
      }.collect().toSeq
    // driver-side metadata checks. Every metadata object is
    // CONTENT-ADDRESSED (`<prefix>-<sha256/16>.json`), so integrity goes
    // beyond existence: re-read each body through the MetaStore seam
    // (wire mode included) and recompute the hash its name claims — a
    // truncated or bit-flipped chunk is reported precisely, not served.
    // Names are deduped first (consecutive snapshots share chunks), so
    // this is O(distinct retained objects) reads, not O(snapshots×chunks).
    val metaBad = Seq.newBuilder[(String, String, String)]
    def verifyAddressed(kind: String, name: String): Option[(String, String, String)] = {
      val hex = name.substring(name.lastIndexOf('-') + 1).stripSuffix(".json")
      try {
        val got = java.security.MessageDigest.getInstance("SHA-256")
          .digest(metaStore.read(name).getBytes(StandardCharsets.UTF_8))
          .take(8).map(b => f"$b%02x").mkString
        if (got != hex) Some((kind, name,
          s"content hash $got != addressed $hex (truncated or corrupted)"))
        else None
      } catch {
        case e: Exception =>
          Some((kind, name,
            if (!metaStore.exists(name)) "missing"
            else s"unreadable: ${e.getMessage}"))
      }
    }
    val addressed = scala.collection.mutable.LinkedHashSet[(String, String)]()
    m0.snapshots.foreach { s =>
      Option(s.manifests).getOrElse(Seq.empty)
        .foreach(n => addressed += (("manifest", n)))
      s.manifestList.foreach(n => addressed += (("manifest-list", n)))
      s.deleteManifest.foreach(n => addressed += (("delete-manifest", n)))
      // a large write records SEVERAL bundles, comma-separated — checking
      // the joined string as one name would report a false "missing"
      s.summary.get(BloomSkip.BundleSummaryKey).foreach(v =>
        v.split(",").filter(_.nonEmpty)
          .foreach(n => addressed += (("bloom-bundle", n))))
    }
    // the ANALYZE sketches object is referenced from the PROPERTY, not a
    // snapshot — one live object per table, hash-verified like the rest
    Analyze.of(m0).flatMap(_.sketchRef)
      .foreach(n => addressed += (("stats-sketches", n)))
    // Filesystem metastores fan the per-object hashing over executors
    // through the same RDD shape as the file checks — at 10× retained
    // chunks the driver would otherwise re-read every object serially.
    // Wire mode keeps the driver loop: the catalog service is the
    // metadata authority and executors hold no client to it. Raw-byte
    // hashing ≡ the seam's UTF-8 round trip for well-formed objects, and
    // a corrupt object mismatches its address either way.
    val addressedSeq = addressed.toSeq
    metaStore match {
      case _: FsMetaStore if addressedSeq.nonEmpty =>
        val loc = location
        metaBad ++= spark.sparkContext
          .parallelize(addressedSeq,
            math.max(1, math.min(64, addressedSeq.size)))
          .mapPartitions { it =>
            it.flatMap { case (kind, name) =>
              val hex = name.substring(name.lastIndexOf('-') + 1)
                .stripSuffix(".json")
              val p = new org.apache.hadoop.fs.Path(s"$loc/metadata/$name")
              try {
                val pfs = p.getFileSystem(conf.value)
                val md = java.security.MessageDigest.getInstance("SHA-256")
                val in = pfs.open(p)
                try {
                  val buf = new Array[Byte](1 << 20)
                  var n = in.read(buf)
                  while (n >= 0) {
                    if (n > 0) md.update(buf, 0, n)
                    n = in.read(buf)
                  }
                } finally in.close()
                val got = md.digest().take(8).map(b => f"$b%02x").mkString
                if (got != hex) Some((kind, name,
                  s"content hash $got != addressed $hex (truncated or corrupted)"))
                else None
              } catch {
                case _: java.io.FileNotFoundException =>
                  Some((kind, name, "missing"))
                case e: Exception =>
                  Some((kind, name, s"unreadable: ${e.getMessage}"))
              }
            }
          }.collect()
      case _ =>
        addressedSeq.foreach { case (kind, n) =>
          verifyAddressed(kind, n).foreach(metaBad += _) }
    }
    resolveFailure.foreach(msg =>
      metaBad += (("metadata", versionName(m0.version), msg)))
    // version spine: v1 always; retained versions form one contiguous
    // top range (retirement deletes upward from a persisted marker —
    // currentVersion's zero-listing invariant)
    if (!metaStore.exists("v1.json")) metaBad += (("version", "v1.json", "missing"))
    val vs = metaStore.list().map(_._1)
      .flatMap(n => "^v(\\d+)\\.json$".r.findFirstMatchIn(n).map(_.group(1).toInt))
      .sorted
    val top = vs.filter(_ > 1)
    if (top.nonEmpty && top.last - top.head + 1 != top.size)
      metaBad += (("version", s"v${top.head}..v${top.last}",
        "retained versions above v1 are not contiguous"))
    val rows = (bad ++ metaBad.result()).map { case (k, p, w) => Row(k, p, w) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("problem",
          org.apache.spark.sql.types.StringType))))
  }

  /** Row-level TTL retention sweep (the Cassandra/Bigtable TTL shape, at
    * lake-table granularity): rows whose `graft.ttl.column` epoch value
    * is older than `graft.ttl.ms` expire. Two modes
    * (`graft.ttl.mode`):
    *
    *   - `files` (default, the 100 TB mode): drop ONLY whole data files
    *     whose decoded MAX stat proves every row is expired — one
    *     metadata-only commit, zero bytes read or written at any table
    *     size. Rows straddling a file with younger rows persist until
    *     their whole file ages out (or compaction re-clusters them) —
    *     the standard file-granular TTL trade-off, stated honestly. A
    *     time-clustered layout (ingest-ordered appends, or
    *     `write.sort-order` on the ttl column) makes the lag one file's
    *     time span.
    *   - `exact`: a real `DELETE WHERE ttl_col < cutoff` through the
    *     configured delete mode (CoW rewrite or merge-on-read mask) —
    *     exact at the cost of touching straddling files.
    *
    * `graft.ttl.unit` (s|ms|us|ns, default ms) maps wall-clock to the
    * column's epoch units (the `events.ts` convention is ns). Runs on
    * the ingest cadence via [[autoMaintain]] when the properties are
    * set; returns true iff a commit landed (false = nothing expired —
    * the sweep is one in-memory stats pass, safe at any cadence). */
  def ttlExpire(nowMs: Long = System.currentTimeMillis()): Boolean = {
    val m0 = meta
    val props = m0.properties
    val spec = for {
      cn <- props.get("graft.ttl.column")
      ttl <- props.get("graft.ttl.ms").flatMap(_.toLongOption)
    } yield (cn, ttl)
    if (spec.isEmpty) return false
    val (cn, ttl) = spec.get
    val cutoff = props.getOrElse("graft.ttl.unit", "ms") match {
      case "s" => (nowMs - ttl) / 1000L
      case "ms" => nowMs - ttl
      case "us" => (nowMs - ttl) * 1000L
      case "ns" => (nowMs - ttl) * 1000000L
      case u => throw new IllegalArgumentException(
        s"graft.ttl.unit must be s|ms|us|ns (got $u)")
    }
    if (props.getOrElse("graft.ttl.mode", "files") == "exact") {
      // Piggyback the files-mode stats pass before paying for a DELETE:
      // an expired row can only live in a file whose decoded MIN stat is
      // below the cutoff, so when no file's is, this tick is a NO-OP —
      // zero commits, zero scans (r15; without this a hot table on the
      // autoMaintain cadence paid a CoW rewrite-sized DELETE plan per
      // tick even when nothing could have expired yet). Equality-delete
      // masks don't undermine the skip: masks only HIDE rows, they never
      // age one below a file's recorded minimum.
      val snap0 = m0.currentSnapshot.getOrElse(return false)
      val pred = Pruning.translate(col(cn) < lit(cutoff))
      if (!snap0.files.exists(f => Pruning.mayMatch(pred, fileBounds(m0, f))))
        return false
      val v0 = m0.version
      delete(col(cn) < lit(cutoff), extraSummary = Map(
        "ttl-cutoff" -> cutoff.toString, "ttl-mode" -> "exact"))
      return meta.version != v0
    }
    val snap = m0.currentSnapshot.getOrElse(return false)
    val p = Pruning.translate(col(cn) < lit(cutoff))
    val (drop, keep) = snap.files.partition(f =>
      Pruning.allMatch(p, fileBounds(m0, f)))
    if (drop.isEmpty) return false
    commitReplace(MainBranch, keep, "ttl-expire", Map(
      "deleted-data-files" -> drop.size.toString,
      "deleted-records" -> drop.map(_.rowCount).sum.toString,
      "ttl-cutoff" -> cutoff.toString,
      "metadata-only" -> "true"), base = Some(snap))
    true
  }

  /** Every path a REGISTERED CLONE of this table still references
    * (union over all retained snapshots of each live clone) — physical
    * deletion in [[expireSnapshots]] / [[removeOrphanFiles]] must spare
    * these even when this table's own metadata no longer references
    * them. FAILS CLOSED: a registered clone whose metadata exists but
    * cannot be read aborts the caller (deleting on a read failure would
    * be silent data loss in ANOTHER table); a clone whose v1.json is
    * gone was dropped and is skipped. Scheme-less paths, matching the
    * callers' comparison convention. */
  private def cloneLivePaths(m: TableMeta): Set[String] =
    Links.of(m.properties, LakeCatalog.CloneLocationsKey)
      .flatMap { loc =>
        val c = sibling(loc)
        if (!c.metaStore.exists("v1.json")) Set.empty[String]
        else c.meta.referencedFiles
      }
      .map(p => new Path(p).toUri.getPath).toSet

  /** CALL expire_snapshots (D19): drop snapshots older than `olderThanMs`
    * (keeping ref targets and the newest `retainLast`), then delete data
    * files no surviving snapshot references. */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): TableMeta = {
    val m0 = meta
    val before = m0.referencedFiles
    val beforeChunks = m0.referencedMetadata
    val m2 = commit { m =>
      val refTargets = m.refs.values.map(_.snapshotId).toSet
      val newest = m.snapshots.filter(!_.staged).sortBy(s => (s.timestampMs, s.snapshotId))
        .takeRight(math.max(retainLast, 1)).map(_.snapshotId).toSet
      val keep = m.snapshots.filter(s =>
        refTargets.contains(s.snapshotId) || newest.contains(s.snapshotId) ||
          s.timestampMs >= olderThanMs)
      // harvest publish markers off the snapshots being dropped into the
      // expiry-proof properties: cherrypick idempotence and the duplicate-
      // WAP guard rely on summaries while snapshots live, and on these
      // CSV properties (holding ONLY expiry-orphaned ids) after
      val keepIds = keep.map(_.snapshotId).toSet
      val dropped = m.snapshots.filterNot(s => keepIds.contains(s.snapshotId))
      def harvested(prop: String, summaryKey: String): Option[(String, String)] = {
        val prior = m.properties.getOrElse(prop, "")
          .split(",").filter(_.nonEmpty).toSet
        val all = prior ++ dropped.flatMap(_.summary.get(summaryKey)).filter(_.nonEmpty)
        if (all == prior) None else Some(prop -> all.toSeq.sorted.mkString(","))
      }
      // prune history entries of expired snapshots too (Iceberg's expire
      // trims the snapshot log): history otherwise grows without bound and
      // dominates the root document — at 10^3 commits it was 100 KB of
      // the 135 KB root in the metadata scale probe
      m.copy(snapshots = keep,
        history = m.history.filter(h => keepIds.contains(h.snapshotId)),
        properties = m.properties ++
        harvested("graft.published-source-snapshot-ids", "source-snapshot-id") ++
        harvested("graft.published-wap-ids", "published-wap-id"))
    }
    val live = m2.referencedFiles
    // physical deletion stays INSIDE the table's own directory: files
    // registered in place by add_files live in foreign directories the
    // table references but does not own — expiring the snapshots that
    // referenced them must never reach into the source dir (the data-loss
    // footgun Iceberg's add_files docs warn about, closed here)
    val owned = new Path(location).toUri.getPath + "/"
    // registered clones still reference bytes in THIS directory even
    // after this table's snapshots stop doing so — spare them (fails
    // closed if a clone's metadata is unreadable, see cloneLivePaths)
    val cloneLive = cloneLivePaths(m2)
    (before -- live).foreach { p =>
      val raw = new Path(p).toUri.getPath
      if (raw.startsWith(owned) && !cloneLive.contains(raw))
        fs.delete(new Path(p), false)
    }
    // Manifest chunks are SHARED across snapshots (that's the point), so a
    // chunk is reclaimable only when no SURVIVING snapshot references it.
    (beforeChunks -- m2.referencedMetadata).foreach(n =>
      metaStore.delete(n))
    m2
  }

  /** CALL rewrite_data_files (D20): compact to ~targetSizeBytes files; new
    * `replace` snapshot, logical content unchanged (Table Maintenance c9).
    *
    * `sortBy`: sort-clustered compaction — range-partition then sort each
    * output file by the given columns, so footer min/max bounds become
    * tight, disjoint ranges and point/range queries prune to a handful of
    * files. At 100 TB this is what turns compaction from a small-files fix
    * into a scan accelerator (the Iceberg `sort_order` rewrite).
    *
    * `zorderBy`: multi-dimensional clustering — rows are ordered by an
    * interleaved-bits Morton key over the given columns, so range queries
    * on ANY participating column prune, not just the leading sort column
    * (graft.functions.ZOrder). Mutually exclusive with `sortBy`. */
  def rewriteDataFiles(targetSizeBytes: Long = 512L * 1024 * 1024,
                       sortBy: Seq[String] = Seq.empty,
                       zorderBy: Seq[String] = Seq.empty,
                       where: Option[Column] = None): TableMeta = {
    require(sortBy.isEmpty || zorderBy.isEmpty, "sortBy and zorderBy are exclusive")
    where.foreach(w => return rewriteWhere(targetSizeBytes, sortBy, zorderBy, w))
    val m0 = meta
    val branch = resolveWriteBranch(None)
    val baseSnap = m0.branchHead(branch)
    val files = baseSnap.map(_.files).getOrElse(Seq.empty)
    if (files.isEmpty) return m0
    // live read: compaction APPLIES merge-on-read position deletes — the
    // rewritten files carry only surviving rows, and commitReplace's
    // liveness pruning then retires every delete entry of the old files
    val rewritten = writeClustered(m0, baseSnap, files, targetSizeBytes, sortBy, zorderBy)
    commitReplace(branch, rewritten, "replace", Map(
      "rewritten-data-files" -> files.size.toString,
      "added-data-files" -> rewritten.size.toString) ++
      (if (sortBy.nonEmpty) Map("sort-order" -> sortBy.mkString(",")) else Map.empty) ++
      (if (zorderBy.nonEmpty) Map("zorder" -> zorderBy.mkString(",")) else Map.empty),
      base = baseSnap)
  }

  /** Rewrite the live rows of `files` into ~`targetSizeBytes` outputs
    * (the shared layout of full and predicate-scoped compaction):
    * range-partitioned and sorted by the Morton key of `zorderBy` or by
    * `sortBy`, else evenly repartitioned. */
  private def writeClustered(m0: TableMeta, snap: Option[Snapshot], files: Seq[DataFile],
                             targetSizeBytes: Long, sortBy: Seq[String],
                             zorderBy: Seq[String]): Seq[DataFile] = {
    val n = math.max(1, math.ceil(files.map(_.sizeBytes).sum.toDouble / targetSizeBytes).toInt)
    val base = dataFrameForLive(m0, snap, files)
    val df =
      if (zorderBy.nonEmpty) {
        zorderBy.foreach(c => require(m0.schema.byName(c).isDefined, s"no column $c"))
        val zk = graft.functions.ZOrder.zorderKey(base, zorderBy)
        base.withColumn("_zk", zk)
          .repartitionByRange(n, col("_zk"))
          .sortWithinPartitions(col("_zk"))
          .drop("_zk")
      } else if (sortBy.nonEmpty) {
        sortBy.foreach(c => require(m0.schema.byName(c).isDefined, s"no column $c"))
        val cols = sortBy.map(col)
        base.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
      } else base.repartition(n)
    // sort-clustered rewrites must keep the row order INSIDE each written
    // file (see writeDataFiles scaladoc) — pass the sort columns through
    writeDataFiles(toPhysical(df, m0.schema), m0,
      sortWithinPhysical = sortBy.flatMap(c => m0.schema.byName(c).map(_.physicalName)))
  }

  /** Whether a file carries a merge-on-read mask under `snap`: positional
    * entries reference it, or a live equality delete masks it. */
  private def carriesMask(snap: Option[Snapshot]): DataFile => Boolean = {
    val posRef = snap.map(_.deleteFiles.flatMap(_.counts.keys).toSet).getOrElse(Set.empty[String])
    val eqDels = snap.map(_.eqDeleteFiles).getOrElse(Seq.empty)
    f => posRef.contains(fileName(f.path)) || eqDels.exists(_.masks(f))
  }

  /** Commit a compaction that replaced the mask-free files `selected` of
    * `branch`'s head by `rewritten`: a subset swap. Untouched files keep
    * their entries (and `addedSnapshotId`, so equality-delete ordering is
    * unaffected) and concurrent appends are kept; a concurrent commit that
    * removed or masked a selected input aborts with
    * [[CommitConflictException]] (`label` names the operation). */
  private def commitSubsetSwap(label: String, branch: String, selected: Seq[DataFile],
                               rewritten: Seq[DataFile],
                               summary: Map[String, String]): TableMeta = {
    val selectedPaths = selected.map(_.path).toSet
    commit { m =>
      val parent = m.branchHead(branch).getOrElse(
        throw CommitConflictException(s"$label: table emptied concurrently — re-plan"))
      if (!selectedPaths.subsetOf(parent.files.map(_.path).toSet))
        throw CommitConflictException(
          s"$label: a concurrent commit removed an input file — re-plan and retry")
      if (selected.exists(carriesMask(Some(parent))))
        throw CommitConflictException(
          s"$label: a concurrent merge-on-read delete masked an input file — " +
            "re-plan and retry")
      m.withSnapshot(branch, Some(parent), "replace", summary,
        parent.files.filterNot(f => selectedPaths.contains(f.path)) ++
          rewritten.map(_.copy(addedSnapshotId = m.nextSnapshotId)),
        deleteFiles = parent.deleteFiles, eqDeleteFiles = parent.eqDeleteFiles)
    }
  }

  /** Predicate-scoped rewrite (Iceberg's `rewrite_data_files(where)`,
    * r16): re-cluster/compact ONLY the files whose stats/partitions/bloom
    * say they MAY hold rows matching `where`, leaving every other file
    * byte-untouched — at 100 TB, "re-sort last week's partition" must
    * cost O(slice bytes), never O(table bytes). File granularity: a
    * selected file is rewritten WHOLE (its non-matching rows travel into
    * the new files), so the table's logical content is provably unchanged
    * whatever the predicate — the selection is the same sound
    * over-approximation scans prune with ([[pruneFiles]]).
    *
    * Files carrying merge-on-read masks are EXCLUDED, like binpack: a
    * subset swap must not apply masks (retiring a delete entry that also
    * covers kept files would corrupt the remaining mask accounting) —
    * run `rewrite_position_deletes` first to fold masks, then scope-
    * rewrite. Commits like binpack ([[commitSubsetSwap]]). */
  private def rewriteWhere(targetSizeBytes: Long, sortBy: Seq[String],
                           zorderBy: Seq[String], where: Column): TableMeta = {
    val m0 = meta
    val branch = resolveWriteBranch(None)
    val baseSnap = m0.branchHead(branch)
    val files = baseSnap.map(_.files).getOrElse(Seq.empty)
    if (files.isEmpty) return m0
    val masked = carriesMask(baseSnap)
    val selected = pruneFiles(m0, files, Pruning.translate(where)).filterNot(masked)
    if (selected.isEmpty) return m0
    val rewritten = writeClustered(m0, baseSnap, selected, targetSizeBytes, sortBy, zorderBy)
    commitSubsetSwap("rewrite(where)", branch, selected, rewritten, Map(
      "where-rewritten-files" -> selected.size.toString,
      "where-rewritten-bytes" -> selected.map(_.sizeBytes).sum.toString,
      "added-data-files" -> rewritten.size.toString) ++
      (if (sortBy.nonEmpty) Map("sort-order" -> sortBy.mkString(",")) else Map.empty) ++
      (if (zorderBy.nonEmpty) Map("zorder" -> zorderBy.mkString(",")) else Map.empty))
  }

  /** Selective bin-pack compaction (Iceberg's `rewrite_data_files`
    * `strategy => 'binpack'`): merge ONLY small files into ~target-size
    * outputs and leave everything else byte-untouched. [[rewriteDataFiles]]
    * rewrites the whole table — right for re-clustering, wrong for routine
    * small-files maintenance at 100 TB, where streaming ingest adds a few
    * small files per partition per trigger and the fix must cost
    * O(small-file bytes), never O(table bytes).
    *
    * Selection: files under `minInputSizeBytes` (default ¾ of target —
    * Iceberg's min-file-size-bytes default), grouped by partition tuple;
    * a partition contributes only if it has ≥ `minInputFiles` candidates
    * (compacting one file buys nothing). Files carrying merge-on-read
    * masks (positional entries, or older than a live equality delete) are
    * EXCLUDED — folding masks is [[rewritePositionDeletes]]' job, and
    * excluding them keeps this commit a pure file-set swap whose logical
    * content provably doesn't change (the changelog emits nothing).
    *
    * Commit: a subset swap ([[commitSubsetSwap]]) — wrap in
    * [[LakeTable.withConflictRetry]] to re-plan on its conflict. */
  def binPack(targetSizeBytes: Long = 512L * 1024 * 1024,
              minInputSizeBytes: Long = -1L,
              minInputFiles: Int = 2,
              partitionFilter: Map[String, String] = Map.empty,
              sortBy: Seq[String] = Seq.empty): TableMeta = {
    val minInput =
      if (minInputSizeBytes > 0) minInputSizeBytes else targetSizeBytes * 3 / 4
    val m0 = meta
    val branch = resolveWriteBranch(None)
    val baseSnap = m0.branchHead(branch)
    val masked = carriesMask(baseSnap)
    // partitionFilter is keyed by the LOGICAL partition source column
    // (user-facing); file partitionValues are keyed by the spec field's
    // physical name — translate, rejecting columns that aren't partitioned
    val physFilter = partitionFilter.map { case (k, v) =>
      val pf = m0.spec.fields.find(f => m0.schema.byId(f.sourceId).exists(_.name == k))
        .getOrElse(throw new IllegalArgumentException(
          s"binpack where-column '$k' is not a partition source column"))
      pf.physicalName -> v
    }
    val groups = baseSnap.map(_.files).getOrElse(Seq.empty)
      .filter(f => f.sizeBytes < minInput && !masked(f) &&
        physFilter.forall { case (k, v) => f.partitionValues.get(k).contains(v) })
      .groupBy(_.partitionValues).filter(_._2.size >= minInputFiles)
    val selected = groups.values.flatten.toSeq
    if (selected.isEmpty) return m0
    // one output task per ~targetSizeBytes of selected input, summed per
    // partition group; range-partitioning on the partition SOURCE columns
    // keeps each task inside (or nearly inside) one partition value, so
    // the dynamic-partition writer emits ~one target-size file per task
    val nOut = groups.values.map(g =>
      math.max(1, math.ceil(g.map(_.sizeBytes).sum.toDouble / targetSizeBytes).toInt)).sum
    val base = dataFrameForLive(m0, baseSnap, selected)
    val srcCols = m0.spec.fields.flatMap(f => m0.schema.byId(f.sourceId)).map(c => col(c.name))
    val df = if (srcCols.nonEmpty) base.repartitionByRange(nOut, srcCols: _*)
             else base.repartition(nOut)
    // sortBy: keep a sort-clustered table CLUSTERED through compaction —
    // packed outputs are sorted within each written file (same contract
    // as rewriteDataFiles(sortBy)), so footer min/max bounds stay tight
    // and the table's point/range pruning doesn't regress as maintenance
    // runs. Note the clustering is per-packed-file, not across the
    // partition's pre-existing big files — a periodic full sort rewrite
    // still owns global re-clustering.
    sortBy.foreach(c => require(m0.schema.byName(c).isDefined, s"no column $c"))
    val sortPhysical = sortBy.flatMap(c => m0.schema.byName(c).map(_.physicalName))
    val rewritten = writeDataFiles(toPhysical(df, m0.schema), m0, filePrefix = "bp",
      sortWithinPhysical = sortPhysical)
    commitSubsetSwap("binpack", branch, selected, rewritten, Map(
      "binpack-rewritten-files" -> selected.size.toString,
      "binpack-rewritten-bytes" -> selected.map(_.sizeBytes).sum.toString,
      "added-data-files" -> rewritten.size.toString))
  }

  /** Opportunistic maintenance for continuously-ingested tables: run
    * [[binPack]] iff at least `everyCommits` commits have landed since
    * the last binpack (or table start). Cheap to call after every
    * streaming micro-batch — the due-check is a metadata walk bounded by
    * `everyCommits`, and the binpack itself costs O(small-file bytes).
    * This is what keeps a `foreachBatch`-ingested corpus from
    * accumulating one file per trigger forever: commits monotonically
    * outpace compactions, so the LIVE file count stays bounded by
    * everyCommits + big-file count while every snapshot stays readable.
    * Conflict-safe vs the ingest itself (concurrent appends reconcile;
    * retried on conflict). Returns whether a compaction ran. */
  def autoCompact(everyCommits: Int = 10,
                  targetSizeBytes: Long = 512L * 1024 * 1024,
                  partitionFilter: Map[String, String] = Map.empty,
                  sortBy: Seq[String] = Seq.empty): Boolean = {
    require(everyCommits > 0, "everyCommits must be positive")
    val m = meta
    val due = m.ancestry(m.currentSnapshot)
      .takeWhile(!_.summary.contains("binpack-rewritten-files"))
      .take(everyCommits).size >= everyCommits
    if (due) {
      val before = m.currentSnapshot.map(_.snapshotId)
      val after = LakeTable.withConflictRetry() {
        binPack(targetSizeBytes, partitionFilter = partitionFilter, sortBy = sortBy)
      }
      after.currentSnapshot.map(_.snapshotId) != before
    } else false
  }

  /** Full ingest-cadence maintenance: [[autoCompact]] (small-file binpack
    * every `everyCommits` commits) PLUS merge-on-read delete-mask upkeep,
    * so a sustained CDC upsert stream needs NO manual CALLs to stay
    * readable at full speed. Cheap to call after every micro-batch:
    *   - live equality-delete files ≥ `maxEqDeleteFiles` →
    *     [[convertEqualityDeletes]] (each upsert batch adds one eq-delete
    *     file, and the read plan fans out one scan branch per distinct
    *     addedAt class — unbounded ingest would otherwise accrete
    *     unboundedly many mask classes; converting folds them into ONE
    *     positional mask at O(masked-candidate-scan) cost, writing KBs);
    *   - positional delete files ≥ `maxDeleteFiles` →
    *     [[rewriteDeleteFiles]] (metadata + one KB-scale write).
    * The thresholds are checked on in-memory metadata (free), so a pass
    * with nothing due runs no Spark job. Plan shape of a due conversion:
    * one masked scan filtered by the deletes' driver-held keys, counted
    * per file (two jobs), then the positional-delete write and its
    * deletion-vector build — four jobs over four CDC batches' equality
    * deletes (JobCountSpec). After a
    * call the read plan carries ≤ maxEqDeleteFiles equality branches and
    * ≤ 1 positional anti-join — bounded regardless of stream length
    * (MaintenanceSpec drives 50 batches; probe in SCALEPROBE.md).
    * Conflict-retried against the concurrent ingest itself. Returns
    * whether any maintenance commit landed. */
  def autoMaintain(everyCommits: Int = -1,
                   targetSizeBytes: Long = -1L,
                   maxEqDeleteFiles: Int = -1,
                   maxDeleteFiles: Int = -1,
                   partitionFilter: Map[String, String] = Map.empty,
                   sortBy: Seq[String] = Seq.empty): Boolean = {
    // non-positive arguments resolve from table properties (the policy
    // then travels WITH the table, readable by any engine/session and
    // settable from plain SQL TBLPROPERTIES), falling back to defaults
    val props = meta.properties
    def intP(v: Int, key: String, dflt: Int): Int =
      if (v > 0) v else props.get(key).flatMap(_.toIntOption).filter(_ > 0).getOrElse(dflt)
    val every = intP(everyCommits, "graft.maintenance.every-commits", 10)
    val target =
      if (targetSizeBytes > 0) targetSizeBytes
      else props.get("graft.maintenance.target-file-size-bytes")
        .flatMap(_.toLongOption).filter(_ > 0).getOrElse(512L * 1024 * 1024)
    val maxEq = intP(maxEqDeleteFiles, "graft.maintenance.max-eq-delete-files", 4)
    val maxPos = intP(maxDeleteFiles, "graft.maintenance.max-delete-files", 8)
    var did = false
    // row-level TTL retention rides the same cadence — one in-memory
    // stats pass when idle, one metadata-only commit when files aged out
    if (props.contains("graft.ttl.column")) {
      LakeTable.withConflictRetry() { did |= ttlExpire() }
    }
    if (meta.currentSnapshot.exists(_.eqDeleteFiles.size >= maxEq)) {
      val v0 = meta.version
      LakeTable.withConflictRetry() { convertEqualityDeletes() }
      did |= meta.version != v0
    }
    if (meta.currentSnapshot.exists(_.deleteFiles.size >= maxPos)) {
      val v0 = meta.version
      LakeTable.withConflictRetry() { rewriteDeleteFiles() }
      did |= meta.version != v0
    }
    // snapshot-count bound (graft.maintenance.expire.keep-last): without
    // it a continuously-ingested table accretes one snapshot per commit
    // forever, and EVERY version document carries the whole list — the
    // metadata itself becomes the unbounded cost at a 5 s trigger. Opt-in:
    // expiry trades time-travel depth (and changelog/bloom coverage older
    // than the window) for bounded metadata; branch/tag targets and the
    // newest K always survive (expireSnapshots' own rules).
    props.get("graft.maintenance.expire.keep-last").flatMap(_.toIntOption)
      .filter(_ > 0).foreach { k =>
        // 25% slack amortizes the expiry commit: at exactly `> k` every
        // append would trip it (count k+1 → expire → k → repeat), doubling
        // the stream's commit rate; with slack the bound is k+slack and
        // expiry runs once per `slack` commits
        val slack = math.max(k / 4, 2)
        // floor the retention at the oldest registered SIBLING watermark
        // (materialized views + vector/text indexes on this table): the
        // auto-pipeline must not strand the refresh watermarks of the
        // views/indexes it is itself keeping fresh. Capped (default 4×k,
        // `graft.maintenance.expire.watermark-floor-cap`) so a
        // permanently-stuck sibling cannot grow metadata without bound —
        // past the cap the strand is ALLOWED, and the refresh paths
        // recover (indexes self-heal with a full-window recompute; views
        // fail actionably naming rebuild()).
        val cap = math.max(k, props.get("graft.maintenance.expire.watermark-floor-cap")
          .flatMap(_.toIntOption).getOrElse(k * 4))
        val retain = math.min(math.max(k, siblingWatermarkFloor().getOrElse(0)), cap)
        if (meta.snapshots.count(!_.staged) > retain + slack) {
          val v0 = meta.version
          LakeTable.withConflictRetry() {
            expireSnapshots(System.currentTimeMillis() + 1, retainLast = retain)
          }
          did |= meta.version != v0
        }
      }
    did |= autoCompact(every, target, partitionFilter, sortBy)
    // column-stats freshness rides the same cadence (graft.analyze.auto),
    // LAST so the tick leaves stats fresh over whatever the tiers above
    // committed: fresh stats are a no-op (zero jobs, zero commits), a
    // content-preserving maintenance chain (compaction, delete-file
    // rewrites) RESTAMPS without scanning, pure appends pay one
    // churn-sized pass + HLL union, anything else a full re-analyze
    if (props.get(Analyze.AutoKey).contains("true")) {
      val v0 = meta.version
      LakeTable.withConflictRetry() { Analyze.incremental(this); () }
      did |= meta.version != v0
    }
    did
  }

  /** Snapshot-retention floor implied by registered sibling refresh
    * watermarks: how many of THIS table's newest snapshots must survive
    * expiry so the OLDEST registered MV/vector-index/text-index watermark
    * stays a retained ancestor (their incremental refresh resumes from
    * it). None when nothing is registered, no watermark resolves, or a
    * recorded watermark is already gone (no floor can save it). Resolution
    * is best-effort per sibling — a dropped/unreachable state table never
    * blocks maintenance. Metadata-only. */
  private def siblingWatermarkFloor(): Option[Int] = {
    val m0 = meta
    def wmsAt(routingKey: String, pinKey: String): Seq[Long] =
      Links.of(m0.properties, routingKey).flatMap { loc =>
        try sibling(loc).meta.latestSummary(pinKey).flatMap(_.toLongOption)
        catch { case scala.util.control.NonFatal(_) => None }
      }
    val wms = wmsAt(MaterializedAgg.ViewsKey, MaterializedAgg.WatermarkKey) ++
      wmsAt(graft.operators.VectorIndex.IndexesKey,
        graft.operators.VectorIndex.WatermarkKey) ++
      // the text index's docs watermark is always ≥ its postings
      // watermark, so flooring at the postings pin covers both tables
      wmsAt(graft.operators.TextIndex.IndexesKey,
        graft.operators.TextIndex.WatermarkKey)
    if (wms.isEmpty) return None
    val ordered = m0.snapshots.filter(!_.staged)
      .sortBy(s => (s.timestampMs, s.snapshotId)).map(_.snapshotId)
    wms.flatMap { wm =>
      val i = ordered.indexOf(wm)
      if (i < 0) None else Some(ordered.size - i)
    }.maxOption
  }

  /** CALL rewrite_position_deletes: fold merge-on-read delete entries back
    * into their data files — ONLY files carrying delete entries are
    * rewritten (read under the mask, re-written without the dead rows);
    * untouched files stay byte-identical. The new `replace` snapshot has an
    * empty delete set, restoring exact footer stats (MIN/MAX fast path) and
    * per-scan join-free reads. Iceberg's procedure of the same name; run it
    * when deleted-position count or delete-file count crosses a threshold.
    * Logical content unchanged, so the changelog emits nothing for it. */
  def rewritePositionDeletes(): TableMeta = {
    val m0 = meta
    val branch = resolveWriteBranch(None)
    val baseSnap = m0.branchHead(branch)
    val dels = baseSnap.map(_.deleteFiles).getOrElse(Seq.empty)
    val eqDels = baseSnap.map(_.eqDeleteFiles).getOrElse(Seq.empty)
    if (dels.isEmpty && eqDels.isEmpty) return m0
    val files = baseSnap.map(_.files).getOrElse(Seq.empty)
    val (affected, clean) = files.partition(carriesMask(baseSnap))
    val rewritten: Seq[DataFile] =
      if (affected.isEmpty) Seq.empty
      else writeDataFiles(
        toPhysical(dataFrameForLive(m0, baseSnap, affected), m0.schema), m0)
    commitReplace(branch, clean ++ rewritten, "replace", Map(
      "rewritten-data-files" -> affected.size.toString,
      "removed-delete-files" -> (dels.size + eqDels.size).toString,
      "applied-position-deletes" -> dels.map(_.rowCount).sum.toString,
      "applied-equality-delete-keys" -> eqDels.map(_.rowCount).sum.toString),
      base = baseSnap)
  }

  /** CALL convert_equality_deletes: the MINOR delete compaction — resolve
    * every live equality delete into concrete `(file, pos)` entries
    * (writes only the matched POSITIONS) and retire the equality set,
    * WITHOUT rewriting any data file. After it: the metadata-only
    * COUNT(*) is exact again (positional counts are), reads pay one
    * position anti-join instead of per-class key joins, and the
    * accumulated CDC masks stop growing. The cheap middle tier between
    * "live with the masks" and `rewrite_position_deletes`' full data
    * rewrite — at 100 TB it writes kilobytes where the full rewrite
    * re-copies every masked file.
    *
    * Plan shape: ONE scan of the candidate files under the positional
    * mask, each row tagged with its file's sequence number — a row dies
    * iff its key is held by a delete strictly newer than its file. Every
    * mask class rides the same plan. A key layout whose deletes hold at
    * most [[LakeTable.InScanMaskKeys]] keys is probed inside the scan
    * against its driver-held keys ([[InKeySet]]), all such layouts in one
    * filter, which lists a row once; a larger layout LEFT SEMI joins its
    * key files, broadcast once per layout, and a distinct runs only when
    * the result has more than one part. Over four CDC batches' deletes it
    * runs four Spark jobs: the per-file count (scan, result), the write
    * and the deletion-vector build (JobCountSpec). */
  def convertEqualityDeletes(): TableMeta = {
    val m0 = meta
    val branch = resolveWriteBranch(None)
    val baseSnap = m0.branchHead(branch)
    val eqDels = baseSnap.map(_.eqDeleteFiles).getOrElse(Seq.empty)
    if (eqDels.isEmpty) return m0
    val files = baseSnap.map(_.files).getOrElse(Seq.empty)
    val candidates = files.filter(f => eqDels.exists(_.masks(f)))
    val newDel =
      if (candidates.isEmpty) Seq.empty
      else writeDeleteFiles(equalityKilled(m0, baseSnap, candidates, eqDels))
    commit { m =>
      val parent = m.branchHead(branch)
      if (parent.map(_.snapshotId) != baseSnap.map(_.snapshotId))
        throw CommitConflictException(
          "convert_equality_deletes planned against a snapshot that moved — retry")
      m.withSnapshot(branch, parent, "replace", Map(
        "converted-equality-delete-files" -> eqDels.size.toString,
        "added-position-deletes" -> newDel.map(_.rowCount).sum.toString),
        files, deleteFiles = parent.map(_.deleteFiles).getOrElse(Seq.empty) ++ newDel)
    }
  }

  /** `(_gd_file, _gd_pos)` of the rows of `files` live under `snap`'s
    * positional mask that an applicable equality delete of `eqDels`
    * (`addedAt` > the file's `addedSnapshotId`) masks: exactly the
    * positions [[liveRows]] drops on top of [[maskPositions]]. */
  private def equalityKilled(m: TableMeta, snap: Option[Snapshot], files: Seq[DataFile],
                             eqDels: Seq[EqualityDeleteFile]): DataFrame = {
    val seqOf = typedLit(files.map(f => fileName(f.path) -> f.addedSnapshotId).toMap)
    val rows = maskPositions(m, snap, files, withMeta = true)
      .withColumn("_gd_seq", element_at(seqOf, col("_gd_file")))
    val layouts = eqDels.groupBy(_.keyIds).toSeq.map { case (keyIds, dels) =>
      val keyNames = keyIds.map(id => m.schema.byId(id).getOrElse(throw
        new IllegalStateException(
          s"equality-delete key column id $id not in schema")).name)
      (keyNames, dels, eqKeySet(m, keyIds, dels))
    }
    // few keys: a row dies iff a delete newer than its file holds its key
    // (the key's largest addedAt > _gd_seq), OR over layouts in ONE filter
    val probes = layouts.collect { case (keyNames, _, Some(keys)) =>
      InKeySet(col(keyNames.head), keys, afterSeq = Some(col("_gd_seq")))
    }
    val filtered = probes.reduceOption(_ || _).map(p =>
      rows.filter(p).select(col("_gd_file"), col("_gd_pos")))
    val joined = layouts.collect { case (keyNames, dels, None) =>
      val keys0 = eqDeleteKeysDf(m, dels, withAddedAt = true)
      val keys = if (dels.map(_.rowCount).sum <= 4L * 1000 * 1000) broadcast(keys0) else keys0
      // plain (null-rejecting) equality: a null-keyed row is never masked
      val cond = keyNames.map(n => rows(n) === keys(n)).reduce(_ && _) &&
        keys("_gd_eq_at") > rows("_gd_seq")
      rows.join(keys, cond, "left_semi").select(col("_gd_file"), col("_gd_pos"))
    }
    // a row matched by the filter and a join, or by two joins, is listed
    // once: only then is a distinct needed
    val parts = filtered.toSeq ++ joined
    if (parts.size == 1) parts.head else parts.reduce(_ union _).distinct()
  }

  /** CALL rewrite_delete_files: compact accumulated positional delete
    * files into the fewest target-size files (metadata + kilobyte-scale
    * writes, data files untouched; ONE file until the mask exceeds
    * `write.delete.target-records`) — the small-files problem exists for
    * delete files too when every point DELETE adds one. Logical content
    * unchanged. Over five point deletes' files it runs four Spark jobs:
    * the per-file count (scan, result), the write and the
    * deletion-vector build (JobCountSpec). */
  def rewriteDeleteFiles(): TableMeta = {
    val m0 = meta
    val branch = resolveWriteBranch(None)
    val baseSnap = m0.branchHead(branch)
    val dels = baseSnap.map(_.deleteFiles).getOrElse(Seq.empty)
    if (dels.size <= 1) return m0
    // prune to LIVE data files before merging: the raw parquet entries may
    // reference files later dropped/rewritten (pruneDeleteFiles already
    // removed their metadata counts) — merging them back would resurrect
    // dead counts into the new file's rowCount and break the "Σ counts is
    // exact over live files" invariant the metadata-only COUNT(*) fast
    // path and total-records depend on. The kept names are the live files
    // the delete files' counts name: a churn-sized set, probed inside the
    // scan, so no broadcast and no job of its own.
    val liveNames = baseSnap.map(_.files.map(f => fileName(f.path)).toSet)
      .getOrElse(Set.empty[String])
    val referenced = KeySet(dels.iterator.flatMap(_.counts.keys).filter(liveNames)
      .map(n => (UTF8String.fromString(n): AnyRef) -> 0L))
    val merged = writeDeleteFiles(
      deleteEntriesDf(dels).filter(InKeySet(col("_gd_file"), referenced)))
    commit { m =>
      val parent = m.branchHead(branch)
      if (parent.map(_.snapshotId) != baseSnap.map(_.snapshotId))
        throw CommitConflictException(
          "rewrite_delete_files planned against a snapshot that moved — retry")
      m.withSnapshot(branch, parent, "replace",
        Map("compacted-delete-files" -> dels.size.toString),
        parent.map(_.files).getOrElse(Seq.empty), deleteFiles = merged,
        eqDeleteFiles = parent.map(_.eqDeleteFiles).getOrElse(Seq.empty))
    }
  }

  /** CALL rewrite_manifests (D21): compact the current snapshot's manifest
    * chunks. Incremental commits fragment the chunk list — every append
    * adds a (possibly tiny) chunk, every delete splinters the chunks it
    * touched — and a fragmented list costs one filesystem read per chunk
    * at load. This rewrites the SAME file list as fresh, full-size chunks
    * (`graft.manifest.target-files` per chunk) in a new `rewrite-manifests`
    * snapshot: data files untouched, metadata-only, exactly Iceberg's
    * `rewrite_manifests` (ref: Table Maintenance notebook, §manifests).
    * Already-compact tables commit nothing (identity transform). */
  /** CALL rewrite_blooms: build manifest blooms for every CURRENT data
    * file not yet covered by a bundle — compaction/CoW output, imports,
    * files appended before the columns were declared (and files whose
    * coverage was lost to `expire_snapshots` retiring the snapshot whose
    * summary named their bundle — documented degradation: skipping falls
    * back to stats-only, never to wrong, until this runs). One distributed
    * aggregate over the uncovered files, one bundle object, one
    * file-identical snapshot recording it. No-op commit-free when
    * coverage is already complete. */
  def rewriteBlooms(): TableMeta = {
    val m0 = meta
    val cols = BloomSkip.declaredCols(m0)
    require(cols.nonEmpty,
      s"${m0.name}: declare ${BloomSkip.ColumnsKey} before rewrite_blooms")
    val snap0 = m0.currentSnapshot.getOrElse(return m0)
    val idx = BloomSkip.bundleIndex(metaStore, m0)
    def norm(p: String) = new Path(p).toUri.getPath
    val uncovered = snap0.files.filter { f =>
      val have = idx.getOrElse(norm(f.path), Map.empty)
      val schema = m0.schemas.find(_.schemaId == f.schemaId).getOrElse(m0.schema)
      // only demand coverage for columns this file HAS bytes for
      cols.exists(c => schema.byId(c.id).exists(!_.fromPath) &&
        !have.contains(BloomSkip.bloomKey(c)))
    }
    if (uncovered.isEmpty) return m0
    // bounded jobs: a 10^5-file backfill runs as a sequence of
    // FilesPerBundle-sized builds, never one giant driver collect
    val name = BloomSkip.buildBundleFor(spark, metaStore, m0, uncovered)
      .getOrElse(return m0)
    commit { m =>
      val branch = resolveWriteBranch(None)
      m.branchHead(branch) match {
        case None => m
        case Some(snap) =>
          m.withSnapshot(branch, Some(snap), "rewrite-blooms", Map(
            "bloom-files-covered" -> uncovered.size.toString,
            BloomSkip.BundleSummaryKey -> name),
            snap.files, deleteFiles = snap.deleteFiles, eqDeleteFiles = snap.eqDeleteFiles,
            manifests = snap.manifests)
      }
    }
  }

  def rewriteManifests(): TableMeta = commit { m =>
    val branch = resolveWriteBranch(None)
    m.branchHead(branch) match {
      case None => m
      case Some(snap) =>
        val (names, fresh) =
          Manifests.compactChunks(snap.files.toIndexedSeq, Manifests.targetFiles(m))
        if (names == snap.manifests) m // already compact — no-op commit
        else {
          Manifests.writeChunks(metaStore, fresh)
          m.withSnapshot(branch, Some(snap), "rewrite-manifests", Map(
            "manifests-replaced" -> snap.manifests.size.toString,
            "manifests-created" -> names.size.toString),
            snap.files, deleteFiles = snap.deleteFiles, eqDeleteFiles = snap.eqDeleteFiles,
            manifests = names)
        }
    }
  }

  /** CALL remove_orphan_files: delete data files on disk that no snapshot
    * references (crashed writes, interrupted compactions). Only files
    * older than `olderThanMs` are touched so in-flight writers that have
    * produced files but not yet committed are never raced. Returns the
    * deleted paths. */
  def removeOrphanFiles(olderThanMs: Long = System.currentTimeMillis() - 3600_000L,
                        dryRun: Boolean = false): Seq[String] = {
    // Compare scheme-less URI paths on both sides: fs.listFiles returns
    // qualified paths (file:/...) while DataFile.path is stored as written
    // (usually unqualified) — comparing raw strings would mark every live
    // file an orphan.
    val m = meta
    val referenced = m.referencedFiles.map(p => new Path(p).toUri.getPath)
    val orphans = scala.collection.mutable.ArrayBuffer[String]()
    // a registered clone's snapshots reference files in this directory
    // that THIS table's metadata may no longer know — never orphans
    val referencedByClones = cloneLivePaths(m)
    if (fs.exists(dataDir)) {
      // listStatus, not listFiles: LocatedFileStatus costs ~4 ms/file on
      // local filesystems (block locations + checksum stats) — an orphan
      // scan over 10^5 files must not pay it (r16, same fix as
      // FsMetaStore.list)
      fs.listStatus(dataDir).foreach { st =>
        val p = st.getPath.toUri.getPath
        if (st.isFile && !referenced.contains(p) &&
            !referencedByClones.contains(p) &&
            st.getModificationTime < olderThanMs) {
          if (dryRun) orphans += p
          else if (fs.delete(st.getPath, false)) orphans += p
        }
      }
    }
    // Manifest chunks/lists from lost commit races / crashed writers:
    // reclaim any that no snapshot of the CURRENT metadata references.
    // (Superseded version files may still name such chunks, but they are
    // write-protocol artifacts — only the latest version is ever resolved.)
    val liveChunks = m.referencedMetadata
    // bloom bundles live exactly as long as a snapshot summary names them
    val liveBundles = m.snapshots
      .flatMap(_.summary.get(BloomSkip.BundleSummaryKey))
      .flatMap(_.split(",")).filter(_.nonEmpty).toSet
    // the ANALYZE sketches object is live while the current property
    // references it; superseded ones (re-analyze moved the ref) age out
    val liveStats = Analyze.of(m).flatMap(_.sketchRef).toSet
    metaStore.list().foreach { case (name, modified) =>
      val deadChunk = name.startsWith("manifest-") && name.endsWith(".json") &&
        !liveChunks.contains(name)
      val deadBundle = name.startsWith("bloom-") && name.endsWith(".json") &&
        !liveBundles.contains(name)
      val deadStats = name.startsWith("stats-") && name.endsWith(".json") &&
        !liveStats.contains(name)
      if ((deadChunk || deadBundle || deadStats) && modified < olderThanMs) {
        if (!dryRun) metaStore.delete(name)
        orphans += s"${metaStore.id}/metadata/$name"
      }
    }
    orphans.toSeq
  }

  /** Incremental batch read: rows ADDED strictly after `fromSnapshotId`
    * up to and including `toSnapshotId` (default: current) — the batch
    * twin of Changelog.streamRead, same append-only contract. Newly-added
    * rows are identified by the `app-` file prefix, so rows inserted via
    * MERGE/streaming upserts (committed as "overwrite" snapshots with
    * app-prefixed insert files) ARE delivered, while CoW-rewrite output
    * (`rw-` survivors of DELETE/UPDATE/compaction) is never re-delivered;
    * appended rows later deleted by a rewrite still appear, as in
    * Iceberg's incremental scan. */
  def readIncremental(fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val m = meta
    require(m.snapshot(fromSnapshotId).isDefined, s"no snapshot $fromSnapshotId")
    val to = toSnapshotId.getOrElse(
      m.currentSnapshot.map(_.snapshotId).getOrElse(fromSnapshotId))
    readAddedBetween(Some(fromSnapshotId), to)
  }

  /** Rows ADDED on `toSnapshotId`'s ancestry strictly after
    * `fromSnapshotId` (None = since the table's beginning) — the shared
    * walk behind [[readIncremental]] and the snapshot-driven streaming
    * source. Walking parent links from a COMMITTED snapshot is what makes
    * the streaming read correct: staged WAP snapshots, side-branch
    * commits, and files whose commit failed are never on the walked
    * ancestry, so they are never delivered (unlike a data-directory
    * glob, which sees every file ever renamed in). */
  def readAddedBetween(fromSnapshotId: Option[Long], toSnapshotId: Long): DataFrame = {
    val m = meta
    require(m.snapshot(toSnapshotId).isDefined, s"no snapshot $toSnapshotId")
    // the app-* files each commit after `from` (or since the root) on
    // `to`'s ancestry added, newest commit first (append snapshots add
    // only those; overwrite snapshots also carry rw-* rewrite output,
    // which is not new data)
    val commits = m.commitsBetween(fromSnapshotId, toSnapshotId)
    require(commits.isDefined,
      s"snapshot ${fromSnapshotId.get} is not an ancestor of $toSnapshotId")
    dataFrameFor(m, commits.get.reverse.flatMap(s => m.commitDiff(s).added
      .filter(f => new Path(f.path).getName.startsWith("app-"))))
  }

  /** Row-level CDC changelog between two snapshots — the batch analog of
    * the reference's continuous changelog read (StreamRead.java:31-34
    * `toChangelogStream`; Iceberg's `create_changelog_view`): every row
    * added or removed on `toSnapshotId`'s ancestry after `fromSnapshotId`
    * (None = since the table's beginning), tagged with Iceberg's
    * `create_changelog_view` output contract: `_change_type` in
    * INSERT|DELETE|UPDATE_BEFORE|UPDATE_AFTER (uppercase — SQL ported
    * from Iceberg docs matches verbatim), `_change_ordinal` = the
    * commit's position within the requested range (0 = oldest), and
    * `_commit_snapshot_id` = the commit that caused the change.
    *
    * With no `identifierFields`, an UPDATE surfaces as its DELETE+INSERT
    * pair under the same snapshot id (Iceberg's representation when no
    * identifier fields are configured). With `identifierFields`, a key
    * deleted AND inserted within the same commit is re-tagged as the
    * UPDATE_BEFORE/UPDATE_AFTER pair (Iceberg's compute-updates mode);
    * the pairing joins run per commit over churn-sized diffs only.
    *
    * Scale shape: the diff is per COMMIT and file-set-pruned at the
    * metadata level — a commit's changes are computed from only the files
    * it added/removed (path set difference, no I/O for the table's
    * unchanged files), then row-diffed with exceptAll so CoW-rewrite
    * survivor rows cancel out. A DELETE touching 1 of 10 000 files reads
    * 2 files (removed + its rewrite), not the table: changelog cost is
    * proportional to churn, never table size. The plan unions one diff
    * per commit in the range — for a backfill over thousands of commits,
    * consume in snapshot windows (or via the streaming source, which
    * batches per trigger) rather than one giant range. */
  /** True iff `fromSnapshotId` is on the RETAINED parent ancestry of
    * `toSnapshotId` — the precondition of [[changelog]]. Turns false when
    * the snapshot was dropped by expire_snapshots or left main via a
    * rollback; the MV/index refresh paths probe this BEFORE the
    * changelog's bare require fires, so a retention-stranded watermark
    * self-heals (indexes: full-window recompute) or fails actionably
    * (views: an error naming rebuild()) instead of wedging forever.
    * Metadata-only parent walk, zero I/O. */
  private[graft] def isAncestorRetained(fromSnapshotId: Long,
                                        toSnapshotId: Long): Boolean = {
    val m = meta
    m.ancestry(m.snapshot(toSnapshotId)).exists(_.snapshotId == fromSnapshotId)
  }

  /** Metadata-only proof that no existing row became dead in the snapshot
    * window `(from, to]`: every commit in the window only ADDED data
    * files — nothing removed, no positional or equality delete file
    * introduced. What stale-route compensation checks before trusting
    * the algebraic MIN/MAX merge ([[MaterializedAgg.compensatedState]]):
    * a lost extreme would need a base rescan, which read-side routing
    * refuses to pay. False (conservatively) when `from` is not an
    * ancestor of `to`. Zero data I/O — walks snapshot file LISTS only. */
  private[graft] def windowLossFree(fromSnapshotId: Long, toSnapshotId: Long): Boolean = {
    val m = meta
    m.commitsBetween(Some(fromSnapshotId), toSnapshotId).exists(_.forall { s =>
      val d = m.commitDiff(s)
      d.removed.isEmpty && d.addedDeletes.isEmpty && d.addedEqDeletes.isEmpty
    })
  }

  def changelog(fromSnapshotId: Option[Long], toSnapshotId: Long,
                identifierFields: Seq[String] = Seq.empty): DataFrame = {
    val m = meta
    require(m.snapshot(toSnapshotId).isDefined, s"no snapshot $toSnapshotId")
    identifierFields.foreach(f => require(m.schema.sparkSchema.fieldNames.contains(f),
      s"identifier field $f is not a column of the table"))
    val commits = m.commitsBetween(fromSnapshotId, toSnapshotId)
    require(commits.isDefined,
      s"snapshot ${fromSnapshotId.get} is not an ancestor of $toSnapshotId")
    def tag(df: DataFrame, tpe: String, ordinal: Int, snapId: Long): DataFrame = df
      .withColumn("_change_type", lit(tpe))
      .withColumn("_change_ordinal", lit(ordinal))
      .withColumn("_commit_snapshot_id", lit(snapId))
    val perCommit = commits.get.zipWithIndex.map { case (s, ordinal) =>
      val parentSnap = m.parentOf(s)
      val diff = CommitDiff(parentSnap, s)
      // each side reads under ITS OWN snapshot's delete mask, so the diff
      // is over LOGICAL content: a compaction that applies merge-on-read
      // deletes cancels exactly (removed-live == rewritten), and a CoW
      // rewrite never re-emits rows an earlier MoR commit already deleted
      val addedDf = dataFrameForLive(m, Some(s), diff.added)
      val removedDf = dataFrameForLive(m, parentSnap, diff.removed)
      // merge-on-read transitions: delete FILES added by this commit mark
      // rows of KEPT data files live→dead — read just those positions
      // (churn-sized; the kept files' scan is pruned to referenced names)
      val newDels = diff.addedDeletes
      val morDeleted: Option[DataFrame] =
        if (newDels.isEmpty) None
        else {
          val refNames = newDels.flatMap(_.counts.keys).toSet
          val kept = s.files.filter(f =>
            !diff.adds(f) && refNames.contains(fileName(f.path)))
          if (kept.isEmpty) None
          else Some(
            // read LIVE UNDER THE PARENT (both masks): a position that was
            // already dead — notably convert_equality_deletes materializing
            // equality-dead rows as positional entries — is NOT a new
            // deletion and must not re-emit
            liveRows(m, parentSnap, kept, withMeta = true)
              .join(broadcast(deleteEntriesDf(newDels)), Seq("_gd_file", "_gd_pos"),
                "left_semi")
              .drop("_gd_file", "_gd_pos"))
        }
      // equality-delete transitions (merge-on-read upserts): keys added by
      // this commit kill every strictly-older live row with that key —
      // read kept older files LIVE UNDER THE PARENT's masks, semi-join the
      // new keys. Churn-sized: the key set is the upsert batch.
      val newEq = diff.addedEqDeletes
      val eqDeleted: Option[DataFrame] =
        if (newEq.isEmpty) None
        else {
          val candidates = s.files.filter(f => !diff.adds(f) && newEq.exists(_.masks(f)))
          if (candidates.isEmpty) None
          else {
            val live = dataFrameForLive(m, parentSnap, candidates)
            Some(newEq.groupBy(_.keyIds).foldLeft(Seq.empty[DataFrame]) {
              case (acc, (keyIds, ds)) =>
                val keyNames = keyIds.flatMap(id => m.schema.byId(id)).map(_.name)
                acc :+ live.join(broadcast(eqDeleteKeysDf(m, ds)), keyNames, "left_semi")
            }.reduce(_ unionByName _))
          }
        }
      // exceptAll against an empty side is the identity, and the empty
      // side is the COMMON case (a pure append removes nothing; a pure
      // delete adds nothing) — skipping it drops two shuffles per such
      // commit from every changelog consumer (IVM refresh, stale-route
      // compensation, CDC streaming). The cancellation semantics only
      // matter when BOTH sides are non-empty (CoW rewrites).
      val inserted =
        if (diff.removed.isEmpty) addedDf else addedDf.exceptAll(removedDf)
      val removedRows =
        if (diff.added.isEmpty) removedDf else removedDf.exceptAll(addedDf)
      val deleted = Seq(Some(removedRows), morDeleted, eqDeleted)
        .flatten.reduce(_ unionByName _)
      if (identifierFields.isEmpty)
        tag(inserted, "INSERT", ordinal, s.snapshotId)
          .unionByName(tag(deleted, "DELETE", ordinal, s.snapshotId))
      else {
        // compute-updates pairing: a key on BOTH sides of one commit's
        // diff is an update, not a delete+insert. Semi/anti joins on the
        // identifier key keep everything distributed and churn-sized
        val insKeys = inserted.select(identifierFields.map(col): _*).distinct()
        val delKeys = deleted.select(identifierFields.map(col): _*).distinct()
        tag(inserted.join(delKeys, identifierFields, "left_anti"),
            "INSERT", ordinal, s.snapshotId)
          .unionByName(tag(deleted.join(insKeys, identifierFields, "left_anti"),
            "DELETE", ordinal, s.snapshotId))
          .unionByName(tag(deleted.join(insKeys, identifierFields, "left_semi"),
            "UPDATE_BEFORE", ordinal, s.snapshotId))
          .unionByName(tag(inserted.join(delKeys, identifierFields, "left_semi"),
            "UPDATE_AFTER", ordinal, s.snapshotId))
      }
    }
    perCommit.reduceOption(_ unionByName _).getOrElse(
      tag(dataFrameFor(m, Seq.empty), "INSERT", 0, 0L).limit(0))
  }

  /** Windowed changelog consumption for ranges spanning many commits: a
    * single [[changelog]] over thousands of commits unions thousands of
    * per-commit plans into ONE query (documented caveat there). This
    * slices the same range into lazy windows of at most
    * `maxCommitsPerBatch` commits — each window is a bounded-size plan
    * the consumer processes and discards before the next is even built,
    * the batch analog of the streaming source's per-trigger batches.
    * Concatenating all windows in order is row-identical to the one-shot
    * changelog of the full range; `_change_ordinal` restarts per window
    * (it is range-local by contract), `_commit_snapshot_id` does not.
    * The commit path is resolved once, up front, against the current
    * metadata — commits landing after the call don't shift the windows. */
  def changelogWindows(fromSnapshotId: Option[Long], toSnapshotId: Long,
                       maxCommitsPerBatch: Int,
                       identifierFields: Seq[String] = Seq.empty): Iterator[DataFrame] = {
    require(maxCommitsPerBatch > 0, s"maxCommitsPerBatch must be positive: $maxCommitsPerBatch")
    val m = meta
    require(m.snapshot(toSnapshotId).isDefined, s"no snapshot $toSnapshotId")
    val commits = m.commitsBetween(fromSnapshotId, toSnapshotId)
    require(commits.isDefined,
      s"snapshot ${fromSnapshotId.get} is not an ancestor of $toSnapshotId")
    val ends = commits.get.map(_.snapshotId).grouped(maxCommitsPerBatch).map(_.last).toList
    // an empty range has no ends, so the zip yields no window
    val starts = fromSnapshotId :: ends.dropRight(1).map(Some(_))
    starts.iterator.zip(ends.iterator).map { case (from, to) =>
      changelog(from, to, identifierFields)
    }
  }

  // ---- properties (D9) --------------------------------------------------------

  /** `ANALYZE TABLE … COMPUTE STATISTICS` ([[Analyze]]): per-column
    * NDV/null/min/max/length stats for the current snapshot, persisted
    * in the `graft.stats` property and served to the planner via the
    * DSv2 scan's `columnStats()` while fresh. */
  def analyzeTable(columns: Seq[String] = Seq.empty, exactNdv: Boolean = false,
                   noscan: Boolean = false): Analyze.TableStats =
    Analyze.run(this, columns, exactNdv, noscan)

  def setProperties(props: Map[String, String]): TableMeta =
    commit(m => m.copy(properties = m.properties ++ props))
  def unsetProperties(keys: Seq[String]): TableMeta =
    commit(m => m.copy(properties = m.properties -- keys))
  /** Atomic read-modify-write of the property map: `f` re-applies inside
    * the commit retry loop against FRESH metadata, so concurrent updates
    * of a list-valued property (e.g. the `graft.ivm.views` routing
    * index) compose instead of losing writes. */
  def updateProperties(f: Map[String, String] => Map[String, String]): TableMeta =
    commit(m => m.copy(properties = f(m.properties)))

  def metadataTable(kind: String): DataFrame = MetadataTables(this, kind)

  /** Second-engine read path: export a snapshot's scan as data-file
    * paths + delete-file paths + a STANDALONE DuckDB SQL statement that
    * reads the table's exact logical content — schema evolution
    * (renames/widenings via per-write-time-schema column mapping, added
    * columns via their frozen exists-default) and BOTH merge-on-read
    * masks included: positional deletes as a NOT EXISTS anti-join on
    * DuckDB's `filename`/`file_row_number` parquet metadata (the same
    * (basename, row-position) key the Spark scan masks with), equality
    * deletes as per-mask-class key anti-joins (files cut into classes by
    * which deletes are strictly newer — exactly [[liveRows]]' grouping —
    * each class NOT-EXISTS-joined against its applicable distinct key
    * sets; null keys never equi-match and survive, as in the engine).
    * This is the PyIceberg/DuckDB client shape of the reference: another
    * engine resolves the snapshot through exported metadata and reads
    * the very same parquet bytes — no copy, no Spark.
    *
    * Honest boundary: exists-defaults are emitted verbatim (literal
    * defaults are dialect-portable; an expression default may not be).
    *
    * Wrap [[ExportedScan.sql]] in a view via [[ExportedScan.viewDdl]]:
    * `duckdb.execute(export.viewDdl("my_table"))` and SELECT away. */
  def exportScan(snapshotId: Option[Long] = None,
                 branch: Option[String] = None): LakeTable.ExportedScan = {
    val m = meta
    val snap = resolveSnapshot(snapshotId, branch)
    val files = snap.map(_.files).getOrElse(Seq.empty)
    val dels = snap.map(_.deleteFiles).getOrElse(Seq.empty)
    val eqDels = snap.map(_.eqDeleteFiles).getOrElse(Seq.empty)
    val cur = m.schema
    def q(ident: String) = "\"" + ident.replace("\"", "\"\"") + "\""
    def lit(path: String) = "'" + path.replace("'", "''") + "'"
    def duckType(dt: DataType): Option[String] = dt match {
      case LongType => Some("BIGINT")
      case IntegerType => Some("INTEGER")
      case ShortType => Some("SMALLINT")
      case ByteType => Some("TINYINT")
      case DoubleType => Some("DOUBLE")
      case FloatType => Some("FLOAT")
      case StringType => Some("VARCHAR")
      case BooleanType => Some("BOOLEAN")
      case DateType => Some("DATE")
      case TimestampType => Some("TIMESTAMP")
      case d: DecimalType => Some(s"DECIMAL(${d.precision},${d.scale})")
      case BinaryType => Some("BLOB")
      case _ => None // arrays/maps/structs: emit bare, let DuckDB infer
    }
    def cast(e: String, dt: DataType): String =
      duckType(dt).map(t => s"CAST($e AS $t)").getOrElse(e)
    val withMeta = dels.nonEmpty
    def groupSelects(fs: Seq[DataFile]): Seq[String] =
      fs.groupBy(_.schemaId).toSeq.sortBy(_._1).map {
        case (schemaId, gfs) =>
          val written = m.schemas.find(_.schemaId == schemaId).getOrElse(cur)
          val cols = cur.columns.map { c =>
            written.byId(c.id) match {
              case Some(w) => s"${cast(q(w.physicalName), c.sparkType)} AS ${q(c.name)}"
              // column added after these files were written: rows logically
              // hold the exists-default frozen at ADD COLUMN time
              case None =>
                val v = c.existsDefaultSql.getOrElse("NULL")
                s"${cast(v, c.sparkType)} AS ${q(c.name)}"
            }
          } ++ (if (withMeta)
            Seq("regexp_extract(filename, '[^/]+$') AS \"_gd_file\"",
              "file_row_number AS \"_gd_pos\"")
          else Seq.empty)
          // hive-layout import groups: the fromPath columns live in the
          // file paths — DuckDB parses them with hive_partitioning and
          // exposes them under their original names (then cast as usual)
          val opts = (if (withMeta) ", filename=true, file_row_number=true" else "") +
            (if (written.columns.exists(_.fromPath)) ", hive_partitioning=1" else "")
          s"""SELECT ${cols.mkString(", ")}
             |FROM read_parquet([${gfs.map(f => lit(f.path)).mkString(", ")}]$opts)""".stripMargin
      }
    val posPred =
      if (!withMeta) None
      else Some(s"""NOT EXISTS (SELECT 1 FROM gd_dels d
                   |  WHERE d.file_name = s."_gd_file" AND d.pos = s."_gd_pos")""".stripMargin)
    // one anti-join predicate per applicable equality-delete key layout:
    // distinct key tuples read under their write-time PHYSICAL names,
    // compared (cast to current types) against the scan's logical columns
    def eqPreds(applicable: Seq[EqualityDeleteFile]): Seq[String] =
      applicable.groupBy(d => (d.keyIds, d.schemaId)).toSeq.map {
        case ((keyIds, schemaId), ds) =>
          val written = m.schemas.find(_.schemaId == schemaId).getOrElse(cur)
          val pairs = keyIds.map { id =>
            val curC = cur.byId(id).getOrElse(throw new IllegalStateException(
              s"equality-delete key id $id dropped from current schema"))
            val w = written.byId(id).getOrElse(throw new IllegalStateException(
              s"equality-delete key id $id missing from schema $schemaId"))
            (q(w.physicalName), q(curC.name), curC.sparkType)
          }
          val proj = pairs.map { case (p, n, t) => s"${cast(p, t)} AS $n" }.mkString(", ")
          val on = pairs.map { case (_, n, _) => s"e.$n = s.$n" }.mkString(" AND ")
          s"""NOT EXISTS (SELECT 1 FROM (
             |    SELECT DISTINCT $proj
             |    FROM read_parquet([${ds.map(d => lit(d.path)).mkString(", ")}])
             |  ) e WHERE $on)""".stripMargin
      }
    // mask classes exactly as the engine's scan cuts them: an equality
    // delete applies only to files committed STRICTLY before it
    val classSelects = files.groupBy(f => eqDels.count(_.masks(f)))
      .toSeq.sortBy(_._1).map { case (_, bucket) =>
        val applicable = eqDels.filter(_.masks(bucket.head))
        val scanSql = groupSelects(bucket).mkString("\nUNION ALL\n")
        val preds = posPred.toSeq ++ eqPreds(applicable)
        // with meta columns in play, EVERY class branch must project back
        // to the logical columns so the UNION ALL arms agree
        if (preds.isEmpty && !withMeta) scanSql
        else {
          val logicalCols = cur.columns.map(c => q(c.name)).mkString(", ")
          val where =
            if (preds.isEmpty) "" else s"\nWHERE ${preds.mkString("\n  AND ")}"
          s"""SELECT $logicalCols FROM (
             |$scanSql
             |) s$where""".stripMargin
        }
      }
    val sql =
      if (files.isEmpty)
        s"SELECT ${cur.columns.map(c => s"${cast("NULL", c.sparkType)} AS ${q(c.name)}")
          .mkString(", ")} WHERE 1 = 0"
      else {
        val body = classSelects.mkString("\nUNION ALL\n")
        if (!withMeta) body
        else
          s"""WITH gd_dels AS (
             |  SELECT file_name, pos
             |  FROM read_parquet([${dels.map(d => lit(d.path)).mkString(", ")}])
             |)
             |$body""".stripMargin
      }
    LakeTable.ExportedScan(
      snapshotId = snap.map(_.snapshotId).getOrElse(-1L),
      dataFiles = files.map(_.path),
      deleteFiles = (dels.map(_.path) ++ eqDels.map(_.path)),
      sql = sql)
  }

  /** Every metadata version on disk: (version, file path, modified-ms,
    * latest snapshot id recorded by that version). Backs the
    * `metadata_log_entries` metadata table (Iceberg's metadata-log):
    * the root-document history, one row per committed version. */
  private[lake] def metadataVersions: Seq[(Int, String, Long, Option[Long])] = {
    var v = 1
    val out = Seq.newBuilder[(Int, String, Long, Option[Long])]
    while (metaStore.exists(versionName(v))) {
      val m = Meta.fromJson(metaStore.read(versionName(v))) // root only — snapshot file lists stay unresolved
      out += ((v, s"${metaStore.id}/metadata/${versionName(v)}",
        metaStore.modifiedMs(versionName(v)),
        m.currentSnapshot.map(_.snapshotId)
          .orElse(m.snapshots.lastOption.map(_.snapshotId))))
      v += 1
    }
    out.result()
  }

  /** DESCRIBE EXTENDED analog (D4, Getting Started.ipynb c8): column
    * rows (name, type, comment) followed by table-detail rows. */
  def describeExtended: DataFrame = {
    val m = meta
    import spark.implicits._
    val cols = m.schema.columns.map(c =>
      (c.name, c.sparkType.simpleString, c.comment.getOrElse("")))
    val spec = m.spec.fields.map(f =>
      s"${f.transform}(${m.schema.byId(f.sourceId).map(_.name).getOrElse("?")})")
    val details = Seq(
      ("", "", ""),
      ("# Detailed Table Information", "", ""),
      ("Name", m.name, ""),
      ("Location", m.location, ""),
      ("Provider", "graft-lake", ""),
      ("Partitioning", spec.mkString(", "), ""),
      ("Current snapshot", m.currentSnapshot.map(_.snapshotId.toString).getOrElse("none"), ""),
      ("Table Properties", m.properties.map { case (k, v) => s"$k=$v" }.mkString("[", ",", "]"), ""))
    (cols ++ details).toDF("col_name", "data_type", "comment")
  }
}

object LakeTable {
  val MainBranch = "main"

  /** Largest key batch [[LakeTable.mergeByKeys]] collects to the driver:
    * up to this many keys are pruned and written as an exact local set. */
  private[lake] val SmallKeyBatch = 1024

  /** Most keys (Σ `rowCount`) an equality-delete mask may hold to be
    * applied inside the scan ([[InKeySet]]) rather than joined: four
    * full small batches ([[SmallKeyBatch]]), the default conversion
    * threshold, fit twice over. */
  private[lake] val InScanMaskKeys = 8192L

  /** A snapshot's scan exported for a second engine ([[LakeTable.exportScan]]):
    * the exact parquet paths plus a standalone DuckDB SELECT over them
    * honoring schema evolution and positional delete masks. */
  final case class ExportedScan(snapshotId: Long, dataFiles: Seq[String],
                                deleteFiles: Seq[String], sql: String) {
    /** The name is emitted as a quoted identifier — keywords, spaces and
      * embedded quotes cannot break (or inject into) the DDL. */
    def viewDdl(viewName: String): String =
      s"""CREATE OR REPLACE VIEW "${viewName.replace("\"", "\"\"")}" AS\n$sql"""
  }

  /** Parse a binpack `where` argument (`k=v[,k=v]`) with SQL-style single
    * quoting: a value (or key) may be quoted `'…'` with `''` escaping an
    * embedded quote, so partition values legally containing ',' or '='
    * are expressible — `region='EU,=west'`. Unquoted tokens end at the
    * next top-level ',' or '=' and are trimmed. */
  def parsePartitionWhere(s: String): Map[String, String] = {
    val pairs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var i = 0
    val n = s.length
    def skipWs(): Unit = while (i < n && s(i).isWhitespace) i += 1
    def readToken(stops: Set[Char]): String = {
      skipWs()
      if (i < n && s(i) == '\'') {
        i += 1
        val sb = new StringBuilder
        var done = false
        while (!done) {
          if (i >= n) throw new IllegalArgumentException(
            s"unterminated quote in where clause: $s")
          if (s(i) == '\'') {
            if (i + 1 < n && s(i + 1) == '\'') { sb += '\''; i += 2 }
            else { i += 1; done = true }
          } else { sb += s(i); i += 1 }
        }
        skipWs()
        sb.toString
      } else {
        val start = i
        while (i < n && !stops.contains(s(i))) i += 1
        s.substring(start, i).trim
      }
    }
    while ({ skipWs(); i < n }) {
      val k = readToken(Set('=', ','))
      if (i >= n || s(i) != '=') throw new IllegalArgumentException(
        s"bad where clause (expected <col>=<value>): $s")
      i += 1
      val v = readToken(Set(','))
      if (k.isEmpty) throw new IllegalArgumentException(
        s"bad where clause (empty column name): $s")
      pairs += (k -> v)
      if (i < n) {
        if (s(i) != ',') throw new IllegalArgumentException(
          s"bad where clause (expected ',' near offset $i): $s")
        i += 1
      }
    }
    pairs.toMap
  }

  /** On-disk schema of merge-on-read positional delete files
    * (`data/del-*.parquet`): data-file basename + 0-based row position. */
  val DeleteEntrySchema: StructType = StructType(Seq(
    StructField("file_name", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Resolved-meta cache keyed by "location#vN". Version files are
    * IMMUTABLE once exclusively published, so entries never go stale —
    * except when a table is dropped and recreated at the same location
    * (version numbering restarts at v1): [[LakeCatalog]] invalidates the
    * location on create/drop for exactly that case. Bounded: the cache is
    * a latency optimization, eviction only costs a re-read. */
  private[lake] val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, TableMeta]()
  private val MaxMetaCacheEntries = 256

  private[lake] def cacheMeta(key: String, m: TableMeta): Unit = {
    if (metaCache.size >= MaxMetaCacheEntries) metaCache.clear()
    metaCache.put(key, m)
    ()
  }

  /** Drop every cached version of a location (table dropped/recreated). */
  private[lake] def invalidateLocation(location: String): Unit = {
    val prefix = s"$location#"
    metaCache.keySet.removeIf(_.startsWith(prefix))
    ()
  }

  /** Open a table directly by location (for components that get a path
    * string rather than a catalog handle — e.g. the streaming source
    * provider reconstructing its table from DataSource options). */
  def at(spark: SparkSession, location: String): LakeTable =
    new LakeTable(spark, location)

  /** Open a table over an EXPLICIT metadata authority — how a streaming
    * source reconstructed from string options reaches a wire-catalog
    * table (`uri` + `ident` options): there is no metadata under the
    * location to probe in uri mode (r12). */
  def at(spark: SparkSession, location: String, store: MetaStore): LakeTable =
    new LakeTable(spark, location, store)

  /** Run a CoW operation, retrying on [[CommitConflictException]] — each
    * attempt re-reads table metadata and re-plans from scratch, which is
    * exactly the Iceberg-client recovery loop. Appends never conflict;
    * a rewrite conflicts only with a concurrent rewrite of the same
    * state, so a handful of attempts suffices under any realistic
    * contention. */
  def withConflictRetry[T](attempts: Int = 5)(op: => T): T = {
    var left = attempts
    while (true) {
      try return op
      catch {
        case e: CommitConflictException =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Hive/Spark-style partition-path unescape: decode `%XX` sequences
    * ONLY. (URLDecoder additionally maps '+' to a space, but Spark's
    * escapePathName never encodes '+', so that mapping corrupts literal
    * plus signs in string partition values.) */
  private[lake] def unescapePathName(s: String): String = {
    if (s.indexOf('%') < 0) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          val code = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
                     catch { case _: NumberFormatException => -1 }
          if (code >= 0) { sb.append(code.toChar); i += 3 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
  }

  private[lake] def listParquet(fs: FileSystem, dir: Path): Seq[Path] = {
    // recursive listStatus walk, not listFiles(recursive=true): the
    // LocatedFileStatus materialization costs ~4 ms/file on local
    // filesystems (r16, same fix as FsMetaStore.list)
    val buf = scala.collection.mutable.ArrayBuffer[Path]()
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) buf += st.getPath
    }
    walk(dir)
    buf.toSeq
  }

  private[lake] def isWidening(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | FloatType | DoubleType) => true
    case (LongType, DoubleType) => true
    case (FloatType, DoubleType) => true
    case (d1: DecimalType, d2: DecimalType) =>
      d2.precision >= d1.precision && d2.scale >= d1.scale
    case _ => false
  }
}
