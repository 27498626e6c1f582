package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import java.util.UUID
import scala.jdk.CollectionConverters._

/** Catalog of lake tables under a warehouse directory:
  * `<warehouse>/<namespace>/<table>/`. Mirrors the reference's catalog
  * surface (D1-D3: CREATE DATABASE / CREATE TABLE / DROP TABLE —
  * Getting Started.ipynb c5-c6, IcebergStream.java:76-80). */
class LakeCatalog(val spark: SparkSession, val warehouse: String) {

  private val hadoopConf = spark.sessionState.newHadoopConf()
  protected def fs: FileSystem = new Path(warehouse).getFileSystem(hadoopConf)

  protected def tableLocation(ident: String): String = {
    val parts = ident.split("\\.")
    (warehouse +: parts).mkString("/")
  }

  /** The metadata authority for `ident`: filesystem under the table
    * location by default; [[RemoteLakeCatalog]] overrides with the
    * wire-protocol client so every metadata byte flows through the
    * catalog service while data stays on shared storage. */
  protected def metaStoreFor(ident: String): MetaStore =
    new FsMetaStore(new Path(tableLocation(ident)).getFileSystem(hadoopConf),
      tableLocation(ident))

  def createNamespace(name: String): Unit =
    fs.mkdirs(new Path(s"$warehouse/$name"))

  def namespaceExists(name: String): Boolean = fs.exists(new Path(s"$warehouse/$name"))

  /** CREATE TABLE with typed columns, hidden-partition transforms and
    * properties (D2). `partitionBy` entries are (columnName, transform). */
  def createTable(ident: String, schema: StructType,
                  partitionBy: Seq[(String, String)] = Seq.empty,
                  properties: Map[String, String] = Map.empty): LakeTable = {
    require(!tableExists(ident), s"table $ident already exists")
    require(ident.split("\\.").last != "_views",
      "'_views' is a reserved identifier (the catalog's view-store directory)")
    // identity columns are BIGINT-only (Delta's rule): assignment uses
    // monotonically_increasing_id(), which jumps 2^33 per partition — a
    // narrower declared type would silently wrap/null the cast and break
    // the uniqueness guarantee
    schema.fields.foreach { f =>
      if (f.metadata.contains("IDENTITY_START"))
        require(f.dataType == org.apache.spark.sql.types.LongType,
          s"identity column ${f.name} must be BIGINT (got " +
            s"${f.dataType.simpleString}): identity values are allocated " +
            "sparsely across partitions and need the full 64-bit domain")
    }
    val location = tableLocation(ident)
    // A rename leaves the moved table's live data files under its OLD
    // location (manifests carry absolute paths) and marks the directory
    // with a tombstone. Adopting it here would be silent data loss: the
    // new table's remove_orphan_files sweeps everything under data/ that
    // ITS metadata doesn't reference — i.e. the renamed table's live
    // rows. Refuse with the forwarding address.
    val tomb = new Path(location, LakeCatalog.MovedTombstone)
    if (fs.exists(tomb)) {
      val who = try {
        val in = fs.open(tomb)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").replace('\t', ' ')
        finally in.close()
      } catch { case _: Exception => "(unreadable tombstone)" }
      throw new IllegalArgumentException(
        s"cannot create table $ident: location $location still holds the " +
          s"live data files of a table renamed away from here (now: $who). " +
          s"Drop that table to reclaim the directory, or remove " +
          s"$location/${LakeCatalog.MovedTombstone} after verifying no " +
          "table's manifests reference it")
    }
    // a recreate at a reused location restarts version numbering — stale
    // cached metas from the dropped incarnation must not be served
    LakeTable.invalidateLocation(location)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      LakeColumn(i + 1, f.name, f.dataType.json, f.nullable,
        comment = if (f.metadata.contains("comment"))
          Some(f.metadata.getString("comment")) else None,
        // CREATE TABLE (col … DEFAULT …): Spark ships the default in
        // field metadata — persist both current + frozen exists defaults
        currentDefaultSql = if (f.metadata.contains("CURRENT_DEFAULT"))
          Some(f.metadata.getString("CURRENT_DEFAULT")) else None,
        existsDefaultSql = if (f.metadata.contains("EXISTS_DEFAULT"))
          Some(f.metadata.getString("EXISTS_DEFAULT")) else None,
        generationSql = if (f.metadata.contains("GENERATION_EXPRESSION"))
          Some(f.metadata.getString("GENERATION_EXPRESSION")) else None,
        identityStart = if (f.metadata.contains("IDENTITY_START"))
          Some(f.metadata.getLong("IDENTITY_START")) else None,
        identityStep = if (f.metadata.contains("IDENTITY_STEP"))
          Some(f.metadata.getLong("IDENTITY_STEP")) else None,
        identityAllowExplicit = f.metadata.contains("IDENTITY_ALLOW_EXPLICIT") &&
          f.metadata.getBoolean("IDENTITY_ALLOW_EXPLICIT"))
    }.toSeq
    val lakeSchema = LakeSchema(0, cols)
    val specFields = partitionBy.map { case (colName, transform) =>
      val c = lakeSchema.byName(colName).getOrElse(
        throw new IllegalArgumentException(s"partition column $colName not in schema"))
      PartitionField(c.id, transform)
    }
    val meta = TableMeta(
      formatVersion = 1,
      tableId = UUID.randomUUID().toString,
      name = ident,
      location = location,
      schemas = Seq(lakeSchema),
      currentSchemaId = 0,
      partitionSpecs = Seq(PartitionSpec(0, specFields)),
      defaultSpecId = 0,
      snapshots = Seq.empty,
      refs = Map.empty,
      history = Seq.empty,
      properties = properties,
      lastColumnId = cols.map(_.id).maxOption.getOrElse(0),
      lastSnapshotId = 0L,
      version = 1)
    // CREATE = winning the conditional put of version 1 — through the
    // same MetaStore seam commits use, so the wire-protocol catalog gets
    // DDL for free and two racing CREATEs serialize at the authority
    val store = metaStoreFor(ident)
    require(store.putIfAbsent("v1.json", Meta.toJson(meta).getBytes("UTF-8")),
      s"table $ident already exists")
    store.putOverwrite("version-hint.text", "1".getBytes("UTF-8"))
    loadTable(ident)
  }

  /** Iceberg `migrate`/`snapshot`-shape import (r12, D36 extension):
    * derive the table FROM the files — merged footer schema for the data
    * columns plus, for a hive `key=value` layout, the path-only columns
    * as identity partitions with partition-discovery types — create it,
    * then register every file in place via [[LakeTable.addFiles]]. One
    * footer pass per file, zero data movement; the source keeps owning
    * its bytes (maintenance never deletes outside the table directory).
    * Reference shape: Iceberg's `migrate` procedure, which snapshots an
    * existing hive-layout dataset without a pre-declared schema. */
  def migrate(ident: String, source: String): LakeTable = {
    require(!tableExists(ident), s"table $ident already exists")
    // partition discovery ON: a hive layout surfaces its key=value
    // columns (typed by inference) appended to the data columns
    val discovered = spark.read.parquet(source).schema
    val src = new Path(source)
    val srcFs = src.getFileSystem(spark.sessionState.newHadoopConf())
    val files =
      if (srcFs.getFileStatus(src).isDirectory) LakeTable.listParquet(srcFs, src)
      else Seq(src)
    require(files.nonEmpty, s"migrate: no parquet files under $source")
    // data columns = what the bytes carry (explicit leaf files read with
    // no discovery); every other discovered column came from the path
    val inBytes = spark.read.parquet(files.map(_.toString): _*)
      .schema.fieldNames.toSet
    val partCols = discovered.fields.filterNot(f => inBytes.contains(f.name))
      .map(_.name).toSeq
    val t = createTable(ident, discovered,
      partitionBy = partCols.map(_ -> "identity"))
    try { t.addFiles(source); t }
    catch { case e: Throwable => dropTable(ident); throw e }
  }

  def tableExists(ident: String): Boolean = metaStoreFor(ident).exists("v1.json")

  def loadTable(ident: String): LakeTable = {
    require(tableExists(ident), s"table $ident does not exist")
    new LakeTable(spark, tableLocation(ident), metaStoreFor(ident))
  }

  def dropTable(ident: String): Unit = {
    // a renamed table's data may still live under its prior locations
    // (rename moves authority, not bytes) — reclaim them and their
    // tombstones, or the directories stay unusable forever. Clones make
    // dropping DIRECTIONAL: a table with live clones refuses (its bytes
    // are another table's content), and dropping a clone deregisters it
    // from every ancestor so their GC stops sparing its bytes.
    val (priorLocs, ancestors) =
      try {
        if (tableExists(ident)) {
          val t = loadTable(ident)
          val props = t.meta.properties
          val liveClones = Links.of(props, LakeCatalog.CloneLocationsKey)
            .filter { loc =>
              try t.sibling(loc).metaStore.exists("v1.json")
              catch { case scala.util.control.NonFatal(_) => true } // fail closed
            }
          if (liveClones.nonEmpty) throw new IllegalStateException(
            s"cannot drop $ident: live clones still read its data files " +
              s"(${liveClones.mkString(", ")}) — drop them first")
          (Links.of(props, LakeCatalog.RenamedFromLocationsKey)
            .filter(_.startsWith(warehouse + "/")),
            cloneChain(t).drop(1))
        } else (Seq.empty, Seq.empty)
      } catch {
        case e: IllegalStateException => throw e
        case scala.util.control.NonFatal(_) => (Seq.empty, Seq.empty)
      }
    val myLoc = tableLocation(ident)
    LakeTable.invalidateLocation(myLoc)
    metaStoreFor(ident) match {
      case h: HttpMetaStore =>
        LakeTable.invalidateLocation(h.id)
        h.dropTable() // metadata authority first, then the data bytes
      case _ => ()
    }
    fs.delete(new Path(myLoc), true)
    priorLocs.foreach { loc =>
      LakeTable.invalidateLocation(loc)
      fs.delete(new Path(loc), true)
    }
    // deregister this clone from every ancestor's clone list
    ancestors.foreach { anc =>
      try {
        anc.updateProperties(Links.remove(LakeCatalog.CloneLocationsKey, myLoc))
        ()
      } catch { case scala.util.control.NonFatal(_) => () } // stale entries are pruned by liveness checks
    }
    ()
  }

  def listTables(namespace: String): Seq[String] = {
    val ns = new Path(s"$warehouse/$namespace")
    if (!fs.exists(ns)) Seq.empty
    else fs.listStatus(ns).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => tableExists(s"$namespace.$t"))
  }

  /** Top-level namespaces. Filesystem mode walks the warehouse directory;
    * [[RemoteLakeCatalog]] additionally asks the server, because a remote
    * table with no data directory yet has no warehouse footprint and a
    * directory walk would under-report it (the same gap `listTables`
    * closed in r12). */
  def listNamespaces(): Seq[String] = {
    val wh = new Path(warehouse)
    if (!fs.exists(wh)) Seq.empty
    else fs.listStatus(wh).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      // underscore-prefixed namespaces are catalog-internal (`_system`
      // holds the transaction log) — never user tables
      .filterNot(_.startsWith("_"))
  }

  /** Copy order for a metadata hand-over: content-addressed chunks and
    * auxiliary files FIRST, then version roots newest→oldest, `v1.json`
    * dead last. `tableExists`/`loadTable` key on `v1.json`, so a crash at
    * any point leaves the partial copy INVISIBLE to the destination
    * catalog — and because every file is immutable once written, a retry
    * resumes idempotently (see [[copyMetadata]]). */
  protected def handOverOrder(names: Seq[String]): Seq[String] = {
    val Version = "v(\\d+)\\.json".r
    names.filterNot(_ == "version-hint.text").sortBy {
      case Version(n) => (1, -n.toLong)
      case _ => (0, 0L)
    }
  }

  /** Idempotently copy every metadata file from `from` to `to` in
    * hand-over order. A name the destination already holds is fine IFF
    * the bytes match (metadata files are immutable — an identical file is
    * a crashed earlier attempt's work, resume over it); mismatched bytes
    * mean a DIFFERENT table or a competing hand-over owns the name, so
    * every file THIS call won is deleted (best-effort) before rethrowing
    * — the destination is left exactly as found. Returns the copied
    * names. */
  protected def copyMetadata(from: MetaStore, to: MetaStore,
                           what: String): Seq[String] = {
    val names = handOverOrder(from.list().map(_._1))
    val won = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      names.foreach { n =>
        val bytes = from.read(n)
        if (to.putIfAbsent(n, bytes.getBytes("UTF-8"))) won += n
        else require(to.read(n) == bytes,
          s"$what already holds $n with different content — refusing " +
            "the hand-over (another table or a competing attach owns it)")
      }
    } catch { case e: Throwable =>
      won.reverse.foreach(n =>
        try to.delete(n) catch { case _: Exception => () })
      throw e
    }
    from.list().collectFirst { case ("version-hint.text", _) =>
      to.putOverwrite("version-hint.text",
        from.read("version-hint.text").getBytes("UTF-8"))
    }
    names
  }

  /** ALTER TABLE … RENAME TO (catalog-level): the metadata authority
    * moves to the new ident — via the same crash-safe hand-over
    * [[RemoteLakeCatalog.attachTable]] proved out (copy in
    * [[handOverOrder]] with `v1.json` dead last, byte-identical resume,
    * concurrent-commit fence) — while DATA FILES STAY WHERE THEY ARE:
    * manifests carry absolute paths, so reads, time travel, expiry and
    * per-file GC keep working against the old directory, and new writes
    * land under the new location (mixed-directory tables are already the
    * add_files/migrate norm). Same machinery on filesystem metadata and
    * the wire catalog.
    *
    * Sibling references are LOCATION-keyed (an index's recorded base
    * location, a base's routing list of state-table locations), so the
    * rename rewrites the old location to the new one in the property
    * maps of every sibling the renamed table references — renaming a
    * base keeps its MVs/indexes refreshing, renaming an index keeps its
    * base's routing list valid. Like `attach_table`, the hand-over
    * assumes no concurrent WRITERS on the renamed table (Iceberg's
    * register_table contract); a commit landing during the copy aborts
    * the rename with the old table intact. A table fenced by an
    * in-flight transaction refuses to move. */
  def renameTable(oldIdent: String, newIdent: String): LakeTable = {
    require(tableExists(oldIdent), s"table $oldIdent does not exist")
    require(!tableExists(newIdent), s"table $newIdent already exists")
    require(newIdent.split("\\.").length >= 2 && newIdent.split("\\.")
      .forall(_.matches("[A-Za-z0-9._-]+")), s"invalid identifier $newIdent")
    val oldT = loadTable(oldIdent)
    require(!oldT.meta.properties.contains(LakeTransaction.FenceKey),
      s"$oldIdent is fenced by an in-flight transaction — rename after it " +
        "completes")
    val from = metaStoreFor(oldIdent)
    val to = metaStoreFor(newIdent)
    // the target location may still hold a PREVIOUSLY-RENAMED table's live
    // data files (rename moves authority, not bytes) — adopting it would
    // let this table's remove_orphan_files garbage-collect another table's
    // live rows, the exact hole the tombstone closes for createTable and
    // cloneTable. Same refusal here.
    require(!fs.exists(new Path(tableLocation(newIdent), LakeCatalog.MovedTombstone)),
      s"cannot rename to $newIdent: location ${tableLocation(newIdent)} " +
        "still holds the live data files of a table renamed away from " +
        "there (tombstoned) — drop that table to reclaim the directory " +
        "first")
    val copied = copyMetadata(from, to, s"rename target $newIdent")
    // fence: a commit landing on the old ident during the copy would be
    // silently lost — hide the new copy again and make the caller retry
    val appeared = from.list().map(_._1).toSet -- copied.toSet - "version-hint.text"
    if (appeared.nonEmpty) {
      try to.delete("v1.json") catch { case _: Exception => () }
      throw CommitConflictException(
        s"concurrent commit during rename of $oldIdent (new metadata: " +
          s"${appeared.toSeq.sorted.mkString(", ")}) — old table kept; " +
          "retry rename")
    }
    val oldLoc = tableLocation(oldIdent)
    val newLoc = tableLocation(newIdent)
    // sibling back-references: every ';'-separated location value in the
    // old properties that resolves as a table gets its OWN properties
    // rewritten old→new (a base's routing list entries are its state
    // tables; a state table's base-location is its base). A fix-up
    // failure ABORTS the rename while the old table is still the
    // authority (r15; swallowing it would leave an MV/index silently
    // pointing at a destroyed location): applied fix-ups are reverted
    // new→old (newLoc is brand new, so no pre-existing value can equal
    // it), the staged copy is hidden, and the caller retries.
    val newT = new LakeTable(spark, newLoc, to)
    // Location-keyed back-references live in two kinds of sibling:
    //  (a) tables this one's properties POINT AT (MV routing lists, an
    //      index's base location, the direct clone parent, registered
    //      clones) — their property values under the warehouse;
    //  (b) every ANCESTOR up the clone chain beyond the direct parent: a
    //      clone registers its location in graft.clone-locations on ALL
    //      ancestors (cloneTable), but its own properties only name the
    //      direct parent — without walking the chain here, a grandparent
    //      would keep the STALE old location, its liveness check would
    //      read the renamed-away (destroyed) metadata as a dropped clone,
    //      and its expire/orphan GC could reclaim files this table still
    //      references.
    val sibLocs = (Links.everywhere(oldT.meta.properties) ++
      cloneChain(oldT).drop(1).map(_.location)).distinct
      .filter(_.startsWith(warehouse + "/"))
    val fixedUp = scala.collection.mutable.ArrayBuffer[LakeTable]()
    val fixFailures = scala.collection.mutable.ArrayBuffer[String]()
    sibLocs.foreach { loc =>
      try {
        val sib = newT.sibling(loc)
        if (sib.metaStore.exists("v1.json")) {
          sib.updateProperties(Links.relocate(oldLoc, newLoc))
          fixedUp += sib
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          fixFailures += s"$loc: ${e.getMessage}"
      }
    }
    if (fixFailures.nonEmpty) {
      fixedUp.foreach { sib =>
        try {
          sib.updateProperties(Links.relocate(newLoc, oldLoc))
          ()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      try to.delete("v1.json") catch { case _: Exception => () }
      throw new IllegalStateException(
        s"rename $oldIdent → $newIdent aborted: sibling back-reference " +
          s"fix-up failed (${fixFailures.mkString("; ")}) — old table " +
          "intact; fix the sibling and retry")
    }
    // Tombstone the old location BEFORE destroying its metadata: the
    // renamed table's live data files stay under oldLoc/data (manifests
    // carry absolute paths), so a later createTable at the recycled
    // ident would adopt that directory and its remove_orphan_files would
    // garbage-collect another table's LIVE data. createTable refuses a
    // tombstoned location; dropTable of the renamed table reclaims it.
    writeTombstone(oldLoc, newIdent, newLoc)
    // authority hand-over: the old ident must stop resolving
    LakeTable.invalidateLocation(oldLoc)
    LakeTable.invalidateLocation(from.id)
    LakeTable.invalidateLocation(newLoc)
    LakeTable.invalidateLocation(to.id)
    from match {
      case h: HttpMetaStore => h.dropTable()
      case _ => fs.delete(new Path(oldLoc, "metadata"), true); ()
    }
    // cosmetic: the metadata's recorded name/location follow the ident
    // (one commit; messages and exports then name the live identity).
    // `graft.renamed-from-locations` ACCUMULATES across chained renames
    // so dropTable can reclaim every directory this table ever lived in.
    loadTable(newIdent).commit { m =>
      m.copy(name = newIdent, location = newLoc,
        properties = Links.add(LakeCatalog.RenamedFromLocationsKey, oldLoc)(
          m.properties + ("graft.renamed-from" -> oldIdent)))
    }
    loadTable(newIdent)
  }


  /** Zero-copy table CLONE (Delta's SHALLOW CLONE / Iceberg's
    * snapshot-procedure shape): one metadata commit creates `dstIdent`
    * whose first snapshot references the SOURCE's data, delete and DV
    * files at their absolute paths — no bytes move at any table size.
    * Schema, partition spec, sort order, identity high-water and table
    * properties carry over; bloom bundles (content-addressed, resolved
    * against the owning table's metaStore) are copied object-for-object
    * so skipping and verify_table work on the clone from birth. The two
    * tables then diverge freely: each commits to its own metadata, new
    * writes land under each table's own directory (the mixed-directory
    * layout add_files/migrate/rename already normalized).
    *
    * GC safety — the footgun Delta documents as "don't VACUUM a cloned
    * source" is CLOSED structurally: the clone registers its location in
    * `graft.clone-locations` on the source AND on every table up the
    * source's own clone chain (a clone-of-a-clone references bytes in
    * every ancestor directory). [[LakeTable.expireSnapshots]] and
    * [[LakeTable.removeOrphanFiles]] union the live sets of registered
    * clones before any physical deletion — failing CLOSED (abort) if a
    * registered clone's metadata cannot be read — and
    * [[LakeCatalog.dropTable]] refuses to drop a table with live clones.
    * Dropping the clone deregisters it everywhere and frees the source.
    *
    * `asOfSnapshotId` clones a historical snapshot (CLONE ... VERSION AS
    * OF); default is the current one. */
  def cloneTable(srcIdent: String, dstIdent: String,
                 asOfSnapshotId: Option[Long] = None): LakeTable = {
    require(tableExists(srcIdent), s"table $srcIdent does not exist")
    require(!tableExists(dstIdent), s"table $dstIdent already exists")
    require(dstIdent.split("\\.").length >= 2 && dstIdent.split("\\.")
      .forall(_.matches("[A-Za-z0-9._-]+")), s"invalid identifier $dstIdent")
    val src = loadTable(srcIdent)
    val sm = src.meta
    require(!sm.properties.contains(LakeTransaction.FenceKey),
      s"$srcIdent is fenced by an in-flight transaction — clone after it " +
        "completes")
    val snap = asOfSnapshotId match {
      case Some(id) => sm.snapshot(id).getOrElse(throw new IllegalArgumentException(
        s"snapshot $id not found in $srcIdent"))
      case None => sm.currentSnapshot.getOrElse(throw new IllegalArgumentException(
        s"$srcIdent has no snapshot to clone"))
    }
    // a WAP-STAGED snapshot is unpublished by contract (invisible until
    // its audit cherry-picks it) — cloning it into a fresh table's main
    // would launder unaudited data past the gate
    require(!snap.staged,
      s"snapshot ${snap.snapshotId} of $srcIdent is WAP-staged " +
        "(unaudited) — publish it via cherrypick before cloning it")
    val dstLoc = tableLocation(dstIdent)
    require(!fs.exists(new Path(dstLoc, LakeCatalog.MovedTombstone)),
      s"cannot clone into $dstLoc: the location still holds a renamed " +
        "table's live data (tombstoned)")
    LakeTable.invalidateLocation(dstLoc)
    val now = System.currentTimeMillis()
    val cloneSnap = snap.copy(
      snapshotId = 1L, parentId = None, timestampMs = now,
      operation = "clone",
      summary = Map(
        "operation" -> "clone",
        "cloned-from" -> srcIdent,
        "cloned-from-location" -> src.location,
        "source-snapshot-id" -> snap.snapshotId.toString,
        "total-records" -> snap.liveRecords.toString) ++
        snap.summary.get(BloomSkip.BundleSummaryKey)
          .map(BloomSkip.BundleSummaryKey -> _),
      staged = false,
      manifests = Seq.empty, manifestList = None, deleteManifest = None)
    // properties travel minus identity bookkeeping that must not:
    // another table's fence, rename/clone registrations, WAP session state
    val carried = sm.properties -
      LakeTransaction.FenceKey -
      LakeCatalog.CloneLocationsKey -
      LakeCatalog.RenamedFromLocationsKey - "graft.renamed-from" +
      ("graft.cloned-from" -> srcIdent) +
      (LakeCatalog.ClonedFromLocationKey -> src.location)
    val meta0 = TableMeta(
      formatVersion = 1,
      tableId = UUID.randomUUID().toString,
      name = dstIdent,
      location = dstLoc,
      schemas = sm.schemas,
      currentSchemaId = sm.currentSchemaId,
      partitionSpecs = sm.partitionSpecs,
      defaultSpecId = sm.defaultSpecId,
      snapshots = Seq(cloneSnap),
      refs = Map("main" -> Ref(1L)),
      history = Seq(HistoryEntry(now, 1L, "main")),
      properties = carried,
      lastColumnId = sm.lastColumnId,
      lastSnapshotId = 1L,
      version = 1)
    val store = metaStoreFor(dstIdent)
    // bloom bundles resolve against the OWNING table's metaStore — copy
    // the content-addressed objects so the clone's skipping + fsck work
    snap.summary.get(BloomSkip.BundleSummaryKey).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty).foreach { n =>
        if (!store.exists(n)) {
          store.putIfAbsent(n,
            src.metaStore.read(n).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          ()
        }
      }
    // Register on the source and every ancestor up its clone chain BEFORE
    // publishing the clone's v1: a clone-of-a-clone references bytes in
    // every ancestor's directory, and each ancestor's GC must know before
    // any reader can depend on the clone. Registering first shrinks the
    // register-vs-expire race to the property-commit latency (the same
    // residual window Iceberg's register_table has against vacuum — a
    // sweep that RESOLVED its clone set before this commit landed can
    // still reclaim; one already running is unaffected by any ordering).
    val ancestors = cloneChain(src)
    ancestors.foreach { anc =>
      anc.updateProperties(Links.add(LakeCatalog.CloneLocationsKey, dstLoc))
      ()
    }
    try {
      val (_, persisted) = Manifests.assign(meta0, store)
      require(store.putIfAbsent("v1.json",
        Meta.toJson(persisted).getBytes("UTF-8")),
        s"table $dstIdent already exists")
      store.putOverwrite("version-hint.text", "1".getBytes("UTF-8"))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // creation failed: best-effort deregistration keeps the ancestors'
        // clone lists free of a location that will never hold a table
        ancestors.foreach { anc =>
          try {
            anc.updateProperties(Links.remove(LakeCatalog.CloneLocationsKey, dstLoc))
            ()
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        throw e
    }
    loadTable(dstIdent)
  }

  /** `t` plus every ancestor reachable via `graft.cloned-from-location`
    * links (live tables only; dropTable's live-clone refusal keeps the
    * chain intact while any descendant exists). */
  private def cloneChain(t: LakeTable): Seq[LakeTable] = {
    val out = scala.collection.mutable.ArrayBuffer(t)
    var cur = t
    var hops = 0
    while (hops < 64) {
      cur.meta.properties.get(LakeCatalog.ClonedFromLocationKey) match {
        case Some(loc) if loc.nonEmpty =>
          val anc = try {
            val a = cur.sibling(loc)
            if (a.metaStore.exists("v1.json")) Some(a) else None
          } catch { case scala.util.control.NonFatal(_) => None }
          anc match {
            case Some(a) => out += a; cur = a; hops += 1
            case None => hops = 64
          }
        case _ => hops = 64
      }
    }
    out.toSeq
  }

  /** Marker a rename leaves at its OLD location: the directory still
    * holds the renamed table's live data files, so it must not be
    * adopted by a new table (whose orphan-file GC would delete them). */
  private def writeTombstone(loc: String, newIdent: String,
                             newLoc: String): Unit = {
    val out = fs.create(new Path(loc, LakeCatalog.MovedTombstone), true)
    try out.write(s"$newIdent\t$newLoc".getBytes("UTF-8")) finally out.close()
  }

  // ---- multi-table transactions (see [[LakeTransaction]]) -----------------

  /** The transaction log's metadata authority: a reserved pseudo-table
    * `_system.txnlog` — same MetaStore kind as every table of this
    * catalog, so manifests and decision slots are filesystem files here
    * and server-side conditional puts in a [[RemoteLakeCatalog]].
    * Underscore-prefixed namespaces are reserved (hidden from
    * listNamespaces, rejected by createTable's ident rules only by
    * convention — nothing else writes there). */
  private[lake] def txnLogStore: MetaStore = metaStoreFor("_system.txnlog")
  private[lake] def txnLogLocation: String = tableLocation("_system.txnlog")

  /** Begin a multi-table transaction: stage writes through
    * `txn.table(ident)`, then `txn.commit()` publishes them on every
    * participant all-or-nothing (or `txn.rollback()` discards them).
    * `id`: optional caller-chosen transaction id (alphanumeric/dashes) —
    * the transactional streaming sink derives attempt-scoped ids whose
    * PREFIX identifies the writer, so stale attempts' branches are
    * enumerable; ids must never repeat (the manifest slot is
    * put-if-absent). */
  def beginTransaction(id: String = ""): LakeTransaction = {
    val txnId =
      if (id.isEmpty) UUID.randomUUID().toString.replace("-", "").take(20)
      else id
    require(txnId.matches("[A-Za-z0-9-]+"), s"invalid transaction id $txnId")
    new LakeTransaction(this, txnId)
  }

  /** Drive every non-finalized transaction in the log to its outcome —
    * the operator-facing recovery sweep after a coordinator crash
    * (blocked writers also self-heal per table once the fence TTL
    * elapses; this clears ALL participants at once, TTL ignored because
    * the call is explicit). Returns (txnId -> "commit"|"abort") for each
    * transaction resolved. */
  def recoverTransactions(): Map[String, String] = {
    val store = txnLogStore
    val names = store.list().map(_._1)
    val Manifest = "txn-([A-Za-z0-9-]+)\\.manifest".r
    names.collect {
      case Manifest(id) if !names.contains(LakeTransaction.doneName(id)) =>
        val rows = store.read(LakeTransaction.manifestName(id))
          .split("\n").toSeq.filter(_.nonEmpty)
        // any participant works as the recovery anchor
        val anchorLoc = rows.head.split("\t", 4)(0)
        val anchorIdent = rows.head.split("\t", 4)(1)
        val anchor = new LakeTable(spark, anchorLoc, metaStoreFor(anchorIdent))
        LakeTransaction.recover(anchor, id, txnLogLocation)
        val outcome = store.read(LakeTransaction.decisionName(id)).trim
        id -> outcome
    }.toMap
  }

  /** Transaction-log listing for operators (surfaced as
    * `CALL lake.system.list_transactions()`): one row per transaction
    * with its resolved state — `pending` (manifest written, outcome
    * undecided — fences may be live), `commit`/`abort` (decision slot
    * settled, finalization possibly still in flight), suffixed `:done`
    * once every participant was driven (the done marker). Participants
    * and the manifest age make a stuck coordinator diagnosable at a
    * glance. Metadata-only: one txn-log listing + one read per
    * transaction. */
  def listTransactions(): org.apache.spark.sql.DataFrame = {
    val store = txnLogStore
    val names = store.list()
    val byName = names.map(_._1).toSet
    val Manifest = "txn-([A-Za-z0-9-]+)\\.manifest".r
    val now = System.currentTimeMillis()
    val rows = names.collect { case (Manifest(id), modMs) =>
      val decision =
        if (byName.contains(LakeTransaction.decisionName(id)))
          store.read(LakeTransaction.decisionName(id)).trim
        else "pending"
      val state =
        if (byName.contains(LakeTransaction.doneName(id))) s"$decision:done"
        else decision
      val participants = store.read(LakeTransaction.manifestName(id))
        .split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", 4)(1))
      org.apache.spark.sql.Row(id, state, participants.mkString(","),
        now - modMs)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("txn_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("state",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("participants",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("age_ms",
          org.apache.spark.sql.types.LongType))))
  }

  /** The per-table snapshots a COMMITTED transaction published:
    * ident → snapshot id, straight from the transaction's manifest. This
    * is the cross-table consistency primitive the publish step itself
    * cannot give (participants become visible one CAS at a time): a
    * reader that pins each table to these ids — `table.read(snapshotId =
    * Some(id))` / SQL `VERSION AS OF` — sees every participant exactly
    * as of the transaction, regardless of publish progress or later
    * commits. Empty map when the transaction aborted. */
  def transactionSnapshots(txnId: String): Map[String, Long] = {
    val store = txnLogStore
    val dec = LakeTransaction.decisionName(txnId)
    if (!store.exists(dec) || store.read(dec).trim != "commit") return Map.empty
    store.read(LakeTransaction.manifestName(txnId))
      .split("\n").toSeq.filter(_.nonEmpty).map { l =>
        val Array(_, ident, _, head) = l.split("\t", 4)
        ident -> head.toLong
      }.toMap
  }

  /** Register `<name>` plus `<name>__snapshots` etc. as temp views — the
    * SQL-parity route for S3/S6 metadata-table scans. */
  def registerViews(ident: String, viewName: String): LakeTable = {
    val t = loadTable(ident)
    t.toDF.createOrReplaceTempView(viewName)
    MetadataTables.kinds.foreach { k =>
      MetadataTables(t, k).createOrReplaceTempView(s"${viewName}__$k")
    }
    t
  }
}

object LakeCatalog {
  /** File a rename leaves at its old location (`<newIdent>\t<newLoc>`):
    * the directory still holds the renamed table's live data files.
    * [[LakeCatalog.createTable]] refuses tombstoned locations;
    * [[LakeCatalog.dropTable]] of the renamed table reclaims them. */
  private[lake] val MovedTombstone = ".graft-moved"
  /** ';'-separated list of every prior location a renamed table's data
    * may still live under ([[Links]]) — accumulated across chained
    * renames so a final DROP can reclaim all of them. */
  private[lake] val RenamedFromLocationsKey = "graft.renamed-from-locations"
  /** ';'-separated locations of live CLONES whose snapshots reference
    * this table's data files, read and edited through [[Links]] —
    * expire/orphan sweeps spare their bytes and dropTable refuses while
    * any is live. */
  private[lake] val CloneLocationsKey = "graft.clone-locations"
  /** Location of the table this one was cloned FROM (one hop; the chain
    * walks the links) — location-keyed, so the rename fix-up machinery
    * keeps it valid. */
  private[lake] val ClonedFromLocationKey = "graft.cloned-from-location"
}

/** Wire-protocol client catalog: table METADATA resolves and commits
  * through a [[graft.lake.catalog.CatalogServer]] at `uri` (the
  * reference's REST-catalog boundary, docker-compose.yml:35-48 +
  * spark-defaults.conf:22-29), while DATA files read and write directly
  * against `warehouse` on shared storage — engines never hold a
  * filesystem path to any metadata file, and commit linearization
  * happens in the server's conditional put. Configure on a Spark
  * catalog with `spark.sql.catalog.<name>.uri` alongside the warehouse.
  *
  * Scope: the whole engine — create / load / exists / drop / list, every
  * read, every commit (append, DML, merge, maintenance, branches,
  * properties), AND the sibling-table surface (r12): SQL
  * materialized-view routing, streaming auto-refresh, and the
  * `materialized_views` listing resolve state tables through
  * [[MetaStore.sibling]], so a `uri`-mode engine routes and refreshes
  * exactly like a filesystem one (CatalogServiceSpec "MV surface"). */
class RemoteLakeCatalog(spark: SparkSession, warehouse: String, val uri: String)
    extends LakeCatalog(spark, warehouse) {

  override protected def metaStoreFor(ident: String): MetaStore =
    new HttpMetaStore(uri, ident)

  /** Test seam: runs between the metadata copy and the fence re-list of a
    * hand-over — the window a concurrent commit must be detected in. */
  protected def beforeHandOver(ident: String): Unit = ()

  /** Adopt an EXISTING filesystem-metadata table into this catalog
    * service (Iceberg's `register_table`, extended to move authority):
    * every metadata file — all versions, manifest chunks, the hint — is
    * copied to the server, then the filesystem copy is REMOVED so the
    * service becomes the sole commit authority (a writer still holding
    * the location cannot commit against a stale root). Data files never
    * move. The hand-over is CRASH-SAFE and idempotent (r13): files copy
    * in [[handOverOrder]] (`v1.json` last, so a partial copy is invisible
    * to the catalog API), a retry resumes over byte-identical files, a
    * crash after the filesystem delete makes the call a no-op returning
    * the attached table. It is also FENCED: after the copy, the
    * filesystem store is re-listed, and any metadata file that appeared
    * during the copy (a concurrent commit — outside the documented
    * no-concurrent-writers contract, same as Iceberg's register_table)
    * aborts the hand-over with the filesystem copy kept intact and the
    * server-side `v1.json` removed, so the half-copy stays invisible and
    * a retry picks the new commit up. A table whose routing index names
    * SIBLING state tables (materialized views) needs those attached too —
    * sibling resolution stays inside one authority, so a half-moved pair
    * declines to route rather than mixing authorities. */
  def attachTable(ident: String): LakeTable = {
    val loc = tableLocation(ident)
    val fsStore = new FsMetaStore(fs, loc)
    val remote = metaStoreFor(ident)
    if (!fsStore.exists("v1.json")) {
      // no filesystem metadata: either the hand-over already completed
      // (idempotent re-call / crash after the delete) or nothing to attach
      require(remote.exists("v1.json"),
        s"no filesystem table metadata under $loc to attach")
      return loadTable(ident)
    }
    val copied = copyMetadata(fsStore, remote, s"catalog service $uri: $ident")
    beforeHandOver(ident)
    // fence: a commit that landed on the filesystem DURING the copy would
    // be silently destroyed by the delete below — detect it, hide the
    // server-side copy again (v1.json keys visibility; every other file
    // is immutable and reusable by the retry) and make the caller retry
    val appeared = fsStore.list().map(_._1).toSet -- copied.toSet - "version-hint.text"
    if (appeared.nonEmpty) {
      try remote.delete("v1.json") catch { case _: Exception => () }
      throw CommitConflictException(
        s"concurrent commit during attach of $ident (new metadata: " +
          s"${appeared.toSeq.sorted.mkString(", ")}) — filesystem copy " +
          "kept; retry attach_table")
    }
    // authority hand-over: the filesystem metadata must not survive
    LakeTable.invalidateLocation(loc)
    LakeTable.invalidateLocation(remote.id)
    fs.delete(new Path(loc, "metadata"), true)
    loadTable(ident)
  }

  /** Inverse of [[attachTable]]: write every metadata file back under the
    * table location and drop it from the service — the table returns to
    * plain filesystem authority (readable by a warehouse-only catalog).
    * Crash-safe, idempotent and fenced exactly like attach (r13): the
    * copy resumes over byte-identical files with `v1.json` last, a wire
    * commit landing during the copy aborts the hand-over (filesystem
    * `v1.json` removed so the half-copy stays invisible, server copy
    * kept), and a re-call after the server-side drop returns the
    * filesystem table. */
  def detachTable(ident: String): LakeTable = {
    val loc = tableLocation(ident)
    val remote = metaStoreFor(ident)
    val fsStore = new FsMetaStore(fs, loc)
    if (!remote.exists("v1.json")) {
      require(fsStore.exists("v1.json"),
        s"table $ident does not exist at $uri")
      return new LakeTable(spark, loc)
    }
    val copied = copyMetadata(remote, fsStore, s"$loc/metadata")
    beforeHandOver(ident)
    val appeared = remote.list().map(_._1).toSet -- copied.toSet - "version-hint.text"
    if (appeared.nonEmpty) {
      try fsStore.delete("v1.json") catch { case _: Exception => () }
      throw CommitConflictException(
        s"concurrent commit during detach of $ident (new metadata: " +
          s"${appeared.toSeq.sorted.mkString(", ")}) — service copy kept; " +
          "retry detach_table")
    }
    remote match { case h: HttpMetaStore => h.dropTable(); case _ => () }
    LakeTable.invalidateLocation(loc)
    LakeTable.invalidateLocation(remote.id)
    new LakeTable(spark, loc)
  }

  private def serverTables(): Seq[String] = {
    val client = HttpMetaStore.sharedClient
    val r = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"${uri.stripSuffix("/")}/tables")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    require(r.statusCode() == 200, s"GET /tables -> ${r.statusCode()}")
    r.body().split("\n").toSeq.filter(_.nonEmpty)
  }

  /** The server is the source of truth for what exists — an empty remote
    * table has no data directory yet, so directory scans under-report. */
  override def listTables(namespace: String): Seq[String] =
    serverTables().filter(_.startsWith(namespace + "."))
      .map(_.stripPrefix(namespace + "."))

  /** Namespaces are the union of warehouse directories (createNamespace
    * makes one even before any table lands) and the namespaces of the
    * server's table list — a remote namespace holding only empty tables
    * has zero warehouse footprint, so the directory walk alone
    * under-reports exactly as listTables used to. */
  override def listNamespaces(): Seq[String] =
    (super.listNamespaces() ++
      serverTables().map(_.split("\\.").head)).distinct.sorted

  override def namespaceExists(name: String): Boolean =
    super.namespaceExists(name) ||
      serverTables().exists(_.startsWith(name + "."))
}
