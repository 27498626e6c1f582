package graft.lake

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.spark.sql.types.{DataType, StructField, StructType, Metadata => SparkMetadata}

/** Table-metadata model for graft's versioned lake tables.
  *
  * Provides the *capabilities* of the reference's Iceberg tables (snapshots,
  * refs/branches, WAP staging, schema & partition evolution, per-file column
  * stats — see SURVEY.md §2.9 and /root/reference/src/main/java/com/arecadata/
  * clickstream/IcebergStream.java:67-80 for the reference's table model), but
  * as a small JSON manifest of our own design, not the Iceberg format.
  *
  * Layout on disk:
  * {{{
  *   <tableDir>/data/<uuid>.parquet          (physical column names = "c<id>")
  *   <tableDir>/metadata/v<N>.json           (immutable TableMeta versions)
  *   <tableDir>/metadata/version-hint.text   (atomic pointer to current N)
  * }}}
  *
  * Columns are identified by stable integer ids; files are written with
  * physical names `c<id>` so renames / reorders / widenings are
  * metadata-only and files written under older schemas stay readable.
  */
final case class LakeColumn(
    id: Int,
    name: String,
    /** DataType.json string (round-trips via DataType.fromJson). */
    dataType: String,
    nullable: Boolean = true,
    comment: Option[String] = None,
    /** SQL of the column's DEFAULT for NEW writes (ANSI column default;
      * `ALTER COLUMN … SET DEFAULT` updates it). Surfaced as the
      * `CURRENT_DEFAULT` field metadata Spark's INSERT resolution reads. */
    currentDefaultSql: Option[String] = None,
    /** SQL of the value rows that PRE-DATE the column logically hold —
      * frozen at ADD COLUMN time (never changed by SET DEFAULT), filled
      * by the read mapping for files written under older schemas. This
      * is what makes "add a column with a default" metadata-only: no
      * file is rewritten, old rows just read the frozen literal. */
    existsDefaultSql: Option[String] = None,
    /** SQL of a GENERATED ALWAYS AS expression (over sibling columns).
      * Writes compute it when the column is absent and ASSERT agreement
      * when a value is supplied (Delta generated-column semantics);
      * stored physically so reads pay nothing. Mutually exclusive with
      * defaults (Spark's DDL enforces that). */
    generationSql: Option[String] = None,
    /** GENERATED … AS IDENTITY (START WITH start INCREMENT BY step):
      * system-assigned unique values with GAPS ALLOWED (Delta identity
      * semantics — uniqueness and monotonic high-water are guaranteed,
      * density is not). The next unused value rides in table property
      * `graft.identity.next.<id>`, advanced in the SAME commit as the
      * data and guarded against concurrent allocation
      * ([[LakeTable.append]]). */
    // contentAs guards against Jackson's erasure default (Option[Integer])
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    identityStart: Option[Long] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    identityStep: Option[Long] = None,
    /** GENERATED BY DEFAULT (true) keeps supplied non-null values;
      * ALWAYS (false) refuses them row-level. */
    identityAllowExplicit: Boolean = false,
    /** The on-disk column name when it is NOT the canonical `c<id>`:
      * set only on the per-import schema groups `add_files` records for
      * FOREIGN parquet registered in place (their files keep their
      * original column names). None (the default, and the only value the
      * native write path ever produces) keeps the stable-id spelling. */
    physicalOverride: Option[String] = None,
    /** True only on per-import schema groups for a column whose value is
      * NOT in the parquet bytes but in the file's `name=value` PATH
      * segment (hive-layout `add_files` into an identity-partitioned
      * table). Readers fill it from the file path / the DataFile's
      * recorded partition tuple instead of the footer. */
    fromPath: Boolean = false) {
  def sparkType: DataType = DataType.fromJson(dataType)
  def physicalName: String = physicalOverride.getOrElse(s"c$id")
  def toField: StructField = {
    val b = new org.apache.spark.sql.types.MetadataBuilder()
    comment.foreach(b.putString("comment", _))
    currentDefaultSql.foreach(b.putString("CURRENT_DEFAULT", _))
    existsDefaultSql.foreach(b.putString("EXISTS_DEFAULT", _))
    generationSql.foreach(b.putString("GENERATION_EXPRESSION", _))
    StructField(name, sparkType, nullable, b.build())
  }
}

final case class LakeSchema(schemaId: Int, columns: Seq[LakeColumn]) {
  def sparkSchema: StructType = StructType(columns.map(_.toField))
  def physicalSchema: StructType =
    StructType(columns.map(c => StructField(c.physicalName, c.sparkType, c.nullable)))
  def byName(name: String): Option[LakeColumn] = columns.find(_.name == name)
  def byId(id: Int): Option[LakeColumn] = columns.find(_.id == id)
}

/** One partition-spec field: `transform(sourceColumn)` (hidden partitioning,
  * ref: Berlin Buzzwords 2023.ipynb:105 `PARTITIONED BY (days(...))`).
  * Transforms: identity | years | months | days | hours | bucket[N].
  * Partition values are string-encoded transform outputs (Iceberg-style
  * ordinals for time transforms: days since epoch, etc.). */
final case class PartitionField(sourceId: Int, transform: String) {
  /** Physical partition directory column name (stable across renames). */
  def physicalName: String = s"_p_${transform.replaceAll("[\\[\\]]", "_")}_$sourceId"
}

final case class PartitionSpec(specId: Int, fields: Seq[PartitionField])

/** Column stats string-encoded by type (timestamps as epoch-micros strings)
  * so JSON round-trips are lossless and engine-agnostic. */
final case class ColStat(min: Option[String], max: Option[String], nullCount: Long)

final case class DataFile(
    path: String,
    specId: Int,
    schemaId: Int,
    /** physical partition column name → string-encoded value ("" key absent for unpartitioned). */
    partitionValues: Map[String, String],
    rowCount: Long,
    sizeBytes: Long,
    /** physical column name ("c<id>") → stats. */
    stats: Map[String, ColStat],
    /** Snapshot that first added this file (stamped at commit time — the
      * data-sequence-number analog of Iceberg v2). Equality deletes mask
      * only files with a STRICTLY lower addedSnapshotId, so an upsert's
      * own inserted rows survive its own delete. 0 on files written
      * before this field existed — lower than any real snapshot id, so
      * legacy files are maskable (they predate every delete). */
    addedSnapshotId: Long = 0L)

/** Merge-on-read positional delete file (Iceberg v2 position deletes, ref:
  * `write.delete.mode=merge-on-read` in the reference's Iceberg tables):
  * a parquet file of `(file_name STRING, pos BIGINT)` rows marking data-file
  * positions as deleted WITHOUT rewriting the data file — a point DELETE on
  * a 100 TB table writes kilobytes instead of re-writing gigabyte files.
  * Readers subtract the positions at scan time; `rewrite_position_deletes`
  * or any CoW rewrite of the referenced files retires the entries.
  *
  * `counts` is keyed by data-file NAME (the UUID basename — unique per
  * table, and exactly what Spark's `_metadata.file_name` yields at both
  * delete-encode and scan time, so the join key needs no URI
  * normalization). Commits prune `counts` to files still live in the new
  * snapshot, so `Σ counts` stays an EXACT deleted-row count and the
  * metadata-only COUNT(*) fast path remains exact under merge-on-read. */
final case class DeleteFile(
    path: String,
    sizeBytes: Long,
    /** referenced data-file name → deleted-position count in that file.
      * Positions are globally disjoint across a snapshot's delete files
      * (delete writes anti-join already-deleted positions).
      * contentAs guards against Jackson's erasure default (Integer values
      * for small counts → ClassCastException on first use after reload). */
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    counts: Map[String, Long],
    /** Deletion-vector refs: data-file name → bitmap byte range covering
      * EXACTLY this delete file's entries for that file (see
      * [[DeleteVectors]]). Derived acceleration — the parquet entries
      * stay authoritative; a data file missing here reads via the
      * anti-join fallback. Empty on pre-DV metadata (Jackson default). */
    dv: Map[String, DvRef] = Map.empty) {
  def rowCount: Long = counts.values.sum
  /** Null-safe `dv` (metadata written before the field existed can
    * deserialize it null — same hazard [[Manifests.inflate]] guards on
    * `files`). Read paths go through this. */
  def vectors: Map[String, DvRef] = Option(dv).getOrElse(Map.empty)
}

/** Byte range of one data file's deletion-vector bitmap inside a
  * content-addressed bundle object (`data/dv-<sha256/16>.bin`). */
final case class DvRef(bundle: String, offset: Long, len: Int)

/** Equality delete file (Iceberg v2 equality deletes — the Flink/CDC
  * upsert mechanism, ref: `IcebergStream.java:118` equalityFieldColumns
  * with upsert mode): a parquet file of distinct KEY tuples; every row in
  * a data file with `addedSnapshotId < addedAt` whose key equals a stored
  * tuple is deleted. A streaming upsert batch commits as ONE equality
  * delete + appended row versions — O(batch) writes, zero data-file
  * rewrites, which is what makes CDC ingestion survive a 100 TB table.
  * Unlike positional deletes the masked-row count is unknowable without a
  * scan, so the COUNT(*)/MIN-MAX metadata fast paths and SPJ disable
  * while any equality delete is live; compaction retires them. */
final case class EqualityDeleteFile(
    path: String,
    sizeBytes: Long,
    /** Stable column ids of the equality key (schema-evolution-proof;
      * the parquet columns are the matching physical names "c<id>"). */
    keyIds: Seq[Int],
    /** Schema the key columns were written under (type reconstruction). */
    schemaId: Int,
    /** Number of distinct key tuples in the file. */
    rowCount: Long,
    /** Snapshot that committed this delete — masks files with
      * addedSnapshotId strictly below. Filled at commit time. */
    addedAt: Long,
    /** String-encoded bounds of the FIRST key column (ColStat encoding).
      * Written to metadata but read by no code: no read or conversion
      * prunes by them, and every file a delete [[masks]] gets its mask. */
    keyMin: Option[String] = None,
    keyMax: Option[String] = None) {
  /** The one equality-mask rule: this delete masks `f`'s rows iff `f`
    * was committed strictly before it, so an upsert's own inserted rows
    * survive its own delete. */
  def masks(f: DataFile): Boolean = addedAt > f.addedSnapshotId
}

final case class Snapshot(
    snapshotId: Long,
    // contentAs guards against Jackson's erasure default (Option[Integer])
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    parentId: Option[Long],
    timestampMs: Long,
    /** append | overwrite | delete | replace | truncate. */
    operation: String,
    summary: Map[String, String],
    /** The snapshot's data files. In-memory this is always resolved; ON DISK
      * it is serialized EMPTY and the file list lives in content-addressed
      * manifest chunks ([[Manifests]]) named by `manifests` — so the root
      * metadata document stays O(snapshots × chunk-refs) and a commit
      * writes O(churn) manifest bytes, never the full history × file list
      * (the Iceberg manifest-list design, SURVEY §1.1 metadata row). */
    files: Seq[DataFile],
    /** WAP: staged snapshots are not reachable from any ref until
      * cherry-picked (ref: Integrated Audits….ipynb c16/c27). */
    staged: Boolean = false,
    /** Ordered manifest-chunk names whose concatenation equals `files`.
      * Empty on a freshly constructed snapshot — [[Manifests.assign]] fills
      * it at commit time (reusing the parent's unchanged chunks). A commit
      * transform that alters an EXISTING snapshot's `files` must reset this
      * (and `manifestList`) so assignment re-chunks (none do today —
      * snapshots are immutable once committed). In-memory only: the version
      * JSON persists `manifestList` instead, so the root stays O(snapshots)
      * rather than O(snapshots × chunks). */
    manifests: Seq[String] = Seq.empty,
    /** Name of the content-addressed manifest-LIST file holding
      * `manifests` (`metadata/manifest-list-<hash>.json`) — the one
      * per-snapshot pointer the root document serializes, exactly
      * Iceberg's snapshot → manifest-list indirection. */
    manifestList: Option[String] = None,
    /** Merge-on-read positional delete files applying to `files` (empty on
      * copy-on-write-only tables). In-memory always resolved; ON DISK the
      * list is serialized EMPTY and lives in one content-addressed chunk
      * named by `deleteManifest` — consecutive snapshots that share a
      * delete set (every append) share the chunk by name, so the root
      * document carries one name per snapshot, not the entry list
      * (Iceberg's delete-manifest indirection). Bounded by churn since the
      * last compaction: `rewrite_position_deletes` / `rewrite_data_files`
      * reset it. */
    deleteFiles: Seq[DeleteFile] = Seq.empty,
    /** Live equality delete files (merge-on-read upserts). Same
      * persistence scheme as `deleteFiles`: serialized EMPTY on disk,
      * carried by the `deleteManifest` chunk, bounded by churn since the
      * last compaction. */
    eqDeleteFiles: Seq[EqualityDeleteFile] = Seq.empty,
    /** Content-addressed chunk (`metadata/manifest-del-<hash>.json`)
      * holding `deleteFiles` + `eqDeleteFiles`; None when both are empty.
      * Filled by [[Manifests.assign]] at commit time. */
    deleteManifest: Option[String] = None) {
  /** Data rows minus positional-delete rows: exact, because commits prune
    * delete counts to live files; an upper bound while equality deletes
    * are live (their masked-row count is unknowable without a scan). */
  def liveRecords: Long = files.map(_.rowCount).sum - deleteFiles.map(_.rowCount).sum
}

/** Named ref: `branch` (movable, writable) or `tag` (immutable marker). */
final case class Ref(snapshotId: Long, kind: String = "branch")

final case class HistoryEntry(timestampMs: Long, snapshotId: Long, ref: String)

final case class TableMeta(
    formatVersion: Int,
    tableId: String,
    name: String,
    location: String,
    schemas: Seq[LakeSchema],
    currentSchemaId: Int,
    partitionSpecs: Seq[PartitionSpec],
    defaultSpecId: Int,
    snapshots: Seq[Snapshot],
    refs: Map[String, Ref],
    history: Seq[HistoryEntry],
    properties: Map[String, String],
    lastColumnId: Int,
    lastSnapshotId: Long,
    version: Int) {

  def schema: LakeSchema = schemas.find(_.schemaId == currentSchemaId).get
  def spec: PartitionSpec = partitionSpecs.find(_.specId == defaultSpecId).get
  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)
  def currentSnapshot: Option[Snapshot] =
    refs.get(LakeTable.MainBranch).flatMap(r => snapshot(r.snapshotId))
  def snapshotFor(branch: String): Option[Snapshot] =
    refs.get(branch).flatMap(r => snapshot(r.snapshotId))
  /** The snapshot a write to `branch` builds on: the branch's head, or
    * the current snapshot while the branch does not exist yet. */
  def branchHead(branch: String): Option[Snapshot] =
    snapshotFor(branch).orElse(currentSnapshot)

  /** Id of the next minted snapshot: commits stamp the files and equality
    * deletes they add with it before calling [[withSnapshot]]. */
  def nextSnapshotId: Long = lastSnapshotId + 1

  private def requireBranch(name: String): Unit =
    require(refs.get(name).forall(_.kind != "tag"), s"cannot write to tag $name")

  /** Point branch `name` at `snapshotId` and record the move in the
    * history. Tags are immutable: moving one is refused. */
  def moveRef(name: String, snapshotId: Long,
              nowMs: Long = System.currentTimeMillis()): TableMeta = {
    requireBranch(name)
    copy(refs = refs + (name -> Ref(snapshotId)),
      history = history :+ HistoryEntry(nowMs, snapshotId, name))
  }

  /** Mint one snapshot on `branch`: the single step every lake commit
    * takes to extend the snapshot history. Pure: no Spark and no I/O.
    *
    * The new snapshot takes [[nextSnapshotId]] and the current time, with
    * `parent`'s id as its parent. Its summary is `summary` plus the keys
    * every snapshot carries:
    *   - `operation`: `operation`;
    *   - `total-records`: the new snapshot's [[Snapshot.liveRecords]];
    *   - `has-equality-deletes` = `true` iff `eqDeleteFiles` is non-empty
    *     (absent otherwise, even when `summary` copied it from a staged
    *     snapshot).
    * These keys override same-named keys in `summary`.
    *
    * A published snapshot advances `branch` and appends a history entry
    * ([[moveRef]]); a `staged` (WAP) snapshot leaves refs and history
    * alone until cherry-picked. Either way a tag is refused. `manifests`
    * pre-sets the chunk list (otherwise [[Manifests.assign]] chunks the
    * files at commit time), `properties` are merged into the table's. */
  def withSnapshot(branch: String, parent: Option[Snapshot], operation: String,
                   summary: Map[String, String], files: Seq[DataFile],
                   deleteFiles: Seq[DeleteFile] = Seq.empty,
                   eqDeleteFiles: Seq[EqualityDeleteFile] = Seq.empty,
                   staged: Boolean = false,
                   manifests: Seq[String] = Seq.empty,
                   properties: Map[String, String] = Map.empty): TableMeta = {
    requireBranch(branch)
    val snapId = nextSnapshotId
    val now = System.currentTimeMillis()
    val snap0 = Snapshot(snapId, parent.map(_.snapshotId), now, operation, Map.empty,
      files, staged = staged, manifests = manifests,
      deleteFiles = deleteFiles, eqDeleteFiles = eqDeleteFiles)
    val snap = snap0.copy(summary = summary - "has-equality-deletes" ++
      Map("operation" -> operation, "total-records" -> snap0.liveRecords.toString) ++
      (if (eqDeleteFiles.nonEmpty) Map("has-equality-deletes" -> "true") else Map.empty))
    val next = copy(snapshots = snapshots :+ snap, lastSnapshotId = snapId,
      properties = this.properties ++ properties)
    if (staged) next else next.moveRef(branch, snapId, now)
  }

  /** `start` and its retained parent chain, newest first: the one walk
    * every reader of snapshot history takes. Pure and lazy — a caller
    * that stops early pays only for the steps it took. The chain ends at
    * the root or at the first parent that expiry dropped. A staged (WAP)
    * snapshot is never the parent of a published one, so a walk from a
    * ref never meets it. The id index is built once, on the first step. */
  def ancestry(start: Option[Snapshot]): Iterator[Snapshot] = {
    lazy val byId = snapshots.iterator.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(start)(_.flatMap(_.parentId).flatMap(byId.get))
      .takeWhile(_.isDefined).map(_.get)
  }

  /** The commits in `(from, to]` on `to`'s retained ancestry, oldest
    * first; `from = None` reaches back as far as [[ancestry]] does. None
    * when `from` is not a retained ancestor of `to` (expired, rolled
    * back, another branch). Pure. */
  def commitsBetween(from: Option[Long], to: Long): Option[Seq[Snapshot]] = {
    val (window, rest) = ancestry(snapshot(to)).span(s => !from.contains(s.snapshotId))
    val commits = window.toList.reverse
    if (from.isEmpty || rest.hasNext) Some(commits) else None
  }

  /** The newest value of summary key `key` on main's retained ancestry. */
  def latestSummary(key: String): Option[String] =
    ancestry(currentSnapshot).flatMap(_.summary.get(key)).nextOption()

  /** `s`'s parent, if expiry has not dropped it. */
  def parentOf(s: Snapshot): Option[Snapshot] = s.parentId.flatMap(snapshot)

  /** What commit `s` changed against its retained parent. */
  def commitDiff(s: Snapshot): CommitDiff = CommitDiff(parentOf(s), s)

  /** Paths of every object a retained snapshot reads: data files,
    * position-delete files, their deletion-vector bundles and equality
    * delete files. Expiry and orphan removal delete only what is outside
    * this set. Pure. */
  def referencedFiles: Set[String] =
    snapshots.iterator.flatMap(s =>
      s.files.iterator.map(_.path) ++
        s.deleteFiles.iterator.flatMap(d => d.path +: d.vectors.values.map(_.bundle).toSeq) ++
        s.eqDeleteFiles.iterator.map(_.path)).toSet

  /** Names of every metadata object a retained snapshot reads: manifest
    * chunks, manifest lists and delete manifests. Pure. */
  def referencedMetadata: Set[String] =
    snapshots.iterator.flatMap(s => s.manifests ++ s.manifestList ++ s.deleteManifest).toSet
}

/** What a commit changed against the snapshot before it (`before = None`:
  * nothing before it — the root, or a parent that expiry dropped). Data
  * and delete files are matched by path. Pure; each part is computed on
  * first use. */
final class CommitDiff(before: Option[Snapshot], files: Seq[DataFile],
                       deleteFiles: Seq[DeleteFile], eqDeleteFiles: Seq[EqualityDeleteFile]) {
  private lazy val beforePaths: Set[String] =
    before.fold(Set.empty[String])(_.files.iterator.map(_.path).toSet)

  /** Whether `f` is new against `before`. */
  def adds(f: DataFile): Boolean = !beforePaths.contains(f.path)

  /** Data files not in `before`. */
  lazy val added: Seq[DataFile] = files.filter(adds)

  /** Data files of `before` that are gone. */
  lazy val removed: Seq[DataFile] = before.fold(Seq.empty[DataFile]) { b =>
    val now = files.iterator.map(_.path).toSet
    b.files.filterNot(f => now.contains(f.path))
  }

  /** Position-delete files not in `before`. */
  lazy val addedDeletes: Seq[DeleteFile] = {
    val was = before.fold(Set.empty[String])(_.deleteFiles.iterator.map(_.path).toSet)
    deleteFiles.filterNot(d => was.contains(d.path))
  }

  /** Equality-delete files not in `before`. */
  lazy val addedEqDeletes: Seq[EqualityDeleteFile] = {
    val was = before.fold(Set.empty[String])(_.eqDeleteFiles.iterator.map(_.path).toSet)
    eqDeleteFiles.filterNot(d => was.contains(d.path))
  }
}

object CommitDiff {
  def apply(before: Option[Snapshot], after: Snapshot): CommitDiff =
    new CommitDiff(before, after.files, after.deleteFiles, after.eqDeleteFiles)

  /** Diff of a data-file list not yet committed (its delete sets empty). */
  def apply(before: Option[Snapshot], files: Seq[DataFile]): CommitDiff =
    new CommitDiff(before, files, Seq.empty, Seq.empty)
}

/** Table links: a property whose value is a ';'-joined list of table
  * locations — a base's registered views (`graft.ivm.views`) and indexes
  * (`graft.vindex.indexes`, `graft.tindex.indexes`), its live clones
  * (`graft.clone-locations`) and a renamed table's prior homes
  * (`graft.renamed-from-locations`). Every read and edit of such a list
  * goes through here. Pure map-to-map steps, so an edit runs inside
  * [[LakeTable.updateProperties]]' retry loop (concurrent registrations
  * compose), and an edit that changes nothing returns the same map, which
  * commits nothing. */
object Links {
  private def elements(value: String): Seq[String] =
    value.split(';').toSeq.filter(_.nonEmpty)

  /** The locations listed under `key`, in order; empty elements ignored. */
  def of(props: Map[String, String], key: String): Seq[String] =
    props.get(key).toSeq.flatMap(elements)

  /** Every non-empty element of every property value: the candidate
    * sibling locations a rename probes for back-references. */
  def everywhere(props: Map[String, String]): Seq[String] =
    props.values.toSeq.flatMap(elements)

  /** Append `loc` to the list under `key` unless it is already listed. */
  def add(key: String, loc: String)(props: Map[String, String]): Map[String, String] = {
    val cur = of(props, key)
    if (cur.contains(loc)) props else props + (key -> (cur :+ loc).mkString(";"))
  }

  /** Drop `loc` from the list under `key`; the key goes when the list
    * empties. */
  def remove(key: String, loc: String)(props: Map[String, String]): Map[String, String] = {
    val cur = of(props, key)
    if (!cur.contains(loc)) props
    else cur.filterNot(_ == loc) match {
      case Seq() => props - key
      case left => props + (key -> left.mkString(";"))
    }
  }

  /** Replace every list element equal to `from` with `to`, in every
    * property value. A value with no such element stays byte-identical:
    * the split keeps empty elements, so a trailing ';' survives. */
  def relocate(from: String, to: String)(props: Map[String, String]): Map[String, String] =
    props.map { case (k, v) =>
      val parts = v.split(";", -1)
      if (!parts.contains(from)) k -> v
      else k -> parts.map(x => if (x == from) to else x).mkString(";")
    }
}

/** Serialization model of one manifest chunk: an immutable, content-addressed
  * slice of a snapshot's data-file list (`metadata/manifest-<hash>.json`).
  * Chunks are shared structurally across snapshots — an append's new
  * snapshot references all of its parent's chunks plus one new chunk for
  * the appended files. */
final case class ManifestChunk(files: Seq[DataFile])

/** Wire form of one snapshot's [[DeleteFile]] + [[EqualityDeleteFile]]
  * lists (content-addressed — shared by name across every snapshot with
  * the same live delete set). */
final case class DeleteManifestChunk(
    deleteFiles: Seq[DeleteFile],
    eqDeleteFiles: Seq[EqualityDeleteFile] = Seq.empty)

object Meta {
  private val mapper: ObjectMapper with ClassTagExtensions = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def toJson(meta: TableMeta): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)
  def fromJson(json: String): TableMeta = mapper.readValue[TableMeta](json)
  /** Compact (not pretty) — chunk bytes are the dominant metadata cost. */
  def chunkToJson(files: Seq[DataFile]): String =
    mapper.writeValueAsString(ManifestChunk(files))
  def chunkFromJson(json: String): Seq[DataFile] =
    mapper.readValue[ManifestChunk](json).files
  def listToJson(names: Seq[String]): String = mapper.writeValueAsString(names)
  def listFromJson(json: String): Seq[String] = mapper.readValue[Seq[String]](json)
  /** Bloom bundle: file path -> ("col-<id>:<type>" -> base64 bytes). */
  def bloomBundleToJson(b: Map[String, Map[String, String]]): String =
    mapper.writeValueAsString(b)
  def bloomBundleFromJson(json: String): Map[String, Map[String, String]] =
    mapper.readValue[Map[String, Map[String, String]]](json)
  def deleteChunkToJson(dels: Seq[DeleteFile],
                        eqDels: Seq[EqualityDeleteFile]): String =
    mapper.writeValueAsString(DeleteManifestChunk(dels, eqDels))
  def deleteChunkFromJson(json: String): DeleteManifestChunk =
    mapper.readValue[DeleteManifestChunk](json)
}
