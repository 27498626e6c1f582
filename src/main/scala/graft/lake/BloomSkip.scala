package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.util.sketch.{BloomFilter => SketchBloom}

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap

/** MANIFEST-level bloom skipping: per-data-file bloom filters over
  * declared high-cardinality columns, stored as per-commit bundle objects
  * in table metadata and consulted at scan planning to drop whole files a
  * point lookup cannot match — before any file is opened.
  *
  * This is the layer between the two data-skipping tiers the engine
  * already has: min/max footer stats prune files only when the column is
  * clustered (an id/hash column overlaps every file), and parquet
  * row-group blooms (`write.bloom-filter.columns`) prune only AFTER the
  * scan task opened the file. At 100 TB a `WHERE doc_id = ?` against an
  * append-ordered table otherwise schedules a task per file just to
  * reject it; the manifest bloom answers from metadata at the driver —
  * the shape Iceberg ships as puffin/ndv sketches.
  *
  * Mechanics:
  *   - Opt in per table: `graft.bloom.columns` = comma-separated logical
  *     column names; `graft.bloom.fpp` (default 0.03) sizes the filters.
  *   - Every append builds blooms for its NEW files (one distributed
  *     aggregate over just-written data, one `bloom-<sha>.json` bundle
  *     object written through the [[MetaStore]] seam — wire-mode tables
  *     store bundles on the catalog server like any metadata byte), and
  *     records the bundle name in the snapshot summary (`bloom-bundle`).
  *   - Scan planning merges the bundles referenced by the metadata's
  *     snapshots (process-wide immutable cache, same pattern as manifest
  *     chunks) and drops files whose blooms prove an `=`/`IN` conjunct
  *     cannot match. Soundness mirrors [[Pruning.mayMatch]]'s
  *     three-valued shape: only leaves a bloom can DISPROVE consult it;
  *     everything else stays may-match, and the result composes with the
  *     stats verdict as AND.
  *   - Files written by compaction/CoW/import have no blooms until
  *     [[LakeTable.rewriteBlooms]] (also `CALL lake.system.rewrite_blooms`)
  *     covers them — skipping degrades to stats-only, never to wrong.
  *   - Blooms are keyed by (COLUMN ID, table type): a rename never
  *     orphans them, and a type WIDENING makes the old blooms silently
  *     stop matching (their hashes were computed under the narrow type —
  *     probing them under the wide one would wrongly prune) until
  *     rewrite_blooms re-covers under the widened type.
  *
  * Hash contract (build and probe must agree bit-for-bit): the stored
  * filter holds `xxhash64(CAST(col AS <table type>))` of every row; the
  * probe hashes the literal cast to the same table type. Casting both
  * sides pins the hash domain even when an import group stores the column
  * narrower than the table declares it.
  */
object BloomSkip {

  val ColumnsKey = "graft.bloom.columns"
  val FppKey = "graft.bloom.fpp"
  /** Snapshot-summary key naming the bundle this commit added. */
  val BundleSummaryKey = "bloom-bundle"

  /** Spark's runtime-bloom aggregate refuses above this (default conf). */
  private val MaxItems = 4000000L
  private val MaxBits = 67108864L

  /** Bundle key: column id + the TABLE type the hash was computed under.
    * Spark's xxhash64 hashes int and long (and float and double)
    * DIFFERENTLY, so a bloom built before `updateColumnType` widened the
    * column would wrongly prune present values if probed under the new
    * type — keying by (id, type) makes the stale blooms silently stop
    * matching instead: the column degrades to stats-only until
    * rewrite_blooms re-covers it under the widened type. Rename-proof
    * (ids, not names) like before. */
  private[lake] def bloomKey(c: LakeColumn): String =
    s"col-${c.id}:${c.sparkType.catalogString}"

  def declaredCols(m: TableMeta): Seq[LakeColumn] =
    m.properties.get(ColumnsKey).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty).flatMap(m.schema.byName)

  private def fpp(m: TableMeta): Double =
    m.properties.get(FppKey).flatMap(_.toDoubleOption).getOrElse(0.03)

  /** Classic sizing: bits = -n ln(p) / (ln 2)^2. */
  private def numBits(n: Long, p: Double): Long = {
    val ln2sq = math.log(2) * math.log(2)
    math.min(MaxBits, math.max(64L, math.ceil(-n * math.log(p) / ln2sq).toLong))
  }

  /** Scheme-insensitive path key (file:///a/b vs /a/b). */
  private def normPath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  // ---- build ----------------------------------------------------------------

  /** Per-file blooms for `files`, one aggregate per schema group (groups
    * can store a column under a different physical name or a narrower
    * type; a group whose column has no bytes — a hive-import path column —
    * is skipped for that column). The scan reads the group's known
    * physical schema, and a group that fits one scan split's byte budget
    * (`spark.sql.files.maxPartitionBytes`; every CDC batch's new files)
    * aggregates in a single partition: `coalesce(1)` reports
    * SinglePartition, so grouping by file needs no exchange and the build
    * is ONE Spark job instead of a shuffle-map job plus a result job.
    * Returns normalized-file-path -> ([[bloomKey]] -> base64 filter
    * bytes). */
  def build(spark: SparkSession, m: TableMeta, files: Seq[DataFile],
            cols: Seq[LakeColumn]): Map[String, Map[String, String]] = {
    val p = fpp(m)
    files.filter(_.rowCount > 0).groupBy(_.schemaId).toSeq.flatMap {
      case (sid, group) =>
        val schema = m.schemas.find(_.schemaId == sid).getOrElse(m.schema)
        // this group's physical column for each declared column
        val resolved = cols.flatMap { c =>
          schema.byId(c.id).filter(!_.fromPath).map(gc => (c, gc))
        }
        if (resolved.isEmpty) Seq.empty
        else {
          val items = math.min(MaxItems, math.max(1L, group.map(_.rowCount).max))
          val bits = numBits(items, p)
          val aggs = resolved.zipWithIndex.map { case ((c, gc), i) =>
            val child = ColumnBridge.expression(
              xxhash64(col(gc.physicalName).cast(c.sparkType)))
            ColumnBridge.column(new BloomFilterAggregate(child,
              Literal(items), Literal(bits)).toAggregateExpression())
              .as(s"_bloom_$i")
          }
          val physical = StructType(resolved.map { case (_, gc) =>
            StructField(gc.physicalName, gc.sparkType) })
          val scan = spark.read.schema(physical).parquet(group.map(_.path): _*)
            .select(col("_metadata.file_path").as("__bloom_path") +:
              resolved.map { case (_, gc) => col(gc.physicalName) }: _*)
          val oneSplit =
            group.map(_.sizeBytes).sum <= spark.sessionState.conf.filesMaxPartitionBytes
          (if (oneSplit) scan.coalesce(1) else scan)
            .groupBy(col("__bloom_path"))
            .agg(aggs.head, aggs.tail: _*)
            .collect().map { row =>
              val blooms = resolved.indices.flatMap { i =>
                if (row.isNullAt(i + 1)) None
                else Some(bloomKey(resolved(i)._1) ->
                  Base64.getEncoder.encodeToString(row.getAs[Array[Byte]](i + 1)))
              }.toMap
              normPath(row.getString(0)) -> blooms
            }
        }
    }.toMap.filter(_._2.nonEmpty)
  }

  /** Write a content-addressed bundle object through the seam; returns its
    * name. Idempotent: a commit retry reuses the identical object. */
  def writeBundle(store: MetaStore,
                  blooms: Map[String, Map[String, String]]): String = {
    val json = Meta.bloomBundleToJson(blooms)
    val d = MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes(StandardCharsets.UTF_8))
    val name = s"bloom-${d.take(8).map(b => f"$b%02x").mkString}.json"
    if (!store.exists(name)) { store.putIfAbsent(name, json.getBytes(StandardCharsets.UTF_8)); () }
    name
  }

  /** Driver-memory bound: files per build job / bundle object. Each
    * file's blooms return to the driver once (collect of ~bits/8 bytes
    * per declared column), so a backfill over 10^5 files must run as a
    * sequence of bounded jobs, never one giant collect. */
  private val FilesPerBundle = 512

  /** Build + persist bundles for `newFiles` when the table declares bloom
    * columns; None otherwise (and when nothing bloomable was written).
    * Returns the comma-separated bundle names for the snapshot summary —
    * large file sets produce several bounded bundles. */
  def buildBundleFor(spark: SparkSession, store: MetaStore, m: TableMeta,
                     newFiles: Seq[DataFile]): Option[String] = {
    val cols = declaredCols(m)
    if (cols.isEmpty || newFiles.isEmpty) return None
    val names = newFiles.grouped(FilesPerBundle).flatMap { group =>
      val blooms = build(spark, m, group, cols)
      if (blooms.isEmpty) None else Some(writeBundle(store, blooms))
    }.toSeq
    if (names.isEmpty) None else Some(names.mkString(","))
  }

  // ---- load -----------------------------------------------------------------

  // Bundles are immutable (content-addressed): a process-wide cache of the
  // DESERIALIZED filters, same lifetime discipline as Manifests' chunks.
  private val cache =
    new ConcurrentHashMap[String, Map[String, Map[String, SketchBloom]]]()
  private val MaxCacheEntries = 4096

  private def loadBundle(store: MetaStore,
                         name: String): Map[String, Map[String, SketchBloom]] = {
    val key = store.id + "/" + name
    val hit = cache.get(key)
    if (hit != null) return hit
    val parsed = Meta.bloomBundleFromJson(store.read(name)).map {
      case (path, byCol) =>
        normPath(path) -> byCol.map { case (cid, b64) =>
          cid -> SketchBloom.readFrom(
            new ByteArrayInputStream(Base64.getDecoder.decode(b64)))
        }
    }
    if (cache.size < MaxCacheEntries) cache.put(key, parsed)
    parsed
  }

  // The MERGED index is cached per (store, version): metadata versions
  // are immutable, so the fold over every bundle runs once per commit
  // observed, not once per query — at 10^4 commits the per-read cost
  // would otherwise be an O(commits) map merge.
  private val mergedCache =
    new ConcurrentHashMap[String, Map[String, Map[String, SketchBloom]]]()

  /** Merged per-file bloom index for every bundle `m`'s snapshots
    * reference. Later snapshots win per (path, column) — a rebuilt bundle
    * supersedes the original for files both cover. */
  def bundleIndex(store: MetaStore,
                  m: TableMeta): Map[String, Map[String, SketchBloom]] = {
    val key = store.id + "#" + m.version
    val hit = mergedCache.get(key)
    if (hit != null) return hit
    val names = m.snapshots.flatMap(_.summary.get(BundleSummaryKey))
      .flatMap(_.split(",")).filter(_.nonEmpty).distinct
    val merged =
      if (names.isEmpty) Map.empty[String, Map[String, SketchBloom]]
      else names.foldLeft(Map.empty[String, Map[String, SketchBloom]]) { (acc, n) =>
        loadBundle(store, n).foldLeft(acc) { case (a, (path, byCol)) =>
          a.updated(path, a.getOrElse(path, Map.empty) ++ byCol)
        }
      }
    if (mergedCache.size < MaxCacheEntries) mergedCache.put(key, merged)
    merged
  }

  // ---- probe ----------------------------------------------------------------

  /** Does `p` mention an `=`/`IN` over a declared bloom column at all?
    * Cheap pre-check so non-bloom queries never load a bundle. */
  private def consultsBloom(p: Pruning.Pred, names: Set[String]): Boolean =
    p match {
      case Pruning.And(l, r) => consultsBloom(l, names) || consultsBloom(r, names)
      case Pruning.Or(l, r) => consultsBloom(l, names) || consultsBloom(r, names)
      case Pruning.Eq(c, _) => names(c)
      case Pruning.In(c, _) => names(c)
      case _ => false
    }

  /** xxhash64(CAST(v AS dt)) with Spark literal semantics — the exact
    * value [[build]] inserted for a row equal to `v`. None = can't decide
    * (cast failure / null) → no pruning. */
  private def hash64(v: Any, dt: DataType): Option[Long] =
    try {
      val lit = Literal.create(v)
      val casted = if (lit.dataType == dt) lit.value
        else Cast(lit, dt, Some("UTC")).eval(null)
      if (casted == null) None
      else Some(new XxHash64(Seq(Literal(casted, dt)))
        .eval(null).asInstanceOf[Long]) // default seed 42 = functions.xxhash64
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Could any row of a file with `blooms` satisfy `p`? Only leaves a
    * bloom can DISPROVE return false; everything else is may-match (the
    * stats layer already ruled on ranges/nulls — verdicts AND together).
    * NOT stays may-match: a bloom proves absence, never membership. */
  private def mayMatch(p: Pruning.Pred, blooms: Map[String, SketchBloom],
                       types: Map[String, (String, DataType)]): Boolean = p match {
    case Pruning.And(l, r) => mayMatch(l, blooms, types) && mayMatch(r, blooms, types)
    case Pruning.Or(l, r) => mayMatch(l, blooms, types) || mayMatch(r, blooms, types)
    case Pruning.Eq(c, v) if v != null => test(c, v, blooms, types)
    case Pruning.In(c, vs) =>
      // a NULL element never equates, so OR-ing the non-null probes is
      // exact; an all-NULL list can match no row at all
      vs.filter(_ != null) match {
        case Seq() => false
        case nn => nn.exists(test(c, _, blooms, types))
      }
    case _ => true
  }

  private def test(c: String, v: Any, blooms: Map[String, SketchBloom],
                   types: Map[String, (String, DataType)]): Boolean =
    types.get(c) match {
      case Some((cid, dt)) => blooms.get(cid) match {
        case Some(b) => hash64(v, dt).forall(b.mightContainLong)
        case None => true // file has no bloom for the column (yet)
      }
      case None => true
    }

  /** The read-path entry: drop every file of `files` whose blooms prove
    * `p` cannot match. Zero-cost for tables/queries that don't engage
    * blooms (no bundle load, no hashing). */
  def filter(store: MetaStore, m: TableMeta, p: Pruning.Pred,
             files: Seq[DataFile]): Seq[DataFile] = {
    val cols = declaredCols(m)
    if (cols.isEmpty || !consultsBloom(p, cols.map(_.name).toSet)) return files
    val idx = bundleIndex(store, m)
    if (idx.isEmpty) return files
    val types = cols.map(c => c.name -> (bloomKey(c), c.sparkType)).toMap
    files.filter { f =>
      idx.get(normPath(f.path)) match {
        case Some(blooms) => mayMatch(p, blooms, types)
        case None => true // uncovered file (compaction output, import)
      }
    }
  }
}
