package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.nio.ByteBuffer
import java.security.MessageDigest

/** Deletion vectors: per-data-file position BITMAPS that accelerate the
  * merge-on-read positional-delete mask (the read side of
  * `write.delete.mode=merge-on-read`, SURVEY §2.9 / reference Iceberg v2
  * position deletes — the same read-acceleration structure Delta Lake
  * and Iceberg v3 call deletion vectors).
  *
  * Why: [[LakeTable.maskPositions]] subtracts deleted positions with an
  * anti-join against the delete-entry parquet — broadcast while the entry
  * count is provably small, SHUFFLE-HASH above ~4M entries. At 100 TB,
  * that threshold is the cliff: once point-delete churn outgrows the
  * broadcast cap, every read of an affected file shuffles the full scan
  * side on (file, pos). A bitmap stores the same positions in ~1/64 the
  * bytes (1 bit/row dense, 2 B/position sparse) and turns the mask into a
  * per-row O(1) probe INSIDE the scan's codegen filter — no join, no
  * shuffle, no per-query read of the delete parquet, at any churn level.
  *
  * Design (fail-safe-by-construction — the parquet delete entries remain
  * the AUTHORITATIVE format; bitmaps are a derived acceleration exactly
  * like [[BloomSkip]]'s bundles):
  *
  *   - [[LakeTable.writeDeleteFiles]] — the single choke point every
  *     positional-delete commit funnels through — additionally builds one
  *     bitmap per affected data file (a churn-sized distributed job over
  *     the entries it just wrote) and concatenates them into ONE
  *     content-addressed bundle object `data/dv-<sha256/16>.bin`.
  *   - Each [[DeleteFile]] carries `dv: Map[dataFileName -> DvRef]`
  *     (bundle + byte range) covering EXACTLY its own entries for that
  *     file. The refs ride the existing delete-manifest persistence and
  *     retire with their delete file: compaction, CoW rewrites and
  *     `rewrite_position_deletes` need no new logic — when the entries
  *     go, the refs go ([[LakeTable.pruneDeleteFiles]] trims both).
  *   - Scan time: an affected data file whose EVERY referencing delete
  *     file carries a ref for it is masked by [[DvIsDeleted]] (positions
  *     across a snapshot's delete files are disjoint, so bitmap-OR over
  *     the refs is exact); any file not fully covered — pre-DV metadata,
  *     a skipped oversized build, a tampered ref — falls back to the
  *     anti-join, so a missing bitmap can cost performance but never
  *     correctness. `spark.graft.dv.read.enabled=false` forces the
  *     fallback globally (probe A/B switch).
  *   - Executors load a ref's byte range lazily through a bounded
  *     process-wide LRU ([[DeleteVectors.cached]]) — a task pays one
  *     ranged read per (bundle, file) it actually scans, ~counts(f)/8
  *     bytes, not the commit's whole churn.
  *
  * Bitmap format (`GDV1`, Roaring-style two-level): positions are split
  * at bit 16; each 65536-position chunk is a sorted u16 array (≤ 4096
  * entries, 2 B each) or a dense 8 KiB bitset. A flat directory keyed by
  * the high bits is binary-searched per probe directly over the
  * serialized bytes — probes allocate nothing.
  */
object DvBitmap {

  private val Magic = 0x47445631 // "GDV1"
  private val ArrayKind: Byte = 0
  private val BitmapKind: Byte = 1
  /** Directory entry: high(4) kind(1) count(4) payloadOffset(4). */
  private val DirEntry = 13
  val MaxPos: Long = 1L << 47 // high bits must fit an Int

  /** Serialize `sorted` (ascending, distinct, non-negative) positions. */
  def build(sorted: Array[Long]): Array[Byte] = {
    require(sorted.isEmpty || (sorted.head >= 0 && sorted.last < MaxPos),
      s"positions out of range [0, $MaxPos)")
    // chunk boundaries by high 16 bits
    val dirs = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]() // high, kind|count, start idx
    var i = 0
    while (i < sorted.length) {
      val high = (sorted(i) >>> 16).toInt
      var j = i
      while (j < sorted.length && (sorted(j) >>> 16).toInt == high) j += 1
      dirs += ((high, j - i, i))
      i = j
    }
    val payloadSizes = dirs.map { case (_, n, _) => if (n <= 4096) 2 * n else 8192 }
    val total = 8 + DirEntry * dirs.length + payloadSizes.sum
    val buf = ByteBuffer.allocate(total)
    buf.putInt(Magic).putInt(dirs.length)
    var payloadOff = 8 + DirEntry * dirs.length
    dirs.zip(payloadSizes).foreach { case ((high, n, _), sz) =>
      buf.putInt(high).put(if (n <= 4096) ArrayKind else BitmapKind)
        .putInt(n).putInt(payloadOff)
      payloadOff += sz
    }
    dirs.foreach { case (_, n, start) =>
      if (n <= 4096) {
        var k = 0
        while (k < n) { buf.putShort((sorted(start + k) & 0xFFFF).toShort); k += 1 }
      } else {
        val words = new Array[Long](1024)
        var k = 0
        while (k < n) {
          val low = (sorted(start + k) & 0xFFFF).toInt
          words(low >>> 6) |= 1L << (low & 63)
          k += 1
        }
        var w = 0
        while (w < 1024) { buf.putLong(words(w)); w += 1 }
      }
    }
    buf.array()
  }

  // allocation-free big-endian reads (a ByteBuffer.wrap per probe would
  // allocate on every row of the scan's hot filter)
  @inline private def i32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
  @inline private def u16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
  @inline private def i64(b: Array[Byte], o: Int): Long =
    (i32(b, o).toLong << 32) | (i32(b, o + 4).toLong & 0xFFFFFFFFL)

  /** Membership probe directly over serialized bytes — no deserialization,
    * no allocation (the scan filter calls this per row). */
  def contains(bytes: Array[Byte], pos: Long): Boolean = {
    if (pos < 0 || pos >= MaxPos) return false
    if (i32(bytes, 0) != Magic)
      throw new IllegalStateException("corrupt deletion vector (bad magic)")
    val n = i32(bytes, 4)
    val high = (pos >>> 16).toInt
    // binary search the directory
    var lo = 0; var hi = n - 1; var at = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val h = i32(bytes, 8 + DirEntry * mid)
      if (h == high) { at = mid; lo = hi + 1 }
      else if (h < high) lo = mid + 1
      else hi = mid - 1
    }
    if (at < 0) return false
    val base = 8 + DirEntry * at
    val kind = bytes(base + 4)
    val count = i32(bytes, base + 5)
    val off = i32(bytes, base + 9)
    val low = (pos & 0xFFFF).toInt
    if (kind == ArrayKind) {
      var a = 0; var b = count - 1
      while (a <= b) {
        val mid = (a + b) >>> 1
        val v = u16(bytes, off + 2 * mid)
        if (v == low) return true
        else if (v < low) a = mid + 1
        else b = mid - 1
      }
      false
    } else {
      (i64(bytes, off + 8 * (low >>> 6)) & (1L << (low & 63))) != 0
    }
  }

  /** Number of positions stored (for coverage sanity checks). */
  def cardinality(bytes: Array[Byte]): Long = {
    val n = i32(bytes, 4)
    var total = 0L
    var i = 0
    while (i < n) { total += i32(bytes, 8 + DirEntry * i + 5); i += 1 }
    total
  }
}

object DeleteVectors {

  /** Table property / default: deletion vectors are built on every
    * positional-delete commit unless disabled. */
  val EnabledProperty = "graft.delete.vectors.enabled"
  /** Session kill-switch for the READ path (A/B probes, incident
    * hygiene) — refs stay in metadata, scans just ignore them. */
  val ReadConf = "spark.graft.dv.read.enabled"
  /** Driver-memory bound on one commit's collected bitmaps. A commit
    * whose bitmaps exceed this skips DV for the oversized batch (reads
    * fall back to the anti-join — correct, just slower) rather than risk
    * the driver; per-file bitmaps are ≤ file-row-count/8 bytes so this
    * covers ~2^31 deleted rows dense. */
  val MaxBundleBytes: Long = 256L * 1024 * 1024

  /** Build one bitmap per (OWNING delete file, data file) pair from the
    * just-written delete-entry parquet `paths`. Keying by the pair (r16,
    * was data file alone) lets the r16 range-partitioned roll split a
    * data file's positions across two delete files and still attach each
    * delete file a ref covering exactly ITS OWN entries — the read path
    * already unions masks across a data file's referencing delete files.
    * Groups by (source, file) with sorted runs per partition: one job for
    * a single delete file, a shuffle-map job plus the collect for more.
    * Returns None when the collected bundle would exceed
    * [[MaxBundleBytes]]. */
  def buildBitmaps(spark: SparkSession, paths: Seq[String])
      : Option[Seq[((String, String), Array[Byte])]] = {
    if (paths.isEmpty) return Some(Seq.empty)
    val entries = spark.read.schema(LakeTable.DeleteEntrySchema).parquet(paths: _*)
      .select(input_file_name().as("_src"), col("file_name"), col("pos"))
    // one delete file (every point DML and CDC conversion) builds in ONE
    // task with no exchange: a single partition already holds each
    // (delete file, data file) run whole
    val parts = math.max(1, math.min(paths.size, 64))
    val perFile = (if (parts == 1) entries.coalesce(1)
                   else entries.repartition(parts, col("_src"), col("file_name")))
      .sortWithinPartitions("_src", "file_name", "pos")
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer[((String, String), Array[Byte])]()
        var cur: (String, String) = null
        val buf = scala.collection.mutable.ArrayBuffer[Long]()
        def flush(): Unit = if (cur != null && buf.nonEmpty) {
          out += ((cur, DvBitmap.build(buf.toArray)))
          buf.clear()
        }
        it.foreach { r =>
          // basename: the owning delete file is identified the way
          // DeleteFile.counts keys are — by final path segment
          val src = r.getString(0)
          val base = src.substring(src.lastIndexOf('/') + 1)
          val k = (base, r.getString(1))
          if (k != cur) { flush(); cur = k }
          buf += r.getLong(2)
        }
        flush()
        out.iterator
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING),
        org.apache.spark.sql.Encoders.BINARY))
      .collect().toSeq
    val total = perFile.iterator.map(_._2.length.toLong).sum
    if (total > MaxBundleBytes) None else Some(perFile)
  }

  /** Concatenate bitmaps into one content-addressed bundle under `dir`,
    * returning the per-key refs. Content addressing makes a retried
    * commit write the identical object — putIfAbsent semantics for free. */
  def writeBundle[K](fs: FileSystem, dir: Path,
                     bitmaps: Seq[(K, Array[Byte])]): Map[K, DvRef] = {
    if (bitmaps.isEmpty) return Map.empty
    val totalLen = bitmaps.iterator.map(_._2.length).sum
    val all = new Array[Byte](totalLen)
    var off = 0
    val offsets = bitmaps.map { case (name, b) =>
      System.arraycopy(b, 0, all, off, b.length)
      val r = (name, off.toLong, b.length)
      off += b.length
      r
    }
    val sha = MessageDigest.getInstance("SHA-256").digest(all)
      .take(8).map(b => f"$b%02x").mkString
    val target = new Path(dir, s"dv-$sha.bin")
    if (!fs.exists(target)) {
      val tmp = new Path(dir, s"dv-$sha.bin.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val os = fs.create(tmp, true)
      try os.write(all) finally os.close()
      if (!fs.rename(tmp, target) && !fs.exists(target))
        throw new IllegalStateException(s"failed to publish deletion-vector bundle $target")
      fs.delete(tmp, false)
    }
    val path = target.toString
    offsets.map { case (name, o, l) => name -> DvRef(path, o, l) }.toMap
  }

  // ---- executor-side ranged-read cache ----------------------------------

  private val MaxCacheBytes: Long =
    sys.props.get("graft.dv.cache.bytes").flatMap(_.toLongOption)
      .getOrElse(128L * 1024 * 1024)

  private val cache = new java.util.LinkedHashMap[(String, Long, Int), Array[Byte]](64, 0.75f, true)
  private var cachedBytes = 0L

  /** Load a ref's byte range, LRU-cached process-wide (one executor JVM
    * shares bitmaps across its tasks). */
  def cached(ref: DvRef, conf: Configuration): Array[Byte] = cache.synchronized {
    val key = (ref.bundle, ref.offset, ref.len)
    val hit = cache.get(key)
    if (hit != null) return hit
    val p = new Path(ref.bundle)
    val in = p.getFileSystem(conf).open(p)
    val bytes = new Array[Byte](ref.len)
    try in.readFully(ref.offset, bytes) finally in.close()
    cache.put(key, bytes)
    cachedBytes += ref.len
    val it = cache.entrySet().iterator()
    while (cachedBytes > MaxCacheBytes && it.hasNext) {
      val e = it.next()
      if (e.getKey != key) { cachedBytes -= e.getValue.length; it.remove() }
    }
    bytes
  }
}

/** `dv_is_deleted(_gd_file, _gd_pos)`: true iff the position is masked by
  * a deletion-vector ref of the scanned file. Codegen-native (a reference
  * call inside whole-stage codegen — the probe itself is a binary search
  * over cached bytes); files without refs are never routed here
  * ([[LakeTable.maskPositions]] splits covered from uncovered files). */
case class DvIsDeleted(left: Expression, right: Expression,
                       refs: Map[String, Seq[DvRef]],
                       conf: SerializableConfiguration)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_is_deleted"

  @transient private lazy val byFile: java.util.HashMap[UTF8String, Array[DvRef]] = {
    val m = new java.util.HashMap[UTF8String, Array[DvRef]](refs.size * 2)
    refs.foreach { case (k, v) => m.put(UTF8String.fromString(k), v.toArray) }
    m
  }
  // per-task resolved bitmaps: the shared LRU in [[DeleteVectors.cached]]
  // is synchronized — touching it per ROW serializes every scan thread on
  // one lock. Each task deserializes its own expression instance, so
  // these fields are single-threaded: resolve a file's bitmap list ONCE,
  // then probe lock-free. The scan feeds rows file by file, so a
  // last-file memo short-circuits the HashMap on almost every row.
  @transient private lazy val taskCache =
    new java.util.HashMap[UTF8String, Array[Array[Byte]]]()
  @transient private var lastFile: UTF8String = _
  @transient private var lastBitmaps: Array[Array[Byte]] = _
  private val Absent = Array.empty[Array[Byte]]

  def isDeleted(file: UTF8String, pos: Long): Boolean = {
    var bms = if (lastFile != null && lastFile.equals(file)) lastBitmaps else null
    if (bms == null) {
      bms = taskCache.get(file)
      if (bms == null) {
        val rs = byFile.get(file)
        bms = if (rs == null) Absent
        else rs.map(r => DeleteVectors.cached(r, conf.value))
        // defensive copy of the key: Spark reuses UTF8String buffers
        // between rows inside a columnar batch
        taskCache.put(file.clone(), bms)
      }
      lastFile = file.clone(); lastBitmaps = bms
    }
    var i = 0
    while (i < bms.length) {
      if (DvBitmap.contains(bms(i), pos)) return true
      i += 1
    }
    false
  }

  override def nullSafeEval(f: Any, p: Any): Any =
    isDeleted(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (f, p) => {
      val ref = ctx.addReferenceObj("dvMask", this, classOf[DvIsDeleted].getName)
      s"${ev.value} = $ref.isDeleted($f, $p);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DvIsDeleted {
  /** Column-API entry: mask filter over the scan's `_gd_file`/`_gd_pos`
    * metadata columns. */
  def apply(file: Column, pos: Column, refs: Map[String, Seq[DvRef]],
            conf: SerializableConfiguration): Column =
    ColumnBridge.column(DvIsDeleted(
      ColumnBridge.expression(file), ColumnBridge.expression(pos), refs, conf))
}
