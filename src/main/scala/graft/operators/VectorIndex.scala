package graft.operators

import graft.lake.{LakeCatalog, LakeTable, Links}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent IVF vector index over a lake table — the missing piece
  * between the ephemeral [[Similarity.ivfAssign]] (centroids rebuilt per
  * session, assignments never stored) and ANN at corpus scale, where the
  * index must be (a) DURABLE — a new engine probes without touching the
  * base vectors, (b) INCREMENTALLY MAINTAINED — an append of B vectors
  * into a corpus of N costs O(B·nlist), never O(N), and (c) PHYSICALLY
  * CLUSTERED — the posting lists are identity partitions of the index
  * table, so a probe of `nprobe` lists is a metadata-level
  * partition-pruned scan of ~nprobe/nlist of the index bytes (the
  * IVF/IVFADC layout of Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", re-expressed as lake-table partitioning).
  *
  * Layout — two lake tables plus two snapshot-summary pins:
  *   - `<ident>` (the index/state table): `(id, embedding, list_id)`,
  *     identity-partitioned by `list_id`.
  *   - `<ident>_centroids`: `(list_id, embedding)` — nlist×dim, tiny.
  *   - Every index commit's snapshot summary carries the base snapshot
  *     the content reflects ([[VectorIndex.WatermarkKey]]) and the
  *     centroid-table snapshot the assignments were computed against
  *     ([[VectorIndex.CentroidSnapKey]]). Probes time-travel the
  *     centroid table to that pin, so assignments and centroids can
  *     NEVER be observed torn: a crash between a centroid rewrite and
  *     the index rebuild commit leaves the index pinning the OLD
  *     centroid snapshot — still a consistent (merely stale) index.
  *
  * Maintenance is the MV pattern ([[graft.lake.MaterializedAgg]]):
  * [[refresh]] reads the base table's batch changelog over the window
  * `(watermark, head]`, reduces it to each changed key's FINAL state,
  * assigns only those vectors against the PINNED centroids (a pure
  * codegen'd projection — no shuffle beyond the churn-sized last-state
  * window), and applies one equality-keyed upsert commit that also
  * advances the watermark. Assignment against pinned centroids is
  * deterministic, so re-applying a window after a crash (stale
  * watermark) converges to the same index — refresh is idempotent.
  *
  * Centroid drift: incremental assignment keeps OLD centroids by design
  * (stability is what makes refresh cheap); a corpus whose distribution
  * moves shows up as list-population [[imbalance]]. Operators watch it
  * and call [[rebuild]] — a full recluster + reassignment, committed
  * with the same torn-proof pin discipline.
  *
  * 100 TB notes: the index table is a regular lake table — set
  * `write.merge.mode=merge-on-read` on it for high-churn bases (refresh
  * upserts become equality-delete files instead of CoW rewrites), and
  * `write.target-file-size-bytes` to keep posting-list partitions in
  * task-sized files; both compose with the maintenance tiers. */
final class VectorIndex private (
    val state: LakeTable, val centroidsTable: LakeTable, val base: LakeTable,
    val idCol: String, val vecCol: String, val metric: String,
    val includeCols: Seq[String] = Seq.empty) {
  import VectorIndex._

  /** Base snapshot the index content reflects (from the latest index
    * commit that recorded one). */
  def watermark: Option[Long] = summaryPin(state, WatermarkKey)

  /** Centroid-table snapshot the current assignments were computed
    * against — probes read the centroid table AT this snapshot.
    * Resilient to snapshot expiry (r13): if every retained index commit
    * is pin-less (maintenance-only retention window — compaction
    * snapshots carry no pins and expiry cuts the ancestry walk), the
    * centroid table's CURRENT snapshot serves instead. That is the
    * pinned content by construction except inside a torn rebuild (crash
    * between the centroid rewrite and the index commit), where it costs
    * probe recall, never scoring correctness — availability wins; the
    * next refresh/rebuild re-pins. */
  def centroidSnapshot: Long = summaryPin(state, CentroidSnapKey) match {
    case Some(pin) => pin
    case None =>
      val head = centroidsTable.meta.currentSnapshot.map(_.snapshotId)
        .getOrElse(throw new IllegalStateException(
          s"index ${state.meta.name} has no centroid pin and the centroid " +
            "table is empty — not a VectorIndex state table"))
      // observable, not just traded off in a scaladoc: inside a torn
      // rebuild this head serves rewritten centroids against stale
      // assignments (recall cost, never scoring correctness) — warn and
      // let the `indexes` metadata table surface it ([[pinFallback]])
      System.err.println(s"[graft] vector index ${state.meta.name}: centroid " +
        s"pin unrecoverable from retained snapshots — serving centroid-table " +
        s"head $head (recall may degrade inside a torn rebuild); the next " +
        "refresh/rebuild re-pins")
      head
  }

  /** True when the centroid pin is unrecoverable from retained index
    * snapshots and [[centroidSnapshot]] is serving the centroid table's
    * current head instead (the availability fallback after a
    * maintenance-only retention window). Surfaced as `pin_fallback` in
    * the base table's `indexes` metadata table so a torn rebuild — the
    * one case where the fallback costs probe recall — is operator-visible. */
  def pinFallback: Boolean = summaryPin(state, CentroidSnapKey).isEmpty &&
    centroidsTable.meta.currentSnapshot.isDefined

  /** The pinned centroid matrix, list-ordered. nlist×dim — driver-sized
    * by construction (it becomes plan literals for assignment). */
  def centroids: Seq[Seq[Float]] =
    centroidsTable.read(snapshotId = Some(centroidSnapshot))
      .select("list_id", "embedding").orderBy("list_id")
      .collect().map(_.getSeq[Float](1)).toSeq

  /** Catch the index up to the base table's head (or `toSnapshotId`):
    * one changelog read over `(watermark, head]`, one last-state
    * reduction per changed key, one nearest-centroid projection over the
    * insert side, one upsert commit. Cost is churn-shaped — O(batch),
    * never O(corpus). Returns the new watermark; no-op when already
    * current. */
  def refresh(toSnapshotId: Option[Long] = None): Option[Long] = {
    val head = toSnapshotId.orElse(base.meta.currentSnapshot.map(_.snapshotId))
    val from0 = watermark
    if (head.isEmpty || head == from0) return from0
    val to = head.get
    // retention-stranded watermark (expired by maintenance, or main
    // rolled back past it): the changelog cannot resume from it, but the
    // index state is PRESENCE-based, so a full-window recompute from the
    // retained table start is exact — the same discipline as the
    // centroid pin-loss fallback. One caveat makes it exact: a key whose
    // delete predates retained history never appears in the replay, so
    // every key currently IN the index is merged too (rebuild()'s
    // key-union) and such ghosts drop out.
    val stranded = from0.exists(f => !base.isAncestorRetained(f, to))
    if (stranded)
      System.err.println(s"[graft] vector index ${state.meta.name}: watermark " +
        s"${from0.get} is no longer an ancestor of base head $to (snapshot " +
        "expired or rolled back) — self-healing with a full-window recompute " +
        "against the pinned centroids")
    val from = if (stranded) None else from0
    val cl = base.changelog(from, to)
    // a key can change many times inside the window (insert→delete,
    // update chains): only its FINAL state matters to the index. Within
    // one commit ordinal an insert outranks the delete of the same key
    // (a row rewritten in a commit ends alive; a row only deleted does
    // not). The window shuffles churn-sized data keyed by id.
    val isAlive = col("_change_type").isin("INSERT", "UPDATE_AFTER")
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("_change_ordinal").desc, when(isAlive, 1).otherwise(0).desc)
    val last = cl.select((Seq(col(idCol), col(vecCol)) ++
        includeCols.map(col) ++
        Seq(col("_change_type"), col("_change_ordinal"))): _*)
      .withColumn("_vx_rn", row_number().over(w))
      .filter(col("_vx_rn") === 1)
    val alive = last.filter(isAlive)
      .select((Seq(col(idCol), col(vecCol)) ++ includeCols.map(col)): _*)
    val assigned = Similarity.ivfAssignWith(alive, centroids, idCol, vecCol)
      .select(stateCols: _*)
    // every changed key is deleted; final-alive keys are re-inserted with
    // their (possibly unchanged) assignment — an idempotent upsert. A
    // self-heal additionally re-decides every key currently indexed.
    val changedKeys =
      if (stranded) cl.select(col(idCol)).union(state.toDF.select(col(idCol)))
      else cl.select(col(idCol))
    state.mergeByKeys(idCol, changedKeys, assigned,
      extraSummary = Map(WatermarkKey -> to.toString,
        CentroidSnapKey -> centroidSnapshot.toString))
    Some(to)
  }

  /** The state table's column list in declared order — what every
    * refresh/rebuild upsert must produce. */
  private def stateCols: Seq[Column] =
    (Seq(col(idCol), col(vecCol)) ++ includeCols.map(col)) :+
      col("list_id").cast(IntegerType)

  /** ANN top-k over the index alone: probe-list choice is driver-side
    * (pinned centroids), the scan is metadata-level partition-pruned to
    * the `nprobe` chosen lists, scoring is the codegen'd cosine. The
    * base table is never touched.
    *
    * `filter` (filtered vector search — the RAG shape "nearest WITH
    * lang='en'"): a predicate over the index's covered columns
    * (`includeCols`, declared at [[VectorIndex.create]]), applied BEFORE
    * scoring so cost ∝ selectivity. Probing the unfiltered operating
    * point's `nprobe` lists under a selective predicate starves the
    * candidate pool, so nprobe scales by 1/selectivity capped at nlist
    * (the FAISS/Milvus pre-filter remedy; rationale and cost bound in
    * [[Similarity.ivfTopKFiltered]]). Selectivity here is one count-only
    * aggregate over the index (column-pruned to the filter's columns);
    * at 100 TB derive it from column stats or a sample instead. */
  def search(queryVec: Seq[Float], k: Int = 10, nprobe: Int = 4,
             filter: Option[Column] = None): DataFrame = {
    val cs = centroids
    val n = filter match {
      case None => math.min(math.max(nprobe, 1), cs.size)
      case Some(pred) =>
        val c = state.toDF.agg(count(lit(1)).as("n"),
          count(when(pred, 1)).as("kept")).head()
        val sel = if (c.getLong(0) == 0L) 1.0
          else math.max(c.getLong(1).toDouble / c.getLong(0), 1e-9)
        math.min(cs.size, math.max(1, math.ceil(nprobe / sel).toInt))
    }
    val probe = Similarity.probeLists(cs, queryVec, n)
    val pruned = state.read(filter =
      Some(col("list_id").isin(probe.map(Int.box): _*)))
    val cands = filter.map(pruned.filter).getOrElse(pruned)
    cands.select(col(idCol),
        Similarity.cosine(col(vecCol), typedLit(queryVec)).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Online near-duplicate lookup for a NEW batch against the indexed
    * corpus (the ingest-time half of SemDeDup): every batch vector
    * probes its `nprobe` nearest posting lists — ranked in one pass over
    * the broadcast nlist-row centroid table — and scores ONLY those
    * candidates. The corpus side is a metadata-pruned scan of the UNION
    * of probed lists (collected driver-side: ≤ nlist ints), the join is
    * an equi-join on `list_id`, and no corpus-sized side ever shuffles —
    * O(batch × corpus·nprobe/nlist) compute at any corpus size.
    * `nprobe = nlist` makes it EXACT (every pair ≥ threshold); smaller
    * nprobe trades recall the usual IVF way (near-duplicates share a
    * list with their twin almost surely — that is SemDeDup's premise).
    * Returns (batch_id, match_id, cos); self-id matches excluded. Cache
    * `batch` upstream if it is expensive — it is traversed twice. */
  def nearDuplicates(batch: DataFrame, threshold: Double,
                     nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cs = centroids
    val n = math.min(math.max(nprobe, 1), cs.size)
    val cdf = broadcast(VectorIndex.centroidsDf(state.spark, cs)
      .select(col("list_id"), col("embedding").as("_vx_cvec")))
    val probes = batch
      .select(col(idCol).as("batch_id"), col(vecCol).as("_vx_qvec"))
      .crossJoin(cdf)
      .withColumn("_vx_rank", row_number().over(
        Window.partitionBy(col("batch_id")).orderBy(
          Similarity.cosine(col("_vx_qvec"), col("_vx_cvec")).desc,
          col("list_id"))))
      .filter(col("_vx_rank") <= n)
      .select(col("batch_id"), col("_vx_qvec"), col("list_id"))
    val probed = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by nlist
    val cand = state
      .read(filter = Some(col("list_id").isin(probed.map(Int.box): _*)))
      .select(col("list_id"), col(idCol).as("match_id"),
        col(vecCol).as("_vx_mvec"))
    probes.join(cand, Seq("list_id"))
      .filter(col("batch_id") =!= col("match_id"))
      .select(col("batch_id"), col("match_id"),
        Similarity.cosine(col("_vx_qvec"), col("_vx_mvec")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct() // a pair reachable through several probed lists, once
  }

  /** max/mean posting-list population — the drift signal. Incremental
    * maintenance never moves centroids, so a shifting corpus piles new
    * vectors onto few lists; when this ratio degrades probe cost/recall,
    * schedule [[rebuild]]. One count-aggregate over the index. */
  def imbalance: Double = {
    val sizes = state.toDF.groupBy("list_id").count()
      .collect().map(_.getLong(1))
    if (sizes.isEmpty) 1.0
    else sizes.max.toDouble * sizes.length / sizes.sum.toDouble
  }

  /** Metadata-only estimate of [[imbalance]]: posting-list populations
    * summed from the state table's per-partition file row counts — zero
    * data I/O, priced for a per-ingest-batch policy check
    * ([[graft.streaming.Changelog.refreshRegisteredIndexes]]) and the
    * `indexes` metadata listing. Row counts ignore not-yet-compacted
    * merge-on-read delete masks, so the estimate can lag the exact scan
    * after heavy deletes; maintenance compaction restores it. */
  def imbalanceEstimate: Double = {
    val files = state.meta.currentSnapshot.map(_.files).getOrElse(Seq.empty)
    if (files.isEmpty) return 1.0
    val sizes = files.groupBy(_.partitionValues).values
      .map(_.map(_.rowCount).sum).filter(_ > 0L).toSeq
    if (sizes.isEmpty) 1.0
    else sizes.max.toDouble * sizes.length / sizes.sum.toDouble
  }

  /** Full recluster + reassignment at the base head: new k-means
    * centroids appended to the centroid table (after clearing it — old
    * pins still time-travel to their rows), then ONE index commit
    * replacing every assignment and moving both pins. A crash at any
    * point leaves the previous consistent index serving. */
  def rebuild(nlist: Int = 0, iters: Int = 3): Option[Long] = {
    val head = base.meta.currentSnapshot.map(_.snapshotId)
    if (head.isEmpty) return watermark
    val n = if (nlist > 0) nlist else centroids.size
    val src = base.read(snapshotId = head)
      .select((Seq(col(idCol), col(vecCol)) ++ includeCols.map(col)): _*)
    val (_, cs) = Similarity.ivfAssign(
      src.select(col(idCol), col(vecCol)), n, iters, idCol, vecCol, metric)
    val assigned = Similarity.ivfAssignWith(src, cs, idCol, vecCol)
    centroidsTable.delete(lit(true))
    val cSnap = centroidsTable.append(centroidsDf(state.spark, cs))
      .currentSnapshot.get.snapshotId
    val allKeys = state.toDF.select(col(idCol))
      .union(assigned.select(col(idCol)))
    state.mergeByKeys(idCol, allKeys, assigned.select(stateCols: _*),
      extraSummary = Map(WatermarkKey -> head.get.toString,
        CentroidSnapKey -> cSnap.toString))
    head
  }
}

object VectorIndex {
  /** Routing index on the BASE table: ';'-separated state-table locations
    * of every vector index registered on it, read and edited through
    * [[graft.lake.Links]] — the ingest loop
    * ([[graft.streaming.Changelog.startIngest]] `refreshIndexes=true`)
    * refreshes each one per batch, exactly like the MV routing index. */
  private[graft] val IndexesKey = "graft.vindex.indexes"
  /** Snapshot-summary key: base snapshot the index content reflects. */
  private[graft] val WatermarkKey = "graft.vindex.base-snapshot"
  /** Snapshot-summary key: centroid-table snapshot of the assignments. */
  private[graft] val CentroidSnapKey = "graft.vindex.centroids-snapshot"
  private val BaseLocKey = "graft.vindex.base-location"
  private val CentroidsLocKey = "graft.vindex.centroids-location"
  private val IdColKey = "graft.vindex.id-col"
  private val VecColKey = "graft.vindex.vec-col"
  private val MetricKey = "graft.vindex.metric"
  private val IncludeColsKey = "graft.vindex.include-cols"
  /** STATE-table property: imbalance threshold above which the ingest
    * loop's per-batch policy reacts (records drift, or rebuilds when
    * [[RebuildAutoKey]] is true). Policy travels with the index. */
  private[graft] val ImbalanceThresholdKey = "graft.vindex.rebuild.imbalance-threshold"
  /** STATE-table property: "true" = the ingest loop rebuilds a drifted
    * index itself (one recluster per drift episode — the rebuilt index
    * re-balances, so the trigger disarms until the corpus drifts again). */
  private[graft] val RebuildAutoKey = "graft.vindex.rebuild.auto"
  /** Drift health record on the STATE table (threshold exceeded, auto
    * rebuild off): last estimate + when. Cleared when the estimate drops
    * back under the threshold. Surfaced by the `indexes` metadata table. */
  private[graft] val DriftImbalanceKey = "graft.vindex.drift-imbalance"
  private[graft] val DriftAtKey = "graft.vindex.drift-at"

  private def summaryPin(state: LakeTable, key: String): Option[Long] =
    state.meta.latestSummary(key).map(_.toLong)

  private def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                          cs: Seq[Seq[Float]]): DataFrame = {
    val rows = cs.zipWithIndex.map { case (c, i) => Row(i, c) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("list_id", IntegerType, nullable = false),
      StructField("embedding", ArrayType(FloatType)))))
  }

  /** Build the index over `base`'s current snapshot: sample+Lloyd
    * centroids ([[Similarity.ivfAssign]]), persist them, create the
    * identity-partitioned index table, and commit the initial
    * assignments with both pins. `idCol` must uniquely identify a
    * vector (it is the upsert key of every refresh).
    *
    * `includeCols`: base attribute columns COVERED by the index — copied
    * into the state table (and maintained by every refresh/rebuild) so
    * filtered search ([[VectorIndex#search]]'s `filter`) predicates them
    * without ever touching the base. The classic covered-index
    * trade-off: index bytes grow by the attributes, probes stay
    * base-free. */
  def create(catalog: LakeCatalog, ident: String, base: LakeTable,
             idCol: String = "vec_id", vecCol: String = "embedding",
             nlist: Int = 16, iters: Int = 3,
             metric: String = "cosine",
             includeCols: Seq[String] = Seq.empty): VectorIndex = {
    val head = base.meta.currentSnapshot.map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException(
        "create the index after the base table has data — centroids are " +
          "sampled from it"))
    val idType = base.meta.schema.byName(idCol).getOrElse(
      throw new IllegalArgumentException(s"base has no column $idCol")).sparkType
    require(base.meta.schema.byName(vecCol).isDefined, s"base has no column $vecCol")
    val includeFields = includeCols.map { c =>
      require(!Set(idCol, vecCol, "list_id")(c), s"include column $c collides")
      StructField(c, base.meta.schema.byName(c).getOrElse(
        throw new IllegalArgumentException(s"base has no column $c")).sparkType)
    }
    val src = base.read(snapshotId = Some(head))
      .select((Seq(col(idCol), col(vecCol)) ++ includeCols.map(col)): _*)
    val (_, cs) = Similarity.ivfAssign(
      src.select(col(idCol), col(vecCol)), nlist, iters, idCol, vecCol, metric)
    val cT = catalog.createTable(s"${ident}_centroids", StructType(Seq(
      StructField("list_id", IntegerType, nullable = false),
      StructField("embedding", ArrayType(FloatType)))))
    val cSnap = cT.append(centroidsDf(base.spark, cs))
      .currentSnapshot.get.snapshotId
    val t = catalog.createTable(ident, StructType((Seq(
      StructField(idCol, idType),
      StructField(vecCol, ArrayType(FloatType))) ++ includeFields) :+
      StructField("list_id", IntegerType)),
      partitionBy = Seq("list_id" -> "identity"),
      properties = Map(BaseLocKey -> base.location,
        CentroidsLocKey -> cT.location, IdColKey -> idCol,
        VecColKey -> vecCol, MetricKey -> metric) ++
        (if (includeCols.isEmpty) Map.empty
         else Map(IncludeColsKey -> includeCols.mkString(","))))
    val idx0 = new VectorIndex(t, cT, base, idCol, vecCol, metric, includeCols)
    val assigned = Similarity.ivfAssignWith(src, cs, idCol, vecCol)
    t.mergeByKeys(idCol, assigned.select(col(idCol)).limit(0),
      assigned.select(idx0.stateCols: _*),
      extraSummary = Map(WatermarkKey -> head.toString,
        CentroidSnapKey -> cSnap.toString))
    // register on the base's routing index so ingest-cadence maintenance
    // can keep the index fresh per batch (same shape as the MV index)
    base.updateProperties(Links.add(IndexesKey, t.location))
    idx0
  }

  /** Reload an index created by [[create]] from its recorded spec. The
    * base and centroid tables resolve as SIBLINGS of the state table —
    * through the same metadata authority (a wire-catalog index stays
    * wire; see [[graft.lake.MetaStore.sibling]]). */
  def load(catalog: LakeCatalog, ident: String): VectorIndex =
    fromState(catalog.loadTable(ident))

  /** Reload from the state-table LOCATION the base's routing index
    * stores, THROUGH the owner's metadata authority — the ingest loop's
    * route (a `uri`-mode base resolves its indexes over the wire). */
  def loadVia(owner: LakeTable, stateLocation: String): VectorIndex =
    fromState(owner.sibling(stateLocation))

  private def fromState(t: LakeTable): VectorIndex = {
    val p = t.meta.properties
    require(p.contains(BaseLocKey),
      s"${t.meta.name} is not a VectorIndex state table")
    new VectorIndex(t, t.sibling(p(CentroidsLocKey)), t.sibling(p(BaseLocKey)),
      p(IdColKey), p(VecColKey), p.getOrElse(MetricKey, "cosine"),
      p.get(IncludeColsKey).map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty))
  }

  /** Drop the index: BOTH tables removed and the base's routing-index
    * registration cleared (a bare dropTable of the state table leaves a
    * stale registration, which the ingest loop skips with a warning). */
  def drop(catalog: LakeCatalog, ident: String): Unit = {
    val t = catalog.loadTable(ident)
    val baseLoc = t.meta.properties.get(BaseLocKey)
    val loc = t.location
    baseLoc.foreach { bl =>
      try t.sibling(bl).updateProperties(Links.remove(IndexesKey, loc))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    catalog.dropTable(s"${ident}_centroids")
    catalog.dropTable(ident)
  }
}
