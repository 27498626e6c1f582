package graft.operators

import graft.lake.{BloomSkip, LakeCatalog, LakeTable, Links}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent BM25 inverted index over a lake table — the durable scale
  * path for ranked text retrieval (q66 recomputes tf/df/lens from the
  * whole corpus per query; this index makes a query touch ONLY the
  * posting lists of its terms). The text twin of [[VectorIndex]]:
  * (a) DURABLE — a new engine searches without scanning the corpus,
  * (b) INCREMENTALLY MAINTAINED — indexing an ingest batch of B docs
  * into a corpus of N costs O(B·terms-per-doc), never O(N), via the
  * base table's batch changelog, (c) PHYSICALLY CLUSTERED — postings
  * are `bucket[n](term)` partitions of a lake table, so a Q-term query
  * is a partition-pruned scan of ≤ Q/n of the index bytes.
  *
  * Layout — two lake tables plus snapshot-summary pins:
  *   - `<ident>` (postings): `(id, term, tf, len_d)`, bucket-partitioned
  *     by term. `len_d` is denormalized onto every posting (the
  *     impact-file layout of classic IR engines) so scoring never joins
  *     a side table: any change to a doc rewrites all its postings
  *     anyway.
  *   - `<ident>_docs`: `(id, len_d)`, bucket-partitioned + manifest
  *     blooms on id — the O(matching-files) lookup of a churn batch's
  *     PREVIOUS lengths during refresh.
  *   - Corpus-level BM25 constants ride the docs table's snapshot
  *     summary ([[TextIndex.NDocsKey]]/[[TextIndex.TotalLenKey]]),
  *     maintained by DELTA per refresh — search reads two driver-side
  *     longs, never an O(corpus) aggregate.
  *
  * Crash safety: refresh commits the docs table first (its summary
  * carries its own watermark + the updated corpus constants), then the
  * postings upsert (carrying the postings watermark). Each step is
  * fenced by ITS OWN watermark and each is deterministic from its
  * changelog window, so a crash between the two leaves the docs step
  * complete and the retry skips straight to the postings step — the
  * corpus constants can never double-count a window. Concurrent readers
  * are fenced the same way: [[search]] reads the constants pinned at the
  * POSTINGS watermark, so a query running between the two commits scores
  * old postings with old constants — never a torn mix.
  *
  * Scoring is the engine's cross-verifiable fixed-point BM25 (see
  * q66_bm25_search in [[graft.queries.TextOps]]): scale 10^6, truncating
  * BIGINT division, log-free Robertson–Spärck-Jones idf — bit-identical
  * to the DuckDB oracle, which is what lets q91 hash-gate create +
  * changelog refresh + the pruned probe read end-to-end.
  *
  * Tokenization matches q66 exactly: `split(lower(text), '\s+')`, empty
  * tokens included, docs with NULL text absent from the index.
  *
  * 100 TB notes: set `write.merge.mode=merge-on-read` on both tables for
  * high-churn bases (refresh upserts become equality-delete files, not
  * CoW rewrites) and `write.target-file-size-bytes` to keep term buckets
  * in task-sized files; both compose with the maintenance tiers. The
  * per-refresh previous-length lookup collects ≤ [[TextIndex.MaxInKeys]]
  * changed ids into an exact IN predicate (bucket + bloom pruned);
  * larger catch-up bursts fall back to a semi-join against the docs
  * table — O(docs), never O(postings). */
final class TextIndex private (
    val state: LakeTable, val docsTable: LakeTable, val base: LakeTable,
    val idCol: String, val textCol: String,
    val includeCols: Seq[String] = Seq.empty) {
  import TextIndex._

  /** Base snapshot the POSTINGS content reflects. */
  def watermark: Option[Long] = state.meta.latestSummary(WatermarkKey).map(_.toLong)

  /** Base snapshot the docs table (and the corpus constants) reflect —
    * ≥ [[watermark]] whenever a crash split the two-step refresh. */
  def docsWatermark: Option[Long] = docsTable.meta.latestSummary(WatermarkKey).map(_.toLong)

  /** (n_docs, total_len): corpus constants as of [[docsWatermark]] —
    * two driver longs off the docs table's snapshot summary. Resilient
    * to snapshot expiry: if every retained docs commit is pin-less
    * (maintenance-only retention window — compaction snapshots carry no
    * pins and expiry cuts the ancestry walk), the constants recompute
    * from the docs table in one aggregate; the next refresh re-pins. */
  def corpusStats: (Long, Long) = {
    val m = docsTable.meta
    m.ancestry(m.currentSnapshot).flatMap(s => pinnedStats(s.summary)).nextOption()
      .getOrElse {
        if (m.currentSnapshot.isEmpty) (0L, 0L)
        else {
          val r = docsTable.toDF.agg(count(lit(1)).as("n"),
            coalesce(sum(col("len_d")), lit(0L)).as("len")).head()
          (r.getLong(0), r.getLong(1))
        }
      }
  }

  /** Corpus constants AS OF a given base watermark: the constants the
    * docs commit carrying that watermark pinned. [[search]] reads them at
    * the POSTINGS watermark so a query running between the two refresh
    * commits (docs+constants landed, postings not yet) scores against the
    * constants its postings were built with — always internally
    * consistent, bit-identical to the from-scratch engine at that
    * snapshot. Falls back to [[corpusStats]] (the head constants) when no
    * retained docs commit carries the pin (snapshot expiry). */
  private def corpusStatsAt(pin: Option[Long]): (Long, Long) = {
    if (pin.isEmpty) return corpusStats
    val m = docsTable.meta
    m.ancestry(m.currentSnapshot).map(_.summary)
      .filter(_.get(WatermarkKey).contains(pin.get.toString))
      .flatMap(pinnedStats).nextOption()
      .getOrElse(corpusStats)
  }

  /** The corpus constants a docs commit's summary pinned, if it pinned them. */
  private def pinnedStats(summary: Map[String, String]): Option[(Long, Long)] =
    for (n <- summary.get(NDocsKey); t <- summary.get(TotalLenKey)) yield (n.toLong, t.toLong)

  /** The docs-table SNAPSHOT whose content reflects base watermark `pin`
    * — the same ancestry walk as [[corpusStatsAt]], returned as a
    * time-travel target. A filtered [[search]] reads its predicate
    * columns AT this snapshot so the candidate filter, the corpus
    * constants, and the postings are all pinned to ONE base snapshot —
    * a query running between the two refresh commits can never mix new
    * labels with old postings. None (→ read the head) when no retained
    * docs commit carries the pin (snapshot expiry — same fallback as
    * the constants). */
  private def docsSnapshotAt(pin: Option[Long]): Option[Long] = {
    if (pin.isEmpty) return None
    val m = docsTable.meta
    m.ancestry(m.currentSnapshot)
      .find(_.summary.get(WatermarkKey).contains(pin.get.toString)).map(_.snapshotId)
  }

  /** q66's tokenizer, verbatim: whitespace split of the lowercased text
    * (empty tokens kept — both engines produce them identically). */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("term"))

  /** Postings of a doc batch: tf per (id, term) + the doc length
    * denormalized per row. One explode + one map-side-combined aggregate
    * + one batch-sized window. */
  private def postingsOf(docs: DataFrame): DataFrame =
    tokenized(docs)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("len_d", sum(col("tf")).over(Window.partitionBy(col(idCol))))
      .select(col(idCol), col("term"), col("tf"), col("len_d"))

  /** (id, len_d, covered…) of the docs in a batch that have ≥1 token
    * (NULL-text docs have none and stay out of the index — q66's
    * `lens`). Covered columns ride the doc-level forward index — one
    * value per DOC, never per posting — so a filtered search predicates
    * them without touching the base (the classic covered-index
    * trade-off, same as [[VectorIndex]]'s includeCols). */
  private def docStatsOf(docs: DataFrame): DataFrame = {
    val lens = tokenized(docs).groupBy(col(idCol)).agg(count(lit(1)).as("len_d"))
    if (includeCols.isEmpty) lens
    else lens.join(docs.select((col(idCol) +: includeCols.map(col)): _*), idCol)
      .select((col(idCol) +: col("len_d") +: includeCols.map(col)): _*)
  }

  /** Last state of every doc changed in the changelog window
    * `(from, to]`: (changed ids, final-alive (id, text) rows). A key
    * changed many times inside the window reduces to its final state;
    * within one commit an insert outranks the delete of the same key. */
  private def lastState(from: Option[Long], to: Long): (DataFrame, DataFrame) = {
    val cl = base.changelog(from, to)
    val isAlive = col("_change_type").isin("INSERT", "UPDATE_AFTER")
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("_change_ordinal").desc, when(isAlive, 1).otherwise(0).desc)
    val last = cl.select((Seq(col(idCol), col(textCol)) ++ includeCols.map(col) ++
        Seq(col("_change_type"), col("_change_ordinal"))): _*)
      .withColumn("_tx_rn", row_number().over(w))
      .filter(col("_tx_rn") === 1)
    (last.select(col(idCol)), last.filter(isAlive)
      .select((Seq(col(idCol), col(textCol)) ++ includeCols.map(col)): _*))
  }

  /** Previous (count, total length) of the changed docs — what the delta
    * update subtracts. Small windows collect their ids into an exact IN
    * predicate so the docs read prunes via bucket partitions + manifest
    * blooms (O(matching files)); catch-up bursts semi-join instead
    * (O(docs table), never O(postings)). */
  private def previousStats(changed: DataFrame): (Long, Long) = {
    val keys = changed.distinct().limit(MaxInKeys + 1).collect().map(_.get(0))
    val prev =
      if (keys.length <= MaxInKeys)
        docsTable.read(filter = Some(col(idCol).isin(keys: _*)))
      else docsTable.toDF.join(changed.distinct(), Seq(idCol), "left_semi")
    val r = prev.agg(count(lit(1)).as("n"),
      coalesce(sum(col("len_d")), lit(0L)).as("len")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Catch the index up to the base head (or `toSnapshotId`). Two
    * watermark-fenced steps — docs+constants, then postings — each one
    * changelog window, one last-state reduction, one upsert commit.
    * Cost is churn-shaped. Returns the new watermark; no-op when
    * current. */
  def refresh(toSnapshotId: Option[Long] = None): Option[Long] = {
    val head = toSnapshotId.orElse(base.meta.currentSnapshot.map(_.snapshotId))
    val wmP0 = watermark
    if (head.isEmpty || head == wmP0) return wmP0
    val to = head.get
    // retention-stranded watermark: self-heal with a full-window
    // recompute — exact because the index is presence-based, PROVIDED
    // every doc currently indexed is re-decided (a key whose delete
    // predates retained history is absent from the replay and must be
    // dropped through the key-union). Same discipline in both steps.
    val stranded = wmP0.exists(f => !base.isAncestorRetained(f, to))
    if (stranded)
      System.err.println(s"[graft] text index ${state.meta.name}: watermark " +
        s"${wmP0.get} is no longer an ancestor of base head $to (snapshot " +
        "expired or rolled back) — self-healing with a full-window recompute")
    refreshDocsStep(to)
    val wmP = if (stranded) None else wmP0
    val (changedP, aliveP) = lastState(wmP, to)
    // the key-union reads the POSTINGS table's own ids (column-pruned),
    // not the docs table's: the docs step above has already healed the
    // docs table, so a ghost's id survives only in the postings
    val changed =
      if (stranded) changedP.union(state.toDF.select(col(idCol)))
      else changedP
    state.mergeByKeys(idCol, changed, postingsOf(aliveP),
      extraSummary = Map(WatermarkKey -> to.toString))
    Some(to)
  }

  /** The docs-and-constants half of [[refresh]], fenced by the DOCS
    * watermark (no-op when already at `to`). Package-visible so the spec
    * can drive the crash window — docs committed, postings not — that a
    * real crash between the two commits leaves behind. */
  private[graft] def refreshDocsStep(to: Long): Unit = {
    val wmD0 = docsWatermark
    if (wmD0.contains(to)) return
    // stranded docs watermark: recompute from the retained table start,
    // re-deciding every doc currently in the docs table. The constants
    // delta then self-corrects: previousStats over ALL current docs ids
    // returns exactly (n0, len0), so n0 + n_window − n_old = n_window —
    // the from-scratch constants.
    val strandedD = wmD0.exists(f => !base.isAncestorRetained(f, to))
    val wmD = if (strandedD) None else wmD0
    // the docs window starts at the DOCS watermark: after a crash that
    // left docs ahead of postings, the already-applied sub-window must
    // not have its deltas re-counted
    val (changed0, alive) = lastState(wmD, to)
    val changed =
      if (strandedD) changed0.union(docsTable.toDF.select(col(idCol)))
      else changed0
    val stats = docStatsOf(alive)
    val nw = stats.agg(count(lit(1)).as("n"),
      coalesce(sum(col("len_d")), lit(0L)).as("len")).head()
    val (nOld, lenOld) = previousStats(changed)
    val (n0, len0) = corpusStats
    docsTable.mergeByKeys(idCol, changed, stats, extraSummary = Map(
      WatermarkKey -> to.toString,
      NDocsKey -> (n0 + nw.getLong(0) - nOld).toString,
      TotalLenKey -> (len0 + nw.getLong(1) - lenOld).toString))
    ()
  }

  /** BM25 top-k per query — FROM THE INDEX ALONE. The postings scan is
    * partition-pruned to the query terms' buckets (+ row-filtered within
    * them); per-term df comes off those same pruned postings in one
    * term-clustered window (one row per (doc, term) makes count == df);
    * the corpus constants are plan literals. Scoring is q66's exact
    * fixed-point arithmetic, so the result is bit-comparable to a
    * from-scratch engine. Output: (qid, id, score, rk), rk ≤ k.
    *
    * Fixed-point headroom (same analysis as q66): idf_fp ≤ N·10^6, so
    * scores stay in BIGINT for corpora to ~10^7 docs; drop the idf scale
    * to 10^3 beyond (ranking unchanged).
    *
    * `filter`: a predicate over the docs table's covered columns
    * (`includeCols` at [[TextIndex.create]], plus `len_d`/id) restricting
    * the CANDIDATE set — Lucene/Elasticsearch filter semantics: scoring
    * statistics (df, the corpus constants) stay index-GLOBAL, only the
    * ranked set shrinks, so a doc's score is identical filtered or not.
    * The allowed-id set reads the docs table AT the postings watermark's
    * pinned snapshot (one doc-level row per doc — no posting-sized or
    * base-table scan) and meets the term-pruned postings in one id
    * equi-join AQE broadcasts when the filter is selective. */
  def search(queries: Seq[(Int, String)], k: Int = 5,
             filter: Option[Column] = None): DataFrame = {
    require(queries.nonEmpty, "search needs at least one (qid, term)")
    val spark = state.spark
    // constants pinned at the POSTINGS watermark (not the docs head): a
    // search between the two refresh commits must not score OLD postings
    // with NEW constants — see [[corpusStatsAt]]
    val (n, tl) = corpusStatsAt(watermark)
    // a drained corpus (every doc deleted or updated to NULL text) is an
    // empty result set, same as the from-scratch engine on an empty corpus
    if (n <= 0 || tl <= 0) {
      val idType = state.meta.schema.byName(idCol).get.sparkType
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("qid", LongType),
          StructField(idCol, idType), StructField("score", LongType),
          StructField("rk", LongType))))
    }
    val terms = queries.map(_._2).distinct
    // df off the pruned postings BEFORE any candidate restriction —
    // index-global statistics are what make filtered scores comparable
    // to unfiltered ones (and to the from-scratch engine's)
    val dfd = state.read(filter = Some(col("term").isin(terms: _*)))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
    val post = filter match {
      case None => dfd
      case Some(pred) =>
        val allowed = docsTable.read(snapshotId = docsSnapshotAt(watermark))
          .filter(pred).select(col(idCol))
        dfd.join(allowed, Seq(idCol), "left_semi")
    }
    val q = spark.createDataFrame(queries).toDF("qid", "term")
    val hit = broadcast(q).join(post, "term")
      .select(col("qid"), col(idCol),
        expr(s"(($n - df) * 1000000) DIV (df + 1)").as("idf_fp"),
        expr(s"(11 * tf * 1000000 * 1000000) DIV ((5 * 1000000 * tf) + " +
          s"6 * (250000 + ((3 * 1000000 * len_d * $n) DIV (4 * $tl))))").as("tf_fp"))
    hit.groupBy(col("qid"), col(idCol))
      .agg(expr("SUM((idf_fp * tf_fp) DIV 1000000)").as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col(idCol))))
      .filter(col("rk") <= k)
      .select(col("qid").cast(LongType).as("qid"), col(idCol),
        col("score").cast(LongType).as("score"), col("rk").cast(LongType).as("rk"))
      .orderBy(col("qid"), col("rk"))
  }
}

object TextIndex {
  /** Routing index on the BASE table: ';'-separated state-table locations
    * of every text index registered on it, read and edited through
    * [[graft.lake.Links]] — the ingest loop refreshes each per batch,
    * exactly like the MV / vector-index routing. */
  private[graft] val IndexesKey = "graft.tindex.indexes"
  /** Snapshot-summary key: base snapshot the content reflects (used on
    * both tables — each fences its own refresh step). */
  private[graft] val WatermarkKey = "graft.tindex.base-snapshot"
  /** Snapshot-summary keys on the DOCS table: corpus-level BM25
    * constants as of its watermark. */
  private[graft] val NDocsKey = "graft.tindex.n-docs"
  private[graft] val TotalLenKey = "graft.tindex.total-len"
  private val BaseLocKey = "graft.tindex.base-location"
  private val DocsLocKey = "graft.tindex.docs-location"
  private val IdColKey = "graft.tindex.id-col"
  private val TextColKey = "graft.tindex.text-col"
  private val IncludeColsKey = "graft.tindex.include-cols"

  /** Changed-id count above which the previous-length lookup stops
    * collecting keys for an exact IN predicate and semi-joins instead —
    * the same 1024-key small-batch/big-batch split
    * [[LakeTable.mergeByKeys]] makes for its own pruning (a larger
    * literal IN costs more in plan translation + per-file pruning than
    * the one doc-table scan it saves; measured 6× on a 10k-key batch). */
  private val MaxInKeys = 1024

  /** Build the index over `base`'s current snapshot: the docs table
    * (lengths + corpus constants) commits first, then the postings —
    * the same two-step watermark discipline every refresh uses. */
  def create(catalog: LakeCatalog, ident: String, base: LakeTable,
             idCol: String = "doc_id", textCol: String = "text",
             nBuckets: Int = 32,
             includeCols: Seq[String] = Seq.empty): TextIndex = {
    val head = base.meta.currentSnapshot.map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException(
        "create the index after the base table has data"))
    val idType = base.meta.schema.byName(idCol).getOrElse(
      throw new IllegalArgumentException(s"base has no column $idCol")).sparkType
    require(base.meta.schema.byName(textCol).isDefined,
      s"base has no column $textCol")
    val includeFields = includeCols.map { c =>
      require(!Set(idCol, textCol, "len_d", "term", "tf")(c),
        s"include column $c collides")
      StructField(c, base.meta.schema.byName(c).getOrElse(
        throw new IllegalArgumentException(s"base has no column $c")).sparkType)
    }
    val docsT = catalog.createTable(s"${ident}_docs", StructType(Seq(
      StructField(idCol, idType),
      StructField("len_d", LongType)) ++ includeFields),
      partitionBy = Seq(idCol -> "bucket[16]"),
      properties = Map(BloomSkip.ColumnsKey -> idCol))
    val t = catalog.createTable(ident, StructType(Seq(
      StructField(idCol, idType),
      StructField("term", StringType),
      StructField("tf", LongType),
      StructField("len_d", LongType))),
      partitionBy = Seq("term" -> s"bucket[$nBuckets]"),
      properties = Map(BaseLocKey -> base.location, DocsLocKey -> docsT.location,
        IdColKey -> idCol, TextColKey -> textCol) ++
        (if (includeCols.isEmpty) Map.empty
         else Map(IncludeColsKey -> includeCols.mkString(","))))
    val idx = new TextIndex(t, docsT, base, idCol, textCol, includeCols)
    val src = base.read(snapshotId = Some(head))
      .select((Seq(col(idCol), col(textCol)) ++ includeCols.map(col)): _*)
    val stats = idx.docStatsOf(src)
    val agg = stats.agg(count(lit(1)).as("n"),
      coalesce(sum(col("len_d")), lit(0L)).as("len")).head()
    docsT.mergeByKeys(idCol, stats.select(col(idCol)).limit(0), stats,
      extraSummary = Map(WatermarkKey -> head.toString,
        NDocsKey -> agg.getLong(0).toString,
        TotalLenKey -> agg.getLong(1).toString))
    t.mergeByKeys(idCol, src.select(col(idCol)).limit(0), idx.postingsOf(src),
      extraSummary = Map(WatermarkKey -> head.toString))
    // register on the base's routing index so ingest-cadence maintenance
    // refreshes the index per batch (same shape as the MV/vindex routing)
    base.updateProperties(Links.add(IndexesKey, t.location))
    idx
  }

  /** Reload an index created by [[create]]. Base and docs tables resolve
    * as SIBLINGS of the state table — through the same metadata
    * authority, so a wire-catalog index stays wire. */
  def load(catalog: LakeCatalog, ident: String): TextIndex =
    fromState(catalog.loadTable(ident))

  /** Reload from the state-table LOCATION the base's routing index
    * stores, THROUGH the owner's metadata authority (the ingest loop's
    * route). */
  def loadVia(owner: LakeTable, stateLocation: String): TextIndex =
    fromState(owner.sibling(stateLocation))

  private def fromState(t: LakeTable): TextIndex = {
    val p = t.meta.properties
    require(p.contains(BaseLocKey),
      s"${t.meta.name} is not a TextIndex state table")
    new TextIndex(t, t.sibling(p(DocsLocKey)), t.sibling(p(BaseLocKey)),
      p(IdColKey), p(TextColKey),
      p.get(IncludeColsKey).map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty))
  }

  /** Drop the index: both tables removed and the base's routing-index
    * registration cleared. */
  def drop(catalog: LakeCatalog, ident: String): Unit = {
    val t = catalog.loadTable(ident)
    val baseLoc = t.meta.properties.get(BaseLocKey)
    val loc = t.location
    baseLoc.foreach { bl =>
      try t.sibling(bl).updateProperties(Links.remove(IndexesKey, loc))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    catalog.dropTable(s"${ident}_docs")
    catalog.dropTable(ident)
  }
}
