package graft.streaming

import graft.lake.{DataFile, LakeTable, Links, Pruning}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Changelog-stream ingestion (SURVEY.md §2.10, M7).
  *
  * Reproduces the reference's Flink jobs Spark-first:
  *   - CSV changelog parse with malformed-line drop
  *     (ref: IcebergStream.java:87-98, PaimonStream.java:54-66)
  *   - synthetic faker source as a rate-source + expressions
  *     (ref: FakerSource.java:27-70)
  *   - clickstream JSON generator (ref: datagen/datagen.py:28-60)
  *   - equality-field upsert / last-wins dedup merge into a LakeTable via
  *     foreachBatch (ref: IcebergStream.java:116-120 equalityFieldColumns,
  *     PaimonStream.java:91 'merge-engine'='deduplicate')
  *
  * Scale design: each micro-batch merge only rewrites data files whose key
  * bounds overlap the batch's aggregated [min,max] key bounds (stats-pruned
  * copy-on-write). Keys are never collected to the driver — the survivor
  * set is a distributed LEFT ANTI join against the batch-key DataFrame —
  * so at 100 TB a CDC catch-up burst rewrites only the files the changelog
  * touches and the driver sees a single 1-row bounds aggregate.
  */
object Changelog {

  /** RowKind wire domain, exactly the reference's mapping (ref:
    * IcebergStream.java:46-47 maps I/D; PaimonStream.java:41-42 maps
    * "I"→INSERT, "D"→DELETE, "-U"→UPDATE_BEFORE, "U"→UPDATE_AFTER —
    * note the asymmetric bare "U" for update-after IS the reference's
    * format). Flink's own RowKind.shortString() spellings (+I/-U/+U/-D)
    * are accepted too: parseCsvLines normalizes them before filtering,
    * so a producer that serialized via shortString isn't silently
    * dropped as malformed. */
  val Insert = "I"; val Delete = "D"; val UpdateBefore = "-U"; val UpdateAfter = "U"

  val changelogSchema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("block_number", IntegerType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))

  /** Parse raw text lines `type,block_number,hash` into the changelog
    * schema; malformed lines (field count != 3, non-int key) are dropped
    * (ref: IcebergStream.java:90-98). Works on both batch and streaming
    * DataFrames with a `value: String` column. */
  def parseCsvLines(lines: DataFrame): DataFrame = {
    lines
      .select(split(col("value"), ",").as("f"))
      .filter(size(col("f")) === 3)
      .select(
        // normalize Flink RowKind.shortString() spellings to the
        // reference's wire domain: +I→I, -D→D, +U→U (-U is already exact)
        when(col("f").getItem(0) === "+I", Insert)
          .when(col("f").getItem(0) === "-D", Delete)
          .when(col("f").getItem(0) === "+U", UpdateAfter)
          .otherwise(col("f").getItem(0)).as("op"),
        // try_cast: ANSI-safe — a non-integer key nulls out and is dropped
        // below, mirroring the reference's parse-failure drop
        col("f").getItem(1).try_cast("int").as("block_number"),
        col("f").getItem(2).as("hash"),
        date_trunc("second", current_timestamp()).as("timestamp"))
      .filter(col("block_number").isNotNull && col("op").isin(Insert, Delete, UpdateBefore, UpdateAfter))
  }

  /** Socket text stream source (ref: IcebergStream.java:87-88 socket on
    * localhost:9999). */
  def socketLines(spark: SparkSession, host: String = "localhost", port: Int = 9999): DataFrame =
    spark.readStream.format("socket").option("host", host).option("port", port).load()

  /** Synthetic faker source: rate stream shaped to the reference's record
    * `{block_number: rand 0-10, hash: sha256, timestamp: now, type: I/D
    * coinflip}` (ref: FakerSource.java:53-64). Deterministic in `value` so
    * replays produce identical rows (exactly-once friendly). */
  def fakerSource(spark: SparkSession, rowsPerSecond: Int = 1): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .select(
        when(pmod(crc32(concat(lit("op"), col("value"))), lit(2)) === 0, Insert).otherwise(Delete).as("op"),
        pmod(col("value"), lit(10)).cast(IntegerType).as("block_number"),
        sha2(col("value").cast(StringType), 256).as("hash"),
        date_trunc("second", col("timestamp")).as("timestamp"))

  /** Clickstream JSON event generator (ref: datagen/datagen.py:28-60):
    * same columns/domains as the Kafka producer, as a rate stream. */
  def clickstreamSource(spark: SparkSession, rowsPerSecond: Int = 10): DataFrame = {
    val events = array(Seq("view_item", "add_to_cart", "remove_from_cart",
      "purchase", "logout", "login", "view_cart").map(lit): _*)
    val sites = array(Seq("amazing-store.com", "horrible-store.com", "meh-store.com").map(lit): _*)
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .select(
        date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss").as("timestamp"),
        element_at(events, pmod(crc32(concat(lit("e"), col("value"))), lit(7)).cast(IntegerType) + 1).as("event"),
        concat(lit("user_"), pmod(col("value"), lit(10))).as("user_id"),
        element_at(sites, pmod(crc32(concat(lit("s"), col("value"))), lit(3)).cast(IntegerType) + 1).as("site_id"),
        concat(lit("/item/"), pmod(crc32(concat(lit("u"), col("value"))), lit(10))).as("url"),
        pmod(crc32(concat(lit("o"), col("value"))), lit(101)).cast(IntegerType).as("on_site_seconds"),
        pmod(crc32(concat(lit("v"), col("value"))), lit(101)).cast(IntegerType).as("viewed_percent"))
  }

  /** Kafka source seam (ref: datagen/datagen.py:16,41-56 produces JSON to
    * topic `clickstream`). The spark-sql-kafka connector jar is NOT in
    * this environment's `/opt/spark/jars`, so the real source cannot
    * load here — but the seam means a cluster that DOES ship
    * spark-sql-kafka-0-10 gets the reference-identical source from this
    * exact call, no code change. Without the jar, the failure is an
    * actionable error naming the drop-in twins ([[clickstreamSource]] /
    * [[socketLines]] + [[parseJsonLines]], which produce the identical
    * schema) instead of Spark's raw "Failed to find data source". Returns
    * `value: String` lines, the shape [[parseJsonLines]] consumes. */
  def kafkaSource(spark: SparkSession, bootstrapServers: String,
                  topic: String = "clickstream"): DataFrame =
    try {
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .load()
        .select(col("value").cast(StringType).as("value"))
    } catch {
      // translate ONLY the missing-jar failure; anything else (bad options
      // with the jar present, etc.) propagates untouched so the real cause
      // isn't masked by a wrong "jar not present" diagnosis
      case scala.util.control.NonFatal(e)
          if (e.getMessage != null && e.getMessage.contains("Failed to find")) ||
            e.isInstanceOf[ClassNotFoundException] ||
            e.getCause.isInstanceOf[ClassNotFoundException] =>
        throw new IllegalStateException(
          "Kafka source unavailable: the spark-sql-kafka connector jar is not on " +
            "the classpath. Swap-in path: add spark-sql-kafka-0-10 (matching your " +
            "Spark version) to the cluster jars and this call works unchanged. " +
            "Environment twins with the identical schema: " +
            "Changelog.clickstreamSource (rate-based datagen) or " +
            "Changelog.socketLines + Changelog.parseJsonLines (live feed).", e)
    }

  /** JSON-line round trip for the clickstream schema (F13; the datagen
    * emits `json.dumps(data)` — datagen.py:55). */
  def toJsonLines(clickstream: DataFrame): DataFrame =
    clickstream.select(to_json(struct(clickstream.columns.map(col): _*)).as("value"))

  val clickstreamSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType), StructField("event", StringType),
    StructField("user_id", StringType), StructField("site_id", StringType),
    StructField("url", StringType), StructField("on_site_seconds", IntegerType),
    StructField("viewed_percent", IntegerType)))

  def parseJsonLines(lines: DataFrame): DataFrame =
    lines.select(from_json(col("value"), clickstreamSchema).as("r")).select(col("r.*"))

  /** Apply one changelog micro-batch to a lake table with equality-field
    * upsert semantics on `key` (ref: IcebergStream.java:118, J2-J4):
    *
    *   1. last-wins per key within the batch (`seqCol` descending; ties to
    *      the reference's deterministic source order — PaimonStream.java:91)
    *   2. -U rows are retractions of a prior version → treated as D unless
    *      a later +U/I for the key exists (same anti-join machinery)
    *   3. table rows with a key present in the batch are deleted
    *      (file-pruned copy-on-write), then surviving I/U rows appended
    *
    * Idempotent on `batchId` (T4): a batch at or below the HIGHEST
    * batch-id marker recorded anywhere in snapshot history is skipped, so
    * foreachBatch replays after a checkpoint recovery cannot double-apply.
    * Checking only the latest snapshot would be defeated by any
    * interleaved commit (a compaction or manual DELETE landing between
    * batch N and its replay hides the marker) — a replay would then
    * re-insert rows the interleaved DELETE removed. The scan is over the
    * in-memory snapshot list (metadata, no I/O) and expire_snapshots
    * cannot outrun it: expiry keeps the branch head's ancestry, and the
    * checkpoint advances past N long before N's snapshot ages out.
    *
    * Multi-writer: batch-ids restart at 0 per checkpoint, so a SECOND
    * streaming query merging into the same table would collide with the
    * first's marker (all its batches silently skipped once the other's
    * marker is higher). `writerId` scopes the marker per writer
    * (`streaming.batch-id.<writerId>`) — [[startIngest]] derives one from
    * the checkpoint dir, which is exactly the scope batch-ids live in.
    * An empty writerId keeps the legacy unscoped key (single writer). */
  def markerKey(writerId: String): String =
    if (writerId.isEmpty) "streaming.batch-id" else s"streaming.batch-id.$writerId"

  /** Stable per-checkpoint writer id: batch-ids are scoped to a
    * checkpoint, so its path (hashed to keep property keys clean) is the
    * right marker scope — stable across restarts, distinct across
    * queries. */
  def writerIdFor(checkpointDir: String): String =
    java.lang.Long.toHexString(
      java.util.UUID.nameUUIDFromBytes(checkpointDir.getBytes("UTF-8"))
        .getMostSignificantBits)

  def mergeChangelog(table: LakeTable, batch: DataFrame, key: String,
                     seqCol: String, opCol: String = "op",
                     batchId: Long = -1L, writerId: String = ""): Unit = {
    val m0 = table.meta
    val marker = markerKey(writerId)
    if (batchId >= 0) {
      // migration floor: markers written before writer scoping existed
      // live under the legacy unscoped key. A scoped writer honors that
      // key too — but ONLY while no scoped marker from ANY writer exists
      // in history (the pre-upgrade state). This makes an in-place
      // upgrade's checkpoint-recovery replay skip correctly, while a
      // genuinely new second writer joining a post-upgrade table (batch
      // ids restarting at 0) is NOT silently floored by the old single
      // writer's high legacy marker — the collision scoping was built to
      // fix. The window where both can be confused (second writer joins
      // before the upgraded first writer's first commit) is unavoidable:
      // legacy markers carry no writer identity.
      val anyScoped = m0.snapshots.iterator
        .exists(_.summary.keys.exists(_.startsWith("streaming.batch-id.")))
      val keys =
        if (writerId.isEmpty || anyScoped) Seq(marker)
        else Seq(marker, markerKey(""))
      val applied = m0.snapshots.iterator
        .flatMap(s => keys.flatMap(s.summary.get)).map(_.toLong)
        .maxOption
      if (applied.exists(_ >= batchId)) return
    }
    import org.apache.spark.sql.expressions.Window
    // null-keyed changelog rows are unmergeable noise — drop them up front
    // (a null key must never reach the delete-key set)
    graft.Materialize.using(batch
      .filter(col(key).isNotNull)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(key)).orderBy(col(seqCol).desc)))
      .filter(col("_rn") === 1).drop("_rn")) { latest =>
      val upserts = latest.filter(col(opCol).isin(Insert, UpdateAfter)).drop(opCol)
      // `latest` holds each key once and every upsert's key, so it is the
      // batch's key set as is (`batchKeys`): no distinct shuffle, only a
      // bounded key sample reaches the driver (so a CDC catch-up burst
      // cannot blow up the driver), and a batch with no keyed row
      // commits nothing.
      // Conflict-retry: a concurrent compaction/DELETE between merge
      // planning and commit re-plans the merge against fresh metadata
      LakeTable.withConflictRetry() {
        table.mergeByKeys(key, latest.select(col(key)), upserts,
          if (batchId >= 0) Map(marker -> batchId.toString) else Map.empty,
          batchKeys = true)
      }
      ()
    }
  }

  /** Start a continuous changelog ingest: 5 s micro-batches (the
    * reference's checkpoint cadence — IcebergStream.java:84) with
    * exactly-once via checkpointLocation + the batch-id guard.
    *
    * `maintainEvery` > 0 folds table maintenance into the ingest cadence
    * ([[graft.lake.LakeTable.autoMaintain]]): small-file binpack every
    * that-many commits PLUS merge-on-read delete-mask upkeep (equality
    * masks converted, positional masks compacted, each threshold-gated on
    * free metadata checks) — the reference's maintenance notebook treats
    * compaction as routine policy, and a merge-on-read CDC stream without
    * it accretes one equality-delete mask class per batch forever. The
    * maintenance commits ride AFTER the batch's merge, conflict-retried,
    * and never touch the batch-id marker, so exactly-once is unaffected.
    *
    * `refreshViews` additionally refreshes every materialized view
    * registered on the table (the `graft.ivm.views` routing index) after
    * each batch — churn-sized per refresh, and it keeps the views
    * EXACTLY at the base head between triggers, so automatic MV query
    * routing stays hot for a continuously-ingested table. A failing view
    * (dropped concurrently, or a star view refused over a mutated
    * dimension until rebuild) is skipped, never killing the stream. */
  def startIngest(table: LakeTable, parsed: DataFrame, key: String, seqCol: String,
                  checkpointDir: String, triggerMs: Long = 5000L,
                  maintainEvery: Int = 0,
                  refreshViews: Boolean = false,
                  refreshIndexes: Boolean = false): StreamingQuery = {
    val wid = writerIdFor(checkpointDir)
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeChangelog(table, batch, key, seqCol, batchId = id, writerId = wid)
        if (maintainEvery > 0) { table.autoMaintain(maintainEvery); () }
        if (refreshViews) refreshRegisteredViews(table)
        if (refreshIndexes) refreshRegisteredIndexes(table)
      }
      .start()
  }

  /** One sink of a transactional multi-table ingest: `transform` maps the
    * micro-batch to this table's rows; `mergeKey = Some((key, seqCol))`
    * applies them as a last-wins changelog merge (rows carry an `op`
    * column, the [[mergeChangelog]] reduction), `None` appends them. */
  final case class TxnSink(ident: String,
                           transform: DataFrame => DataFrame,
                           mergeKey: Option[(String, String)] = None)

  /** Apply one micro-batch to EVERY sink inside one
    * [[graft.lake.LakeTransaction]] — a reader can never observe the raw
    * table ahead of its derived tables (or vice versa), no matter where
    * the stream crashes. Exactly-once composes from three pieces:
    *
    *   - the batch-id MARKER rides every sink's staged commit summary, so
    *     a replay finds it in main history iff the transaction published
    *     (all-or-nothing — one marker probe answers for all sinks);
    *   - a replay first drops any leftover staged branches of THIS
    *     writer's earlier attempts (branch names share the
    *     `txn-igst-<writerId>-` prefix). A sink still FENCED by a
    *     decided-but-unpublished attempt blocks that cleanup commit,
    *     which routes through the fence-TTL recovery: the crashed
    *     attempt rolls FORWARD first, and the marker re-check then skips
    *     the batch — never a double apply;
    *   - attempt-scoped transaction ids (a fresh random suffix per call)
    *     keep the put-if-absent manifest/decision slots collision-free
    *     across retries of the same batch.
    *
    * A fence younger than `graft.txn.fence-ttl-ms` makes this throw
    * [[graft.lake.CommitConflictException]] — the stream's retry policy
    * re-runs the batch until the crashed coordinator is presumed dead.
    * Failure mid-call aborts the transaction: no sink shows the batch. */
  def applyTransactionalBatch(catalog: graft.lake.LakeCatalog,
                              sinks: Seq[TxnSink], batch: DataFrame,
                              batchId: Long, writerId: String): Unit = {
    require(sinks.nonEmpty, "transactional ingest needs at least one sink")
    require(writerId.nonEmpty && writerId.matches("[A-Za-z0-9]+"),
      s"writerId must be alphanumeric (got '$writerId')")
    val marker = markerKey(writerId)
    val branchPrefix = s"txn-igst-$writerId-"
    // marker probe over MAIN ancestry only: a crashed attempt's staged
    // branch snapshots carry the marker too, but they are exactly what
    // has NOT been applied — counting them would drop the batch
    def appliedMax(): Option[Long] =
      sinks.flatMap { s =>
        val m = catalog.loadTable(s.ident).meta
        m.ancestry(m.currentSnapshot).flatMap(_.summary.get(marker)).map(_.toLong)
      }.maxOption
    if (batchId >= 0 && appliedMax().exists(_ >= batchId)) return
    // stale attempts: resolve any fence first (a crashed attempt that
    // DECIDED rolls forward here, an undecided one rolls back — TTL-gated,
    // so a live coordinator's fence fails the batch loudly for the
    // stream's retry policy), then drop leftover staged branches
    sinks.foreach { s =>
      val t = catalog.loadTable(s.ident)
      t.meta.properties.get(graft.lake.LakeTransaction.FenceKey).foreach { f =>
        val ttl = t.meta.properties
          .get(graft.lake.LakeTransaction.FenceTtlKey)
          .flatMap(_.toLongOption)
          .getOrElse(graft.lake.LakeTransaction.DefaultFenceTtlMs)
        if (!graft.lake.LakeTransaction.tryRecoverFence(t, f, ttl))
          throw graft.lake.CommitConflictException(
            s"sink ${s.ident} is fenced by in-flight transaction " +
              s"${f.takeWhile(_ != '\t')} — the batch retries after it " +
              "completes or its fence TTL elapses")
      }
      t.meta.refs.keys.filter(_.startsWith(branchPrefix)).foreach { b =>
        t.dropBranch(b, ifExists = true)
      }
    }
    // the recovery above may have rolled a decided attempt FORWARD
    if (batchId >= 0 && appliedMax().exists(_ >= batchId)) return
    val txn = catalog.beginTransaction(s"igst-$writerId-b$batchId-" +
      java.util.UUID.randomUUID().toString.take(8))
    try {
      sinks.foreach { s =>
        val out = s.transform(batch)
        val stamp =
          if (batchId >= 0) Map(marker -> batchId.toString) else Map.empty[String, String]
        s.mergeKey match {
          case None => txn.table(s.ident).append(out, stamp); ()
          case Some((key, seqCol)) =>
            import org.apache.spark.sql.expressions.Window
            val latest = out.filter(col(key).isNotNull)
              .withColumn("_rn", row_number().over(
                Window.partitionBy(col(key)).orderBy(col(seqCol).desc)))
              .filter(col("_rn") === 1).drop("_rn")
            val upserts = latest.filter(col("op").isin(Insert, UpdateAfter)).drop("op")
            txn.table(s.ident).mergeByKeys(key, latest.select(col(key)),
              upserts, stamp)
            ()
        }
      }
      txn.commit()
    } catch { case e: Throwable => txn.rollback(); throw e }
  }

  /** Start a continuous multi-table transactional ingest: every
    * micro-batch lands on ALL sinks atomically
    * ([[applyTransactionalBatch]]) at the reference's 5 s checkpoint
    * cadence — the raw/derived consistency a single-table sink cannot
    * give (T7). */
  def startTransactionalIngest(catalog: graft.lake.LakeCatalog,
                               parsed: DataFrame, sinks: Seq[TxnSink],
                               checkpointDir: String,
                               triggerMs: Long = 5000L): StreamingQuery = {
    val wid = writerIdFor(checkpointDir)
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyTransactionalBatch(catalog, sinks, batch, id, wid)
      }
      .start()
  }

  /** Pending (not-yet-committed) refresh failures per view location: a
    * stuck view fails EVERY trigger, and committing a health record per
    * attempt is ~17k metadata commits/day at a 5 s trigger. The record
    * cadence is bounded instead — commit on the FIRST failure, whenever
    * the error message changes, and every `graft.mv.health.record-every`
    * (base-table property, default 16) attempts in between; the counter
    * for the quiet stretches lives here, driver-side. A driver restart
    * forgets the pending tail, which costs at most one under-count of
    * N-1 attempts — the record itself (stuck + last error + when) stays
    * visible throughout. Keyed by (base-table location, view location)
    * and pruned against the base table's CURRENT routing index on every
    * refresh pass (r13): a view dropped while failing no longer leaves
    * its counter forever, and a new view later created at the same state
    * location starts its failure count from zero. */
  private val pendingRefreshFailures =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()

  /** Refresh every view in the table's routing index; failures skip —
    * but never silently: a failing view records a consecutive failure
    * count + last error on its STATE table (r11; r12 bounds the commit
    * cadence, see [[pendingRefreshFailures]]), and the next successful
    * refresh clears both the record and the pending counter, so an
    * operator watching the base table's `materialized_views` metadata
    * table sees a view stuck behind a mutated dimension instead of
    * discovering cold routing later. Recording is itself best-effort (a
    * dropped view has no state table left to write to). */
  /** Refresh every persistent vector index in the table's routing index
    * (`graft.vindex.indexes`) — each refresh is churn-shaped (the index's
    * own changelog window), so a CDC-ingested corpus keeps its ANN index
    * exactly at the base head between triggers. Failures skip with a
    * warning, never killing the stream: a lagging index is OBSERVABLE
    * (its watermark pin trails the base head), and a stale registration
    * left by a bare dropTable (use [[graft.operators.VectorIndex.drop]])
    * is skipped harmlessly. Index resolution goes through the base's
    * metadata authority — a `uri`-mode base refreshes over the wire.
    * Covers both secondary-index kinds: IVF vector indexes
    * ([[graft.operators.VectorIndex]]) and BM25 text indexes
    * ([[graft.operators.TextIndex]]), each off its own routing key. */
  def refreshRegisteredIndexes(table: LakeTable): Unit = {
    def each(key: String)(refresh: String => Unit): Unit =
      Links.of(table.meta.properties, key).foreach { loc =>
        try refresh(loc)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] index refresh skipped for $loc: ${e.getMessage}")
        }
      }
    each(graft.operators.VectorIndex.IndexesKey) { loc =>
      val idx = graft.operators.VectorIndex.loadVia(table, loc)
      idx.refresh()
      applyDriftPolicy(idx)
    }
    each(graft.operators.TextIndex.IndexesKey)(loc =>
      graft.operators.TextIndex.loadVia(table, loc).refresh())
  }

  /** Per-batch drift policy for a refreshed vector index: when its state
    * table declares `graft.vindex.rebuild.imbalance-threshold` and the
    * METADATA-ONLY imbalance estimate exceeds it, either rebuild in place
    * (`graft.vindex.rebuild.auto=true` — one recluster per drift episode:
    * the rebuilt index re-balances, disarming the trigger until the
    * corpus drifts again) or record a drift health property the `indexes`
    * metadata table surfaces. Bounded commit cadence: the record
    * re-commits only when the 2-decimal estimate changes, and clears once
    * the estimate is back under the threshold — a steadily-drifted index
    * costs zero extra commits per batch. */
  private def applyDriftPolicy(idx: graft.operators.VectorIndex): Unit = {
    import graft.operators.VectorIndex._
    val props = idx.state.meta.properties
    props.get(ImbalanceThresholdKey).flatMap(_.toDoubleOption).foreach { thr =>
      val est = idx.imbalanceEstimate
      if (est > thr) {
        if (props.get(RebuildAutoKey).contains("true")) {
          System.err.println(s"[graft] vector index ${idx.state.meta.name}: " +
            f"imbalance estimate $est%.2f > threshold $thr%.2f — auto-rebuilding")
          idx.rebuild()
          if (props.contains(DriftImbalanceKey)) {
            idx.state.updateProperties(_ - DriftImbalanceKey - DriftAtKey)
            ()
          }
        } else {
          val rec = f"$est%.2f"
          if (!props.get(DriftImbalanceKey).contains(rec)) {
            idx.state.updateProperties(_ + (DriftImbalanceKey -> rec) +
              (DriftAtKey -> System.currentTimeMillis().toString))
            ()
          }
        }
      } else if (props.contains(DriftImbalanceKey)) {
        idx.state.updateProperties(_ - DriftImbalanceKey - DriftAtKey)
        ()
      }
    }
  }

  def refreshRegisteredViews(table: LakeTable): Unit = {
    import graft.lake.MaterializedAgg
    val recordEvery = table.meta.properties
      .get("graft.mv.health.record-every").flatMap(_.toLongOption)
      .filter(_ > 0).getOrElse(16L)
    val locs = Links.of(table.meta.properties, MaterializedAgg.ViewsKey)
    // prune counters for views no longer in THIS table's routing index
    // (dropped while failing): without this a stuck-then-dropped view
    // leaks its entry forever, and a new view created at the same state
    // location would inherit the stale pending count (r13)
    pendingRefreshFailures.keySet.removeIf(k =>
      k._1 == table.location && !locs.contains(k._2))
    locs.foreach { loc =>
        try {
          MaterializedAgg.loadVia(table, loc).refresh()
          // success: clear any failure record (only commits when present)
          pendingRefreshFailures.remove((table.location, loc))
          val st = table.sibling(loc)
          if (st.meta.properties.contains(MaterializedAgg.FailuresKey)) {
            st.updateProperties(_ - MaterializedAgg.FailuresKey -
              MaterializedAgg.LastErrorKey - MaterializedAgg.LastErrorAtKey)
            ()
          }
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] view refresh skipped for $loc: ${e.getMessage}")
          try {
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(512)
            val pending = pendingRefreshFailures.merge((table.location, loc), 1L, _ + _)
            val st = table.sibling(loc)
            val props = st.meta.properties
            val recorded = props.get(MaterializedAgg.FailuresKey).flatMap(_.toLongOption)
            // "the error changed" compares NORMALIZED messages — digit
            // runs collapsed — so an error embedding a value that
            // advances per attempt (a snapshot id, a timestamp, a row
            // count) doesn't recommit every trigger and defeat the
            // cadence bound; the stored record keeps the real message
            def norm(s: String) = s.replaceAll("[0-9]+", "#")
            val errChanged = !props.get(MaterializedAgg.LastErrorKey)
              .map(norm).contains(norm(msg))
            if (recorded.isEmpty || errChanged || pending >= recordEvery) {
              st.updateProperties { p =>
                val base = p.get(MaterializedAgg.FailuresKey)
                  .flatMap(_.toLongOption).getOrElse(0L)
                p + (MaterializedAgg.FailuresKey -> (base + pending).toString) +
                  (MaterializedAgg.LastErrorKey -> msg) +
                  (MaterializedAgg.LastErrorAtKey -> System.currentTimeMillis().toString)
              }
              pendingRefreshFailures.put((table.location, loc), 0L)
              ()
            }
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
  }

  /** Incremental streaming read-back of a lake table — the Spark-first
    * analog of the reference's continuous changelog read
    * (StreamRead.java:31-34 `toChangelogStream`): the snapshot-driven
    * [[LakeStreamSource]] (offsets = committed main snapshot ids, batches
    * = `app-*` files added between offsets). Metadata-driven delivery is
    * what keeps the stream honest: staged WAP snapshots, side-branch
    * commits, and files whose commit failed are never on main's walked
    * ancestry, so they are never delivered — a data-directory file glob
    * (the previous implementation) surfaced all three as phantom rows.
    * CoW-rewrite output (`rw-*`) is never re-delivered: append-only
    * streaming semantics, the same contract Iceberg's streaming read
    * enforces. Offsets/exactly-once come from checkpointLocation.
    *
    * Caveat: the source schema is pinned at start (streaming requires a
    * stable schema) — renames/widenings need the stream restarted. */
  def streamRead(table: LakeTable): DataFrame =
    withAuthority(table, table.spark.readStream
      .format(classOf[LakeStreamSourceProvider].getName)
      .option("location", table.location))
      .load()

  /** Carry the table's metadata authority into the string-option world a
    * streaming source is reconstructed from: wire-catalog tables add
    * `uri` + `ident` so the source resolves snapshots over the wire
    * (the location holds no metadata in uri mode — r12). */
  private def withAuthority(table: LakeTable,
      r: org.apache.spark.sql.streaming.DataStreamReader) =
    table.metaStore match {
      case h: graft.lake.HttpMetaStore =>
        r.option("uri", h.baseUri).option("ident", h.ident)
      case _ => r
    }

  /** Continuous row-level CDC stream — the FULL `toChangelogStream`
    * parity (StreamRead.java:31-34): each micro-batch carries the
    * per-commit insert AND delete events between the previous and
    * current committed main snapshot ([[graft.lake.LakeTable.changelog]]),
    * updates as delete+insert pairs, tagged with Iceberg's changelog
    * contract (`_change_type` INSERT|DELETE, `_change_ordinal`,
    * `_commit_snapshot_id`). Downstream consumers can materialize a
    * replica with a keyed merge (the [[mergeChangelog]] machinery) or
    * audit deletions — neither is possible with the append-only
    * [[streamRead]]. Same snapshot-driven offsets, same WAP/branch/orphan
    * invisibility, same cost shape (per-commit file-set-pruned diff:
    * cost ∝ churn, never table size). */
  def streamChangelog(table: LakeTable): DataFrame =
    withAuthority(table, table.spark.readStream
      .format(classOf[LakeStreamSourceProvider].getName)
      .option("location", table.location)
      .option("mode", "changelog"))
      .load()

  /** Console read-back per trigger (StreamRead.java:34 print loop /
    * PaimonStream.java:100): the streaming source above + console sink,
    * stopped after roughly `ticks` trigger intervals. */
  def consoleReadBack(table: LakeTable, intervalMs: Long = 5000L, ticks: Int = 3): Unit = {
    val q = streamRead(table).writeStream
      .format("console")
      .option("numRows", 20)
      .option("truncate", false)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()
    try q.awaitTermination(intervalMs * ticks)
    finally q.stop()
    ()
  }
}
