package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.lake.LakeTable

/** Incremental near-duplicate dedup: dedup each NEWLY INGESTED batch
  * against everything already accepted, without ever re-processing the
  * accepted corpus. This is the realistic operating mode of a 100 TB
  * training-data pipeline — the corpus grows by continuous ingest, and
  * re-running batch dedup (q51/q57) over the whole corpus per ingest is
  * O(corpus) each time where this is O(batch + candidates).
  *
  * The persistent state is a MinHash signature INDEX, kept in a lake
  * table with one row per (LSH band, bucket) per accepted doc:
  * `(band INT, bucket BIGINT, doc_id LONG, signature ARRAY<BIGINT>)` —
  * k longs per doc, never the text. Ingest:
  *
  *   1. signatures + banded buckets for the BATCH only (O(batch));
  *   2. candidates = batch bands equi-joined to the index on
  *      (band, bucket) — the standard LSH candidate join, with the
  *      index side pruned to the batch's buckets;
  *   3. verify candidates by SIGNATURE-estimated Jaccard (matching
  *      minhash positions / k ≥ threshold) — self-contained in the
  *      index, no text lookup; the estimator's variance is the standard
  *      MinHash trade (k tunes it), the same estimate LSH banding is
  *      calibrated against;
  *   4. batch docs similar to an indexed doc are dropped
  *      (`dup_of` = lowest matching indexed id); the remainder runs
  *      within-batch connected components over the same candidate
  *      predicate, keeping each component's min id (batch-mode
  *      semantics, [[Dedup.connectedComponents]]);
  *   5. survivors' banded signature rows are appended to the index —
  *      one lake commit per ingest, so the index itself is versioned,
  *      time-travelable, and streamable like any other table.
  *
  * Semantics note (inherent to ONLINE dedup, documented not hidden):
  * results depend on ingest order the way greedy dedup always does.
  * If A~B and B~C but A≁C, batch mode (one corpus, one CC) keeps only
  * A; incremental ingest of [A], then [B], then [C] keeps A, drops B
  * (dup of A), then KEEPS C — C's only near-dup was never indexed.
  * Neither answer is wrong; they are different contracts, and the spec
  * pins this one against a driver-side greedy simulation.
  *
  * Scale notes:
  *   - Per-ingest work: signature build O(batch), candidate join
  *     O(matching bucket groups), CC over within-batch candidate pairs
  *     only. Nothing scans the accepted corpus' text, ever.
  *   - The index table should be PARTITIONED BY bucket(B, "bucket") at
  *     scale so the candidate join's index side prunes to the batch's
  *     bucket files at the metadata level (Transforms.bucket + the
  *     per-file stats pruning already in the lake layer); the join is
  *     then also a co-partitioned equi-join, no index-wide shuffle.
  *   - Index size: bands rows × (2 + k) longs per accepted doc —
  *     ~0.5 KB/doc at k=16/bands=4, i.e. a 10^9-doc corpus carries a
  *     ~0.5 TB index vs the corpus' 100 TB of text.
  */
object IncrementalDedup {

  /** Banded LSH keys for a signature frame: one row per (doc, band),
    * bucket = hash of the band's signature slice. Exactly the banding
    * [[Dedup.minHashLshPairs]] uses, factored so batch and index agree. */
  def banded(sig: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    sig.select(col(idCol).cast("long").as("doc_id"), col("signature"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("signature"), b * lit(r) + 1, lit(r))).cast("long")))
        .as(Seq("band", "bucket")))
      .select(col("band").cast("int").as("band"), col("bucket"),
        col("doc_id"), col("signature"))
  }

  /** Matching-minhash count between two signature arrays (codegen'd
    * expression tree, no UDF). */
  def sigMatches(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m)

  final case class IngestResult(survivors: DataFrame, dropped: DataFrame)

  /** Dedup `batch` against the index and itself, then index the
    * survivors. `threshold` is on estimated Jaccard; a candidate pair
    * counts as duplicate when matches ≥ ceil(threshold · k).
    * Returns survivors (original batch columns) and dropped rows
    * (`idCol`, `dup_of`). */
  /** Max distinct batch buckets to push down as an index-probe IN filter:
    * the collect is batch×bands longs (driver-bounded), and on a
    * bucket(B, "bucket")-partitioned index the filter file-prunes the
    * candidate join's scan side to the batch's buckets — small streaming
    * batches then touch a handful of index files instead of the whole
    * index (PruningPropertySpec proves the bucket-transform pruning the
    * filter rides on). Larger batches skip the pushdown (an IN list that
    * covers every bucket prunes nothing and bloats the plan). */
  val MaxProbePushdownBuckets = 20000

  def ingest(index: LakeTable, batch: DataFrame, textCol: String = "text",
             idCol: String = "doc_id", n: Int = 3, k: Int = 16,
             bands: Int = 4, threshold: Double = 0.8): IngestResult = {
    val needed = math.ceil(threshold * k).toLong
    val sig = Dedup.minHashSignatures(batch, textCol, idCol, n, k)
    // the candidate joins and CC below consume the banded batch several
    // times; it is batch-sized, so pin it (released after the index append)
    val bb = graft.Materialize(banded(sig, idCol, k, bands))

    // --- cross-batch: batch vs indexed survivors --------------------
    val batchBuckets = bb.select(col("bucket")).distinct()
      .limit(MaxProbePushdownBuckets + 1).collect().map(_.getLong(0))
    val idx =
      if (batchBuckets.length <= MaxProbePushdownBuckets)
        index.read(filter = Some(col("bucket").isInCollection(batchBuckets)))
      else index.toDF
    val crossDup = bb.as("n")
      .join(idx.as("o"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket"))
      .filter(sigMatches(col("n.signature"), col("o.signature")) >= needed)
      .groupBy(col("n.doc_id").as(idCol))
      .agg(min(col("o.doc_id")).as("dup_of"))

    // --- within-batch: LSH pairs among the cross-batch survivors ----
    val rest = bb.join(crossDup.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_anti")
    val pairs = rest.as("a")
      .join(rest.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(sigMatches(col("a.signature"), col("b.signature")) >= needed)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val labels = Dedup.connectedComponents(pairs)
    val innerDup = labels.filter(col("id") =!= col("label"))
      .select(col("id").as(idCol), col("label").as("dup_of"))

    // pinned: consumed by the index append, survivors and the caller,
    // which owns the pin (the lake read is already snapshot-pinned at
    // DataFrame creation — this just avoids recomputing the joins per
    // consumer)
    val dropped = graft.Materialize(crossDup.unionByName(innerDup))
    val survivors = batch.join(dropped.select(idCol), Seq(idCol), "left_anti")

    // --- index the survivors (one lake commit) ----------------------
    val newRows = bb
      .join(dropped.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_anti")
      .select("band", "bucket", "doc_id", "signature")
    // the append computes `dropped`: its last reads of bb and the labels
    try index.append(newRows)
    finally graft.Materialize.release(bb, labels)
    IngestResult(survivors, dropped)
  }
}
