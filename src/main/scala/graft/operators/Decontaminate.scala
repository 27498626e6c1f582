package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.BinaryType

/** Benchmark decontamination at corpus scale: drop training documents
  * whose key (normalized-content fingerprint) appears in a held-out
  * evaluation set.
  *
  * The naive plan — `corpus ANTI JOIN eval` (q39's shape) — shuffles or
  * at best broadcast-hash-joins EVERY corpus row against the eval keys.
  * At 100 TB the corpus side of that join is the whole corpus, and a
  * 10M-key × long-string eval set is an uncomfortable broadcast. The
  * scale pattern (the same one Spark's own InjectRuntimeFilter uses for
  * shuffle joins) is a Bloom pre-filter:
  *
  *   1. BUILD: a Bloom filter over xxhash64(eval key) via Spark's
  *      [[BloomFilterAggregate]] — a distributed, mergeable aggregate;
  *      only the filter bytes (~1.2 MB per million keys at 1% fpp) ever
  *      reach the driver, never the eval rows.
  *   2. PROBE: [[BloomFilterMightContain]] over xxhash64(corpus key),
  *      with the filter bytes inlined as a binary literal — a codegen'd
  *      scan-side predicate, exactly what Spark plants on the probe side
  *      of a runtime-filtered join. No UDF, no broadcast variable.
  *   3. VERIFY: Bloom "no" is definitive (no false negatives — a present
  *      key always hits, and xxhash64 is deterministic so hash collisions
  *      only ADD hits), so bloom-miss rows pass untouched. Bloom "yes" is
  *      maybe (fpp + hash collisions), so ONLY the hit rows — a small
  *      fraction of the corpus — go through the exact anti-join.
  *
  * The result is therefore EXACTLY `corpus ANTI JOIN eval` (oracle-
  * checkable, q62), while the anti-join's left side shrinks from the
  * full corpus to the bloom-hit sliver. The corpus is scanned twice
  * (miss branch + hit branch), but both scans are column-pruned,
  * codegen-filtered passes — far cheaper at 100 TB than routing every
  * row through a join. An anti join cannot instead take the probe as a
  * pre-filter the way Spark's runtime filters do on inner joins: bloom
  * misses are precisely the rows an anti join must KEEP, so they have to
  * bypass the join on their own branch.
  */
object Decontaminate {

  /** Distributed Bloom build over `keys`: one aggregate job; only the
    * serialized filter returns to the driver. `expectedItems` sizes the
    * filter (stay ≤ the session's runtime-bloom max, default 4M items /
    * 8M bytes — callers with larger eval sets raise those confs). */
  def bloomBytes(evalKeys: DataFrame, keyCol: String,
                 expectedItems: Long, numBits: Long): Array[Byte] = {
    val child = ColumnBridge.expression(xxhash64(col(keyCol)))
    val agg = new BloomFilterAggregate(child,
      Literal(expectedItems), Literal(numBits))
    val bloomCol = ColumnBridge.column(agg.toAggregateExpression())
    val row = evalKeys.select(bloomCol.as("bf")).head()
    if (row.isNullAt(0)) Array.emptyByteArray // empty eval set → no filter
    else row.getAs[Array[Byte]](0)
  }

  /** Codegen'd membership probe: might_contain(bloom, xxhash64(key)).
    * False negatives are impossible; false positives are expected and
    * must be verified by the caller. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      ColumnBridge.expression(xxhash64(key))))

  /** Exact decontamination with the Bloom pre-filter: row-identical to
    * `corpus.join(eval, corpusKey === evalKey, "left_anti")`, with the
    * anti-join running only on bloom hits.
    *
    * The distinct key set feeds TWO duplicate-insensitive consumers —
    * the bloom build and the verify join's right side — and the bloom
    * build is already an eager job, so the key pipeline (eval scan +
    * fingerprint + distinct exchange) used to run twice: once for the
    * filter bytes and once, re-planned from source, under the anti
    * join. It is now pinned ONCE through [[graft.Materialize]] (one short
    * row per distinct key — the same narrow-cut-point criterion as q77's
    * score table): the bloom build computes and stores the rows, and the
    * anti join reads them. The returned frame holds the pin, so a lost
    * block is recomputed from the eval source; an empty eval set releases
    * it before returning the corpus. Recomputed from source on every
    * invocation — nothing is shared across calls. */
  def decontaminate(corpus: DataFrame, evalKeys: DataFrame,
                    corpusKey: Column, evalKeyCol: String,
                    expectedItems: Long = 1L << 20,
                    numBits: Long = 1L << 23): DataFrame = {
    val keys = graft.Materialize(evalKeys.select(col(evalKeyCol)).distinct())
    val bloom = bloomBytes(keys, evalKeyCol, expectedItems, numBits)
    // nothing to subtract
    if (bloom.isEmpty) { graft.Materialize.release(keys); return corpus }
    val hit = mightContain(bloom, corpusKey)
    val clean = corpus.filter(!hit)
    val verified = corpus.filter(hit)
      .join(keys.select(col(evalKeyCol).as("_decon_key")),
        corpusKey === col("_decon_key"), "left_anti")
    clean.unionByName(verified)
  }
}
