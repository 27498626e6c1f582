package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (the 100 TB story):
  *   - exact dedup = one hash-partitioned window (single shuffle on the
  *     fingerprint; no sort of the full rows — only (fingerprint, id) pairs
  *     need to co-locate).
  *   - MinHash: shingle explode → per-doc groupBy is map-side-combinable
  *     (min() partial agg), one shuffle by doc id.
  *   - LSH banding: candidate pairs come from an equi-join on
  *     (band, bucket) — a shuffle join on a high-cardinality key, never a
  *     cross join. Bucket width tunes the candidate volume.
  *   - the exact-verify stage runs only on LSH candidates (tiny fraction).
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical normalized content.
    * Returns the surviving rows. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fp = TextAnalysis.fastFingerprint(col(textCol))
    df.withColumn("_rn", row_number().over(
        Window.partitionBy(fp).orderBy(col(idCol))))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Word n-gram shingles, exploded: (id, shingle), distinct. */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val words = split(col(textCol), "\\s+")
    val grams =
      if (n == 1) words
      else transform(
        sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(n))))
    df.select(col(idCol), explode(grams).as("shingle"))
      .filter(length(col("shingle")) > 0)
      .distinct()
  }

  /** MinHash signatures: k independent hash functions simulated by salted
    * xxhash64 over shingles; signature = array of per-salt minima.
    * One explode + one map-side-combinable min aggregation. */
  def minHashSignatures(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", n: Int = 3, k: Int = 16): DataFrame = {
    val sh = shingles(df, textCol, idCol, n)
    val mins = (0 until k).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"h$i")): _*).as("signature"))
  }

  /** MinHash-LSH candidate pairs: signatures split into `bands` bands of
    * k/bands rows; docs sharing any band bucket are candidates. Output:
    * (idA, idB) with idA < idB, distinct. */
  def minHashLshPairs(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", n: Int = 3, k: Int = 16,
                      bands: Int = 4): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    val sig = minHashSignatures(df, textCol, idCol, n, k)
    val banded = sig.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("signature"), b * lit(r) + 1, lit(r))))).as(Seq("band", "bucket")))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard for given candidate pairs (the verify stage after
    * LSH): join shingle sets, |A∩B| / (|A|+|B|-|A∩B|). */
  def jaccardForPairs(df: DataFrame, pairs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", n: Int = 3): DataFrame = {
    // NOT pinned: the exploded shingle set is far larger than the corpus,
    // and a pin here has no release point (the result is lazy) — in a
    // long-lived session each call would pin another full shingle set in
    // executor storage. Recomputing the explode per consumer (3×) is a
    // codegen-only projection, no shuffle.
    val sh = shingles(df, textCol, idCol, n)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val shA = sh.select(col(idCol).as("id_a"), col("shingle"))
    val shB = sh.select(col(idCol).as("id_b"), col("shingle"))
    val interCount = pairs.join(shA, "id_a").join(shB, Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    interCount
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
  }

  /** End-to-end near-dup detection: LSH candidates → exact-Jaccard verify →
    * pairs above `threshold`. */
  def nearDuplicates(df: DataFrame, threshold: Double = 0.8, n: Int = 3,
                     k: Int = 16, bands: Int = 4,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val pairs = minHashLshPairs(df, textCol, idCol, n, k, bands)
    jaccardForPairs(df, pairs, textCol, idCol, n)
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash (32-bit): per-word hash bits vote weighted ±1; the signature
    * is the sign vector. Near-dups = signatures within `maxHamming`.
    * Entirely expression-level: explode words × bit positions. */
  def simHash(df: DataFrame, textCol: String = "text",
              idCol: String = "doc_id", bits: Int = 32): DataFrame = {
    val words = df.select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col(idCol), xxhash64(col("w")).as("h"))
    val votes = words
      .select(col(idCol), col("h"), explode(sequence(lit(0), lit(bits - 1))).as("bit"))
      .select(col(idCol), col("bit"),
        // SQL shiftleft accepts a column shift amount (the Scala DSL doesn't)
        expr("CASE WHEN (h & shiftleft(cast(1 AS BIGINT), bit)) != 0 THEN 1 ELSE -1 END").as("vote"))
    votes.groupBy(col(idCol), col("bit"))
      .agg(sum("vote").as("v"))
      .groupBy(col(idCol))
      .agg(sum(expr(
        "CASE WHEN v > 0 THEN shiftleft(cast(1 AS BIGINT), bit) ELSE cast(0 AS BIGINT) END"))
        .as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within maxHamming. Default blocking is
    * pigeonhole banding over the signature itself: split the `bits`-bit
    * signature into maxHamming+1 chunks — a pair with hamming ≤ m differs
    * in ≤ m chunks, so it must agree EXACTLY on at least one chunk. The
    * candidate join is then an equi-join on (chunk-index, chunk-value):
    * complete (never misses a qualifying pair) and never a cross join, so
    * the default path is safe at 100 TB. An explicit `blockCol` restricts
    * pairs to equal block values instead (changes semantics: only
    * within-block pairs are reported). */
  def simHashPairs(df: DataFrame, maxHamming: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id",
                   blockCol: Option[String] = None, bits: Int = 32): DataFrame = {
    val sig = simHash(df, textCol, idCol, bits)
    blockCol match {
      case Some(c) =>
        val withBlock = sig.join(df.select(col(idCol), col(c)), idCol)
        val a = withBlock.select(col(idCol).as("id_a"), col("simhash").as("sig_a"), col(c).as("blk"))
        val b = withBlock.select(col(idCol).as("id_b"), col("simhash").as("sig_b"), col(c).as("blk"))
        a.join(b, Seq("blk"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
          .filter(col("hamming") <= maxHamming)
          .select("id_a", "id_b", "hamming")
      case None =>
        val nb = maxHamming + 1
        require(nb <= bits, s"maxHamming=$maxHamming needs more than $bits signature bits")
        // BALANCED chunk widths (bits/nb, the first bits%nb chunks one
        // wider) — ceil-width chunks (`cs = ceil(bits/nb)`) leave trailing
        // chunks ZERO-width when cs*(nb-1) >= bits (e.g. bits=32,
        // maxHamming=16 → chunk 17 empty): every doc then shares key 0 in
        // that band and the equi-join degenerates to a full cross join.
        // Pigeonhole needs exactly nb non-empty chunks covering all bits.
        val base = bits / nb
        val rem = bits % nb
        val widths = (0 until nb).map(i => base + (if (i < rem) 1 else 0))
        val offsets = widths.scanLeft(0)(_ + _)
        // width can be 64 when nb == 1 (maxHamming = 0, bits = 64):
        // (1L << 64) wraps to 1 so the mask would be 0 and every signature
        // would share band key 0 — the cross join banding exists to avoid.
        def chunkMask(w: Int): Long = if (w == 64) -1L else (1L << w) - 1
        val banded = sig.select(col(idCol), col("simhash"),
          posexplode(array((0 until nb).map { i =>
            shiftright(col("simhash"), offsets(i))
              .bitwiseAND(lit(chunkMask(widths(i))))
          }: _*)).as(Seq("band", "key")))
        val a = banded.select(col("band"), col("key"),
          col(idCol).as("id_a"), col("simhash").as("sig_a"))
        val b = banded.select(col("band"), col("key"),
          col(idCol).as("id_b"), col("simhash").as("sig_b"))
        a.join(b, Seq("band", "key"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
          .filter(col("hamming") <= maxHamming)
          .select("id_a", "id_b", "hamming")
          .distinct()
    }
  }

  /** Near-dup CLUSTER resolution: candidate pairs → connected components,
    * labeling every member with the minimum doc id of its component (the
    * canonical survivor a dedup pipeline keeps). Min-label propagation:
    * each round every node takes the min of its own and its neighbors'
    * labels, iterated to fixpoint — the standard scalable CC loop (one
    * shuffle join + partial-aggregated min per round, nothing driver-side
    * but the converged? count). Rounds needed = component diameter, and
    * near-dup components are shallow (dup clusters are cliques or near-
    * cliques from banded candidate generation), so the loop is O(log n)
    * rounds in practice; `maxIter` is a safety bound, not a tuning knob.
    * The converged? check rides the SAME job as the label update — the old
    * label is carried through the round and compared after the update, so
    * each round is exactly one action over two bounded shuffles (neighbor
    * join + min combine). A pointer-compression variant (label ← label's
    * label, log-diameter rounds) was measured 3× SLOWER here: the extra
    * self-join doubles every round's DAG, and dup-cluster diameters are
    * too shallow to amortize it.
    *
    * Each round the labels are pinned through [[graft.Materialize]] — a
    * leaf plan over the stored rows, NOT a plain persist. Persist caches the
    * DATA but leaves the LOGICAL plan intact, and this loop's plan
    * references the previous round's labels twice (neighbor join +
    * carry-through join), so the tree DOUBLES per round: by round r the
    * analyzer/optimizer walks O(2^r) nodes and driver-side planning, not
    * the data, dominates wall clock (measured: the seeded-graph property
    * test spent minutes in planning by round ~12). The leaf keeps every
    * round's plan O(1) — the GraphX/GraphFrames iteration pattern — and,
    * unlike a local checkpoint, keeps RDD lineage, so a lost block is
    * recomputed instead of failing the loop (OperatorsSpec gates the
    * returned plan's size). Each superseded round is released once the
    * next one is stored, and the edge set when the loop ends. Only docs
    * appearing in some pair are labeled (singletons are their own cluster
    * by definition — callers left-anti or coalesce, or use
    * [[resolveClusters]]). Throws if `maxIter` rounds don't reach the
    * fixpoint (silently-partial labels would keep duplicates). The
    * returned (id, label) DataFrame holds the last round's pin; its
    * blocks free when the reference drops.
    *
    * Hybrid execution, size-gated like a broadcast join: when the DISTINCT
    * edge count is at most `driverMaxEdges` (default 2^20 ≈ 16 MB of id
    * pairs — the size class Spark happily broadcasts) and the ids are
    * integral, a single collect feeds a driver-side union-find with path
    * compression — O(m α(m)) with zero per-round job latency, which is
    * what dominates the distributed loop on small candidate graphs (the
    * common case: LSH candidate pairs are a tiny fraction of any corpus).
    * Above the threshold — or for non-integral id types — the distributed
    * min-label loop runs unchanged; semantics (min-id labels) and the
    * returned shape are identical on both paths, including types: integral
    * ids come back as long on BOTH paths (both are built from the same
    * casted distinct edge set), so the output contract never depends on
    * data size. The gate probe itself is bounded — one
    * `limit(driverMaxEdges + 1).collect()` over the distinct edges, so
    * deciding the path costs at most threshold+1 rows either way (a graph
    * 1000× over the threshold stops once threshold+1 distinct edges have
    * surfaced), and under the threshold the probe already holds every
    * edge (OperatorsSpec asserts the limit in the plan this runs). Pass
    * `driverMaxEdges = 0` to force the distributed loop. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20,
                          driverMaxEdges: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val spark = pairs.sparkSession
    val integralIds = Seq(idA, idB).forall(c => pairs.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    // null-keyed pairs are unlabelable noise: the driver path would read
    // a null as 0 (Row.getLong), silently merging components into id 0,
    // and the loop path would drop them at the join anyway — filter both
    val nn = pairs.filter(col(idA).isNotNull && col(idB).isNotNull)
    // one shared distinct edge base for BOTH paths when ids are integral,
    // cast to long up front: the probe's work is never thrown away (the
    // loop derives its symmetric edge set from it), and the output schema
    // is (long, long) regardless of which side of the gate the data lands
    // on — previously the loop path preserved int ids while the driver
    // path widened to long, so the contract depended on data size
    val directed =
      if (integralIds)
        nn.select(col(idA).cast("long").as("src"),
          col(idB).cast("long").as("dst")).distinct()
      else nn.select(col(idA).as("src"), col(idB).as("dst")).distinct()
    // gate + data in ONE action (r12): a limited collect both answers
    // "small enough for the driver?" and, when yes, already holds every
    // edge — the pair-generation pipeline above (LSH bands, shingle
    // hashing) used to execute twice, once for the count probe and once
    // for the collect. Over the cap the wasted work is one limited
    // collect, the same class as the old limited count.
    val probed: Array[org.apache.spark.sql.Row] =
      if (integralIds && driverMaxEdges > 0)
        directed.limit(math.min(driverMaxEdges + 1, Int.MaxValue.toLong).toInt).collect()
      else null
    if (probed != null && probed.length <= driverMaxEdges) {
      val es = probed.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = parent.keys.toArray.sorted.map(v => Row(v, find(v)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(labels.toIndexedSeq),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", LongType, nullable = false),
          org.apache.spark.sql.types.StructField("label", LongType, nullable = false))))
    }
    // symmetric closure of the already-distinct directed set; distinct()
    // again only collapses pairs present in both orientations
    val edges = graft.Materialize(directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = graft.Materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var i = 0
    try while (changed > 0 && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy("src").agg(min("label").as("nl"))
      // the convergence count is the round's one action: it computes and
      // stores the pinned round, which the next round reads
      val next = graft.Materialize(labels
        .join(neighborMin.select(col("src").as("id"), col("nl")), Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label")))
      changed = next.filter(col("label") =!= col("old")).count()
      graft.Materialize.release(labels)
      labels = next
      i += 1
    } finally graft.Materialize.release(edges)
    // hitting maxIter with changes pending means members of one component
    // would carry DIFFERENT labels — a dedup pipeline would silently keep
    // duplicates. Fail loudly; callers with genuinely deep graphs raise
    // maxIter (rounds = component diameter).
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter")
    labels.select("id", "label")
  }

  /** Full dedup cluster resolution: EVERY document gets a cluster id.
    * Members of a candidate-pair component share the component's minimum
    * doc id; singletons (no pair) are their own cluster. This is the
    * one-call canonical-survivor map a dedup pipeline composes with
    * `filter(col(idCol) === col("cluster_id"))` to keep survivors.
    * Plan: connectedComponents over the pairs (bounded loop, see above) +
    * ONE left join back to docs with coalesce — the join is on the doc id
    * both sides are already keyed by, and the CC label side is tiny
    * relative to the corpus (only docs appearing in some pair; it is
    * checkpoint-backed, so this plan is shallow and lazy — re-evaluating
    * it never replays the loop). */
  def resolveClusters(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id", idA: String = "id_a",
                      idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    val labels = connectedComponents(pairs, idA, idB, maxIter)
    docs.select(col(idCol))
      .join(labels.select(col("id").as(idCol), col("label")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("cluster_id"))
  }
}
