package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NearestCentroidInt

/** Distributed k-means topic clustering over an embedding column —
  * the corpus-mapping step of a training-data pipeline (cluster-balanced
  * mixing, domain discovery, SemDeDup-style per-cluster curation all
  * start from "assign every document to one of k centroids").
  *
  * Reference behavior: the lakehouse examples profile corpora with
  * per-label aggregate scans (see q25); this operator adds the unlabeled
  * equivalent — discover the groups, then profile them.
  *
  * EXACT-ARITHMETIC DESIGN. Lloyd's algorithm over floats is not
  * reproducible across engines (float sums are order-dependent), so this
  * implementation quantizes each vector ONCE to fixed-point
  * `array<bigint>` (`floor(x * scale)` — floor, not round: round
  * half-up/half-even differs across engines) and runs every subsequent
  * step in exact 64-bit integer arithmetic:
  *
  *   - assignment: exact squared-L2 argmin, ties → lowest cluster id
  *     ([[NearestCentroidInt]], one codegen'd loop, constant code size in k);
  *   - update: element-wise integer mean `sum div count` (truncation
  *     toward zero — Spark `DIV` ≡ DuckDB `//` ≡ Scala `/`);
  *   - seeding: the k lowest-id vectors (deterministic, no RNG);
  *   - empty cluster: carries its previous centroid.
  *
  * The result is bit-identical to a relational unrolled-iteration oracle
  * (see q105), which is what makes a clustering step AUDITABLE in a data
  * pipeline: re-running the corpus map on any engine yields the same map.
  *
  * 100 TB shape: each Lloyd iteration is ONE pass over the vectors —
  * a codegen'd per-row assignment against a broadcast `long[k][dim]`
  * literal (k·dim·8 bytes on every executor, no join), then a map-side-
  * combined partial aggregation whose shuffle payload is k·dim partial
  * sums PER TASK, not per row. Driver state is O(k·dim) longs. No
  * all-pairs stage, no unbounded collect. `kmeansTrain` pins the
  * quantized projection through [[graft.Materialize]] for the seed pass
  * and the round loop and releases it before returning — over a cold
  * 100 TB source that turns `1 + iters` source scans into ONE.
  */
object Clustering {

  /** `floor(x * scale)` per element, as exact fixed-point longs.
    *
    * NULL vectors: excluded from training (they contribute to no
    * centroid — the update explode emits nothing for them) and assigned
    * a NULL `cluster_id`/`dist_q` by [[assign]] — filter them upstream
    * if the corpus map must be total. */
  def quantize(vec: Column, scale: Int): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  final case class KMeansModel(
      centroids: Seq[Seq[Long]],
      /** per-iteration total inertia (sum of assigned squared distances),
        * monotone non-increasing — a convergence audit trail. */
      inertiaTrace: Seq[Long])

  /** Train: `iters` Lloyd rounds from the k lowest-id seeds.
    * `df` must have `idCol` (orderable, unique) and `vecCol`
    * (`array<float>` or `array<double>`). The quantized projection is
    * pinned across the seed pass + round loop (ONE source scan total; the
    * seed pass stores it) and released before returning. */
  def kmeansTrain(df: DataFrame, vecCol: String, idCol: String,
                  k: Int, iters: Int, scale: Int = 1024): KMeansModel =
    graft.Materialize.using(df.select(col(idCol).as("_id"),
        quantize(col(vecCol), scale).as("_qv"))) { q =>
    // Seeds: k lowest NON-NULL, NON-EMPTY ids — TakeOrderedAndProject,
    // k rows to the driver (null vectors train nothing, so they may not
    // seed; an empty vector would seed a zero-dim centroid, equally
    // useless — both excluded, matching the DuckDB oracle's seed CTE).
    var cents: IndexedSeq[Seq[Long]] = q
      .filter(col("_qv").isNotNull && size(col("_qv")) > 0)
      .orderBy(col("_id")).limit(k)
      .select("_qv").collect()
      .map(_.getSeq[Long](0).toIndexedSeq: Seq[Long]).toIndexedSeq
    require(cents.nonEmpty, s"kmeans: need ≥1 vector, got 0")

    val trace = Seq.newBuilder[Long]
    var it = 0
    while (it < iters) {
      val assigned = q.select(
        col("_id"),
        NearestCentroidInt(col("_qv"), cents).as("_a"),
        col("_qv"))
      // ONE job per round: the update agg also carries each group's
      // member-distance sum (identical for every dim index of a cluster —
      // read off index 0), so the inertia trace costs no extra pass.
      // Shuffle payload is k·dim partial (sum, count, dsum) rows per task
      // (map-side combine), k·dim final rows to the driver.
      val rows = assigned
        .select(col("_a.cluster_id").as("_c"), col("_a.dist_q").as("_d"),
          posexplode(col("_qv")).as(Seq("_i", "_v")))
        .groupBy(col("_c"), col("_i"))
        .agg(sum(col("_v")).as("_s"), count(lit(1)).as("_n"), sum(col("_d")).as("_dsum"))
        .collect()
      trace += rows.filter(_.getInt(1) == 0).map(_.getLong(4)).sum
      val upd = rows
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (!upd.contains((c, 0))) old // empty cluster: carry
        else old.indices.map { i =>
          val (s, n) = upd((c, i)); s / n // truncation toward zero ≡ DIV ≡ //
        }
      }
      it += 1
    }
    KMeansModel(cents, trace.result())
  }

  /** Assign every row to its nearest trained centroid. Output =
    * input columns + `cluster_id: int` + `dist_q: bigint` (exact
    * squared-L2 in the quantized space). */
  def assign(df: DataFrame, vecCol: String, model: KMeansModel,
             scale: Int = 1024): DataFrame = {
    val a = NearestCentroidInt(quantize(col(vecCol), scale), model.centroids)
    df.withColumn("_a", a)
      .withColumn("cluster_id", col("_a.cluster_id"))
      .withColumn("dist_q", col("_a.dist_q"))
      .drop("_a")
  }

  /** Train + assign in one call (the common shape). */
  def kmeans(df: DataFrame, vecCol: String, idCol: String,
             k: Int, iters: Int, scale: Int = 1024): DataFrame =
    assign(df, vecCol, kmeansTrain(df, vecCol, idCol, k, iters, scale), scale)
}
