package graft.queries

import graft.QuerySpec
import graft.QuerySpec._
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity-search operators over `embeddings` (north-star ANN
  * extensions).
  *
  * Float-exact oracle parity: per-element products are quantized with
  * `FLOOR(x*y*1e6)` into BIGINTs. float→double casts and double multiplies
  * are IEEE-exact and identical in Spark and DuckDB, FLOOR is exact, and
  * integer sums are order-independent — so both engines produce identical
  * integers regardless of aggregation order, and the derived cosine doubles
  * (int→double divide + sqrt, both correctly rounded) are bit-identical.
  *
  * Scale notes: the Spark side keeps vectors whole (zip_with/aggregate are
  * codegen'd higher-order functions) — scan → project(score) →
  * TakeOrderedAndProject for top-k (no shuffle of vectors, only k rows per
  * partition move); near-dup pairs join on the blocking key with per-pair
  * zip_with, not an exploded element-level join.
  */
object VectorOps {

  /** Quantized squared-norm / dot product via the native codegen'd
    * [[graft.functions.QuantizedDotProduct]] expression (registered as SQL
    * `quantized_dot` by Tables.registerAll). The previous composable form
    * `aggregate(zip_with(...))` ran its lambdas interpreted and was 42% of
    * the whole bench; the native expression is one fused codegen loop
    * emitting the identical FLOOR(x*y*1e6) BIGINTs. */
  private def normQ(col: String): String = s"quantized_dot($col, $col)"

  private def dotQ(a: String, b: String): String = s"quantized_dot($a, $b)"

  /** Exact brute-force cosine top-10 neighbors of the vec_id=0 query
    * vector. Spark plan: broadcast 1-row query → fused map → top-k. */
  val q23 = dialect("q23_knn_bruteforce",
    sparkSql = s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, dot_q,
      |  CAST(dot_q AS DOUBLE) / SQRT(CAST(na_q AS DOUBLE) * CAST(nb_q AS DOUBLE)) AS cos_q
      |FROM (
      |  SELECT e.vec_id,
      |    ${dotQ("e.embedding", "q.qv")} AS dot_q,
      |    ${normQ("e.embedding")} AS na_q,
      |    ${normQ("q.qv")} AS nb_q
      |  FROM embeddings e CROSS JOIN q) s
      |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin,
    duckSql = """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |x AS (SELECT e.vec_id, unnest(e.embedding) AS v, generate_subscripts(e.embedding, 1) AS i
      |      FROM embeddings e),
      |s AS (SELECT x.vec_id,
      |   CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(q.qv[x.i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS dot_q,
      |   CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS na_q
      | FROM x, q GROUP BY x.vec_id),
      |nq AS (SELECT CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS nb_q
      |       FROM (SELECT unnest(qv) AS v FROM q) u)
      |SELECT s.vec_id, s.dot_q,
      |  CAST(s.dot_q AS DOUBLE) / SQRT(CAST(s.na_q AS DOUBLE) * CAST(nq.nb_q AS DOUBLE)) AS cos_q
      |FROM s, nq
      |ORDER BY cos_q DESC, s.vec_id LIMIT 10""".stripMargin)

  /** Batch kNN JOIN: exact top-5 neighbors for EVERY query in a query
    * set (every 251st vector), the retrieval/dedup building block —
    * one broadcast of the small query batch, one fused scoring pass
    * over the corpus, top-k per query via the row_number window (Spark
    * pushes WindowGroupLimit: only k rows per query leave each task).
    * Self-matches are excluded. */
  val q44 = dialect("q44_knn_join",
    sparkSql = s"""WITH q AS (
      |  SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 251 = 0)
      |SELECT q_id, vec_id, dot_q FROM (
      |  SELECT q_id, vec_id, dot_q,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_q DESC, vec_id) AS rn
      |  FROM (
      |    SELECT q.q_id, e.vec_id,
      |      ${dotQ("e.embedding", "q.qv")} AS dot_q,
      |      CAST(${dotQ("e.embedding", "q.qv")} AS DOUBLE)
      |        / SQRT(CAST(${normQ("e.embedding")} AS DOUBLE) * CAST(${normQ("q.qv")} AS DOUBLE)) AS cos_q
      |    FROM embeddings e CROSS JOIN q
      |    WHERE e.vec_id != q.q_id) s) t
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    duckSql = """WITH qids AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 251 = 0),
      |x AS (SELECT e.vec_id, unnest(e.embedding) AS v, generate_subscripts(e.embedding, 1) AS i
      |      FROM embeddings e),
      |s AS (SELECT q.q_id, x.vec_id,
      |   CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(q.qv[x.i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS dot_q,
      |   CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS na_q
      | FROM x JOIN qids q ON x.vec_id != q.q_id
      | GROUP BY q.q_id, x.vec_id),
      |nq AS (SELECT q_id, CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS nb_q
      |       FROM (SELECT q_id, unnest(qv) AS v FROM qids) u GROUP BY q_id)
      |SELECT q_id, vec_id, dot_q FROM (
      |  SELECT s.q_id, s.vec_id, s.dot_q,
      |    ROW_NUMBER() OVER (PARTITION BY s.q_id
      |      ORDER BY CAST(s.dot_q AS DOUBLE) / SQRT(CAST(s.na_q AS DOUBLE) * CAST(nq.nb_q AS DOUBLE)) DESC, s.vec_id) AS rn
      |  FROM s JOIN nq ON s.q_id = nq.q_id) t
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)

  /** Tile count for q24's within-label pairing. Each label block is cut
    * into T tiles, and the self-join runs per unordered tile pair, so the
    * shuffle key is (label, u, v): L·T(T+1)/2 keys instead of L, and a
    * task holds O(block/T) rows instead of a whole label block. At 100 TB
    * T scales with the largest block (T ≈ block_rows / rows_per_task);
    * the tiling is exact for any T ≥ 1. */
  private val PairTiles = 8

  /** Embedding near-duplicate pairs (cosine ≥ 0.35) blocked by label.
    *
    * Exact triangle tiling (no one-task-per-label straggler): every row
    * gets a deterministic tile g = pmod(hash(vec_id), T); the a-side is
    * replicated to tile-pair tasks (g, v) for v ≥ g and the b-side to
    * (u, g) for u ≤ g, then pairs form under the equi-key (label, u, v).
    * A pair with tiles (t_x ≤ t_y) meets in exactly one task: x as a-side
    * (its g = u), y as b-side (its g = v). Same-tile tasks (u = v) see
    * both roles for every row, so they keep only a.vec_id < b.vec_id;
    * distinct-tile tasks keep every cross pair once and orient the output
    * with least/greatest (cosine is symmetric, so the value is identical
    * to the untiled a<b form and the oracle hash is unchanged). */
  val q24 = dialect("q24_embedding_neardup",
    sparkSql = s"""WITH n AS (
      |  SELECT vec_id, label, embedding, ${normQ("embedding")} AS nq,
      |    PMOD(HASH(vec_id), $PairTiles) AS g
      |  FROM embeddings),
      |ta AS (SELECT vec_id, label, embedding, nq, g AS u, v
      |       FROM n LATERAL VIEW EXPLODE(SEQUENCE(g, ${PairTiles - 1})) e AS v),
      |tb AS (SELECT vec_id, label, embedding, nq, u, g AS v
      |       FROM n LATERAL VIEW EXPLODE(SEQUENCE(0, g)) e AS u)
      |SELECT id_a, id_b, cos FROM (
      |  SELECT LEAST(a.vec_id, b.vec_id) AS id_a,
      |    GREATEST(a.vec_id, b.vec_id) AS id_b,
      |    CAST(${dotQ("a.embedding", "b.embedding")} AS DOUBLE)
      |      / SQRT(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
      |  FROM ta a JOIN tb b
      |    ON a.label = b.label AND a.u = b.u AND a.v = b.v
      |  WHERE a.u < a.v OR a.vec_id < b.vec_id) p
      |WHERE cos >= 0.35
      |ORDER BY id_a, id_b""".stripMargin,
    duckSql = """WITH x AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
      |            generate_subscripts(e.embedding, 1) AS i FROM embeddings e),
      |n AS (SELECT vec_id, CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS nq
      |      FROM x GROUP BY vec_id),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |   CAST(SUM(CAST(FLOOR(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS dq
      | FROM x a JOIN x b ON a.label = b.label AND a.vec_id < b.vec_id AND a.i = b.i
      | GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  CAST(dq AS DOUBLE) / SQRT(CAST(na.nq AS DOUBLE) * CAST(nb.nq AS DOUBLE)) AS cos
      |FROM p JOIN n na ON id_a = na.vec_id JOIN n nb ON id_b = nb.vec_id
      |WHERE CAST(dq AS DOUBLE) / SQRT(CAST(na.nq AS DOUBLE) * CAST(nb.nq AS DOUBLE)) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin)

  /** Per-label centroid-free stats: count + quantized mean norm — the
    * "profile the embedding table" scan (single pass, map-side combine). */
  val q25 = dialect("q25_embedding_stats",
    sparkSql = s"""SELECT label, COUNT(*) AS n,
      |  CAST(SUM(nq) AS BIGINT) AS sum_norm_q,
      |  CAST(MIN(nq) AS BIGINT) AS min_norm_q,
      |  CAST(MAX(nq) AS BIGINT) AS max_norm_q
      |FROM (SELECT label, ${normQ("embedding")} AS nq FROM embeddings) t
      |GROUP BY label ORDER BY label""".stripMargin,
    duckSql = """WITH x AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v FROM embeddings e),
      |n AS (SELECT vec_id, MIN(label) AS label,
      |        CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS nq
      |      FROM x GROUP BY vec_id)
      |SELECT label, COUNT(*) AS n,
      |  CAST(SUM(nq) AS BIGINT) AS sum_norm_q,
      |  CAST(MIN(nq) AS BIGINT) AS min_norm_q,
      |  CAST(MAX(nq) AS BIGINT) AS max_norm_q
      |FROM n GROUP BY label ORDER BY label""".stripMargin)

  /** SRP-LSH approximate top-k (no SQL oracle — approximate by
    * construction; driver records a rows-only check). Query vector =
    * vec_id 0's embedding, fetched then parameterized. */
  val q26 = planOnly("q26_ann_lsh", (s, dir) => {
    val emb = graft.Tables.load(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0)
    // params chosen by measured recall@10 vs exact kNN on the testdata
    // (OperatorsSpec gates ≥0.8): the synthetic embeddings are near-random,
    // so few planes + many independent tables is the operating point
    Similarity.annTopK(emb, qv, k = 10, planes = 3, tables = 12)
  })

  /** IVF index build is a once-per-table offline step (like building any
    * secondary index); memoize the centroid matrix per (session, dir) so
    * repeated queries measure the probe, not an index rebuild. Keyed by
    * the live session object (r18, [[graft.SessionCache]]) — the old
    * identityHashCode key could serve a stale index after a session was
    * GC'd and its hash reused. */
  private val ivfCentroids = new graft.SessionCache[Seq[Seq[Float]]]()

  /** Build (or reuse) the IVF index for `dir` — the NAMED offline step,
    * the parquet-dir twin of `CALL lake.system.build_ivf_index`. Bench
    * invokes this before the timing loop (and reports its cost under
    * "setup"), so q27's first timed run measures the probe, not a hidden
    * index build. */
  /** q27 operating point, set by measured recall@10 vs exact kNN at BOTH
    * sf0.001 and sf0.1 (0.92 / 0.88; OperatorsSpec gates ≥ 0.8): the
    * near-random synthetic embeddings need half the lists probed, and
    * finer partitioning (nlist 32 over 16) buys recall at the same scan
    * fraction. */
  private val IvfNlist = 32
  private val IvfNprobe = 16

  def ensureIvfIndex(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Seq[Float]] =
    ivfCentroids.getOrElseUpdate(s, dir)(
      Similarity.ivfAssign(graft.Tables.load(s, dir, "embeddings"), nlist = IvfNlist)._2)

  /** IVF-style partitioned ANN probe (approximate; rows-only check). */
  val q27 = planOnly("q27_ann_ivf", (s, dir) => {
    val emb = graft.Tables.load(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0)
    val centroids = ensureIvfIndex(s, dir)
    val assigned = Similarity.ivfAssignWith(emb, centroids)
    Similarity.ivfTopK(assigned, centroids, qv, k = 10, nprobe = IvfNprobe)
  })

  /** Measured ANN quality at the registered q26/q27 parameters: average
    * recall@10 vs exact kNN over 5 fixed query vectors. Bench records
    * this next to the q26/q27 timings so the approximation quality is a
    * reported number, not a one-time test artifact. */
  def annRecall(s: org.apache.spark.sql.SparkSession, dir: String): Map[String, Double] =
    graft.Materialize.using(graft.Tables.load(s, dir, "embeddings")) { emb =>
      val queryIds = Seq(0L, 7L, 42L, 99L, 123L)
      def vecOf(qid: Long): Seq[Float] =
        emb.filter(col("vec_id") === qid).select("embedding").head.getSeq[Float](0)
      val exact = queryIds.map(q =>
        q -> Similarity.topK(emb, vecOf(q), 10).collect().map(_.getLong(0)).toSet).toMap
      def avg(approx: Long => Set[Long]): Double =
        queryIds.map(q => approx(q).intersect(exact(q)).size / 10.0).sum / queryIds.size
      val lsh = avg(q => Similarity.annTopK(emb, vecOf(q), k = 10,
        planes = 3, tables = 12).collect().map(_.getLong(0)).toSet)
      val centroids = ensureIvfIndex(s, dir)
      val ivf = graft.Materialize.using(Similarity.ivfAssignWith(emb, centroids)) { assigned =>
        avg(q => Similarity.ivfTopK(assigned, centroids, vecOf(q),
          k = 10, nprobe = IvfNprobe).collect().map(_.getLong(0)).toSet)
      }
      Map("q26_ann_lsh" -> lsh, "q27_ann_ivf" -> ivf)
    }

  /** SemDeDup ([[graft.operators.SemDedup]]): k-means-clustered semantic
    * dedup over the embedding table — within-cluster cosine pairs (q24's
    * exact triangle tiling, bounded by cluster blocks) → connected
    * components → every vector labeled with its component min. Reuses the
    * memoized IVF index as the clustering (the build is the named offline
    * step Bench reports under "setup"), so timed runs measure pairing +
    * CC, not Lloyd iterations. Rows-only check: one output row per vector
    * by construction; pairing/resolution exactness is gated in
    * SemDedupSpec (brute-force parity + local union-find oracle), and
    * k-means float wobble across runs can legitimately flip borderline
    * assignments, which an exact-hash oracle would misread as failure. */
  val q68 = planOnly("q68_semdedup", (s, dir) => {
    val emb = graft.Tables.load(s, dir, "embeddings")
    val assigned = Similarity.ivfAssignWith(emb, ensureIvfIndex(s, dir))
    graft.operators.SemDedup.semDedupAssigned(emb, assigned, threshold = 0.35)
      .orderBy("vec_id")
  })

  /** Hybrid retrieval with reciprocal-rank fusion (the RAG-corpus probe a
    * training-data pipeline runs to audit retrieval quality): q66's
    * fixed-point BM25 term ranking and an exact cosine ranking of per-query
    * vectors are each cut to top-20, then fused per (query, doc) with
    * RRF_k=60 — score = Σ 10^9 DIV (60 + rank) — and re-ranked to a top-10.
    * Every arithmetic step after the (bit-exact, see file header) cosine
    * doubles is INTEGER: ranks are row_numbers with doc_id tie-breaks and
    * the fused score is a sum of truncating integer divisions, so both
    * engines produce identical BIGINTs and the fusion has no float to
    * diverge on. Text query sets are q66's inline VALUES; vector queries
    * are corpus vectors 17/34/51 (doc_id ≡ vec_id in the testdata).
    *
    * Scale shape: the BM25 side is q66's inverted-index shape (postings
    * shuffle once on term; per-query work ∝ postings of its terms); the
    * vector side is q44's (query batch broadcasts, one fused codegen
    * scoring pass, WindowGroupLimit keeps k rows per task); the fusion
    * FULL OUTER JOIN touches ≤ 20 rows per query per side — driver-free
    * and constant-size however big the corpus is. */
  val q74 = dialect("q74_hybrid_rrf",
    // BM25 side restructured like q66 (r17): tf explodes once and filters
    // to the query terms BEFORE aggregating; df is a count window over
    // that tiny aggregate; doc lengths and corpus totals come from
    // size(split(...)) projections with no explode. Results bit-identical
    // (see q66's CTE comments); DuckDB oracle unchanged.
    sparkSql = s"""WITH tf AS (
      |  SELECT doc_id, w, COUNT(*) AS tf FROM (
      |    SELECT doc_id, explode(split(lower(text), '\\\\s+')) AS w FROM documents) e
      |  WHERE w IN (${TextOps.BmTermsIn})
      |  GROUP BY doc_id, w),
      |tfd AS (SELECT doc_id, w, tf,
      |               COUNT(*) OVER (PARTITION BY w) AS df FROM tf),
      |lens AS (SELECT doc_id,
      |                CAST(size(split(lower(text), '\\\\s+')) AS BIGINT) AS len_d
      |         FROM documents),
      |tot AS (SELECT CAST(COUNT(text) AS BIGINT) AS n_docs,
      |               CAST(SUM(size(split(lower(text), '\\\\s+'))) AS BIGINT) AS total_len
      |        FROM documents),
      |q AS (SELECT qid, w FROM VALUES ${TextOps.BmValuesRows} AS t(qid, w)),
      |hit AS (
      |  SELECT q.qid, tfd.doc_id,
      |    (((n_docs - tfd.df) * 1000000) DIV (tfd.df + 1)) AS idf_fp,
      |    ((11 * tfd.tf * 1000000 * 1000000) DIV
      |      ((5 * 1000000 * tfd.tf) +
      |       6 * (250000 + ((3 * 1000000 * lens.len_d * n_docs) DIV (4 * total_len))))) AS tf_fp
      |  FROM q JOIN tfd ON q.w = tfd.w
      |    JOIN lens ON tfd.doc_id = lens.doc_id CROSS JOIN tot),
      |sc AS (SELECT qid, doc_id, SUM((idf_fp * tf_fp) DIV 1000000) AS score
      |       FROM hit GROUP BY qid, doc_id),
      |tb AS (SELECT qid, doc_id, rb FROM (
      |  SELECT qid, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rb
      |  FROM sc) x WHERE rb <= 20),
      |qv AS (SELECT CAST(vec_id DIV 17 AS INT) AS qid, embedding AS qe
      |       FROM embeddings WHERE vec_id IN (17, 34, 51)),
      |vs AS (SELECT qv.qid, e.vec_id AS doc_id,
      |    ${dotQ("e.embedding", "qv.qe")} AS dot_q,
      |    ${normQ("e.embedding")} AS na_q,
      |    ${normQ("qv.qe")} AS nb_q
      |  FROM embeddings e CROSS JOIN qv),
      |vb AS (SELECT qid, doc_id, rv FROM (
      |  SELECT qid, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
      |      CAST(dot_q AS DOUBLE) / SQRT(CAST(na_q AS DOUBLE) * CAST(nb_q AS DOUBLE)) DESC,
      |      doc_id) AS rv
      |  FROM vs) x WHERE rv <= 20),
      |fused AS (
      |  SELECT COALESCE(tb.qid, vb.qid) AS qid,
      |    COALESCE(tb.doc_id, vb.doc_id) AS doc_id,
      |    (CASE WHEN tb.rb IS NULL THEN 0 ELSE 1000000000 DIV (60 + tb.rb) END
      |     + CASE WHEN vb.rv IS NULL THEN 0 ELSE 1000000000 DIV (60 + vb.rv) END) AS score_fp,
      |    COALESCE(tb.rb, 0) AS rb, COALESCE(vb.rv, 0) AS rv
      |  FROM tb FULL OUTER JOIN vb ON tb.qid = vb.qid AND tb.doc_id = vb.doc_id),
      |r AS (SELECT qid, doc_id, score_fp, rb, rv,
      |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rk
      |  FROM fused)
      |SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(score_fp AS BIGINT) AS score_fp, CAST(rb AS BIGINT) AS rb,
      |  CAST(rv AS BIGINT) AS rv, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,
    duckSql = """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents),
      |lens AS (SELECT doc_id, COUNT(*) AS len_d FROM tok GROUP BY doc_id),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |               CAST(SUM(len_d) AS BIGINT) AS total_len FROM lens),
      |q AS (SELECT qid, w FROM (VALUES
      |  (1,'vector'), (1,'scan'), (2,'spark'), (2,'merge'), (2,'stream'),
      |  (3,'window'), (3,'filter')) t(qid, w)),
      |hit AS (
      |  SELECT q.qid, tf.doc_id,
      |    (((n_docs - df.df) * 1000000) // (df.df + 1)) AS idf_fp,
      |    ((11 * tf.tf * 1000000 * 1000000) //
      |      ((5 * 1000000 * tf.tf) +
      |       6 * (250000 + ((3 * 1000000 * lens.len_d * n_docs) // (4 * total_len))))) AS tf_fp
      |  FROM q JOIN tf ON q.w = tf.w JOIN df ON q.w = df.w
      |    JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN tot),
      |sc AS (SELECT qid, doc_id, SUM((idf_fp * tf_fp) // 1000000) AS score
      |       FROM hit GROUP BY qid, doc_id),
      |tb AS (SELECT qid, doc_id, rb FROM (
      |  SELECT qid, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rb
      |  FROM sc) x WHERE rb <= 20),
      |qv AS (SELECT CAST(vec_id // 17 AS INT) AS qid, embedding AS qe
      |       FROM embeddings WHERE vec_id IN (17, 34, 51)),
      |x AS (SELECT e.vec_id, unnest(e.embedding) AS v,
      |        generate_subscripts(e.embedding, 1) AS i FROM embeddings e),
      |vdot AS (SELECT q.qid, x.vec_id AS doc_id,
      |    CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(q.qe[x.i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS dot_q,
      |    CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS na_q
      |  FROM x CROSS JOIN qv q GROUP BY q.qid, x.vec_id),
      |nq AS (SELECT qid,
      |    CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS nb_q
      |  FROM (SELECT qid, unnest(qe) AS v FROM qv) u GROUP BY qid),
      |vb AS (SELECT qid, doc_id, rv FROM (
      |  SELECT d.qid, d.doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
      |      CAST(d.dot_q AS DOUBLE) / SQRT(CAST(d.na_q AS DOUBLE) * CAST(nq.nb_q AS DOUBLE)) DESC,
      |      d.doc_id) AS rv
      |  FROM vdot d JOIN nq ON d.qid = nq.qid) x WHERE rv <= 20),
      |fused AS (
      |  SELECT COALESCE(tb.qid, vb.qid) AS qid,
      |    COALESCE(tb.doc_id, vb.doc_id) AS doc_id,
      |    (CASE WHEN tb.rb IS NULL THEN 0 ELSE 1000000000 // (60 + tb.rb) END
      |     + CASE WHEN vb.rv IS NULL THEN 0 ELSE 1000000000 // (60 + vb.rv) END) AS score_fp,
      |    COALESCE(tb.rb, 0) AS rb, COALESCE(vb.rv, 0) AS rv
      |  FROM tb FULL OUTER JOIN vb ON tb.qid = vb.qid AND tb.doc_id = vb.doc_id),
      |r AS (SELECT qid, doc_id, score_fp, rb, rv,
      |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rk
      |  FROM fused)
      |SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(score_fp AS BIGINT) AS score_fp, CAST(rb AS BIGINT) AS rb,
      |  CAST(rv AS BIGINT) AS rv, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin)

  /** Filtered vector search (r9): exact top-10 cosine neighbors of the
    * vec_id=0 query among vectors satisfying a metadata predicate
    * (`label % 7 = 3`) — the retrieval shape every RAG / curation stack
    * needs ("nearest docs WITH lang='en' AND date > …").
    *
    * Spark plan: the predicate is evaluated BEFORE scoring, so it pushes
    * to the parquet scan (PushedFilters on a stored column; here the
    * modulo keeps it a post-scan codegen filter, still ahead of the dot
    * products) → fused quantized-dot scoring over survivors only →
    * TakeOrderedAndProject. Pre-filter-then-score is the 100 TB shape:
    * scoring cost ∝ selectivity, and with a partition/bucket layout on
    * the filter column the scan itself prunes. The approximate
    * counterpart (pre-filtered IVF probe: `ivfTopK(assigned.filter(p))`)
    * is recall-gated in OperatorsSpec — same composition, index-pruned. */
  val q79 = dialect("q79_filtered_knn",
    sparkSql = s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, label, dot_q,
      |  CAST(dot_q AS DOUBLE) / SQRT(CAST(na_q AS DOUBLE) * CAST(nb_q AS DOUBLE)) AS cos_q
      |FROM (
      |  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
      |    ${dotQ("e.embedding", "q.qv")} AS dot_q,
      |    ${normQ("e.embedding")} AS na_q,
      |    ${normQ("q.qv")} AS nb_q
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.label % 7 = 3 AND e.vec_id != 0) s
      |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin,
    duckSql = """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |f AS (SELECT vec_id, label, embedding FROM embeddings
      |      WHERE label % 7 = 3 AND vec_id != 0),
      |x AS (SELECT f.vec_id, f.label, unnest(f.embedding) AS v,
      |             generate_subscripts(f.embedding, 1) AS i FROM f),
      |s AS (SELECT x.vec_id, x.label,
      |   CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(q.qv[x.i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS dot_q,
      |   CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS na_q
      | FROM x, q GROUP BY x.vec_id, x.label),
      |nq AS (SELECT CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS nb_q
      |       FROM (SELECT unnest(qv) AS v FROM q) u)
      |SELECT s.vec_id, CAST(s.label AS BIGINT) AS label, s.dot_q,
      |  CAST(s.dot_q AS DOUBLE) / SQRT(CAST(s.na_q AS DOUBLE) * CAST(nq.nb_q AS DOUBLE)) AS cos_q
      |FROM s, nq
      |ORDER BY cos_q DESC, s.vec_id LIMIT 10""".stripMargin)

  /** Memoized per (session, sfDir): a lake-backed [[graft.operators.
    * VectorIndex]] whose content was produced INCREMENTALLY — the index
    * is created over half the corpus, the other half is appended to the
    * base afterwards, and one `refresh()` catches the index up through
    * the changelog. q90 then answers from the index alone. */
  private val vindexes = new graft.SessionCache[graft.operators.VectorIndex]()

  private def ensureIndex(s: org.apache.spark.sql.SparkSession,
                          dir: String): graft.operators.VectorIndex = {
    vindexes.getOrElseUpdate(s, dir)({
      graft.Tables.registerAll(s, dir)
      val wh = java.nio.file.Files.createTempDirectory("graft-vindex").toString
      val cat = new graft.lake.LakeCatalog(s, wh)
      val emb = graft.Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val base = cat.createTable("vx.base", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.IntegerType))))
      base.append(emb.filter(pmod(col("vec_id"), lit(2)) === 0))
      // label is a COVERED column: q93 filters on it from the index alone
      val idx = graft.operators.VectorIndex.create(cat, "vx.vidx", base,
        nlist = 8, iters = 2, includeCols = Seq("label"))
      base.append(emb.filter(pmod(col("vec_id"), lit(2)) === 1))
      idx.refresh()
      idx
    })
  }

  /** Persistent-IVF index answer path (r13): the top-k is computed FROM
    * THE INDEX STATE TABLE — the base is never scanned at query time —
    * after the index was maintained incrementally (created on half the
    * corpus, refreshed over the appended other half). A full probe
    * (nprobe = nlist) makes IVF exact, so the DuckDB brute-force oracle
    * over the ORIGINAL parquet hash-gates create + changelog refresh +
    * the probe read: one missing, stale, or duplicated vector in the
    * index breaks the match. Partition-pruned nprobe<nlist probes (the
    * scale path) are gated by VectorIndexSpec + the SCALEPROBE run. */
  val q90 = plan("q90_vector_index",
    fn = (s, dir) => {
      val idx = ensureIndex(s, dir)
      val all = idx.centroids.indices.map(Int.box)
      val q = graft.Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      idx.state.read(filter = Some(col("list_id").isin(all: _*)))
        .crossJoin(broadcast(q))
        .selectExpr("vec_id", "quantized_dot(embedding, qv) AS dot_q",
          "quantized_dot(embedding, embedding) AS na_q",
          "quantized_dot(qv, qv) AS nb_q")
        .select(col("vec_id"), col("dot_q"),
          (col("dot_q").cast("double") /
            sqrt(col("na_q").cast("double") * col("nb_q").cast("double")))
            .as("cos_q"))
        .orderBy(col("cos_q").desc, col("vec_id")).limit(10)
    },
    duckSql = """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |x AS (SELECT e.vec_id, unnest(e.embedding) AS v, generate_subscripts(e.embedding, 1) AS i
      |      FROM embeddings e),
      |s AS (SELECT x.vec_id,
      |   CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(q.qv[x.i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS dot_q,
      |   CAST(SUM(CAST(FLOOR(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS na_q
      | FROM x, q GROUP BY x.vec_id),
      |nq AS (SELECT CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS nb_q
      |       FROM (SELECT unnest(qv) AS v FROM q) u)
      |SELECT s.vec_id, s.dot_q,
      |  CAST(s.dot_q AS DOUBLE) / SQRT(CAST(s.na_q AS DOUBLE) * CAST(nq.nb_q AS DOUBLE)) AS cos_q
      |FROM s, nq
      |ORDER BY cos_q DESC, s.vec_id LIMIT 10""".stripMargin)

  /** Filtered vector search served FROM THE COVERED INDEX (r14): q79's
    * retrieval shape — top-10 cosine under `label % 7 = 3` — but the
    * label predicate evaluates on the index's COVERED attribute column
    * ([[graft.operators.VectorIndex.create]] `includeCols`) BEFORE
    * scoring, and the base table is never in the plan. Full probe makes
    * IVF exact, so q79's brute-force DuckDB oracle over the ORIGINAL
    * parquet hash-gates covered-column maintenance end-to-end: the index
    * was created on half the corpus and refreshed over the rest, so one
    * stale or missing label breaks the match. The pruned-probe
    * selectivity-scaled path (`VectorIndex.search(filter=...)`) is
    * recall-gated in VectorIndexSpec; PlanSpec gates filter-below-scoring
    * here. */
  val q93 = plan("q93_vindex_filtered",
    fn = (s, dir) => {
      val idx = ensureIndex(s, dir)
      val all = idx.centroids.indices.map(Int.box)
      val q = graft.Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      idx.state.read(filter = Some(col("list_id").isin(all: _*)))
        .filter(expr("label % 7 = 3") && col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .selectExpr("vec_id", "CAST(label AS BIGINT) AS label",
          "quantized_dot(embedding, qv) AS dot_q",
          "quantized_dot(embedding, embedding) AS na_q",
          "quantized_dot(qv, qv) AS nb_q")
        .select(col("vec_id"), col("label"), col("dot_q"),
          (col("dot_q").cast("double") /
            sqrt(col("na_q").cast("double") * col("nb_q").cast("double")))
            .as("cos_q"))
        .orderBy(col("cos_q").desc, col("vec_id")).limit(10)
    },
    duckSql = q79.oracle.get)

  /** Hybrid RRF served FROM THE PERSISTENT INDEXES (r13 follow-on to
    * q74/q90/q91): the BM25 top-20 comes off the incrementally-maintained
    * [[graft.operators.TextIndex]] (postings pruned to the 7 query
    * terms' buckets, corpus constants off the docs-table summary) and
    * the cosine top-20 off the [[graft.operators.VectorIndex]] state
    * table at full probe (exact); the fusion is q74's integer RRF_k=60.
    * The oracle is q74's from-scratch DuckDB hybrid over the ORIGINAL
    * parquet, so the hash gates BOTH index maintenance pipelines and the
    * fusion in one statement: any stale posting, missed vector, or wrong
    * corpus constant shifts a rank and breaks the BIGINT fusion scores.
    * Scale shape: each side is its index's pruned-probe shape; the
    * FULL OUTER fusion touches ≤20 rows/query/side — constant-size at
    * any corpus. */
  val q92 = plan("q92_hybrid_index",
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tidx = TextOps.ensureTextIndex(s, dir)
      val vidx = ensureIndex(s, dir)
      val tb = tidx.search(Seq(
          1 -> "vector", 1 -> "scan", 2 -> "spark", 2 -> "merge",
          2 -> "stream", 3 -> "window", 3 -> "filter"), k = 20)
        .select(col("qid"), col("doc_id"), col("rk").as("rb"))
      val qv = graft.Tables.load(s, dir, "embeddings")
        .filter(col("vec_id").isin(17L, 34L, 51L))
        .selectExpr("CAST(vec_id DIV 17 AS INT) AS qid", "embedding AS qe")
      val all = vidx.centroids.indices.map(Int.box)
      val vb = vidx.state.read(filter = Some(col("list_id").isin(all: _*)))
        .crossJoin(broadcast(qv))
        .selectExpr("qid", "vec_id AS doc_id",
          "quantized_dot(embedding, qe) AS dot_q",
          "quantized_dot(embedding, embedding) AS na_q",
          "quantized_dot(qe, qe) AS nb_q")
        .withColumn("rv", row_number().over(Window.partitionBy(col("qid"))
          .orderBy((col("dot_q").cast("double") /
            sqrt(col("na_q").cast("double") * col("nb_q").cast("double"))).desc,
            col("doc_id"))))
        .filter(col("rv") <= 20)
        .select(col("qid").cast("long").as("qid"), col("doc_id"),
          col("rv").cast("long").as("rv"))
      tb.join(vb, Seq("qid", "doc_id"), "full_outer")
        .na.fill(0L, Seq("rb", "rv"))
        .withColumn("score_fp",
          expr("CASE WHEN rb = 0 THEN 0 ELSE 1000000000 DIV (60 + rb) END + " +
            "CASE WHEN rv = 0 THEN 0 ELSE 1000000000 DIV (60 + rv) END"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score_fp").desc, col("doc_id"))))
        .filter(col("rk") <= 10)
        .select(col("qid").cast("long").as("qid"),
          col("doc_id").cast("long").as("doc_id"),
          col("score_fp").cast("long").as("score_fp"),
          col("rb").cast("long").as("rb"), col("rv").cast("long").as("rv"),
          col("rk").cast("long").as("rk"))
        .orderBy("qid", "rk")
    },
    duckSql = q74.oracle.get)

  /** The DuckDB twin of [[graft.operators.Clustering]]'s Lloyd loop:
    * iterations unrolled into CTEs over the LONG-FORMAT vectors
    * (1-based `generate_subscripts` — only internal consistency matters),
    * assignment = relational argmin with the same (distance, cid)
    * tie-break, update = `SUM // COUNT` (truncation ≡ Spark DIV), empty
    * clusters carried by the LEFT JOIN + COALESCE.
    *
    * Null-handling parity (r17, per ADVICE): seeds exclude NULL/empty
    * embeddings on BOTH sides (kmeansTrain seeds only non-null non-empty
    * `_qv`; the seeds CTE filters `embedding IS NOT NULL AND
    * len(embedding) > 0`), and NULL array ELEMENTS coalesce to 0 in the
    * `x` CTE — matching [[graft.functions.NearestCentroidInt]]'s
    * zero-fill contract in the distance terms, the update's
    * `SUM`-skips-NULL ≡ `SUM`-adds-0 identity, and the JVM's
    * unbox(null)=0 in seed collection. Known residual asymmetry,
    * documented not patched: an EMPTY (len=0) non-seed vector produces
    * no `x` rows, so the oracle drops it from assignment entirely while
    * [[graft.operators.Clustering.assign]] zero-fills it to the
    * nearest-origin centroid; the shipped embeddings tables contain no
    * empty vectors and `assign`'s scaladoc tells callers to filter. */
  private def kmeansOracle(k: Int, iters: Int, scale: Int,
                           profileTail: Boolean = true): String = {
    val head = s"""WITH x AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |    CAST(FLOOR(COALESCE(CAST(unnest(embedding) AS DOUBLE), 0) * $scale) AS BIGINT) AS q
      |  FROM embeddings),
      |seeds AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
      |  FROM (SELECT DISTINCT vec_id FROM embeddings
      |        WHERE embedding IS NOT NULL AND len(embedding) > 0
      |        ORDER BY vec_id LIMIT $k)),
      |c0 AS (SELECT s.cid, x.i, CAST(x.q AS BIGINT) AS cv
      |       FROM seeds s JOIN x ON x.vec_id = s.vec_id)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""d$t AS (SELECT x.vec_id, c.cid, CAST(SUM((x.q - c.cv) * (x.q - c.cv)) AS BIGINT) AS d
         |  FROM x JOIN c${t - 1} c ON x.i = c.i GROUP BY 1, 2),
         |a$t AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d$t)
         |  WHERE rn = 1),
         |u$t AS (SELECT a.cid, x.i, CAST(CAST(SUM(x.q) AS BIGINT) // COUNT(*) AS BIGINT) AS cv
         |  FROM a$t a JOIN x ON x.vec_id = a.vec_id GROUP BY 1, 2),
         |c$t AS (SELECT c.cid, c.i, CAST(COALESCE(u.cv, c.cv) AS BIGINT) AS cv
         |  FROM c${t - 1} c LEFT JOIN u$t u ON c.cid = u.cid AND c.i = u.i)""".stripMargin
    }.mkString(",\n")
    val f = iters + 1
    val asgn = s"""d$f AS (SELECT x.vec_id, c.cid, CAST(SUM((x.q - c.cv) * (x.q - c.cv)) AS BIGINT) AS d
      |  FROM x JOIN c$iters c ON x.i = c.i GROUP BY 1, 2),
      |asgn AS (SELECT vec_id, cid, d FROM (
      |    SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d$f)
      |  WHERE rn = 1)""".stripMargin
    val tail =
      if (profileTail) s"""$asgn,
        |lab AS (SELECT a.cid, e.label, COUNT(*) AS ln
        |  FROM asgn a JOIN embeddings e ON a.vec_id = e.vec_id GROUP BY 1, 2),
        |top AS (SELECT cid, label AS top_label, CAST(ln AS BIGINT) AS top_label_n FROM (
        |    SELECT cid, label, ln, row_number() OVER (PARTITION BY cid ORDER BY ln DESC, label) AS rn FROM lab)
        |  WHERE rn = 1),
        |agg AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(d) AS BIGINT) AS inertia_q
        |  FROM asgn GROUP BY 1)
        |SELECT agg.cid AS cluster_id, n_vecs, inertia_q, top_label, top_label_n
        |FROM agg JOIN top ON agg.cid = top.cid ORDER BY cluster_id""".stripMargin
      // representative tail (q107): the 2 most-central vectors per cluster
      else s"""$asgn
        |SELECT cluster_id, rk, vec_id, dist_q, label FROM (
        |  SELECT a.cid AS cluster_id, a.vec_id, a.d AS dist_q, e.label,
        |    CAST(row_number() OVER (PARTITION BY a.cid ORDER BY a.d, a.vec_id) AS BIGINT) AS rk
        |  FROM asgn a JOIN embeddings e ON a.vec_id = e.vec_id) r
        |WHERE rk <= 2 ORDER BY cluster_id, rk""".stripMargin
    s"$head,\n$rounds,\n$tail"
  }

  /** Corpus topic map: exact-arithmetic k-means over the embeddings
    * ([[graft.operators.Clustering]] — quantize-once, 3 Lloyd rounds from
    * the k lowest-id seeds), profiled per cluster (size, exact inertia,
    * majority label). The oracle re-derives every iteration relationally,
    * so the hash gates seeding, assignment tie-breaks, the integer-mean
    * update, empty-cluster carry, AND the final profile in one statement.
    * Scale shape: per round = one codegen'd pass (broadcast k·dim literal
    * matrix, no join) + a k·dim-row partial agg; driver state O(k·dim). */
  /** Train once per (session, dir) — q105 and q107 share the map, like a
    * real pipeline would (the model is k·dim longs; training is the
    * 3-pass Lloyd loop). */
  // Keyed by the LIVE session object ([[graft.SessionCache]], the r16
  // WeakHashMap discipline now shared by every index/model memo) —
  // identityHashCode is not unique across GC'd sessions and could serve
  // a stale model for a regenerated dir.
  private val kmModels = new graft.SessionCache[graft.operators.Clustering.KMeansModel]()
  private def kmeansFor(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = graft.Tables.load(s, dir, "embeddings")
    val model = kmModels.getOrElseUpdate(s, dir)(
      graft.operators.Clustering.kmeansTrain(
        emb, "embedding", "vec_id", k = 8, iters = 3))
    graft.operators.Clustering.assign(emb, "embedding", model)
  }

  val q105 = plan("q105_kmeans_topics",
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val km = kmeansFor(s, dir)
      val agg = km.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_vecs"), sum("dist_q").as("inertia_q"))
      val top = km.groupBy("cluster_id", "label").agg(count(lit(1)).as("ln"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("cluster_id"))
          .orderBy(col("ln").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("label").as("top_label"),
          col("ln").as("top_label_n"))
      agg.join(top, Seq("cluster_id"))
        .select(col("cluster_id"), col("n_vecs"), col("inertia_q"),
          col("top_label"), col("top_label_n"))
        .orderBy("cluster_id")
    },
    duckSql = kmeansOracle(k = 8, iters = 3, scale = 1024))

  /** Cluster-representative selection (prototype / coreset sampling —
    * the "pick the most central exemplars per topic" step of cluster-
    * balanced curation): same trained map as q105, top-2 most-central
    * vectors per cluster with their EXACT quantized distances crossing
    * engines. Scale shape: assignment pass + a k-group top-2 window over
    * (cluster, dist) — WindowGroupLimit pushes rank<=2 map-side. */
  val q107 = plan("q107_cluster_sample",
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val km = kmeansFor(s, dir)
      km.withColumn("rk", row_number().over(Window.partitionBy(col("cluster_id"))
          .orderBy(col("dist_q"), col("vec_id"))).cast("long"))
        .filter(col("rk") <= 2)
        .select(col("cluster_id"), col("rk"), col("vec_id"),
          col("dist_q"), col("label"))
        .orderBy("cluster_id", "rk")
    },
    duckSql = kmeansOracle(k = 8, iters = 3, scale = 1024, profileTail = false))

  def specs: Seq[QuerySpec] =
    Seq(q23, q24, q25, q26, q27, q44, q68, q74, q79, q90, q92, q93, q105, q107)
}
