package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup's pair recall at q68's threshold: |within-cluster pairs| /
  * |global brute-force pairs|. Within-cluster pairing finds exactly the
  * above-threshold pairs k-means co-locates — the accepted approximation
  * of the method (Abbas et al. 2023) — so recall falls as nlist grows.
  * Any q68 rewrite that can move borderline pairs (quantized prescreens,
  * norm bounds) must hold these floors, not just the within-assignment
  * exactness SemDedupSpec gates. The floors are OPTIMIZATION_r18.md's q68
  * re-baseline, held as pair counts over a pinned brute-force pair set. */
class SemDedupRecallSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val threshold = 0.35 // q68's
  private val testdata = "/root/testdata"

  /** (brute-force pairs, nlist → (true pairs found, false pairs)) over
    * `sfDir`'s embeddings. */
  private def pairCounts(sfDir: String, nlists: Seq[Int]): (Int, Map[Int, (Int, Int)]) = {
    val emb = graft.Tables.load(spark, sfDir, "embeddings").cache()
    try {
      val vecs = emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
          i += 1
        }
        d / math.sqrt(na * nb)
      }
      val brute = (for {
        i <- vecs.indices.iterator
        j <- (i + 1 until vecs.length).iterator
        if cos(vecs(i)._2, vecs(j)._2) >= threshold
      } yield (vecs(i)._1, vecs(j)._1)).toSet
      brute.size -> nlists.map { nlist =>
        val (assigned, _) = Similarity.ivfAssign(emb, nlist)
        val found = SemDedup.withinClusterPairs(assigned, threshold)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        nlist -> ((found intersect brute).size, (found -- brute).size)
      }.toMap
    } finally emb.unpersist()
  }

  test("sf0.01: no false pairs; pair recall 0.373 / 0.299 / 0.258 at nlist 8 / 16 / 32") {
    val (brute, found) = pairCounts(s"$testdata/sf0.01", Seq(8, 16, 32))
    assert(brute === 271)
    assert(found.values.map(_._2).forall(_ == 0), found)
    // 101/271 = 0.373, 81/271 = 0.299, 70/271 = 0.258
    assert(found(8)._1 >= 101 && found(16)._1 >= 81 && found(32)._1 >= 70, found)
  }

  test("sf0.1 at q68's operating point: no false pairs; pair recall 0.169 at nlist 32") {
    val (brute, found) = pairCounts(s"$testdata/sf0.1", Seq(32))
    assert(brute === 4137)
    assert(found(32)._2 === 0)
    assert(found(32)._1 >= 699, found) // 699/4137 = 0.169
  }
}
