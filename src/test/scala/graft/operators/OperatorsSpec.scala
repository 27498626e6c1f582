package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the training-data-pipeline operators (dedup, text
  * analysis, similarity search) over small hand-built corpora with known
  * duplicates/neighbors. */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
      (4L, "completely different content about spark query engines and columnar execution"),
      (5L, "THE  quick brown fox jumps over the lazy dog near the river bank today") // ws/case variant of 1
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps lowest id per normalized content") {
    val out = Dedup.exact(docs).select("doc_id").collect().map(_.getLong(0)).sorted
    // 2 and 5 collapse into 1 (fingerprint normalizes case+whitespace)
    assert(out.toSeq === Seq(1L, 3L, 4L))
  }

  test("shingles produce distinct word n-grams") {
    import spark.implicits._
    val one = Seq((9L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(one, "text", "doc_id", 3).collect().map(_.getString(1)).sorted
    assert(sh.toSeq === Seq("a b c", "b c d"))
  }

  test("minhash LSH finds the exact and near duplicates, not the unrelated doc") {
    val pairs = Dedup.minHashLshPairs(docs, k = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical → identical signatures
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }) // unrelated stays out
    // verify stage: exact jaccard of (1,3) is high, (1,4) ~ 0
    val nd = Dedup.nearDuplicates(docs, threshold = 0.5, k = 16, bands = 8)
    val found = nd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 2L)))
  }

  test("simhash: identical docs get identical signatures; hamming ≤ 3 finds near-dups") {
    val sig = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) === sig(2L))
    val pairsDf = Dedup.simHashPairs(docs, maxHamming = 3)
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
    // default banding must equal the brute-force all-pairs result
    // (pigeonhole blocking is complete) and must not plan a cross join
    val brute = Dedup.simHashPairs(docs, maxHamming = 3, blockCol = None, bits = 32)
    val sigs = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1))
    val bruteSet = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(pairs === bruteSet)
    val plan = pairsDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("text analysis features are sane") {
    import spark.implicits._
    val d = Seq((1L, "The cat and the dog, in a house. Done!")).toDF("doc_id", "text")
    val f = TextAnalysis.annotate(d).head()
    assert(f.getAs[Long]("tokens") === 12L) // 9 words + comma + period + bang
    assert(f.getAs[Double]("punct_ratio") > 0.0 && f.getAs[Double]("punct_ratio") < 0.2)
    assert(f.getAs[Double]("stopword_ratio") > 0.3) // the/and/the/in/a
    assert(f.getAs[String]("lang_pred") === "en")
    assert(f.getAs[String]("fingerprint").length === 32)
    val de = Seq((2L, "der hund und das haus ist hier")).toDF("doc_id", "text")
    assert(TextAnalysis.annotate(de).head().getAs[String]("lang_pred") === "de")
  }

  test("PII redaction replaces emails/phones/IPv4 and counts per class") {
    import spark.implicits._
    val d = Seq(
      (1L, "contact jane.doe+spam@example.co.uk or 555-123-4567, server 192.168.1.10 up"),
      (2L, "dots work too: 555.123.4567 and bob@host.org"),
      (3L, "clean text, no pii here; version 1.2 is not an ip")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("red"),
        TextAnalysis.piiCounts(col("text")).as("c"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) ===
      "contact <EMAIL> or <PHONE>, server <IP> up")
    assert(out(0).getStruct(2).getLong(0) === 1L) // email
    assert(out(0).getStruct(2).getLong(1) === 1L) // phone
    assert(out(0).getStruct(2).getLong(2) === 1L) // ip
    assert(out(1).getString(1) === "dots work too: <PHONE> and <EMAIL>")
    assert(out(2).getString(1) === "clean text, no pii here; version 1.2 is not an ip",
      "short dotted numbers must not be redacted")
    assert(out(2).getStruct(2).getLong(0) === 0L)
  }

  def embeddings: DataFrame = {
    import spark.implicits._
    // 4-dim toy vectors: 1≈2 (same direction), 3 orthogonal, 4 opposite
    Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),
      (5L, Seq(0.95f, 0.05f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  test("brute-force cosine top-k ranks by true similarity") {
    val out = Similarity.topK(embeddings, Seq(1.0f, 0.0f, 0.0f, 0.0f), k = 3)
      .collect().map(_.getLong(0))
    assert(out.head === 1L)
    assert(out.toSet === Set(1L, 2L, 5L))
  }

  test("SRP-LSH ANN finds the true nearest neighbor for aligned vectors") {
    val out = Similarity.annTopK(embeddings, Seq(1.0f, 0.0f, 0.0f, 0.0f),
      k = 2, planes = 6, tables = 4).collect().map(_.getLong(0))
    assert(out.nonEmpty && out.head === 1L)
  }

  test("embedding near-dup pairs at cosine ≥ 0.95") {
    val pairs = Similarity.nearDupPairs(embeddings, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 5L))) // same-bucket near dups
    assert(!pairs.exists { case (a, b) => b == 4L && a == 1L }) // opposite direction excluded
  }

  test("simhash32 matches the relational vote formulation bit for bit") {
    val s = spark
    graft.Tables.registerAll(s, "/root/testdata/sf0.001")
    // the explicit SQL votes (the DuckDB oracle's shape, in Spark dialect)
    val sql = s.sql(
      """WITH tok AS (
        |  SELECT doc_id, w FROM documents
        |  LATERAL VIEW EXPLODE(array_distinct(split(lower(text), '\\s+'))) t AS w),
        |contrib AS (
        |  SELECT doc_id, bit,
        |    CASE WHEN (shiftright(
        |        POSITION(substr(md5(w), CAST(bit DIV 4 AS INT) + 1, 1) IN '0123456789abcdef') - 1,
        |        CAST(bit % 4 AS INT)) & 1) = 1 THEN 1 ELSE -1 END AS c
        |  FROM tok LATERAL VIEW EXPLODE(sequence(0, 31)) s AS bit),
        |simbits AS (
        |  SELECT doc_id, bit, CASE WHEN SUM(c) >= 0 THEN 1 ELSE 0 END AS sb
        |  FROM contrib GROUP BY doc_id, bit)
        |SELECT doc_id,
        |  CAST(SUM(CAST(sb AS BIGINT) * shiftleft(CAST(1 AS BIGINT), bit)) AS BIGINT) AS simhash
        |FROM simbits GROUP BY doc_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = s.sql(
      """SELECT doc_id,
        |  simhash32(array_distinct(split(lower(text), '\\s+'))) AS simhash
        |FROM documents""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === sql)
    // near-identical token sets differ in few bits; disjoint sets in many
    val a = graft.functions.SimHash32.ofTokens(Seq("the", "quick", "brown", "fox", "jumps"))
    val b = graft.functions.SimHash32.ofTokens(Seq("the", "quick", "brown", "fox", "leaps"))
    val c = graft.functions.SimHash32.ofTokens(Seq("totally", "different", "words", "here", "now"))
    def dist(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(dist(a, b) < dist(a, c), s"hamming(a,b)=${dist(a, b)} !< hamming(a,c)=${dist(a, c)}")
  }

  test("HLL distinct sketch (q41) tracks exact COUNT(DISTINCT) within 5%") {
    val s = spark
    graft.Tables.registerAll(s, "/root/testdata/sf0.01")
    val approx = graft.queries.PipelineOps.q41.fn(s, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = s.sql(
      """SELECT lang, COUNT(DISTINCT w) AS n FROM
        |(SELECT lang, EXPLODE(split(lower(text), '\\s+')) AS w FROM documents) t
        |GROUP BY lang""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (lang, n) =>
      val a = approx(lang)
      assert(math.abs(a - n).toDouble / n <= 0.05,
        s"HLL estimate $a vs exact $n for $lang exceeds 5% error")
    }
  }

  test("nearest_centroid native loop matches the greatest(struct) tree form") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (_, centroids) = Similarity.ivfAssign(emb, nlist = 8, iters = 1)
    val both = emb.select(col("vec_id"),
      graft.functions.NearestCentroid(col("embedding"), centroids).as("fast"),
      Similarity.nearestListTree("embedding", centroids).as("tree"))
    assert(both.filter(col("fast") =!= col("tree")).count() === 0)
    // null vector → null assignment
    import spark.implicits._
    val n = Seq((1L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
      .select(graft.functions.NearestCentroid(col("embedding"), centroids).as("l"))
    assert(n.head.isNullAt(0))
  }

  test("nearest_centroid l2 metric: picks the spatially nearest codeword, not the directional one (r9)") {
    import spark.implicits._
    // A = same DIRECTION as v but 10× magnitude; B = close in SPACE but
    // off-direction. Cosine assignment picks A; PQ (Jégou, L2) must pick
    // B — a cosine-chosen codeword reconstructs v as 10·v.
    val cs = Seq(Seq(10f, 0f), Seq(0.9f, 0.5f))
    val df = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val both = df.select(
      graft.functions.NearestCentroid(col("embedding"), cs).as("cosine_pick"),
      graft.functions.NearestCentroid(col("embedding"), cs, "l2").as("l2_pick"))
    val r = both.head
    assert(r.getInt(0) === 0) // cosine: perfect alignment with A wins
    assert(r.getInt(1) === 1) // L2: ||v-B||² = 0.26 ≪ ||v-A||² = 81
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.util.ArrayData
    val v = ArrayData.toArrayData(Array(1f, 0f))
    val m = cs.map(_.toArray).toArray
    assert(graft.functions.NearestCentroid.nearest(v, m) === 0)
    assert(graft.functions.NearestCentroid.nearestL2(v, m) === 1)
  }

  test("nearest_centroid canonicalizes: identical constructions are semanticEquals") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cs = Seq(Seq(1f, 0f, 0.5f), Seq(0f, 1f, -0.5f))
    // two independent constructions (different Seq impls, equal values)
    val e1 = ColumnBridge.expression(
      graft.functions.NearestCentroid(col("embedding"), cs))
    val e2 = ColumnBridge.expression(
      graft.functions.NearestCentroid(col("embedding"), cs.map(_.toList).toList))
    // value equality of the centroid matrix → CSE and plan-cache matching
    // work (an Array[Array[Float]] param gives reference equality and
    // breaks both)
    assert(e1 == e2, "equal centroid matrices must compare equal")
    assert(e1.semanticEquals(e2), "identical expressions must be semanticEquals")
    // different centroids must NOT compare equal
    val e3 = ColumnBridge.expression(
      graft.functions.NearestCentroid(col("embedding"), Seq(Seq(2f, 0f, 0.5f), Seq(0f, 1f, -0.5f))))
    assert(e1 != e3 && !e1.semanticEquals(e3))
  }

  test("filtered IVF probe: selectivity-scaled nprobe restores recall@10 ≥ 0.8 (r9)") {
    // Filtered vector search (q79's approximate counterpart). Probing the
    // unfiltered operating point's lists under a ~1/7-selective filter
    // starves the candidate pool (measured 0.68 recall here before the
    // fix); ivfTopKFiltered scales nprobe by 1/selectivity (capped at
    // nlist — graceful degradation to an exact scan of the filter's
    // survivors, already 7× cheaper). Recall is measured against the
    // exact FILTERED top-10, per query.
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val emb = graft.Tables.load(spark, dir, "embeddings").cache()
      try {
        val pred = col("label") % 7 === 3
        val queryIds = Seq(0L, 7L, 42L, 99L, 123L)
        def vecOf(qid: Long): Seq[Float] =
          emb.filter(col("vec_id") === qid).select("embedding").head.getSeq[Float](0)
        val centroids = graft.queries.VectorOps.ensureIvfIndex(spark, dir)
        val assigned = Similarity.ivfAssignWith(emb, centroids).cache()
        try {
          val recalls = queryIds.map { q =>
            val exact = Similarity.topK(emb.filter(pred && col("vec_id") =!= q), vecOf(q), 10)
              .collect().map(_.getLong(0)).toSet
            val approx = Similarity.ivfTopKFiltered(
              assigned, centroids, vecOf(q), pred && col("vec_id") =!= q,
              k = 10, nprobe = 16).collect().map(_.getLong(0)).toSet
            approx.intersect(exact).size.toDouble / exact.size
          }
          val avg = recalls.sum / recalls.size
          assert(avg >= 0.8, s"filtered IVF recall@10 $avg < 0.8 at $dir")
        } finally { assigned.unpersist(); () }
      } finally { emb.unpersist(); () }
    }
  }

  test("ANN quality gate: recall@10 ≥ 0.8 vs exact kNN at sf0.001 AND sf0.1") {
    // the CORRECTNESS gate is rows-only for q26/q27 (approximate by
    // construction) — this is the quality gate, at the same parameters the
    // registered queries use. sf0.1 matters: bucket collision statistics
    // (SRP table occupancy, IVF list sizes) only bite at the larger scale.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val r = graft.queries.VectorOps.annRecall(spark, dir)
      assert(r("q26_ann_lsh") >= 0.8, s"SRP-LSH recall@10 ${r("q26_ann_lsh")} < 0.8 at $dir")
      assert(r("q27_ann_ivf") >= 0.8, s"IVF recall@10 ${r("q27_ann_ivf")} < 0.8 at $dir")
    }
  }

  test("int8 quantization: 4x smaller, tiny cosine error, top-k preserved") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings").cache()
    val q = Quantization.quantizeTable(emb).cache()
    // roundtrip error bounded by the quantization step (scale/2 per element)
    val err = q.withColumn("orig", Quantization.dequantizeEmbedding(col("embedding")))
      .join(emb.withColumnRenamed("embedding", "e"), "vec_id")
      .select(aggregate(zip_with(col("orig"), col("e"),
        (a, b) => abs(a - b)), lit(0.0d), (acc, v) => greatest(acc, v)).as("maxerr"),
        (array_max(transform(col("e"), x => abs(x))) / 254.0).as("bound"))
      .filter(col("maxerr") > col("bound") * 1.01)
    assert(err.count() === 0, "per-element error must stay within scale/2")
    // cosine computed directly on int8 pairs tracks float cosine closely
    val qq = q.select(col("vec_id"), col("embedding").as("qa"))
      .join(q.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("qb")), "vec_id")
      .filter(col("vec_id") < 20)
    val ff = emb.select(col("vec_id"), col("embedding").as("fa"))
      .join(emb.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("fb")), "vec_id")
      .filter(col("vec_id") < 20)
    val cosDiff = qq.join(ff, "vec_id")
      .select((Quantization.quantizedCosine(col("qa"), col("qb")) -
        Similarity.cosine(col("fa"), col("fb"))).as("d"))
      .agg(max(abs(col("d")))).head.getDouble(0)
    assert(cosDiff < 0.02, s"int8 cosine should track float cosine, max diff $cosDiff")
    // top-10 neighbor sets on dequantized vs original mostly agree
    val deq = Quantization.dequantizeTable(q)
    val qvec = deq.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
    val fvec = emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
    val topQ = Similarity.topK(deq, qvec, 10).collect().map(_.getLong(0)).toSet
    val topF = Similarity.topK(emb, fvec, 10).collect().map(_.getLong(0)).toSet
    assert(topQ.intersect(topF).size >= 8, s"int8 top-10 should overlap ≥8: $topQ vs $topF")
    emb.unpersist(); q.unpersist()
  }

  test("salted equi-join equals the plain join and spreads the hot key") {
    import spark.implicits._
    // 10k rows of one hot key + a tail; dim too big to pretend-broadcast
    val big = ((1 to 10000).map(i => (1, s"row$i")) ++
      (1 to 100).map(i => (i % 7 + 2, s"tail$i"))).toDF("k", "payload")
    val small = (1 to 10).map(i => (i, s"dim$i")).toDF("k", "attr")
    val plain = big.join(small, Seq("k")).select("k", "payload", "attr")
      .collect().map(_.toString).sorted
    val salted = SkewJoin.saltedEquiJoin(big, small, "k", salts = 8)
      .select("k", "payload", "attr").collect().map(_.toString).sorted
    assert(salted.toSeq === plain.toSeq)
    // the hot key's rows really do spread across salt values
    val spread = big.withColumn("_salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(8L)).cast("int"))
      .filter(col("k") === 1).groupBy("_salt").count().collect()
    assert(spread.length === 8, "hot key should occupy every salt bucket")
    assert(spread.map(_.getLong(1)).max < 10000, "no single bucket holds the whole key")
  }

  test("connected components label every member with its component's min id (both paths)") {
    import spark.implicits._
    // a 6-node chain (diameter 5 — forces several propagation rounds),
    // a separate pair, and a duplicate/reversed edge that must not matter
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 20L), (10L, 11L)
    ).toDF("id_a", "id_b")
    val expected = Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L, 15L -> 10L,
      20L -> 20L, 21L -> 20L)
    // small graph → driver union-find path (the broadcast-size regime)
    val viaDriver = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === expected)
    // driverMaxEdges = 0 forces the distributed min-label loop (scale path)
    val viaLoop = Dedup.connectedComponents(pairs, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLoop === expected)
  }

  test("simhash banding stays complete and non-degenerate at high maxHamming (bits=32, m=16)") {
    // ceil-width banding used to leave trailing ZERO-width chunks here
    // (17 chunks over 32 bits): every doc shared key 0 in those bands and
    // the candidate join degenerated to a full cross join
    val pairs = Dedup.simHashPairs(docs, maxHamming = 16, bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 16
    } yield (ia, ib)).toSet
    assert(pairs === brute, "balanced banding must stay pigeonhole-complete")
  }

  test("connected components match a union-find oracle on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val m = n / 2 + rnd.nextInt(2 * n)
      val edges = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong; var b = rnd.nextInt(n).toLong
        if (a == b) b = (b + 1) % n
        (a, b)
      }
      // driver-side union-find oracle (test-only)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = touched.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial (driver path): n=$n m=$m")
      // same graph through the distributed min-label loop (scale path)
      val gotLoop = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
          driverMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotLoop === expected, s"trial $trial (loop path): n=$n m=$m")
    }
  }

  test("resolveClusters labels every doc; singletons are their own cluster") {
    import spark.implicits._
    val allDocs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (3L, 4L), (6L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.resolveClusters(allDocs, pairs)
    val labels = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(
      1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 5L, 6L -> 6L, 7L -> 6L))
    // one call gives the survivor set directly
    val survivors = got.filter(col("doc_id") === col("cluster_id"))
      .collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq === Seq(1L, 2L, 5L, 6L))
    got.unpersist()
  }

  test("connectedComponents drops null-keyed pairs on both paths (no silent merge into 0)") {
    import spark.implicits._
    val pairs = Seq(
      (Some(1L), Some(2L)), (Some(3L), None), (None, Some(4L)), (None, None)
    ).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L)
    for (gate <- Seq(1000000L, 0L)) {
      val got = Dedup.connectedComponents(pairs, driverMaxEdges = gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"driverMaxEdges=$gate")
    }
  }

  test("hybrid-CC gate probe is bounded: a limit node caps the probe's scan") {
    // the size gate must never run an unbounded distinct+collect just to
    // pick a path: the plan connectedComponents runs for it carries the
    // limit. A non-local source is needed for the assertion: a
    // LocalRelation folds limit into the scan. 10 distinct edges over a
    // gate of 2: the probe collects 3 and the distributed loop runs. Two
    // stars: hub 0 with the odd ids, hub 100 with the even ones.
    val pairs = spark.range(10).selectExpr("(id % 2) * 100 as id_a", "id + 1 as id_b")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val labels =
      try Dedup.connectedComponents(pairs, driverMaxEdges = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally {
        ListenerBridge.flush(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(plans.exists(p => "CollectLimit 3\\b".r.findFirstIn(p).isDefined),
      s"the gate probe must run as a limit of 3:\n${plans.mkString("\n---\n")}")
    assert(labels === ((0L +: (1L to 9L by 2)).map(_ -> 0L) ++
      (100L +: (2L to 10L by 2)).map(_ -> 2L)).toMap)
  }

  test("distributed CC returns a fixed-size plan whatever the round count") {
    // a chain's labels converge in diameter + 1 rounds; each round reads
    // the previous round's labels twice, so an un-cut plan doubles per
    // round. The returned plan must be as small after 10 rounds as after 3.
    def chain(edges: Int) = spark.range(edges).selectExpr("id as id_a", "id + 1 as id_b")
    def planNodes(df: DataFrame): Int = df.queryExecution.logical.collect { case n => n }.size
    // the short chain first: an un-cut plan already fails here, before a
    // 10-round loop could spend minutes planning a 2^10-fold tree
    val short = Dedup.connectedComponents(chain(2), driverMaxEdges = 0)
    assert(planNodes(short) <= 3,
      s"the loop's plan must stay a leaf:\n${short.queryExecution.logical.treeString}")
    val long = Dedup.connectedComponents(chain(9), driverMaxEdges = 0)
    assert(long.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (0L to 9L).map(_ -> 0L).toMap)
    assert(planNodes(long) === planNodes(short),
      s"the loop's plan must not grow with rounds:\n${long.queryExecution.logical.treeString}")
  }

  test("CC output schema is (long, long) on BOTH paths for int-typed ids") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    // int ids used to come back as int from the loop path but long from
    // the driver path, so the contract depended on which side of the size
    // gate the data landed on
    val pairs = Seq((1, 2), (2, 3), (10, 11)).toDF("id_a", "id_b")
    for (gate <- Seq(1000000L, 0L)) {
      val out = Dedup.connectedComponents(pairs, driverMaxEdges = gate)
      assert(out.schema("id").dataType === LongType, s"id type, gate=$gate")
      assert(out.schema("label").dataType === LongType, s"label type, gate=$gate")
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
        s"gate=$gate")
    }
  }

  test("resolveClusters with no pairs labels every doc as its own singleton") {
    import spark.implicits._
    val allDocs = Seq(1L, 2L, 3L).toDF("doc_id")
    val noPairs = spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")
    val labels = Dedup.resolveClusters(allDocs, noPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("connectedComponents fails loudly when maxIter is too small to converge") {
    import spark.implicits._
    // diameter-4 chain: min label needs 4 rounds to reach the far end;
    // driverMaxEdges = 0 forces the distributed loop (the driver path has
    // no rounds, so maxIter only governs the loop)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxIter = 2, driverMaxEdges = 0L))
    assert(ex.getMessage.contains("did not converge"))
    assert(ex.getMessage.contains("raise maxIter"), "message must name the escape hatch")
    // with enough rounds the same graph resolves
    val ok = Dedup.connectedComponents(chain, maxIter = 10, driverMaxEdges = 0L)
    assert(ok.collect().map(_.getLong(1)).toSet === Set(1L))
    ok.unpersist()
  }

  test("simhash banding handles a single 64-bit chunk (bits=64, maxHamming=0)") {
    // nb = 1 chunk of width 64: (1L << 64) wraps to 1, so an unguarded mask
    // would be 0 and every signature would share band key 0 (cross join).
    // With the guard, the single band key IS the signature: pairs = docs
    // with identical 64-bit simhash, and only those.
    val pairs = Dedup.simHashPairs(docs, maxHamming = 0, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = Dedup.simHash(docs, bits = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib && sa == sb
    } yield (ia, ib)).toSet
    assert(pairs === brute)
    assert(pairs.contains((1L, 2L)), "identical docs share the full signature")
  }

  test("bloom decontaminate is row-identical to the exact anti join") {
    import spark.implicits._
    // spark.range, not a local Seq: ConvertToLocalRelation would eagerly
    // evaluate deterministic filters over a LocalRelation, folding the
    // bloom probe out of the plan the last assertion inspects
    val corpus = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("doc content number "), col("id")).as("text"))
    val eval = corpus.filter(col("doc_id") % 7 === 0)
      .select(md5(col("text")).as("fp"))
    val key = md5(col("text"))
    // deliberately TINY filter (64 bits for ~72 keys) → false positives
    // are certain; the verify join must still make the result exact
    for (numBits <- Seq(64L, 1L << 16)) {
      val out = Decontaminate.decontaminate(corpus, eval, key, "fp",
        expectedItems = 128L, numBits = numBits)
      val exact = corpus.join(eval, key === col("fp"), "left_anti")
      assert(out.count() === exact.count(), s"numBits=$numBits")
      assert(out.exceptAll(exact).isEmpty && exact.exceptAll(out).isEmpty,
        s"bloom path diverged from the exact anti join at numBits=$numBits")
    }
    // empty eval set → corpus passes through whole
    val none = Decontaminate.decontaminate(corpus, eval.limit(0), key, "fp")
    assert(none.count() === 500L)
    // the probe is a native codegen predicate in the plan, not a UDF,
    // and the anti join's left input carries the bloom-hit filter
    val planStr = Decontaminate.decontaminate(corpus, eval, key, "fp")
      .queryExecution.executedPlan.toString
    assert(planStr.contains("might_contain"), s"plan must probe the bloom:\n$planStr")
    assert(!planStr.contains("UDF"), "no UDF in the decontamination plan")
    // r18: the distinct key set materializes once (eager localCheckpoint)
    // and is shared by the bloom build and the verify join — the output
    // plan must read the checkpointed keys, not re-plan the eval
    // scan + fingerprint + distinct under the anti join
    assert(planStr.contains("ExistingRDD"),
      s"anti join must read the checkpointed key set:\n$planStr")
    assert(!planStr.contains("HashAggregate"),
      s"eval distinct must not re-plan under the verify join:\n$planStr")
  }

  /** A 500-row corpus, every 7th document's fingerprint as the eval set. */
  private def deconInputs = {
    val corpus = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("doc content number "), col("id")).as("text"))
    val eval = corpus.filter(col("doc_id") % 7 === 0).select(md5(col("text")).as("fp"))
    (corpus, eval, md5(col("text")))
  }

  private def persistentRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("decontaminate: the pinned eval keys survive lost blocks — recomputed, not fatal") {
    val (corpus, eval, key) = deconInputs
    val before = persistentRddIds
    val out = Decontaminate.decontaminate(corpus, eval, key, "fp")
    val gained = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(gained.nonEmpty, "the distinct eval keys must be pinned")
    // every stored block of the call is gone, as after an executor loss
    gained.values.foreach(_.unpersist(blocking = true))
    val exact = corpus.join(eval, key === col("fp"), "left_anti")
    assert(out.count() === exact.count())
    assert(out.exceptAll(exact).isEmpty && exact.exceptAll(out).isEmpty,
      "a lost pinned block must be recomputed from its lineage")
  }

  test("decontaminate with an empty eval set leaves nothing pinned") {
    val (corpus, eval, key) = deconInputs
    val before = persistentRddIds
    val none = Decontaminate.decontaminate(corpus, eval.limit(0), key, "fp")
    assert(persistentRddIds.diff(before).isEmpty,
      "the early return must release the key set it pinned")
    assert(none.count() === 500L)
  }

  test("bloom build never collects eval rows: filter bytes bounded") {
    import spark.implicits._
    val eval = (0L until 10000L).map(i => Tuple1(s"fp_$i")).toDF("fp")
    val bytes = Decontaminate.bloomBytes(eval, "fp",
      expectedItems = 10000L, numBits = 1L << 17)
    // serialized size tracks numBits (2^17 bits ≈ 16 KB + header), NOT the
    // 10k-row eval set — the driver-side footprint a 100 TB build keeps
    assert(bytes.length < 32 * 1024, s"filter bytes ${bytes.length}")
    val mc = Decontaminate.mightContain(bytes, col("fp"))
    val hits = eval.filter(mc).count()
    assert(hits === 10000L, "no false negatives: every eval key must hit")
  }

  test("IVF assign + probe returns the aligned cluster") {
    val (assigned, centroids) = Similarity.ivfAssign(embeddings, nlist = 2)
    assert(centroids.size === 2)
    assert(assigned.count() === 5)
    val out = Similarity.ivfTopK(assigned, centroids, Seq(1.0f, 0.0f, 0.0f, 0.0f),
      k = 2, nprobe = 2).collect().map(_.getLong(0))
    assert(out.head === 1L)
  }
}
