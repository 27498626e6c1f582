package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (online) dedup against the persistent MinHash index:
  * operator behavior is pinned against a driver-side greedy simulation
  * that replicates the exact candidate predicate (shared LSH bucket +
  * estimated-Jaccard threshold) over the same collected signatures, so
  * the test holds for ANY hash outcome, not a hand-picked corpus. */
class IncrementalDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val IndexSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bucket", LongType),
    StructField("doc_id", LongType),
    StructField("signature", ArrayType(LongType))))

  /** 60 deterministic docs over a 50-word vocabulary with seeded exact
    * and near duplicates (copies and small token edits across batch
    * boundaries, so cross-batch dups exist). */
  def corpus: Seq[(Long, String)] = {
    def words(i: Long): Seq[String] =
      (0 until 25).map(j => s"w${(i * 31 + j * j * 7 + (i % 3) * j) % 50}")
    (0L until 60L).map { i =>
      val base =
        if (i % 5 == 1) words(i - 1)                                   // exact dup of i-1
        else if (i % 9 == 2 && i >= 20) words(i - 20)                  // cross-batch exact dup
        else if (i % 7 == 3) words(i - 1).updated(0, "changed")        // near dup of i-1
        else words(i)
      (i, base.mkString(" "))
    }
  }

  val N = 3; val K = 16; val Bands = 4; val Threshold = 0.8
  val needed: Int = math.ceil(Threshold * K).toInt

  /** Collected per-doc signature and banded buckets, computed by the
    * SAME operators the ingest path uses. */
  def collectSigs(docs: DataFrame): (Map[Long, Seq[Long]], Map[Long, Set[(Int, Long)]]) = {
    val sig = Dedup.minHashSignatures(docs, "text", "doc_id", N, K)
    val sigs = sig.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    val buckets = IncrementalDedup.banded(sig, "doc_id", K, Bands).collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Int]("band"), r.getAs[Long]("bucket"))))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
    (sigs, buckets)
  }

  def simMatches(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).count { case (x, y) => x == y }

  /** Greedy online simulation: per batch, cross-dup vs previously kept,
    * then within-batch union-find over the same predicate, min-id label. */
  def simulate(batches: Seq[Seq[Long]], sigs: Map[Long, Seq[Long]],
               buckets: Map[Long, Set[(Int, Long)]]): (Set[Long], Map[Long, Long]) = {
    val kept = scala.collection.mutable.SortedSet.empty[Long]
    val dropped = scala.collection.mutable.Map.empty[Long, Long]
    def dup(a: Long, b: Long): Boolean =
      buckets(a).intersect(buckets(b)).nonEmpty &&
        simMatches(sigs(a), sigs(b)) >= needed
    for (batch <- batches) {
      val crossDropped = batch.flatMap { nid =>
        val olds = kept.filter(o => dup(nid, o))
        if (olds.nonEmpty) Some(nid -> olds.min) else None
      }.toMap
      val rest = batch.filterNot(crossDropped.contains)
      val parent = scala.collection.mutable.Map(rest.map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for (a <- rest; b <- rest if a < b && dup(a, b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val innerDropped = rest.filter(i => find(i) != i).map(i => i -> find(i))
      dropped ++= crossDropped ++ innerDropped
      kept ++= rest.filter(i => find(i) == i)
    }
    (kept.toSet, dropped.toMap)
  }

  test("three-batch ingest matches the greedy online simulation exactly") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val (sigs, buckets) = collectSigs(docs)
    val batches = Seq(0L until 20L, 20L until 40L, 40L until 60L).map(_.toSeq)
    val (expKept, expDropped) = simulate(batches, sigs, buckets)
    // the seeded corpus must actually exercise both drop paths
    assert(expDropped.nonEmpty, "seeded corpus produced no duplicates at all")
    assert(batches.drop(1).flatten.exists(i =>
      expDropped.get(i).exists(_ < i / 20 * 20)), "no cross-batch duplicate seeded")

    val cat = new graft.lake.LakeCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-incdedup").toString)
    val index = cat.createTable("dedup.sig_index", IndexSchema)
    val gotDropped = scala.collection.mutable.Map.empty[Long, Long]
    val gotKept = scala.collection.mutable.Set.empty[Long]
    for (batch <- batches) {
      val bdf = docs.filter(col("doc_id").isin(batch: _*))
      val res = IncrementalDedup.ingest(index, bdf,
        n = N, k = K, bands = Bands, threshold = Threshold)
      gotKept ++= res.survivors.select("doc_id").collect().map(_.getLong(0))
      gotDropped ++= res.dropped.collect().map(r => r.getLong(0) -> r.getLong(1))
      // survivors keep the full original row shape
      assert(res.survivors.columns.toSeq === bdf.columns.toSeq)
    }
    assert(gotKept.toSet === expKept, "survivor sets diverge from the simulation")
    assert(gotDropped.toMap === expDropped, "dup_of attribution diverges")
    // index state: bands rows per survivor, signatures only — no text
    val idx = index.toDF
    assert(idx.count() === expKept.size.toLong * Bands)
    assert(idx.schema.fieldNames.toSeq === IndexSchema.fieldNames.toSeq)
    assert(idx.select("doc_id").distinct().collect().map(_.getLong(0)).toSet === expKept)
  }

  test("ingest leaves only the returned dropped frame pinned") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val cat = new graft.lake.LakeCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-incdedup-pins").toString)
    val index = cat.createTable("dedup.pins", IndexSchema)
    val sc = spark.sparkContext
    for (batch <- Seq(0L until 30L, 30L until 60L)) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val res = IncrementalDedup.ingest(index, docs.filter(col("doc_id").isin(batch: _*)),
        n = N, k = K, bands = Bands, threshold = Threshold)
      val droppedRdd = res.dropped.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
        case p => fail(s"dropped must be a pinned leaf:\n$p")
      }
      assert(sc.getPersistentRDDs.keySet.toSet.diff(before) === Set(droppedRdd),
        "the banded batch and the CC labels must be released")
      assert(res.dropped.count() > 0L, "the seeded corpus drops duplicates in each batch")
    }
  }

  test("online contract: a chain split across batches keeps the far end") {
    import spark.implicits._
    // B's near-dups A (tail edit) and C (head edit) are similar to B but
    // not to each other; batch-mode CC over one corpus would keep only A
    // of {A,B,C} — online ingest of [A], [B], [C] keeps A AND C, because
    // C's only near-dup B was never indexed. Preconditions are asserted
    // against the operator's own predicate, so if hashing ever shifts
    // the test says which precondition broke instead of silently passing.
    // 60-word base, 8-word head/tail edits: under the operator's fixed
    // hash seeds this yields 13/13/11 matching minhash positions for
    // AB/BC/AC at k=16 — exactly straddling needed=13 (probed, stable)
    val b = (0 until 60).map(j => s"t${j % 17}w$j")
    val a = b.dropRight(8) ++ (0 until 8).map(j => s"xa$j")
    val c = (0 until 8).map(j => s"xc$j") ++ b.drop(8)
    val docs = Seq(1L -> a, 2L -> b, 3L -> c)
      .map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text")
    val (sigs, buckets) = collectSigs(docs)
    def dup(x: Long, y: Long): Boolean =
      buckets(x).intersect(buckets(y)).nonEmpty &&
        simMatches(sigs(x), sigs(y)) >= needed
    assert(dup(1L, 2L), "precondition: A~B under the operator predicate")
    assert(dup(2L, 3L), "precondition: B~C under the operator predicate")
    assert(!dup(1L, 3L), "precondition: A !~ C under the operator predicate")

    val cat = new graft.lake.LakeCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-incchain").toString)
    val index = cat.createTable("dedup.chain_index", IndexSchema)
    def one(id: Long): DataFrame = docs.filter(col("doc_id") === id)
    val r1 = IncrementalDedup.ingest(index, one(1L), n = N, k = K, bands = Bands, threshold = Threshold)
    val r2 = IncrementalDedup.ingest(index, one(2L), n = N, k = K, bands = Bands, threshold = Threshold)
    val r3 = IncrementalDedup.ingest(index, one(3L), n = N, k = K, bands = Bands, threshold = Threshold)
    assert(r1.survivors.count() === 1, "A is kept")
    assert(r2.survivors.count() === 0 &&
      r2.dropped.head().getLong(1) === 1L, "B dropped as dup of A")
    assert(r3.survivors.count() === 1, "C survives: its only near-dup was never indexed")
    assert(index.toDF.select("doc_id").distinct().count() === 2)
  }

  test("bucket-partitioned index: identical decisions, probe prunes to batch buckets (r9)") {
    import spark.implicits._
    // same multi-batch flow against a bucket(8, bucket)-partitioned index
    // table — the at-scale layout the operator scaladoc prescribes. The
    // probe pushdown (bucket IN batch-buckets) must neither change any
    // dedup decision nor scan index files outside the batch's buckets.
    val docs = corpus.toDF("doc_id", "text")
    val batches = (0 until 3).map(b => (b * 20 until (b + 1) * 20).map(_.toLong))
    def runWith(partitionBy: Seq[(String, String)]): (Set[Long], Map[Long, Long]) = {
      val cat = new graft.lake.LakeCatalog(spark,
        java.nio.file.Files.createTempDirectory("graft-incdedup-b").toString)
      val index = cat.createTable("dedup.bidx", IndexSchema, partitionBy = partitionBy)
      val kept = scala.collection.mutable.Set.empty[Long]
      val dropped = scala.collection.mutable.Map.empty[Long, Long]
      for (batch <- batches) {
        val res = IncrementalDedup.ingest(index,
          docs.filter(col("doc_id").isin(batch: _*)),
          n = N, k = K, bands = Bands, threshold = Threshold)
        kept ++= res.survivors.select("doc_id").collect().map(_.getLong(0))
        dropped ++= res.dropped.collect().map(r => r.getLong(0) -> r.getLong(1))
      }
      (kept.toSet, dropped.toMap)
    }
    val flat = runWith(Seq.empty)
    val bucketed = runWith(Seq("bucket" -> "bucket[8]"))
    assert(bucketed === flat, "partitioned index changed dedup decisions")
  }
}
