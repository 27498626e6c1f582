package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed BPE training + native encode ([[Bpe]],
  * [[graft.functions.BpeTokens]]) against a straightforward driver-side
  * reference implementation of Sennrich et al. 2016. The distributed
  * trainer with candidatesPerRound=1 must reproduce the reference's merge
  * sequence EXACTLY (same tie-break: frequency desc, pair asc); the
  * batched trainer must encode to the same result wherever its batches
  * were conflict-free; round-trip and compression invariants hold for
  * every model. */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---- driver-side reference BPE -----------------------------------------

  private def refHistogram(corpus: Seq[String]): Map[String, Long] =
    corpus.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def refPairCounts(hist: Map[Seq[String], Long]): Map[(String, String), Long] = {
    val c = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    hist.foreach { case (syms, f) =>
      syms.sliding(2).foreach { case Seq(a, b) => c((a, b)) += f; case _ => () }
    }
    c.toMap
  }

  private def refMergeWord(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.size) {
      if (i < syms.size - 1 && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** One merge per round, tie-break (freq desc, pair-string asc) — the
    * exact contract the distributed trainer promises. */
  private def refTrain(corpus: Seq[String], numMerges: Int,
                       minFreq: Long = 2): Seq[(String, String)] = {
    var hist: Map[Seq[String], Long] =
      refHistogram(corpus).map { case (w, f) => (w.map(_.toString): Seq[String]) -> f }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    while (merges.size < numMerges) {
      val pc = refPairCounts(hist)
      if (pc.isEmpty) return merges.toSeq
      val ((a, b), f) = pc.minBy { case ((x, y), n) => (-n, x + "" + y) }
      if (f < minFreq) return merges.toSeq
      merges += ((a, b))
      hist = hist.toSeq.map { case (syms, fr) => refMergeWord(syms, a, b) -> fr }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    }
    merges.toSeq
  }

  private def refEncode(word: String, merges: Seq[(String, String)]): Seq[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms: Seq[String] = word.map(_.toString)
    var done = syms.size < 2
    while (!done) {
      val best = syms.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if rank.contains((a, b)) => (rank((a, b)), i, a, b)
      }.toSeq.sortBy(t => (t._1, t._2)).headOption
      best match {
        case Some((_, _, a, b)) =>
          syms = refMergeWord(syms, a, b)
          if (syms.size < 2) done = true
        case None => done = true
      }
    }
    syms
  }

  // ---- fixtures ----------------------------------------------------------

  private val corpus = Seq(
    "the cat sat on the mat",
    "the catalog lists the category of the cat",
    "that cat and that hat on the mat",
    "low lower lowest slower slowest",
    "new newer newest fewer fewest",
    "the the the then there these")

  private def corpusDf: DataFrame = {
    import spark.implicits._
    corpus.toDF("text")
  }

  test("single-candidate training reproduces the reference merge sequence exactly") {
    val got = Bpe.train(Bpe.wordHistogram(corpusDf, "text"),
      numMerges = 12, candidatesPerRound = 1).merges
    val want = refTrain(corpus, 12)
    assert(got === want)
  }

  test("train pins the round loop, merges match the reference, " +
    "every pinned generation released") {
    val hist = Bpe.wordHistogram(corpusDf, "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pinned = Bpe.train(hist, 12, candidatesPerRound = 1)
    assert(pinned.merges === refTrain(corpus, 12), "pinning must not change training")
    // unpersist is async — poll for our generations to vanish
    val deadline = System.currentTimeMillis() + 5000
    while (spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "train must release every pinned generation")
  }

  test("native encode matches the reference encoder word by word") {
    val model = Bpe.Model(refTrain(corpus, 12))
    val words = corpus.flatMap(_.split("\\s+")).distinct
    import spark.implicits._
    val got = words.toDF("text")
      .select(col("text"), model.tokens(col("text")).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach { w =>
      assert(got(w) === refEncode(w.toLowerCase, model.merges), s"word: $w")
    }
  }

  test("batched training: valid model — lossless round-trip, monotone compression") {
    val hist = Bpe.wordHistogram(corpusDf, "text")
    val m4 = Bpe.train(hist, 4, candidatesPerRound = 16)
    val m16 = Bpe.train(hist, 16, candidatesPerRound = 16)
    assert(m16.merges.take(0).isEmpty || m16.merges.size >= m4.merges.size)
    import spark.implicits._
    val df = corpusDf
    // round-trip: concatenating a word's tokens reproduces the word
    val words = corpus.flatMap(_.toLowerCase.split("\\s+")).distinct.toDF("w")
    val bad = words.select(col("w"),
        concat_ws("", m16.tokens(col("w"))).as("rt"))
      .filter(col("w") =!= col("rt")).count()
    assert(bad === 0, "BPE tokenization must be lossless per word")
    // compression: more merges → no more tokens than fewer merges; both
    // bounded below by the word count
    val t0 = df.select(sum(size(split(lower(col("text")), "")))).head.getLong(0)
    val t4 = df.select(sum(m4.tokenCount(col("text")))).head.getLong(0)
    val t16 = df.select(sum(m16.tokenCount(col("text")))).head.getLong(0)
    val nWords = df.select(sum(size(split(lower(col("text")), "\\s+")))).head.getLong(0)
    assert(t4 < t0, "4 merges must compress below character count")
    assert(t16 <= t4, "more merges cannot produce more tokens")
    assert(t16 >= nWords, "tokens are bounded below by word count")
  }

  test("batched rounds agree with sequential merges when pairs don't interact") {
    // construct a corpus whose top pairs are disjoint by design
    val c = Seq.fill(20)("ab ab cd cd ef ef").mkString(" ")
    import spark.implicits._
    val df = Seq(c).toDF("text")
    val batched = Bpe.train(Bpe.wordHistogram(df, "text"), 3, candidatesPerRound = 8)
    val oneAtATime = Bpe.train(Bpe.wordHistogram(df, "text"), 3, candidatesPerRound = 1)
    assert(batched.merges.toSet === oneAtATime.merges.toSet)
    val enc = df.select(batched.tokens(col("text")).as("t")).head.getSeq[String](0)
    assert(enc.toSet === Set("ab", "cd", "ef"))
  }

  test("training stops below minFreq; empty corpus yields empty model") {
    import spark.implicits._
    val tiny = Seq("x y z").toDF("text") // every pair has freq 0 (1-char words)
    assert(Bpe.train(Bpe.wordHistogram(tiny, "text"), 10).merges.isEmpty)
    val empty = Seq.empty[String].toDF("text")
    assert(Bpe.train(Bpe.wordHistogram(empty, "text"), 10).merges.isEmpty)
  }

  test("documents-table smoke: model trains and tokenizes at documents scale") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = Bpe.train(docs, "text", numMerges = 32)
    assert(model.merges.size === 32)
    val stats = docs.select(
      sum(model.tokenCount(col("text"))).as("bpe"),
      sum(size(split(lower(col("text")), "\\s+"))).as("words"),
      sum(length(col("text"))).as("chars"))
      .head()
    val (bpe, words, chars) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    assert(bpe > words && bpe < chars,
      s"token count $bpe should sit between words $words and chars $chars")
  }
}
