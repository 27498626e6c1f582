package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Distributed byte-pair-encoding tokenizer TRAINING (Sennrich et al.
  * 2016 — the vocabulary-learning half of the GPT-2/LLaMA tokenizer
  * family), Spark-first.
  *
  * The scale factorization is the classical one: BPE statistics depend
  * only on the corpus's WORD HISTOGRAM, so the 100 TB corpus is scanned
  * exactly ONCE (explode → groupBy word → count, map-side combined into a
  * vocabulary-sized table, ~10^6-10^8 rows under Zipf), and every
  * training round then shuffles only the histogram — never the corpus.
  * Each round:
  *   1. adjacent symbol pairs per word via `zip_with(symbols,
  *      slice(symbols, 2, …))` — codegen'd SQL, no UDF;
  *   2. frequency-weighted pair counts (one map-side-combined groupBy);
  *   3. top candidates to the driver (bounded: `candidatesPerRound`
  *      rows), greedily filtered to mutually NON-CONFLICTING pairs (no
  *      shared symbol), so a whole BATCH of merges applies in one pass —
  *      the standard trick that cuts rounds ~batch-fold vs one-merge-
  *      per-round, at identical results for non-interacting pairs;
  *   4. the batch applied to every word with a single `aggregate` fold
  *      over the symbol array (again pure SQL: the accumulator carries
  *      (out, prev) and a broadcast `map` literal holds pair→merged).
  *
  * Every few rounds the evolving words frame is pinned through
  * [[graft.Materialize]] — a leaf plan over stored rows, the same
  * discipline as the connected-components loop (Dedup.scala) — and every
  * pinned generation is released before `train` returns.
  *
  * Encoding/inference is [[graft.functions.BpeTokens]]: the learned
  * ranks ride the plan as a literal, so tokenization is a scan-local map.
  */
object Bpe {

  /** Separator for pair keys inside the fold's lookup map — a control
    * character [[wordHistogram]] filters out of the vocabulary, so no
    * legitimate symbol can collide with a pair key. */
  private val Sep = "\u0001"

  final case class Model(merges: Seq[(String, String)]) {
    def tokens(text: Column): Column = graft.functions.BpeTokens.tokens(text, merges)
    def tokenCount(text: Column): Column = size(tokens(text))
  }

  /** One corpus scan → (word, freq) histogram. Lowercased, whitespace
    * tokenization — the same normalization the encoder applies. */
  def wordHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "" && !col("word").contains(Sep))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Learn up to `numMerges` merges from a word histogram.
    *
    * `candidatesPerRound` bounds the driver fetch per round; the batch
    * applied is its greedy non-conflicting prefix. `minFreq` stops
    * training when the best remaining pair is rarer than it.
    * Deterministic: candidates are ranked (freq DESC, pair ASC). */
  def train(hist: DataFrame, numMerges: Int,
            candidatesPerRound: Int = 64, minFreq: Long = 2): Model = {
    require(numMerges >= 0 && candidatesPerRound >= 1)
    val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = { val p = graft.Materialize(df); pinned += p; p }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // symbols: the word as its character array
    var words = pin(hist.select(
      split(col("word"), "").as("symbols"), col("freq")))
    var rounds = 0
    try while (merges.size < numMerges) {
      val remaining = numMerges - merges.size
      val top = pairCounts(words)
        .orderBy(col("pfreq").desc, col("pair").asc)
        .limit(candidatesPerRound)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .filter(_._2 >= minFreq)
      if (top.isEmpty) return Model(merges.toSeq)
      // greedy non-conflicting batch: no symbol may appear in two merges
      // of the same batch (so one fold pass applies them all exactly as
      // sequential application would)
      val used = scala.collection.mutable.Set[String]()
      val batch = top.iterator.map(_._1.split(Sep, 2))
        .collect { case Array(a, b) => (a, b) }
        .filter { case (a, b) =>
          val free = !used(a) && !used(b)
          if (free) { used += a; used += b }
          free
        }
        .take(remaining).toSeq
      if (batch.isEmpty) return Model(merges.toSeq)
      merges ++= batch
      words = applyMerges(words, batch)
      rounds += 1
      if (rounds % 4 == 0)
        // cut the chained-fold plan like the CC loop does
        words = pin(words)
    } finally pinned.foreach(graft.Materialize.release(_))
    Model(merges.toSeq)
  }

  /** Convenience: histogram + train in one call. */
  def train(df: DataFrame, textCol: String, numMerges: Int): Model =
    train(wordHistogram(df, textCol), numMerges)

  /** Frequency-weighted adjacent-pair counts over (symbols, freq). */
  private[operators] def pairCounts(words: DataFrame): DataFrame =
    words.select(explode(zip_with(
        col("symbols"),
        slice(col("symbols"), lit(2), greatest(size(col("symbols")) - 1, lit(0))),
        (a, b) => concat_ws(Sep, a, b))).as("pair"),
      col("freq"))
      // zip_with pads the shorter side with null; concat_ws renders the
      // padded tail as the bare left symbol with no separator — drop it
      .filter(col("pair").contains(Sep))
      .groupBy("pair").agg(sum(col("freq")).as("pfreq"))

  /** Apply a non-conflicting merge batch to every word's symbol array in
    * ONE `aggregate` fold (pure SQL, codegen'd — no UDF): the accumulator
    * is (out, prev); a broadcast map literal resolves pair→merged. */
  private[operators] def applyMerges(words: DataFrame,
                                     batch: Seq[(String, String)]): DataFrame = {
    val keys = typedlit(batch.map { case (a, b) => a + Sep + b })
    val vals = typedlit(batch.map { case (a, b) => a + b })
    val lookup = map_from_arrays(keys, vals)
    val empty = lit("").cast(StringType)
    def acc(out: Column, prev: Column): Column =
      struct(out.as("out"), prev.as("prev"))
    val folded = aggregate(
      col("symbols"),
      acc(lit(Array.empty[String]).cast(ArrayType(StringType)), empty),
      (st, s) => {
        val out = st.getField("out")
        val prev = st.getField("prev")
        val merged = element_at(lookup, concat(prev, lit(Sep), s))
        when(prev === "", acc(out, s))
          .when(merged.isNotNull, acc(concat(out, array(merged)), empty))
          .otherwise(acc(concat(out, array(prev)), s))
      },
      st => when(st.getField("prev") === "", st.getField("out"))
        .otherwise(concat(st.getField("out"), array(st.getField("prev")))))
    words.select(folded.as("symbols"), col("freq"))
  }
}
