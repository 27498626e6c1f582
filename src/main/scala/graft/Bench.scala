package graft

/** Driver-run benchmark: one JSON line with per-query wall-clock at the
  * SPARK_GRAFT_SF_DIR scale factor. Queries run in registry order
  * (deterministic), each fully materialized via count(). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    // named offline step (the parquet-dir twin of CALL lake.system
    // .build_ivf_index): build the IVF index before timing, report the
    // cost under "setup" — an index build is maintenance like
    // rewrite_data_files, not query time, and must not hide inside q27
    val setupT0 = System.nanoTime()
    queries.VectorOps.ensureIvfIndex(spark, sfDir)
    val setupSecs = (System.nanoTime() - setupT0) / 1e9
    System.err.println(f"[bench] setup build_ivf_index $setupSecs%.2f s")
    // median-of-N (default 5): best-of-2 could not distinguish a real 1.5×
    // regression from the ±18% run-to-run noise observed on byte-identical
    // code; the median of 5 is stable enough that two consecutive bench
    // invocations agree on the headline total within a few percent
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt.max(1)
    // NonFatal only: an OOM-poisoned JVM must fail the bench loudly, not
    // keep "timing" queries in a degraded heap
    import scala.util.control.NonFatal
    // Single-threaded CPU honesty probe (r17): a fixed xorshift workload
    // (~30-60 ms) timed once per query, between queries. External CPU
    // pressure — another Spark JVM fighting for the cores — inflates it
    // roughly in proportion to the oversubscription, INDEPENDENT of query
    // variance, giving the contended-run flag a signal that per-query
    // spread statistics at sf1 no longer carry (sub-second queries jitter
    // 20-30% on a provably idle box; see SCALEPROBE r17).
    def spinProbe(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 5).foreach(_ => spinProbe()) // JIT the probe before trusting it
    def sweep(): (Seq[(String, Double, Double, (Double, Double), Boolean)], Seq[Double]) = {
      val spins = Seq.newBuilder[Double]
      val rows = QueryRegistry.all.filter(_.bench).map { spec =>
        spins += spinProbe()
        // one untimed warmup absorbs codegen compilation + C2 JIT of the
        // generated classes (q19's wide IN-list projection measured 1.8-3.2s
        // cold vs 0.40s steady-state); the median then sits on warm runs
        try spec.fn(spark, sfDir).count() catch { case NonFatal(_) => () }
        var failed = false
        val times = (1 to runs).map { i =>
          val t0 = System.nanoTime()
          val n = try spec.fn(spark, sfDir).count() catch { case NonFatal(e) =>
            failed = true
            System.err.println(s"[bench] ${spec.name} run=$i FAILED: ${e.getMessage}")
            -1L
          }
          val s = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] ${spec.name} run=$i rows=$n $s%.2f s")
          s
        }.sorted
        val median =
          if (times.size % 2 == 1) times(times.size / 2)
          else (times(times.size / 2 - 1) + times(times.size / 2)) / 2.0
        val spreadPct = if (median > 0) (times.last - times.head) / median * 100 else 0.0
        // trimmed spread: range of the middle runs (best and worst of the
        // 5 dropped). A lone GC/IO hiccup in one run is measurement
        // noise; sustained contention inflates the middle runs too.
        val trimPct =
          if (median > 0 && times.size >= 4)
            (times(times.size - 2) - times(1)) / median * 100
          else spreadPct
        (spec.name, median, times.head, (spreadPct, trimPct), failed)
      }
      (rows, spins.result())
    }
    // Spread statistics (r17): per-query full range (max-min)/median is
    // reported for the whole registry and for the >0.5 s heavy cohort,
    // but the GATING statistic is the heavy cohort's TRIMMED range —
    // middle three of the 5 runs, best and worst dropped. Measured on
    // provably-solo sf1 sweeps: all-query full range 21-28%, heavy full
    // range 21.8-24.5% (a single GC/IO-hiccup run out of 5 dominates the
    // range), heavy trimmed 7.7-12.5%. Sustained contention inflates the
    // middle runs too, so the trimmed statistic keeps its signal while
    // idle-box jitter stays well under the 20% threshold. Falls back to
    // the all-query trimmed median when the heavy cohort is too small
    // (<5 queries — e.g. tiny SF dirs).
    def spreadStats(rs: Seq[(String, Double, Double, (Double, Double), Boolean)])
        : (Double, Double, Double) = {
      val okRs = rs.filter(!_._5)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
      val allMed = med(okRs.map(_._4._1))
      val hv = okRs.filter(_._2 > 0.5)
      val heavyFull = if (hv.size >= 5) med(hv.map(_._4._1)) else allMed
      val heavyTrim =
        if (hv.size >= 5) med(hv.map(_._4._2)) else med(okRs.map(_._4._2))
      (allMed, heavyFull, heavyTrim)
    }
    // The second, independent honesty signal: inflation of the fixed
    // single-threaded spin probe across the sweep. p90/min exceeding +50%
    // means something else held the cores for a meaningful slice of the
    // sweep — a second 32-thread JVM roughly DOUBLES the probe, while a
    // solo run holds p90/min within a few percent (the probe shares no
    // state with Spark and runs between queries).
    def spinInflation(spins: Seq[Double]): Double =
      if (spins.size < 10) 0.0
      else {
        val sorted = spins.sorted
        val p90 = sorted((sorted.size * 9) / 10 min (sorted.size - 1))
        (p90 / sorted.head - 1.0) * 100.0
      }
    def noiseOf(rs: Seq[(String, Double, Double, (Double, Double), Boolean)]): Double =
      spreadStats(rs)._3
    // auto re-run when the contended-box flag trips (r8's driver run hit
    // 23.3% spread and its absolute numbers were incomparable): one fresh
    // sweep, keeping whichever measured calmer. Both sweeps in this JVM,
    // so the discarded one still served as extra JIT warmup. Opt out with
    // SPARK_GRAFT_BENCH_RETRY=0 (e.g. when iterating locally).
    val retryAllowed = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "1") != "0"
    def contendedOf(rs: Seq[(String, Double, Double, (Double, Double), Boolean)],
                    spins: Seq[Double]): Boolean =
      noiseOf(rs) > 20.0 || spinInflation(spins) > 50.0
    var (results, spins) = sweep()
    var attempts = 1
    if (retryAllowed && contendedOf(results, spins)) {
      System.err.println(f"[bench] first sweep contended " +
        f"(trim spread ${noiseOf(results)}%.1f%%, spin inflation " +
        f"${spinInflation(spins)}%.1f%%) — re-running once")
      val (results2, spins2) = sweep()
      attempts = 2
      if (noiseOf(results2) + spinInflation(spins2).min(100.0) <
          noiseOf(results) + spinInflation(spins).min(100.0)) {
        results = results2; spins = spins2
      }
    }
    // a permanently-failing query times out in microseconds — summing its
    // near-zero "median" would make the bench look FASTER after a breaking
    // change. Report failures in their own field, excluded from the totals.
    val (ok, bad) = results.partition(!_._5)
    // median over queries of per-query (max-min)/median: the measurement
    // precision WITHIN this JVM. Cross-invocation totals additionally move
    // ~10% from per-JVM JIT/codegen differences (measured on byte-identical
    // code); a cross-round delta is only a regression if it clears both.
    val (noisePct, heavyNoisePct, heavyTrimPct) = spreadStats(ok)
    val result = Result(
      medians = ok.map(r => r._1 -> r._2), bests = ok.map(r => r._1 -> r._3),
      failed = bad.map(_._1), runs = runs, attempts = attempts,
      noisePct = noisePct, heavyNoisePct = heavyNoisePct,
      heavyTrimPct = heavyTrimPct, spinPct = spinInflation(spins),
      setupSecs = setupSecs,
      // measured ANN quality at this scale factor, reported next to the
      // timings (recall@10 vs exact kNN at the registered q26/q27 params)
      recall = queries.VectorOps.annRecall(spark, sfDir), sfDir = sfDir)
    if (result.contended)
      System.err.println(f"[bench] CONTENDED RUN — heavy trimmed spread " +
        f"$heavyTrimPct%.1f%% / spin inflation ${result.spinPct}%.1f%% exceed the " +
        "contention thresholds (20%%/50%%); wall-clock numbers are not " +
        "comparable to idle-box rounds")
    val (stdoutLine, fileLine, summaryLine) = result.lines
    println(stdoutLine)
    // r18: persist the full per-query JSON to a file too. The round
    // artifact keeps only a 2000-char TAIL of stdout, which truncates the
    // per-query map — PERF_r17 lost its entire round-over-round baseline
    // to that (prev_bench_ok=false, every query "new_in_bench"). The file
    // gives the next round a committed, complete baseline regardless of
    // how stdout is captured. Best-effort (after all timing, never fails
    // the bench); path overridable for sandboxed runs.
    try {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/last_run.json")
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, java.util.Arrays.asList(fileLine),
        java.nio.charset.StandardCharsets.UTF_8)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not persist bench/last_run.json: ${e.getMessage}")
    }
    println(summaryLine)
    spark.stop()
  }

  /** What one finished sweep reports: per-query medians and best runs of
    * the queries that succeeded, the names of those that failed, and the
    * run-quality statistics computed in `main`. */
  private[graft] final case class Result(
      medians: Seq[(String, Double)], bests: Seq[(String, Double)],
      failed: Seq[String], runs: Int, attempts: Int,
      noisePct: Double, heavyNoisePct: Double, heavyTrimPct: Double,
      spinPct: Double, setupSecs: Double, recall: Map[String, Double],
      sfDir: String) {

    // contended-box detector (r17 rebuild — the r11-r16 all-query 20%
    // gate fired on provably-solo sf1 runs, see spreadStats): trips when
    // EITHER the heavy cohort's trimmed spread clears 20% (sustained
    // noise in the runs that can actually resolve it) OR the spin probe
    // inflates past 50% (direct evidence of external CPU pressure).
    // Flagged runs' totals should be compared only against other
    // flagged runs, if at all.
    def contended: Boolean = heavyTrimPct > 20.0 || spinPct > 50.0

    /** The stdout JSON line, the `bench/last_run.json` line and the
      * `BENCH_SUMMARY` line, in that order. The file line is the stdout
      * line without `queries_best`; the summary repeats the shared run
      * statistics. Each field is formatted once here, so the three lines
      * cannot drift apart. */
    def lines: (String, String, String) = {
      def obj(kv: Iterable[(String, Double)]) =
        kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val total = medians.map(_._2).sum
      val bestTotal = bests.map(_._2).sum
      // heavy subtotal (r16): at 100+ queries the per-query median is
      // ~0.3 s and the ±15-20% spread band is larger than most individual
      // queries, so a regression in a heavy query can hide inside the
      // noise of the long tail. Track the >0.5 s cohort separately —
      // that's where round-over-round regressions are actually resolvable.
      val heavy = medians.map(_._2).filter(_ > 0.5)
      val failedField =
        if (failed.isEmpty) ""
        else failed.map("\"" + _ + "\"").mkString("\"failed\":[", ",", "],")
      val stats =
        f""""heavy_total_s":${heavy.sum}%.2f,"heavy_n":${heavy.size},""" +
          f""""within_run_spread_pct":$noisePct%.1f,"heavy_spread_pct":$heavyNoisePct%.1f,""" +
          f""""heavy_trim_spread_pct":$heavyTrimPct%.1f,"spin_inflation_pct":$spinPct%.1f,""" +
          s""""contended_run":$contended,"sweep_attempts":$attempts,"""
      val tail = s""""recall":${obj(recall)},"sf":"$sfDir"}"""
      val head = s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(medians)},""" +
        s""""runs_per_query":$runs,"best_total":$bestTotal,$failedField$stats"""
      val setup = s""""setup":{"build_ivf_index":$setupSecs},"""
      (head + s""""queries_best":${obj(bests)},""" + setup + tail,
        head + setup + tail,
        // compact second stdout line: the round artifact captures the
        // TAIL of stdout, and r7's full JSON lost its head (headline
        // total, q01-q03, the contended flag) to truncation. Every
        // headline field repeats here so any tail capture stays
        // self-contained.
        f"""BENCH_SUMMARY {"total_s":$total%.2f,"best_total_s":$bestTotal%.2f,""" +
          s""""n_queries":${medians.size},"n_failed":${failed.size},$stats""" +
          s""""runs_per_query":$runs,""" + tail)
    }
  }
}
