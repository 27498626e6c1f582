package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s three result lines — the stdout JSON, the
  * `bench/last_run.json` line and `BENCH_SUMMARY` — are parsed by the
  * tools that collect bench results, so their bytes are pinned here for
  * fixed inputs. The expected strings were produced by the earlier form
  * of `Bench.main`, which spelled each line out by hand. */
class BenchSpec extends AnyFunSuite {

  test("a sweep with a failed query and a contended run: all three lines") {
    val r = Bench.Result(
      medians = Seq("q01_a" -> 0.1, "q02_b" -> 0.2, "q03_c" -> 0.7, "q05_e" -> 1.25),
      bests = Seq("q01_a" -> 0.08, "q02_b" -> 0.15, "q03_c" -> 0.65, "q05_e" -> 1.125),
      failed = Seq("q04_d"), runs = 5, attempts = 2, noisePct = 12.345,
      heavyNoisePct = 23.456, heavyTrimPct = 21.05, spinPct = 3.14159,
      setupSecs = 4.5678, recall = Map("q26" -> 0.96, "q27" -> 1.0),
      sfDir = "/data/sf0.1")
    assert(r.contended)
    val (stdout, file, summary) = r.lines
    assert(stdout === """{"metric":"total","value":2.25,"unit":"sec","queries":{"q01_a":0.1,"q02_b":0.2,"q03_c":0.7,"q05_e":1.25},"runs_per_query":5,"best_total":2.005,"failed":["q04_d"],"heavy_total_s":1.95,"heavy_n":2,"within_run_spread_pct":12.3,"heavy_spread_pct":23.5,"heavy_trim_spread_pct":21.1,"spin_inflation_pct":3.1,"contended_run":true,"sweep_attempts":2,"queries_best":{"q01_a":0.08,"q02_b":0.15,"q03_c":0.65,"q05_e":1.125},"setup":{"build_ivf_index":4.5678},"recall":{"q26":0.96,"q27":1.0},"sf":"/data/sf0.1"}""")
    assert(file === """{"metric":"total","value":2.25,"unit":"sec","queries":{"q01_a":0.1,"q02_b":0.2,"q03_c":0.7,"q05_e":1.25},"runs_per_query":5,"best_total":2.005,"failed":["q04_d"],"heavy_total_s":1.95,"heavy_n":2,"within_run_spread_pct":12.3,"heavy_spread_pct":23.5,"heavy_trim_spread_pct":21.1,"spin_inflation_pct":3.1,"contended_run":true,"sweep_attempts":2,"setup":{"build_ivf_index":4.5678},"recall":{"q26":0.96,"q27":1.0},"sf":"/data/sf0.1"}""")
    assert(summary === """BENCH_SUMMARY {"total_s":2.25,"best_total_s":2.01,"n_queries":4,"n_failed":1,"heavy_total_s":1.95,"heavy_n":2,"within_run_spread_pct":12.3,"heavy_spread_pct":23.5,"heavy_trim_spread_pct":21.1,"spin_inflation_pct":3.1,"contended_run":true,"sweep_attempts":2,"runs_per_query":5,"recall":{"q26":0.96,"q27":1.0},"sf":"/data/sf0.1"}""")
  }

  test("a calm single-query sweep: no failed field, empty recall") {
    val r = Bench.Result(
      medians = Seq("q01_a" -> 0.3), bests = Seq("q01_a" -> 0.25),
      failed = Seq.empty, runs = 1, attempts = 1, noisePct = 0.0,
      heavyNoisePct = 0.0, heavyTrimPct = 0.0, spinPct = 0.0,
      setupSecs = 0.0, recall = Map.empty, sfDir = "sf")
    assert(!r.contended)
    val (stdout, file, summary) = r.lines
    assert(stdout === """{"metric":"total","value":0.3,"unit":"sec","queries":{"q01_a":0.3},"runs_per_query":1,"best_total":0.25,"heavy_total_s":0.00,"heavy_n":0,"within_run_spread_pct":0.0,"heavy_spread_pct":0.0,"heavy_trim_spread_pct":0.0,"spin_inflation_pct":0.0,"contended_run":false,"sweep_attempts":1,"queries_best":{"q01_a":0.25},"setup":{"build_ivf_index":0.0},"recall":{},"sf":"sf"}""")
    assert(file === """{"metric":"total","value":0.3,"unit":"sec","queries":{"q01_a":0.3},"runs_per_query":1,"best_total":0.25,"heavy_total_s":0.00,"heavy_n":0,"within_run_spread_pct":0.0,"heavy_spread_pct":0.0,"heavy_trim_spread_pct":0.0,"spin_inflation_pct":0.0,"contended_run":false,"sweep_attempts":1,"setup":{"build_ivf_index":0.0},"recall":{},"sf":"sf"}""")
    assert(summary === """BENCH_SUMMARY {"total_s":0.30,"best_total_s":0.25,"n_queries":1,"n_failed":0,"heavy_total_s":0.00,"heavy_n":0,"within_run_spread_pct":0.0,"heavy_spread_pct":0.0,"heavy_trim_spread_pct":0.0,"spin_inflation_pct":0.0,"contended_run":false,"sweep_attempts":1,"runs_per_query":1,"recall":{},"sf":"sf"}""")
  }
}
