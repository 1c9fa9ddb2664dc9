package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact's hot-coverage schema (round 11, VERDICT
  * r10 ask #2): `hot_total` must be JSON `null` — not a partial sum —
  * whenever any completed query has zero hot reps, and
  * `n_hot_covered` is always emitted so a reader can see the coverage
  * either way. The r10 degraded-box artifact published hot_total 42.8
  * over the 95 cheapest queries (87 expensive ones at 0 reps), which
  * read as a 2× improvement over r9's full-coverage 79.7; this schema
  * makes that misread impossible.
  */
class BenchArtifactSpec extends AnyFunSuite {

  test("full hot coverage publishes the numeric total") {
    val j = Bench.hotCoverageJson(nCompleted = 182, nHotCovered = 182,
      hotTotal = 79.671)
    assert(j == """"hot_total":79.671,"n_hot_covered":182""")
  }

  test("partial hot coverage nulls hot_total and keeps the count") {
    val j = Bench.hotCoverageJson(nCompleted = 182, nHotCovered = 95,
      hotTotal = 42.84)
    assert(j == """"hot_total":null,"n_hot_covered":95""")
  }

  test("zero completed queries is full (vacuous) coverage, total 0") {
    val j = Bench.hotCoverageJson(nCompleted = 0, nHotCovered = 0,
      hotTotal = 0.0)
    assert(j == """"hot_total":0.000,"n_hot_covered":0""")
  }

  // Round 12, VERDICT r11 ask #1b: the merged cross-run prior
  // BENCH_FULL.json was clobbered by a round-head run twice (r10, r11).
  // Pin structurally that NO default artifact path is the merged prior:
  // a full-suite run goes to a timestamped side file (+ target scratch),
  // and folding it into the prior is an explicit bench_merge.py step.
  test("default full-suite artifact paths never include the merged prior") {
    val paths = Bench.artifactPaths(benchOut = None, filtered = false,
      stampSec = 1755244800L)
    assert(!paths.contains(Bench.MergedPriorPath))
    assert(paths.contains("target/bench.json"))
    assert(paths.exists(_.startsWith("bench_run_")),
      s"expected a timestamped side file among $paths")
  }

  test("a SPARK_GRAFT_ONLY filtered run writes only the target scratch copy") {
    val paths = Bench.artifactPaths(benchOut = None, filtered = true,
      stampSec = 1755244800L)
    assert(paths == Seq("target/bench.json"))
  }

  test("SPARK_GRAFT_BENCH_OUT redirects wholesale, even if set to the prior") {
    assert(Bench.artifactPaths(Some("/tmp/x.json"), filtered = false,
      stampSec = 0L) == Seq("/tmp/x.json"))
  }

  // Round 17, VERDICT r16 ask #7: the requeue rule must be SYMMETRIC —
  // the r16 one-sided form (only slow samples resampled, min-of-reps
  // kept) biased published heads downward. Pin that it fires in BOTH
  // directions around the calib-scaled expected value, and not inside
  // the band.
  test("outlier requeue rule fires both directions, calib-scaled") {
    // healthy box (ratio 1): band is [prior/1.5, prior*1.5]
    assert(Bench.isOutlier(t = 3.1, prior = 2.0, calibRatio = 1.0))   // slow
    assert(Bench.isOutlier(t = 1.2, prior = 2.0, calibRatio = 1.0))   // fast
    assert(!Bench.isOutlier(t = 2.5, prior = 2.0, calibRatio = 1.0))  // in band
    assert(!Bench.isOutlier(t = 1.5, prior = 2.0, calibRatio = 1.0))  // in band
    // degraded box (ratio 2): the slow bar scales to 2x prior x 1.5,
    // the fast bar stays at prior/1.5 (bursty interference — a sample
    // at the healthy level is the true cost, not an anomaly)
    assert(!Bench.isOutlier(t = 3.1, prior = 2.0, calibRatio = 2.0))
    assert(Bench.isOutlier(t = 6.2, prior = 2.0, calibRatio = 2.0))
    assert(!Bench.isOutlier(t = 2.0, prior = 2.0, calibRatio = 2.0))
    assert(Bench.isOutlier(t = 1.2, prior = 2.0, calibRatio = 2.0))
    // no prior: never an outlier (advisory rule only)
    assert(!Bench.isOutlier(t = 99.0, prior = -1.0, calibRatio = 1.0))
  }

  test("artifact metadata names the symmetric outlier band and every memo server") {
    assert(Bench.OutlierRule ==
      "requeue_once_above_1.5x_prior_calib_scaled_or_below_prior_over_1.5")
    assert(Bench.MemoizedHot.contains("layout_bucket"))
    assert(Bench.MemoizedHot.distinct.size == Bench.MemoizedHot.size)
  }

  // Round 13, VERDICT r12 #3: the merged prior must carry HONEST
  // provenance — best-of calib_s, degraded only when every source was
  // degraded, and a merged_from list. The rule lives in
  // scripts/bench_merge.py; its --selftest pins it and this test keeps
  // the selftest in the suite.
  test("bench_merge.py provenance rule selftest passes") {
    import scala.sys.process._
    val out = new StringBuilder
    val code = Process(Seq("python3", "scripts/bench_merge.py", "--selftest"),
      new java.io.File(".")) ! ProcessLogger(s => out.append(s).append('\n'))
    assert(code == 0, out.toString)
    assert(out.toString.contains("bench_merge selftest OK"), out.toString)
  }
}
