package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's failed-late accounting invariant (round-6 advisor finding,
  * now encoded instead of manually re-read each round): a query with
  * samples from early passes AND an error from a later pass must settle
  * into NO tier — a broken query must never look like a fast one.
  */
class BenchAccountingSpec extends AnyFunSuite {

  private val samples = Map(
    "q_ok" -> List(1.0, 1.1, 0.9),
    "q_failed_late" -> List(0.2), // succeeded pass 1, failed pass 2
    "q_never_ran" -> Nil
  ).filter(_._2.nonEmpty)
  private val errors = Map(
    "q_failed_late" -> "boom on pass 2",
    "q_failed_immediately" -> "boom on pass 1"
  )

  test("a query that failed on a later pass contributes to no total") {
    val names = Seq("q_ok", "q_failed_late", "q_failed_immediately", "q_unknown")
    assert(Bench.settled(names, samples, errors) == Seq("q_ok"))
  }

  test("the metrics record a query keeps is the one of its median run") {
    def run(wallS: Double, jobs: Int) = QueryMetrics.Record(wallS, jobs, jobs, jobs, 0.0, 0L, 0L, 0L, Nil)
    for (runs <- Seq(List(run(1.1, 1), run(0.9, 2), run(1.0, 3)), List(run(2.0, 1), run(1.0, 2), run(3.0, 3), run(4.0, 4), run(0.5, 5)))) {
      val kept = Bench.medianRun(runs)
      assert(kept.wallS == Bench.median(runs.map(_.wallS)), runs)
    }
    assert(Bench.medianRun(List(run(0.7, 9))).jobs == 9)
  }

  test("order and duplicates of the tier list are preserved for the settled subset") {
    assert(Bench.settled(Seq("q_ok", "q_ok"), samples, errors) == Seq("q_ok", "q_ok"))
    assert(Bench.settled(Seq.empty, samples, errors).isEmpty)
  }

  test("streaming queries get the 5-run noise-proof tier; batch 3; verification-only 1") {
    // round-8 verdict: t7 spanned 2.9-14.7 s inside one median-of-3 —
    // the streaming tier must run enough passes for the median to vote
    // out two host-contention outliers, and the spread (min/max/runs)
    // must be recorded per query (fmtTier emits them for every entry).
    for (t <- Seq("t2_windowed_counts_batch_eq", "t5_stream_textstats_batch_eq", "t9_stream_neardup_ingest_batch_eq"))
      assert(Bench.runsFor(t) == Bench.STREAM_RUNS && Bench.STREAM_RUNS == 5, t)
    assert(Bench.runsFor("q1_pricing_summary") == Bench.RUNS)
    assert(Bench.runsFor("llm_ann_lsh") == Bench.RUNS)
    assert(Bench.runsFor("llm_ann_recall") == 1)
    assert(Bench.runsFor("llm_ann_clustered_recall") == 1)
    // the prefix match must not leak beyond the t-family
    assert(!Bench.isStreaming("llm_tfidf") && !Bench.isStreaming("q1_pricing_summary"))
  }

  test("streaming tier is the registry, not a name pattern (round-9 advisor)") {
    // every streaming-module query gets the 5-run tier...
    val registered = graft.queries.StreamingQueries.all.map(_.name)
    assert(registered.nonEmpty)
    registered.foreach(n => assert(Bench.isStreaming(n), n))
    // ...and a hypothetical non-streaming name that merely LOOKS like the
    // old t\d pattern does not inherit it
    assert(!Bench.isStreaming("t2_totally_batch_lookalike"))
  }

  test("median total and min total are computed from the same settled set") {
    // q_failed_late has a sample AND an error: it must be excluded from
    // BOTH totals, and the min total must sum per-query mins of exactly
    // the settled queries — never a different subset (round-9 verdict:
    // the noise-robust headline is only comparable round-over-round if
    // both numbers cover the same queries).
    val s = Map(
      "a" -> List(3.0, 1.0, 2.0), // median 2.0, min 1.0
      "b" -> List(5.0, 5.0, 4.0), // median 5.0, min 4.0
      "q_failed_late" -> List(0.1)
    )
    val e = Map("q_failed_late" -> "boom")
    val (med, mn) = Bench.tierTotals(Seq("a", "b", "q_failed_late", "q_unknown"), s, e)
    assert(math.abs(med - 7.0) < 1e-9)
    assert(math.abs(mn - 5.0) < 1e-9)
  }

  test("heavy top-up selects measured-heavy and measured-noisy queries only") {
    // heavy: median >= 5 s even when perfectly stable
    assert(Bench.needsTopUp(List(5.0, 5.1, 5.2)))
    // noisy: spread beyond 1.5x even when fast — the round-11 ivf_kmeans
    // shape (min 4.8, max 13.2) that a 3-run median couldn't de-noise
    assert(Bench.needsTopUp(List(4.8, 10.8, 13.2)))
    assert(Bench.needsTopUp(List(2.5, 2.5, 4.0)))
    // fast and stable: stays at 3 runs
    assert(!Bench.needsTopUp(List(1.0, 1.1, 1.2)))
    // sub-floor jitter is not noise worth 2 extra runs (round 19: floor
    // raised to 2 s after the 0.5 s floor topped up ~90 sub-2 s queries
    // on the r18 box and the driver bench blew its wall-clock window)
    assert(!Bench.needsTopUp(List(0.2, 0.25, 0.35)))
    assert(!Bench.needsTopUp(List(1.0, 1.0, 1.6)))
    // even-length median (interrupted top-up) takes the upper median
    assert(math.abs(Bench.median(List(1.0, 2.0, 3.0, 4.0)) - 3.0) < 1e-9)
    // round 13: a single-run verification ledger tops up iff heavy — the
    // r12 hole was exactly 40.9/35.9/29.8/20.5 s queries with runs: 1
    assert(Bench.needsTopUp(List(20.5)))
    assert(!Bench.needsTopUp(List(1.7)))
  }

  test("top-up allocation is slowest-first, bounded by the global budget (round 19)") {
    val cands = Seq(
      "fast_noisy" -> List(2.1, 2.2, 4.0), // median 2.2, wants 2
      "vonly_heavy" -> List(20.5), // vonly, target 3: wants 2
      "heavy_a" -> List(9.0, 9.1, 9.2), // wants 2
      "heavy_b" -> List(6.0, 6.1, 6.2) // wants 2
    )
    val vonly: String => Boolean = _ == "vonly_heavy"
    // unbounded: everyone reaches target, ordered by median desc
    assert(
      Bench.allocateTopUp(cands, vonly, 100) ==
        Seq("vonly_heavy" -> 2, "heavy_a" -> 2, "heavy_b" -> 2, "fast_noisy" -> 2)
    )
    // budget 5: slowest-first, the last taker gets the remainder
    assert(
      Bench.allocateTopUp(cands, vonly, 5) ==
        Seq("vonly_heavy" -> 2, "heavy_a" -> 2, "heavy_b" -> 1)
    )
    // budget 0: nothing tops up
    assert(Bench.allocateTopUp(cands, vonly, 0).isEmpty)
    // a query already holding its target takes nothing (streaming tier at
    // 5 samples; vonly at 3)
    assert(
      Bench.allocateTopUp(Seq("t_stream" -> List(9.0, 9.0, 9.0, 9.0, 9.1)), _ => false, 10).isEmpty
    )
    assert(
      Bench.allocateTopUp(Seq("vonly3" -> List(20.0, 21.0, 22.0)), _ => true, 10).isEmpty
    )
  }

  test("round-19 bench-cost gates: redundant-shape index gates are verification-only") {
    // VERDICT r18 #6: staleness/policy/pruned time constructions already
    // timed by append/compact/lifecycle+filtered — they stay registered
    // and timed ONCE; the multi-run tier must not re-pay their duplicate
    // fits (llm_ann_index_resave / t17 are the round-17 precedent).
    for (
      n <- Seq(
        "llm_ann_index_staleness",
        "llm_ann_index_policy",
        "llm_ann_index_pruned",
        "llm_ann_index_resave",
        "t17_stream_probe_across_resave_batch_eq"
      )
    ) assert(Bench.runsFor(n) == 1, n)
    // ...while the gates that time those shapes stay multi-run
    for (n <- Seq("llm_ann_index_append", "llm_ann_index_compact", "llm_ann_index_lifecycle", "llm_ann_index_filtered"))
      assert(Bench.runsFor(n) == Bench.RUNS, n)
  }
}
