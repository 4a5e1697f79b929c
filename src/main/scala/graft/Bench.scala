package graft

/** Benchmark main: runs every registered query over SPARK_GRAFT_SF_DIR and
  * prints ONE compact JSON line (headline total + slowest per-query medians,
  * bounded to fit the driver's ~2000-char stdout tail window); the complete
  * per-query stats land in bench_results/bench_full_latest.json. Failures
  * are reported under "errors" and excluded from every total (a broken
  * query must never look like a fast one).
  *
  * Timing protocol (round 6): each query is run `RUNS` (3) times and the
  * reported number is the MEDIAN — single runs on this host swing up to
  * 11× with zero code change (round-5 verdict), so round-over-round deltas
  * need a noise-robust statistic. Runs are INTERLEAVED (3 full passes over
  * the query list, not 3 back-to-back runs per query) so a minutes-long
  * host-contention spike lands on at most one of a query's runs and the
  * median votes it out. min/max per query are kept in "stats". Queries
  * that measure heavy (median ≥ 5 s) or noisy (spread > 1.5× at a ≥ 2 s
  * median) after the base passes are topped up to 5 samples (round-12
  * stabilization of the expensive ANN tier; round 19 bounds the phase to
  * a global [[TOPUP_BUDGET]] allocated slowest-first after the unbounded
  * phase blew the round-18 wall-clock window — see the constants' docs),
  * and the compact line carries the 5 slowest queries'
  * [min, median, max, runs] as "top_spread".
  *
  * Every timed run goes through [[QueryMetrics.measure]]; the full
  * artifact's "metrics" object holds, per settled query, the
  * [[QueryMetrics.Record]] of its median run ([[medianRun]]): jobs, stages,
  * tasks, task seconds, shuffle and spill bytes, micro-batch durations.
  *
  * Two tiers:
  *   - `headline` — the scale-representative entry per operator family;
  *     their medians sum to the headline "value".
  *   - `secondary` — every other registered query (contract micro-ops,
  *     set ops, scalar functions, and the verification-only ledgers),
  *     timed and reported under "secondary" but excluded from the headline
  *     total. The `verificationOnly` subset (brute-force baselines and
  *     recall/consistency ledgers that deliberately run O(n²) work) runs
  *     once in the base tier, not 3× — they gate semantics, not
  *     throughput — but a HEAVY one (≥ 5 s) tops up to 5 samples like
  *     every other heavy query (round 13: single-run heavy ledgers were
  *     the one place a 5–9× apparent regression had no spread data to
  *     refute it).
  *
  * Execution is forced through the noop sink so every output column is
  * materialized — `count()` would let Spark skip projection work entirely.
  */
object Bench {

  /** The failed-late accounting invariant, extracted for its unit spec: a
    * query that succeeded on an early pass but failed on a later one has
    * BOTH samples and an error — it must contribute to NO tier total ("a
    * broken query must never look like a fast one", round-6 advisor
    * finding). Only names with samples and no error are settled.
    */
  private[graft] def settled(
      names: Seq[String],
      samples: collection.Map[String, List[Double]],
      errors: collection.Map[String, String]
  ): Seq[String] =
    names.filter(n => samples.contains(n) && !errors.contains(n))

  val RUNS = 3

  /** Adaptive heavy-tier top-up (round 12): after the base interleaved
    * passes, any timed query whose median is ≥ [[HEAVY_SECONDS]] or whose
    * max/min spread exceeds [[NOISE_SPREAD]] gets additional interleaved
    * passes up to [[HEAVY_RUNS]] total. Round 11 showed the expensive ANN
    * tier (ivf_kmeans 4.8–13.2 s inside one median-of-3) swinging enough
    * that shared-box noise masqueraded as regression — a 5-sample median
    * votes out two outliers instead of one, and the selection is by
    * MEASURED behavior, not a hand-maintained name list that would go
    * stale as queries speed up or slow down.
    */
  val HEAVY_RUNS = 5
  val HEAVY_SECONDS = 5.0
  val NOISE_SPREAD = 1.5

  /** Spread alone only marks a query noisy above this median: on a 0.2 s
    * query a 0.1 s jitter trips the 1.5× ratio while moving no total by
    * anything a reader can see — the first full round-12 run topped up 80
    * sub-second queries that way, paying ~160 extra runs for noise
    * nobody was misled by. Heavy (≥ [[HEAVY_SECONDS]]) queries top up
    * regardless of spread.
    *
    * Round 19 (VERDICT r18 #1): raised 0.5 → 2.0 s. On the round-18 box
    * the 0.5 s floor let ~90 sub-2 s queries trip the spread rule (105
    * top-ups vs 52 in r17 — ~2 extra passes over half the suite), and the
    * driver's bench run blew its wall-clock window: rc=124, NO official
    * perf numbers for the round. A sub-2 s query's spread moves no tier
    * total a reader acts on; the heavy rule (≥ 5 s, spread-independent)
    * is untouched.
    */
  val NOISE_FLOOR_SECONDS = 2.0

  /** Global top-up budget (round 19, VERDICT r18 #1): the adaptive top-up
    * phase may add at most this many EXTRA runs in total, allocated
    * slowest-first (by base-pass median) — the queries whose medians move
    * the totals most get their 5-sample noise protection first, and the
    * phase's wall-clock is bounded by construction instead of scaling
    * with however noisy the box happens to be (the r18 failure mode: an
    * unbounded phase re-ran half the suite and the driver killed the
    * whole bench, losing every number). The base timing protocol (3/5
    * interleaved passes, medians, noop sink) is unchanged.
    */
  val TOPUP_BUDGET = 40

  /** Verification-only queries top up to 3 samples, not 5 (round 19):
    * their single base run exists to document a baseline's cost, not to
    * make a throughput claim — a median-of-3 votes out one host outlier,
    * which is what the round-13 phantom-regression fix actually needed,
    * and the 2 saved runs each are exactly the bench's most expensive
    * rows (20–40 s O(n²) ledgers).
    */
  val VONLY_HEAVY_RUNS = 3

  /** Streaming/stateful queries (t2-t9) run 5 passes instead of 3: round 8
    * showed a single host-contention spike can drag a 3-run median (t7 ran
    * 2.9-14.7 s inside ONE median-of-3, manufacturing a phantom 3.1×
    * regression in BENCH_r08) — five interleaved runs let the median vote
    * out two outliers instead of one. Batch queries stay at 3 (their spread
    * was within noise and 5× everything would add minutes per round).
    */
  val STREAM_RUNS = 5

  /** The streaming tier is the set of queries REGISTERED by the streaming
    * module — not a name pattern: a future non-streaming query whose name
    * happens to start with t+digit must not silently inherit the 5-run
    * tier, and a streaming query named differently must not silently lose
    * it (round-9 advisor finding).
    */
  private[graft] val streamingNames: Set[String] =
    graft.queries.StreamingQueries.all.map(_.name).toSet

  private[graft] def isStreaming(name: String): Boolean = streamingNames(name)

  private[graft] def runsFor(name: String): Int =
    if (verificationOnly(name)) 1 else if (isStreaming(name)) STREAM_RUNS else RUNS

  private[graft] def median(xs: List[Double]): Double = {
    val s = xs.sorted
    // reachable lengths: 5 (streaming / heavy top-up), 3 (normal),
    // 1 (verification-only), 4 (a heavy top-up pass interrupted by a
    // late failure — excluded from totals anyway); even lengths take
    // the upper median
    s(s.length / 2)
  }

  /** The run whose [[QueryMetrics.Record]] the full artifact keeps for a
    * query: the run at the [[median]] wall time (same index rule), so a
    * query's `metrics` describe the run its reported median came from.
    */
  private[graft] def medianRun(runs: List[QueryMetrics.Record]): QueryMetrics.Record =
    runs.sortBy(_.wallS).apply(runs.length / 2)

  /** Heavy-tier selection: measured median ≥ [[HEAVY_SECONDS]] or max/min
    * spread > [[NOISE_SPREAD]] after the base passes. Round 13: the rule
    * now covers VERIFICATION-ONLY queries too — their base tier stays 1
    * run (a cheap ledger's number documents a baseline's cost, not a
    * throughput claim), but a heavy one (single run ≥ [[HEAVY_SECONDS]])
    * tops up to [[HEAVY_RUNS]] like everything else: round 12's four
    * slowest queries were single-run recall ledgers at 5–9× their r11
    * times with NO spread data to prove it was box noise (VERDICT r12
    * item #1 — precisely the queries most in need of spread had none).
    */
  private[graft] def needsTopUp(xs: List[Double]): Boolean =
    median(xs) >= HEAVY_SECONDS ||
      (median(xs) >= NOISE_FLOOR_SECONDS && xs.max > NOISE_SPREAD * xs.min)

  /** Slowest-first bounded allocation of the top-up budget (round 19):
    * given the top-up candidates with their base samples, returns
    * (name → extra runs) in execution order — sorted by base median
    * descending (name tie-break), each taking up to its target
    * ([[VONLY_HEAVY_RUNS]] for verification-only, else [[HEAVY_RUNS]])
    * minus what it already holds, until `budget` runs are spent.
    */
  private[graft] def allocateTopUp(
      candidates: Seq[(String, List[Double])],
      isVonly: String => Boolean,
      budget: Int
  ): Seq[(String, Int)] = {
    var left = budget
    candidates
      .sortBy { case (n, xs) => (-median(xs), n) }
      .flatMap { case (n, xs) =>
        val target = if (isVonly(n)) VONLY_HEAVY_RUNS else HEAVY_RUNS
        val take = math.min(target - xs.length, left)
        if (take > 0) { left -= take; Some(n -> take) }
        else None
      }
  }

  /** Both tier totals — median-sum (the headline) and min-sum (the
    * noise-robust floor: a median inflated by host contention moves the
    * first number, never the second) — computed from the SAME settled
    * query set by construction, so the two can never silently diverge in
    * coverage (round-9 verdict ask; BenchAccountingSpec gates it).
    */
  private[graft] def tierTotals(
      names: Seq[String],
      samples: collection.Map[String, List[Double]],
      errors: collection.Map[String, String]
  ): (Double, Double) = {
    val ok = settled(names, samples, errors)
    (ok.map(n => median(samples(n))).sum, ok.map(n => samples(n).min).sum)
  }

  /** Heavy/representative subset of the registry — every query family is
    * timed. The O(n²) brute ANN baseline (`llm_ann_top1`) and the
    * recall/consistency verification queries are deliberately NOT here:
    * the bucketed LSH/IVF paths are the registered scale entries.
    */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q4_order_priority",
    "q12_flag_priority",
    "q10_returned_revenue",
    "q14_promo_revenue",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q2_min_price_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q20_volume_shippers",
    "q21_sole_returner",
    "q22_idle_customers",
    "q_window_top_orders",
    "q_sessionize",
    "q_event_stats",
    "q_json_extract",
    "q_monthly_orders",
    "q_salted_join",
    "q_salted_count",
    "q_bucketed_join",
    "q_typed_udaf",
    "q_asof_join",
    "q_range_join",
    "q_retention_cohorts",
    "q_percentiles",
    "o1_typed_scan",
    "o2_typed_sink",
    "o1b_format_roundtrip",
    "o1c_schema_evolution",
    "o2b_partitioned_sink",
    "llm_text_stats",
    "llm_rarity_score",
    "llm_simhash",
    "llm_dedup_exact",
    "llm_dedup_incremental",
    "llm_dedup_normalized",
    "llm_source_mix",
    "llm_dedup_minhash",
    "llm_dedup_minhash_xtable",
    "llm_dedup_ngram",
    "llm_dedup_ngram_capped",
    "llm_dedup_clusters",
    "llm_paragraph_dedup",
    "llm_duplicate_spans",
    "llm_span_removal",
    "llm_budget_select",
    "llm_clean_pipeline",
    "llm_simhash_pairs",
    "llm_simhash_xtable",
    "llm_ingest_pipeline",
    "llm_ingest_pipeline_v2",
    "llm_ann_lsh",
    "llm_ann_lsh_auto",
    "llm_ann_lsh_xtable",
    "llm_ann_lsh_auto_xtable",
    "llm_ann_ivf",
    "llm_ann_ivf_auto",
    "llm_ann_ivf_xtable",
    "llm_ann_ivf_kmeans",
    "llm_ann_ivf_pq",
    "llm_ann_lsh_clustered",
    "llm_semdedup",
    "llm_semdedup_auto",
    "llm_cosine_neardup",
    "llm_cosine_neardup_auto",
    "llm_cosine_xtable",
    "llm_train_split",
    "llm_split_safe",
    "llm_soft_dedup",
    "llm_seq_pack",
    "llm_vocab",
    "llm_tfidf",
    "llm_contamination",
    "llm_decontaminate",
    "llm_pii_scrub",
    "llm_gopher_rules",
    "llm_c4_clean",
    "llm_repetition",
    "llm_shuffle_order",
    "llm_interleave",
    "llm_stratified_sample",
    "llm_domain_cap",
    "llm_chunking",
    "llm_corpus_pipeline",
    "llm_corpus_pipeline_v2",
    "llm_corpus_pipeline_v3",
    "llm_bpe_vocab",
    "llm_bpe_encode",
    "llm_bpe_ids",
    "llm_distinct_sketch",
    "llm_heavy_hitters",
    "llm_quantile_sketch",
    "llm_hll_sketch",
    "llm_cms_counts",
    "llm_bloom_decontaminate",
    "llm_pack_bins",
    "llm_embed_quantize",
    "llm_embed_centroids",
    "llm_multimodal",
    "llm_multimodal_decode",
    "llm_multimodal_audio",
    "llm_multimodal_video",
    "t2_windowed_counts_batch_eq",
    "t3_sessionize_batch_eq",
    "t4_stream_dedup_batch_eq",
    "t6_stream_enrich_batch_eq",
    "t7_stream_stream_join_batch_eq",
    "t8_stream_ingest_dedup_batch_eq",
    "t9_stream_neardup_ingest_batch_eq",
    "t5_stream_textstats_batch_eq"
  )

  /** Queries that verify semantics by deliberately running brute-force /
    * duplicated work (O(n²) baselines, recall and consistency ledgers).
    * Timed once each — their number documents the cost of the baseline,
    * not a throughput claim.
    */
  val verificationOnly: Set[String] = Set(
    "llm_ann_top1",
    // save-over-existing lifecycle gates: two complete IVF-PQ fits by
    // construction, and their timed shapes (fit + generation write +
    // probe; t17 = t16's serve-across-migration stream) are exactly
    // llm_ann_index_refit's / t16's, which ARE timed — re-timing the
    // same code paths with a redundant extra fit adds bench minutes, not
    // information
    "llm_ann_index_resave",
    "t17_stream_probe_across_resave_batch_eq",
    // round 19 (VERDICT r18 #6): three more gates whose TIMED shape is a
    // strict duplicate of an already-timed gate plus a sub-second
    // metadata ledger — multi-run timing re-measures the duplicate, not
    // the gate's own semantics:
    //   - staleness = append's exact fit+save+append construction (same
    //     fixture, knobs, split) + the occupancy-diff ledger;
    //   - policy = compact's exact fit+save+3×append construction + the
    //     threshold-rule ledger (reads the same occupancy + layer
    //     listing);
    //   - pruned = lifecycle's exact fit(full)+save+load + the pruned
    //     probe that llm_ann_index_filtered times WITH its extra
    //     predicate on the same batch (the no-filter branch differs by
    //     one filter expression only).
    // All three stay registered, oracle-gated, and timed once.
    "llm_ann_index_staleness",
    "llm_ann_index_policy",
    "llm_ann_index_pruned",
    "llm_ann_recall",
    "llm_ann_ivf_auto_recall",
    "llm_ann_kmeans_recall",
    "llm_ann_kmeans_sampled_recall",
    "llm_ann_ivf_pq_recall",
    "llm_ann_index_drift_recall",
    "llm_ann_index_filtered_recall",
    "llm_ann_index_refit_recall",
    "llm_ann_clustered_recall",
    "llm_ann_xtable_recall",
    "llm_ann_auto_xtable_recall",
    "llm_ann_project_recall",
    "llm_cosine_recall"
  )

  /** Registered-for-correctness entries that are not timed at all: their
    * cost IS the deliberately interpreted HOF reference path (~150× the
    * native expression by design), so timing them at bench SF measures
    * the verification harness, not any registered operator — and at sf0.1
    * llm_native_consistency alone costs ~25 minutes, which round 6 paid
    * for a number with no engineering signal (it was ~97% of the entire
    * secondary tier). Their semantics stay gated at sf0.01 by the
    * CORRECTNESS_r* artifact every round; the bench lists them under
    * "skipped" so the omission is loud.
    */
  val skippedAtBench: Set[String] = Set("llm_native_consistency")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // Session warmup: absorb codegen/classloading/parquet-footer costs so
    // the first timed query isn't charged for them.
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet").write.format("noop").mode("overwrite").save()

    val queries = SparkEntry.queries
    val secondary: Seq[String] =
      (queries.keySet -- headline).toSeq.sorted

    // optional args: subset of registered names (exact or prefix) for fast
    // local iteration; the driver passes none = everything
    def pick(names: Seq[String]): Seq[String] =
      if (args.isEmpty) names
      else names.filter(n => args.exists(a => n == a || n.startsWith(a)))
    val selHead = pick(headline)
    val selSec = pick(secondary)

    def runOnce(name: String): Either[String, QueryMetrics.Record] =
      queries.get(name) match {
        case None =>
          // an unknown headline name must surface as an error, never make
          // the benchmark silently smaller (and faster-looking)
          Left("not in SparkEntry.queries")
        case Some(fn) =>
          val r: Either[String, QueryMetrics.Record] =
            try {
              Right(QueryMetrics.measure(spark, name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())._2)
            } catch {
              case e: Throwable =>
                Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
            }
          // operators persist candidate projections; release between queries
          // so one query's cache can't skew the next one's timing
          spark.catalog.clearCache()
          // ... and drop localCheckpoint/persist blocks too: clearCache only
          // covers catalog-cached plans, while the ANN/vocab/NB operators
          // snapshot via localCheckpoint(true), whose RDD blocks otherwise
          // accumulate in the storage pool across a ~200-query single-JVM
          // run and progressively pressure execution memory (VERDICT r12
          // hypothesis #2 for the late-run noise concentration). Blocking
          // unpersist so the next query starts from a clean pool.
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          r
      }

    // interleaved passes: pass p runs every query once, in registry order
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val records = scala.collection.mutable.Map.empty[String, List[QueryMetrics.Record]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // a failure on a TOP-UP run must not evict the query's valid base
    // samples from the tier totals (ADVICE r12: settled() would drop a
    // query that fully passed the base passes, silently shrinking the
    // headline) — recorded separately and reported as "topup_errors"
    val topupErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val plan: Seq[(String, Int)] =
      (1 to (RUNS max STREAM_RUNS)).flatMap { p =>
        (selHead ++ selSec).collect {
          case n if !skippedAtBench(n) && p <= runsFor(n) => n -> p
        }
      }
    def execute(name: String, tag: String, isTopUp: Boolean = false): Unit =
      if (!errors.contains(name) && !topupErrors.contains(name)) {
        // a failed query is not retried on later passes
        System.err.println(s"[bench] $tag: $name")
        runOnce(name) match {
          case Right(m) =>
            samples(name) = m.wallS :: samples.getOrElse(name, Nil)
            records(name) = m :: records.getOrElse(name, Nil)
            System.err.println(f"[bench] $name: ${m.wallS}%.2f s, ${m.jobs} jobs, ${m.stages} stages")
          case Left(m) =>
            if (isTopUp) { topupErrors(name) = m } else { errors(name) = m }
            System.err.println(s"[bench] $name FAILED${if (isTopUp) " (top-up; base samples kept)" else ""}: $m")
        }
      }
    plan.foreach { case (name, pass) => execute(name, s"pass $pass") }

    // adaptive heavy-tier top-up: interleaved extra passes until every
    // heavy/noisy query holds its target sample count (selection is
    // sticky on the base-pass measurement so a lucky extra run can't drop
    // a query out of its own top-up mid-flight). Covers BOTH tiers
    // including heavy verification-only ledgers (see needsTopUp); queries
    // already holding their target (the streaming tier) are not re-listed
    // (ADVICE r12: heavy_topped_up must name what actually topped up).
    // Round 19: the phase is BOUNDED — extra runs are allocated
    // slowest-first from a global TOPUP_BUDGET, so a noisy box inflates
    // nothing beyond the budget (see the constant's doc).
    val candidates: Seq[(String, List[Double])] = (selHead ++ selSec)
      .filter(n => !skippedAtBench(n))
      .filter(n => samples.contains(n) && !errors.contains(n))
      .filter(n => needsTopUp(samples(n)))
      .map(n => n -> samples(n))
    val allocation = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    allocateTopUp(candidates, verificationOnly, TOPUP_BUDGET).foreach { case (n, k) => allocation(n) = k }
    val heavy: Seq[String] = allocation.keys.toSeq
    val topupRunsUsed = allocation.values.sum
    (1 to HEAVY_RUNS).foreach { extra =>
      heavy.foreach { n =>
        if (allocation(n) > 0) {
          allocation(n) -= 1
          execute(n, s"top-up $extra", isTopUp = true)
        }
      }
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"'          => "\\\""
        case '\\'         => "\\\\"
        case '\n'         => "\\n"
        case '\r'         => "\\r"
        case '\t'         => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c            => c.toString
      } + "\""

    def fmtTier(names: Seq[String]): (String, String, Double, Double, Seq[(String, Double)]) = {
      val ok = settled(names, samples, errors)
      val meds = ok.map(n => n -> median(samples(n)))
      val qs = meds.map { case (k, v) => s"${jstr(k)}:${"%.3f".format(v)}" }.mkString("{", ",", "}")
      val stats = ok.map { n =>
        val xs = samples(n)
        s"${jstr(n)}:{\"median\":${"%.3f".format(median(xs))},\"min\":${"%.3f".format(xs.min)},\"max\":${"%.3f".format(xs.max)},\"runs\":${xs.length}}"
      }.mkString("{", ",", "}")
      val (medTotal, minTotal) = tierTotals(names, samples, errors)
      (qs, stats, medTotal, minTotal, meds)
    }

    val (qs, headStats, total, totalMin, headMeds) = fmtTier(selHead)
    val (secQs, secStats, secTotal, secTotalMin, secMeds) = fmtTier(selSec)
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    // explicit outlier annotation: a median more than 1.5× its own min means
    // the host misbehaved on most runs of that query — name it in the
    // artifact so a reader never mistakes box noise for a code regression
    val outliers = (settled(selHead, samples, errors) ++ settled(selSec, samples, errors))
      .filter(n => !verificationOnly(n))
      .filter { n => val xs = samples(n); median(xs) > 1.5 * xs.min }
      .sorted
    val metrics = (settled(selHead, samples, errors) ++ settled(selSec, samples, errors))
      .map(n => s"${jstr(n)}:${medianRun(records(n)).json}")
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","total_min":${"%.3f"
          .format(totalMin)},"queries":$qs,"stats":$headStats,"secondary":$secQs,"secondary_stats":$secStats,"metrics":$metrics,"secondary_total":${"%.3f"
          .format(secTotal)},"secondary_total_min":${"%.3f".format(secTotalMin)},"heavy_topped_up":${heavy.sorted
          .map(jstr)
          .mkString("[", ",", "]")},"topup_budget":$TOPUP_BUDGET,"topup_runs_used":$topupRunsUsed,"noise_outliers":${outliers
          .map(jstr)
          .mkString("[", ",", "]")},"verification_only":${verificationOnly.toSeq.sorted
          .map(jstr)
          .mkString("[", ",", "]")},"skipped":${skippedAtBench.toSeq.sorted
          .map(jstr)
          .mkString("[", ",", "]")},"runs":$RUNS,"stream_runs":$STREAM_RUNS,"errors":$es,"topup_errors":${topupErrors
          .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
          .mkString("{", ",", "}")},"subset":${args.nonEmpty},"args":${args.toSeq
          .map(jstr)
          .mkString("[", ",", "]")},"sf":${jstr(sfDir)}}"""

    // The driver's BENCH artifact keeps only the last ~2000 chars of stdout
    // (and sbt appends a "[success] Total time ..." line after us), so the
    // final stdout line must be a COMPLETE json object comfortably inside
    // that window — the full 120-query detail line is ~4 KB and got
    // front-truncated every previous round (BENCH_r01..r06 all carry
    // "parsed": null). Full detail goes to a file; stdout carries the
    // headline totals plus as many of the slowest per-query medians as fit
    // a fixed byte budget.
    //
    // Artifact discipline (round 13, VERDICT r12 #6): every run writes a
    // STAMPED file (SPARK_GRAFT_BENCH_TAG env, else a UTC timestamp) so no
    // run can overwrite another's spread data; `bench_full_latest.json` is
    // refreshed ONLY by full runs — a subset smoke run can never again
    // masquerade as the round's full artifact (the round-12 pitfall).
    val dir = java.nio.file.Paths.get("bench_results")
    java.nio.file.Files.createDirectories(dir)
    val tag = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_TAG",
      java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd_HHmmss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
    )
    java.nio.file.Files.write(dir.resolve(s"bench_full_$tag.json"), (fullJson + "\n").getBytes("UTF-8"))
    if (args.isEmpty)
      java.nio.file.Files.write(dir.resolve("bench_full_latest.json"), (fullJson + "\n").getBytes("UTF-8"))

    val slowest = (headMeds ++ secMeds).sortBy { case (n, v) => (-v, n) }
    // spread columns for the top tier, visible WITHOUT opening the full
    // file: the 5 slowest queries' [min, median, max, runs] so a reader of
    // the compact line can tell a plan regression (min moved) from box
    // noise (only median/max moved)
    val topSpread = slowest.take(5).map { case (n, _) =>
      val xs = samples(n)
      s"${jstr(n)}:[${"%.3f".format(xs.min)},${"%.3f".format(median(xs))},${"%.3f".format(xs.max)},${xs.length}]"
    }.mkString("{", ",", "}")
    val prefix =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","total_min":${"%.3f".format(totalMin)},"runs":$RUNS,""" +
        s""""stream_runs":$STREAM_RUNS,"heavy_runs":$HEAVY_RUNS,"heavy_n":${heavy.length},"topup_budget":$TOPUP_BUDGET,"topup_runs_used":$topupRunsUsed,"top_spread":$topSpread,"noise_outliers_n":${outliers.length},""" +
        s""""queries_timed":${slowest.length},"errors_n":${errors.size},"topup_errors_n":${topupErrors.size},""" +
        s""""secondary_total":${"%.3f".format(secTotal)},"secondary_total_min":${"%.3f".format(secTotalMin)},""" +
        s""""skipped":${skippedAtBench.toSeq.sorted.map(jstr).mkString("[", ",", "]")},""" +
        s""""full":"bench_results/bench_full_$tag.json","subset":${args.nonEmpty},"sf":${jstr(sfDir)},"queries":{"""
    val budget = 1500 // chars for the whole line; tail window is ~2000
    val entries = scala.collection.mutable.ListBuffer.empty[String]
    var len = prefix.length + 2
    slowest.foreach { case (n, v) =>
      val e = s"${jstr(n)}:${"%.3f".format(v)}"
      if (len + e.length + 1 <= budget) { entries += e; len += e.length + 1 }
    }
    println(prefix + entries.mkString(",") + "}}")
    spark.stop()
    // a bench run with ANY errored query must not exit success: round 10
    // recorded rc=0 with errors_n=8, so a CI gate keyed on the return code
    // passed a regressed build (ADVICE r10, medium). The JSON record above
    // is already printed/written, so the driver still gets the full stats.
    if (errors.nonEmpty || topupErrors.nonEmpty) {
      if (errors.nonEmpty)
        System.err.println(s"[bench] ${errors.size} queries ERRORED: ${errors.keys.mkString(", ")}")
      if (topupErrors.nonEmpty)
        System.err.println(
          s"[bench] ${topupErrors.size} queries failed a TOP-UP run (base samples kept in totals): " +
            topupErrors.keys.mkString(", ")
        )
      sys.exit(1)
    }
  }
}
