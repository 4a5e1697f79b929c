package graft

import org.scalatest.funsuite.AnyFunSuite

/** The manual plan audit (`graft.tools.PlanAudit` + a human reading
  * round*_plan_audit.txt) turned into a permanent gate: every
  * scale-critical registered query must plan WITHOUT BroadcastNestedLoopJoin
  * or CartesianProduct. The deliberate exceptions stay out of this list and
  * stay documented instead: the 1-row scalar-total cross joins
  * (llm_source_mix / llm_tfidf / llm_distinct_sketch, and the NB family's
  * vocab-count scalar in llm_lang_id_nb / llm_lang_id_ledger — a
  * single-aggregate-row broadcast is O(n·1) at any scale), the brute-force
  * baselines and recall ledgers (O(n²) BY DESIGN), sink/stream queries whose
  * construction executes side effects, and multimodal (mapPartitions codecs).
  *
  * Runs against sf0.001 — join SHAPE (nested-loop vs hash/SMJ) is what's
  * asserted, and none of these queries change shape with SF (broadcast vs
  * shuffle hash is AQE's size call; nested-loop never is).
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestSession {

  private val sf = "/root/testdata/sf0.001"

  private val audited = Seq(
    // dedup family
    "llm_dedup_exact",
    "llm_dedup_incremental",
    "llm_dedup_normalized",
    "llm_dedup_minhash",
    "llm_dedup_minhash_xtable",
    "llm_dedup_ngram_capped",
    "llm_simhash_pairs",
    "llm_simhash_xtable",
    "llm_dedup_clusters",
    "llm_split_safe",
    "llm_soft_dedup",
    "llm_paragraph_dedup",
    "llm_duplicate_spans",
    "llm_span_removal",
    "llm_winnow_pairs",
    "llm_corpus_report",
    "llm_bpe_fertility",
    // ANN family (bucketed paths only — brute baselines are exempt by design)
    "llm_ann_lsh",
    "llm_ann_lsh_auto",
    "llm_ann_lsh_xtable",
    "llm_ann_lsh_auto_xtable",
    "llm_ann_ivf",
    "llm_ann_ivf_auto",
    "llm_ann_ivf_xtable",
    "llm_ann_ivf_kmeans",
    "llm_ann_ivf_pq",
    "llm_ann_index_lifecycle",
    "llm_ann_index_pruned",
    "llm_ann_index_append",
    "llm_ann_index_staleness",
    "llm_ann_index_compact",
    "llm_ann_index_delete",
    "llm_ann_index_drift_recall",
    "llm_ann_index_refit",
    "llm_ann_index_refit_recall",
    "llm_ann_index_filtered",
    "llm_ann_index_policy",
    "llm_ann_index_resave",
    "llm_ann_lsh_clustered",
    "llm_semdedup",
    "llm_semdedup_capped",
    "llm_semdedup_cap_ledger",
    "llm_semdedup_default",
    "llm_cosine_neardup",
    "llm_cosine_neardup_auto",
    "llm_cosine_xtable",
    // sketches / prefilters (single-row ledgers like llm_hll_sketch and
    // llm_bloom_ledger are exempt: 1-row scalar cross joins by design)
    "llm_cms_counts",
    "llm_bloom_decontaminate",
    "llm_pack_bins",
    // corpus prep
    "llm_seq_pack",
    "llm_shuffle_order",
    "llm_vocab",
    "llm_encode_ids",
    "llm_bpe_encode",
    "llm_bpe_ids",
    "llm_corpus_pipeline_v3",
    "llm_budget_select",
    "llm_domain_cap",
    "llm_clean_pipeline",
    "llm_decontaminate",
    // relational scale shapes
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_orders",
    "q_asof_join",
    "q_range_join",
    "q_salted_join",
    "q_salted_count",
    "q_semi_join",
    "q_anti_join",
    "q_window_top_orders"
  )

  // queries whose pruned probe runs while the query is built and returns
  // a local relation: their gate reads the probe's own executions
  private val probeRuns = Set("llm_ann_index_pruned", "llm_ann_index_filtered")

  for (name <- audited)
    test(s"plan shape: $name is nested-loop-free") {
      val (df, runs) = SparkTestSession.executionsOf(spark)(SparkEntry.queries(name)(spark, sf))
      val probePlans = runs.collect { case (n, qe) if n.startsWith("probeIvfPqPruned.") => qe.executedPlan.toString }
      if (probeRuns(name)) assert(probePlans.nonEmpty, s"$name ran no probeIvfPqPruned execution")
      for (plan <- df.queryExecution.executedPlan.toString +: probePlans) {
        assert(!plan.contains("CartesianProduct"), s"CartesianProduct in $name")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"BroadcastNestedLoopJoin in $name")
      }
    }

  // the NB language-ID pair carries the documented 1-row vocab-count
  // scalar cross joins (nbFitMulti's |V| constant — a single-aggregate-row
  // broadcast, O(n·1) at any scale), so the blanket BNLJ assertion above
  // doesn't apply; a CartesianProduct (BOTH sides unbroadcast) would still
  // be a genuine scale bug and stays gated here.
  for (name <- Seq("llm_lang_id_nb", "llm_lang_id_ledger"))
    test(s"plan shape: $name is cartesian-free (scalar BNLJ exempt)") {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"CartesianProduct in $name")
    }

  test("vocab family plans contain no unpartitioned (global single-task) Window") {
    // round-12 gate for the round-11 weak mark: buildVocab's global rank
    // once funneled the entire distinct-token table through one task via
    // Window.orderBy. distributedRank replaced it; this pins the shape so
    // a refactor can't silently bring the global window back. The ONE
    // allowed single-task window is the cumulative-offset sum over the
    // per-range-bucket COUNT table (bounded at ≤ numShufflePartitions
    // rows by construction — the optimizer folds its literal partition
    // key away, so it reads as unpartitioned here): recognized by an
    // Aggregate grouping on __pid somewhere beneath it. Any other
    // unpartitioned window sorts corpus-vocabulary-scale data in one
    // task and must fail this gate.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    for (name <- Seq("llm_vocab", "llm_encode_ids")) {
      val wins = SparkEntry
        .queries(name)(spark, sf)
        .queryExecution
        .optimizedPlan
        .collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$name: expected the rank windows in the plan")
      wins.filter(_.partitionSpec.isEmpty).foreach { w =>
        val boundedOffsets = w.child.collect {
          case a: Aggregate if a.groupingExpressions.exists(_.references.exists(_.name == "__pid")) => a
        }
        assert(
          boundedOffsets.nonEmpty,
          s"$name: unpartitioned Window over an UNBOUNDED input in plan: $w"
        )
      }
    }
  }

  test("ANN family launches zero dimensionality-probe driver jobs (explicit dim everywhere)") {
    val annQueries = Seq(
      "llm_ann_lsh", "llm_ann_lsh_auto", "llm_ann_lsh_xtable", "llm_ann_lsh_auto_xtable",
      "llm_cosine_neardup", "llm_cosine_neardup_auto", "llm_cosine_xtable"
    )
    val before = graft.llmops.Similarity.probeDimCalls.get()
    annQueries.foreach(n => SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan)
    val after = graft.llmops.Similarity.probeDimCalls.get()
    assert(after == before, s"registered ANN queries launched ${after - before} dim-probe jobs; pass dim explicitly")
  }
}
