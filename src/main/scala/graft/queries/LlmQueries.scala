package graft.queries

import graft.contracts.SchemaPolicy
import graft.llmops._
import graft.model.Tables.DocumentRow
import graft.pipeline.PipelineBuilder
import graft.sources.{TypedSink, TypedSource}
import org.apache.spark.sql.functions._

/** Driver-verifiable queries for the LLM-training-data operator family
  * (dedup / similarity / text analysis / multimodal — SURVEY.md §7.2.9 and
  * the north-star brief).
  *
  * Oracle strategy, strongest applicable first:
  *   1. exact ANSI SQL when the semantics are engine-independent (dedup,
  *      jaccard, stats, chunking);
  *   2. algorithm replay when the operator is approximate but
  *      deterministic: the LSH hyperplanes / IVF centroids are plan
  *      literals, so the DuckDB oracle recomputes the *same* approximate
  *      algorithm from scratch and the outputs must hash-match — the
  *      bucketed 100 TB plan is what gets certified, not a baseline;
  *   3. recall queries (`llm_ann_recall`, `llm_cosine_recall`) publish the
  *      approximation quality itself as a driver-verified number — both
  *      the approximate side and the exact side are recomputed in SQL;
  *   4. portable fingerprints: simhash/rolling over md5 token hashes are
  *      reproduced bit-for-bit in DuckDB; the xxhash64-based fast variants
  *      are pinned to them by the native-vs-HOF consistency entry.
  */
object LlmQueries {

  import QueryDef._

  // Contracts for the pinned llmops pipelines (SURVEY §7.2.9: each llm op
  // runs as a pinned transform so the contract layer still enforces the
  // boundaries).
  final case class DocDeduped(doc_id: Long, lang: String, n_chars: Long)
  final case class DocStats(
      doc_id: Long,
      n_chars_calc: Long,
      n_tokens: Long,
      n_distinct_tokens: Long,
      avg_token_len: Double,
      distinct_ratio: Double
  )
  final case class MediaFeatures(
      doc_id: Long,
      byte_len: Long,
      mime: String,
      content_md5: String,
      fake_width: Long,
      fake_height: Long,
      fake_duration_s: Double
  )
  final case class DecodedImage(doc_id: Long, mime: String, width: Long, height: Long, pixel_sum: Long)
  final case class ResizedImage(doc_id: Long, src_w: Long, src_h: Long, out_w: Long, out_h: Long, sample_sum: Long)
  final case class DecodedAudio(doc_id: Long, mime: String, sample_rate: Long, n_frames: Long, byte_sum: Long)
  final case class DecodedVideo(doc_id: Long, mime: String, timescale: Long, duration_ticks: Long, n_tracks: Long)

  // DuckDB list literal for a stopword set — single source of truth with
  // the Spark-side TextStats.stopwords.
  private def swList(lang: String): String =
    TextStats.stopwords.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  private def hitsSql(lang: String): String =
    s"len(list_intersect(string_split(text, ' '), ${swList(lang)}))"

  /** Exact k=3 shingle-pair CTE prefix (shared by the jaccard oracles).
    * With `maxDf > 0`, shingles appearing in more than maxDf docs are
    * dropped from the universe BEFORE per-doc set sizes are taken — the
    * same order of operations as [[Dedup.ngramJaccardPairs]], so the capped
    * jaccard is unbiased on both engines.
    */
  private def shingleCteCapped(maxDf: Int): String = {
    val universe =
      if (maxDf <= 0) ""
      else
        s""",
           |dfq AS (SELECT sh FROM s0 GROUP BY sh HAVING count(*) <= $maxDf),
           |sc AS (SELECT s0.doc_id, s0.sh FROM s0 JOIN dfq USING (sh))""".stripMargin
    val src = if (maxDf <= 0) "s0" else "sc"
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2),
       |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh FROM t)$universe,
       |n AS (SELECT doc_id, count(*) AS n FROM $src GROUP BY 1),
       |p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |      FROM $src a JOIN $src b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin
  }

  private val shingleCte = shingleCteCapped(0)

  /** Shared CTE chain for the decontamination queries: content-hash 90/10
    * split, distinct 5-gram shingles per doc, and the held-out shingle
    * universe. Mirrors [[graft.llmops.Corpus.splitByContentHash]] +
    * [[graft.llmops.Fingerprints.shingles]](k = 5) exactly.
    */
  private val decontamCte: String = {
    val gram5 = (1 to 5).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH lab AS (SELECT doc_id, text,
       |         CASE WHEN CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) % 100 < 90
       |              THEN 'train' ELSE 'valid' END AS split
       |       FROM documents),
       |t AS (SELECT doc_id, split, string_split(text, ' ') AS toks FROM lab),
       |s AS (SELECT doc_id, split, unnest(list_distinct(list_transform(range(len(toks)-4),
       |        i -> $gram5))) AS sh FROM t),
       |held AS (SELECT DISTINCT sh FROM s WHERE split = 'valid')""".stripMargin
  }

  /** Embeddings table with the oracle-dim invariant enforced in-plan: the
    * ANN oracles embed [[AnnOracles.Dim]]-sized hyperplane/centroid
    * literals, so a testdata dim change must fail LOUDLY with a readable
    * message — not as a cryptic downstream hash mismatch. The guard is a
    * per-row conditional riding the scan (cost: one size() comparison; the
    * error branch is lazy), replacing the former one-row `head()` probe —
    * the ANN family now launches ZERO driver probe jobs per query, and
    * the Similarity calls take `dim = AnnOracles.Dim` explicitly.
    */
  private def embeddingsDimChecked(
      spark: org.apache.spark.sql.SparkSession,
      sf: String
  ): org.apache.spark.sql.DataFrame = {
    val e = table(spark, sf, "embeddings")
    e.withColumn(
      "embedding",
      when(
        size(col("embedding")) =!= AnnOracles.Dim,
        raise_error(concat(
          lit("testdata embedding dim "), size(col("embedding")).cast("string"),
          lit(s" != oracle literal dim ${AnnOracles.Dim} — update AnnOracles.Dim so the SQL replay uses matching hyperplanes")
        )).cast(e.schema("embedding").dataType)
      ).otherwise(col("embedding"))
    )
  }

  /** The embedding dimensionality every ANN call passes explicitly
    * (Similarity.* then launch no probe jobs); [[embeddingsDimChecked]]
    * guarantees the data matches.
    */
  private[queries] val EmbDim: Int = AnnOracles.Dim

  /** The llm_ann_index_pruned oracle — the FULL IVF-PQ fit + probe replay
    * restricted to the small batch's qids (every qid's result row depends
    * only on its own vector and the frozen index, which is exactly the
    * per-query independence being claimed). Shared verbatim with the t12
    * streamed-probe gate: the stream scores the same batch against the
    * same persisted index, so batch equivalence means hash-matching the
    * same replay.
    */
  private[queries] def indexPrunedOracleSql: String = {
    import AnnOracles._
    s"""WITH $clusteredCte,
       |$kmeansQuantCte,
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L)},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50)}
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM pqrr WHERE qid % 97 = 0""".stripMargin
  }

  /** The llm_ann_index_append oracle — fit (coarse k-means AND PQ
    * codebooks) ONLY on the 80% corpus slice, then assignment, encode,
    * probe, ADC, and exact re-rank over the FULL set: exactly
    * encode-under-frozen-fit, which is what [[graft.llmops.AnnIndex.append]]
    * does to an arriving batch. Shared verbatim with the t13
    * streamed-append gate: append is append-only file writes of per-row
    * pure encodings, so micro-batch boundaries cannot change any index
    * row and the streamed appends must hash-match the same replay.
    */
  private[queries] def indexAppendOracleSql: String = {
    import AnnOracles._
    s"""WITH $clusteredCte,
       |$kmeansQuantCte,
       |qbc AS (SELECT * FROM qb WHERE id % 5 <> 0),
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, src = "qbc")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, fitSrc = "qbc")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50)}
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM pqrr""".stripMargin
  }

  /** The clustered ANN fixture (Spark side of [[AnnOracles.clusteredCte]]):
    * v = center[md5(vec_id) % 8] + 0.25 · embedding, with the 8 gaussian
    * centers as plan literals shared with the SQL generator. The zip_with
    * HOF is fixture construction, not an operator hot path.
    */
  private[queries] def clusteredFixture(
      spark: org.apache.spark.sql.SparkSession,
      sf: String
  ): org.apache.spark.sql.DataFrame = {
    import AnnOracles.{fixtureCenters, FixtureClusters, FixtureNoise}
    val centerArr = array(fixtureCenters.map(cv => array(cv.map(lit): _*)): _*)
    val cIdx =
      (conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10).cast("long")
        % FixtureClusters).cast("int")
    embeddingsDimChecked(spark, sf).select(
      col("vec_id"),
      zip_with(
        element_at(centerArr, cIdx + 1),
        col("embedding"),
        (c, x) => c + lit(FixtureNoise) * x.cast("double")
      ).as("v")
    )
  }

  /** Drift-recall fixture (Spark side of [[AnnOracles.driftedCte]]): same
    * shape as [[clusteredFixture]], but rows arriving AFTER the fit
    * (vec_id % 5 = 0, the append slice) draw their cluster centers from
    * [[AnnOracles.driftCenters]] — the frozen centroids never saw where
    * the new mass sits, which is exactly the degradation the
    * `llm_ann_index_drift_recall` ledger prices.
    */
  private[queries] def driftedFixture(
      spark: org.apache.spark.sql.SparkSession,
      sf: String
  ): org.apache.spark.sql.DataFrame = {
    import AnnOracles.{driftCenters, fixtureCenters, FixtureClusters, FixtureNoise}
    val centerArr = array(fixtureCenters.map(cv => array(cv.map(lit): _*)): _*)
    val driftArr = array(driftCenters.map(cv => array(cv.map(lit): _*)): _*)
    val cIdx =
      (conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10).cast("long")
        % FixtureClusters).cast("int")
    val center = when(col("vec_id") % 5 === 0, element_at(driftArr, cIdx + 1))
      .otherwise(element_at(centerArr, cIdx + 1))
    embeddingsDimChecked(spark, sf).select(
      col("vec_id"),
      zip_with(center, col("embedding"), (c, x) => c + lit(FixtureNoise) * x.cast("double")).as("v")
    )
  }

  /** The llm_ann_index_delete oracle — [[indexAppendOracleSql]]'s
    * frozen-fit replay with the INDEX side restricted to the surviving
    * ids (deleted ids still query; they can no longer be answers): the
    * exact semantics of [[graft.llmops.AnnIndex.delete]] followed by a
    * probe, without the oracle knowing anything about files or
    * partitions.
    */
  private[queries] def indexDeleteOracleSql: String = {
    import AnnOracles._
    s"""WITH $clusteredCte,
       |$kmeansQuantCte,
       |qbc AS (SELECT * FROM qb WHERE id % 5 <> 0),
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, src = "qbc")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, fitSrc = "qbc")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, idxFilter = "kpp.id % 7 <> 0")}
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM pqrr""".stripMargin
  }

  /** The llm_ann_index_drift_recall oracle: TWO complete IVF-PQ replays
    * over the drifted fixture side by side — the `fz` chain fits on the
    * pre-drift corpus slice and encodes/probes the union (what the
    * appended-under-frozen-fit index answers), the `rf` chain refits on
    * the union (what a refit would answer) — folded into a per-query
    * top-k overlap histogram. The ledger that turns "refit when stale"
    * into a measured recall loss.
    */
  private[queries] def indexDriftRecallOracleSql: String = {
    import AnnOracles._
    s"""WITH $driftedCte,
       |$kmeansQuantCte,
       |qbc AS (SELECT * FROM qb WHERE id % 5 <> 0),
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, src = "qbc", pfx = "fz")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, fitSrc = "qbc", pfx = "fz")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, pfx = "fz")},
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, pfx = "rf")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, pfx = "rf")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, pfx = "rf")},
       |h AS (SELECT a.qid, count(*) AS c FROM fzpqrr a JOIN rfpqrr b ON a.qid = b.qid AND a.nid = b.nid GROUP BY 1)
       |SELECT CAST(coalesce(h.c, 0) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n
       |FROM (SELECT id AS qid FROM cf) q LEFT JOIN h USING (qid) GROUP BY 1""".stripMargin
  }

  /** [[indexAppendOracleSql]] restricted to the t14 probe stream's qids —
    * the streamed-probe-across-compaction gate scores a small query slice
    * against the appended-then-compacted index, and compaction is the
    * identity, so the oracle is the same frozen-fit replay on that slice.
    */
  private[queries] def indexAppendPrunedOracleSql: String =
    indexAppendOracleSql + " WHERE qid % 97 = 0"

  /** The t15 streamed-delete oracle: the probe stream serves the SAME
    * `% 97` query set in every micro-batch while `delete(ids % 7 == 0)`
    * lands between batch 0 and batch 1 — batch 0 answers from the full
    * appended index, batches 1–2 from the survivors, so the stream's
    * deduped output is exactly the SET UNION of the two replays (the
    * same (qid, nid) may carry a different rank on each side, hence
    * rank participates in the dedup key). Both chains share ONE frozen
    * fit — `svk2`/`svprv` are aliases of the fit chain, not a refit:
    * the delete contract is that centroids/codebooks stay frozen.
    */
  private[queries] def indexDeleteUnionPrunedOracleSql: String = {
    import AnnOracles._
    s"""WITH $clusteredCte,
       |$kmeansQuantCte,
       |qbc AS (SELECT * FROM qb WHERE id % 5 <> 0),
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, src = "qbc")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, fitSrc = "qbc")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50)},
       |svk2 AS (SELECT * FROM k2), svprv AS (SELECT * FROM prv),
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, pfx = "sv", idxFilter = "kpp.id % 7 <> 0")}
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM pqrr WHERE qid % 97 = 0
       |UNION
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM svpqrr WHERE qid % 97 = 0""".stripMargin
  }

  /** The llm_ann_index_refit oracle: ONE fresh-fit replay over the
    * drifted fixture's FULL corpus — [[graft.llmops.AnnIndex.refit]]'s
    * whole contract is that the migrated index answers exactly like a
    * fresh [[graft.llmops.AnnIndex.fitIvfPq]] of the current corpus at
    * the same knobs, so the frozen fit and the appends the Spark side
    * runs first are invisible to the oracle by design.
    */
  private[queries] def indexRefitOracleSql: String = {
    import AnnOracles._
    s"""WITH $driftedCte,
       |$kmeansQuantCte,
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L)},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50)}
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM pqrr""".stripMargin
  }

  /** The llm_ann_index_refit_recall oracle: the drift-recall ledger
    * BEFORE and AFTER the refit in one result — phase 'frozen' is the
    * fz-vs-rf per-query top-k overlap histogram (what serving from the
    * drifted frozen fit costs in answers), phase 'refit' the rf-vs-rf
    * self-overlap (the ledger returning to ~1.0 once the index is
    * migrated — every query at full k overlap, replayed rather than
    * assumed so a Spark-side regression in the post-refit probe cannot
    * hide behind a constant).
    */
  private[queries] def indexRefitRecallOracleSql: String = {
    import AnnOracles._
    s"""WITH $driftedCte,
       |$kmeansQuantCte,
       |qbc AS (SELECT * FROM qb WHERE id % 5 <> 0),
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, src = "qbc", pfx = "fz")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, fitSrc = "qbc", pfx = "fz")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, pfx = "fz")},
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, pfx = "rf")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, pfx = "rf")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, pfx = "rf")},
       |h1 AS (SELECT a.qid, count(*) AS c FROM fzpqrr a JOIN rfpqrr b ON a.qid = b.qid AND a.nid = b.nid GROUP BY 1),
       |h2 AS (SELECT a.qid, count(*) AS c FROM rfpqrr a JOIN rfpqrr b ON a.qid = b.qid AND a.nid = b.nid GROUP BY 1)
       |SELECT 'frozen' AS phase, CAST(coalesce(h1.c, 0) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n
       |FROM (SELECT id AS qid FROM cf) q LEFT JOIN h1 USING (qid) GROUP BY 1, 2
       |UNION ALL
       |SELECT 'refit' AS phase, CAST(coalesce(h2.c, 0) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n
       |FROM (SELECT id AS qid FROM cf) q LEFT JOIN h2 USING (qid) GROUP BY 1, 2""".stripMargin
  }

  /** The t16 streamed-refit oracle: the probe stream serves the SAME
    * `% 97` query set in every micro-batch while a full
    * [[graft.llmops.AnnIndex.refit]] lands between batch 0 and batch 1 —
    * batch 0 answers from the frozen fit, batches 1–2 from the new one,
    * so the deduped output is the SET UNION of the frozen-fit replay and
    * the fresh-fit replay (the t15 pattern with a SECOND fit in place of
    * the survivor filter; rank participates in the dedup key as there).
    */
  private[queries] def indexRefitUnionPrunedOracleSql: String = {
    import AnnOracles._
    s"""WITH $driftedCte,
       |$kmeansQuantCte,
       |qbc AS (SELECT * FROM qb WHERE id % 5 <> 0),
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, src = "qbc", pfx = "fz")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, fitSrc = "qbc", pfx = "fz")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, pfx = "fz")},
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, pfx = "rf")},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L, pfx = "rf")},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, pfx = "rf")}
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM fzpqrr WHERE qid % 97 = 0
       |UNION
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM rfpqrr WHERE qid % 97 = 0""".stripMargin
  }

  /** The llm_ann_index_filtered oracle — [[indexPrunedOracleSql]] with
    * the filtered-search predicate on the INDEX side (`kpp.id % 7 = 1`):
    * every query still probes, only matching rows may answer, and each
    * query's k fills from matching survivors (the whole point of
    * filtering BEFORE ranking — a post-filtered top-k would under-fill).
    */
  private[queries] def indexFilteredPrunedOracleSql: String = {
    import AnnOracles._
    s"""WITH $clusteredCte,
       |$kmeansQuantCte,
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
       |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L)},
       |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, idxFilter = "kpp.id % 7 = 1")}
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM pqrr WHERE qid % 97 = 0""".stripMargin
  }

  /** The llm_ann_index_policy oracle: the maintenance ledger replayed
    * from the shared frozen assignment — per cell, fit/now occupancy from
    * the corpus-slice fit, LAYER count from the construction (fit layer
    * −1 for corpus rows, batch id = id mod 3 for the three appends), and
    * the same integer threshold rules as plan literals
    * (empty-cell refit gated on the round-17 mass floor
    * now_n·cells·20 ≥ total·1 with cells = 8, growth refit at
    * added·4 ≥ fit_n, compact at ≥ 2 layers).
    */
  private[queries] def indexPolicyOracleSql: String = {
    import AnnOracles._
    s"""WITH $clusteredCte,
       |$kmeansQuantCte,
       |qbc AS (SELECT * FROM qb WHERE id % 5 <> 0),
       |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, src = "qbc")},
       |asgp AS (SELECT qb.id, c.cid, (qb.id % 5 <> 0) AS infit,
       |    CASE WHEN qb.id % 5 <> 0 THEN -1 ELSE qb.id % 3 END AS batch
       |  FROM qb CROSS JOIN k2 c
       |  QUALIFY row_number() OVER (PARTITION BY qb.id
       |    ORDER BY list_cosine_similarity(qb.qv, c.cv) DESC, c.cid) = 1),
       |agg AS (SELECT CAST(cid AS INTEGER) AS cell,
       |         CAST(sum(CASE WHEN infit THEN 1 ELSE 0 END) AS BIGINT) AS fit_n,
       |         CAST(count(*) AS BIGINT) AS now_n,
       |         CAST(count(DISTINCT batch) AS BIGINT) AS layers
       |       FROM asgp GROUP BY 1)
       |SELECT cell, fit_n, now_n, layers, now_n - fit_n AS added,
       |  CASE WHEN fit_n = 0 AND now_n > 0
       |         AND now_n * 8 * 20 >= (SELECT sum(now_n) FROM agg) * 1 THEN 'refit'
       |       WHEN fit_n > 0 AND now_n - fit_n > 0 AND (now_n - fit_n) * 4 >= fit_n * 1 THEN 'refit'
       |       WHEN layers >= 2 THEN 'compact'
       |       ELSE 'ok' END AS decision
       |FROM agg""".stripMargin
  }

  /** Synthetic re-ingest copy id: doc_id + 100000, guarded per-row so the
    * fixture fails LOUDLY if the corpus ever grows ids into the synthetic
    * range. A silent collision would change fixture semantics identically
    * on both engines — the hash gate would stay green — so the Spark side
    * must abort instead (mirrors the capPlanes requires). Zero extra jobs:
    * the guard rides the scan.
    */
  private[queries] def copyId(c: org.apache.spark.sql.Column, gen: Int = 1): org.apache.spark.sql.Column =
    when(
      c >= 100000L,
      raise_error(concat(lit("fixture copy-id collision: doc_id "), c.cast("string"), lit(" >= 100000")))
    ).otherwise(c + gen * 100000L)

  /** Duplicated-span fixture (shared by llm_duplicate_spans /
    * llm_span_removal): corpus plus every 31st doc re-ingested under a
    * new id with a 2-token prefix — its whole body becomes one maximal
    * duplicated span, shifted by the prefix.
    */
  private def spanFixture(
      spark: org.apache.spark.sql.SparkSession,
      sf: String
  ): org.apache.spark.sql.DataFrame = {
    val docs = table(spark, sf, "documents")
    docs
      .select("doc_id", "text")
      .unionByName(
        docs
          .filter(col("doc_id") % 31 === 0)
          .select(copyId(col("doc_id")).as("doc_id"), concat(lit("intro segment "), col("text")).as("text"))
      )
  }

  /** SQL half of [[spanFixture]] + the k=8 duplicated-span CTE chain
    * (window fingerprints → canonical-occurrence window → island merge),
    * ending in `spans(doc_id, span_start, span_end, n_windows)`.
    */
  private val dupSpanCtes: String =
    """src AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, 'intro segment ' || text AS text
      |  FROM documents WHERE doc_id % 31 = 0),
      |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM src WHERE len(string_split(text, ' ')) >= 8),
      |w AS (SELECT doc_id, unnest(range(len(toks) - 7)) AS pos, toks FROM t),
      |fpw AS (SELECT doc_id, pos, md5(array_to_string(toks[pos+1:pos+8], ' ')) AS fp FROM w),
      |d AS (SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM fpw)
      |  WHERE rn > 1),
      |i AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM d),
      |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |            CAST(max(pos) + 7 AS BIGINT) AS span_end,
      |            CAST(count(*) AS BIGINT) AS n_windows
      |          FROM i GROUP BY doc_id, isl)""".stripMargin

  /** The (train, valid) halves of the content-hash split — the Spark side
    * of [[decontamCte]]'s `lab`.
    */
  private def trainValidSplit(
      spark: org.apache.spark.sql.SparkSession,
      sf: String
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = table(spark, sf, "documents")
      .withColumn("__split", Corpus.splitByContentHash(col("text"), trainPercent = 90))
    (docs.filter(col("__split") === "train").drop("__split"),
      docs.filter(col("__split") === "valid").drop("__split"))
  }

  /** Cross-table exact-Jaccard oracle: all (a, b) pairs with a from the
    * batch predicate, b from the corpus predicate, jaccard >= tau — the
    * answer [[Dedup.minhashNearDupAgainst]] must equal at its registered
    * (numHashes, bands), where recall at tau is effectively 1.
    */
  private def jaccardPairsXtableSql(tau: Double, aPred: String, bPred: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2),
       |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh FROM t),
       |n AS (SELECT doc_id, count(*) AS n FROM s0 GROUP BY 1),
       |p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |      FROM s0 a JOIN s0 b ON a.sh = b.sh AND ($aPred) AND ($bPred) GROUP BY 1, 2)
       |SELECT p.a, p.b, CAST(p.inter AS DOUBLE)/(na.n + nb.n - p.inter) AS jaccard
       |FROM p JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
       |WHERE CAST(p.inter AS DOUBLE)/(na.n + nb.n - p.inter) >= $tau""".stripMargin

  private def jaccardPairsSql(tau: Double, maxDf: Int = 0): String =
    s"""${shingleCteCapped(maxDf)}
       |SELECT p.a, p.b, CAST(p.inter AS DOUBLE)/(na.n + nb.n - p.inter) AS jaccard
       |FROM p JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
       |WHERE CAST(p.inter AS DOUBLE)/(na.n + nb.n - p.inter) >= $tau""".stripMargin

  // ---------------------------------------------------------------------
  // ANN oracle generators: DuckDB replays of the seeded approximate
  // algorithms. The hyperplanes/centroids come from the SAME code the
  // Spark plan uses (Similarity.hyperplanes / smallest-id centroids), so
  // the oracle is an independent engine running the identical algorithm.
  // ---------------------------------------------------------------------
  private object AnnOracles {

    /** Embedding dim of the driver testdata; the Spark side probes it at
      * runtime, the SQL literal generator needs it statically. A mismatch
      * fails loudly in [[embeddingsDimChecked]] before any query runs.
      */
    val Dim = 64

    private def planeArray(p: Array[Double]): String =
      p.mkString("CAST([", ", ", "] AS DOUBLE[])")

    /** `e` CTE: embeddings as double vectors. */
    val eCte: String =
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"

    /** Banded sign-bucket keys, one SELECT per table, UNION ALL — the SQL
      * replay of [[Similarity.planeSignature]] over
      * [[Similarity.hyperplanes]](planes, Dim, seed + t).
      */
    def lshBandsCte(
        tables: Int,
        planes: Int,
        seed: Long,
        probeBits: Int = 0,
        probeDepth: Int = 1,
        src: String = "e",
        idC: String = "vec_id"
    ): String = {
      val blocks = (0 until tables).map { t =>
        val ps = Similarity.hyperplanes(planes, Dim, seed + t)
        val key = ps.zipWithIndex
          .map { case (p, i) =>
            s"(CASE WHEN list_inner_product(v, ${planeArray(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
          }
          .mkString(" + ")
        s"SELECT $idC AS vec_id, $t AS tbl, $key AS key FROM $src"
      }
      // multi-probe: query side also visits the flipped buckets — the mask
      // list comes from the SAME code the Spark plan uses
      // (Similarity.probeMasks), so the replay probes identical buckets
      val probeSide =
        if (probeBits <= 0) "lb"
        else {
          val flips = Similarity
            .probeMasks(probeBits, probeDepth)
            .drop(1) // identity handled by the base SELECT
            .map(m => s"SELECT vec_id, tbl, xor(key, $m) AS key FROM lb")
          s"(SELECT vec_id, tbl, key FROM lb UNION ALL ${flips.mkString(" UNION ALL ")})"
        }
      s"lb AS (${blocks.mkString("\nUNION ALL\n")}),\n" +
        s"cand AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid FROM $probeSide x JOIN lb y " +
        "ON x.tbl = y.tbl AND x.key = y.key AND x.vec_id <> y.vec_id)"
    }

    /** Two-sided banded keys + candidates for the cross-table (retrieval)
      * shape: the query subset (rows of `e` matching `qPred`) is banded
      * and multi-probe-expanded, the corpus subset (`cPred`) is banded at
      * base keys, candidates are the bucket join WITHOUT the self-pair
      * exclusion — the SQL replay of [[Similarity.lshTopKAgainst]].
      */
    def lshBandsXtableCte(
        tables: Int,
        planes: Int,
        seed: Long,
        qPred: String,
        cPred: String,
        probeBits: Int = 0,
        probeDepth: Int = 1
    ): String = {
      def blocks(pred: String): String =
        (0 until tables)
          .map { t =>
            val ps = Similarity.hyperplanes(planes, Dim, seed + t)
            val key = ps.zipWithIndex
              .map { case (p, i) =>
                s"(CASE WHEN list_inner_product(v, ${planeArray(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
              }
              .mkString(" + ")
            s"SELECT vec_id, $t AS tbl, $key AS key FROM e WHERE $pred"
          }
          .mkString("\nUNION ALL\n")
      val probeSide =
        if (probeBits <= 0) "lbq"
        else {
          val flips = Similarity
            .probeMasks(probeBits, probeDepth)
            .drop(1) // identity handled by the base SELECT
            .map(m => s"SELECT vec_id, tbl, xor(key, $m) AS key FROM lbq")
          s"(SELECT vec_id, tbl, key FROM lbq UNION ALL ${flips.mkString(" UNION ALL ")})"
        }
      s"lbq AS (${blocks(qPred)}),\n" +
        s"lbc AS (${blocks(cPred)}),\n" +
        s"cand AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid FROM $probeSide x JOIN lbc y " +
        "ON x.tbl = y.tbl AND x.key = y.key)"
    }

    /** Auto-width banded sign-bucket keys — the SQL replay of the
      * `planesPerTable = AutoPlanes` path: embeds `capPlanes` hyperplane
      * literals per table (a PREFIX superset — [[Similarity.hyperplanes]]
      * fills plane-by-plane, asserted by LlmOpsSpec) and gates sign
      * bit i on `i < pl`, where `pl` replays
      * [[Similarity.suggestedPlanes]]'s integer rule (smallest p >= 1 with
      * n <= targetBucket·2^p) from count(*) — integer shifts on both
      * engines, so no floating-log ULP can split them at power-of-two
      * boundaries. Valid only while n <= targetBucket·2^capPlanes (beyond
      * it `pl` is NULL and every key degenerates to 0); callers guard the
      * row count loudly before running.
      *
      * `prefix` renames the emitted CTEs (np/lb/cand → {p}np/{p}lb/{p}cand)
      * so an auto chain can coexist with the fixed-knob chain in one
      * statement (the recall ledger does).
      */
    def lshBandsAutoCte(
        tables: Int,
        capPlanes: Int,
        seed: Long,
        targetBucket: Long,
        probeBits: Int = 0,
        probeDepth: Int = 1,
        prefix: String = ""
    ): String = {
      val np = s"${prefix}np"
      val lb = s"${prefix}lb"
      val cand = s"${prefix}cand"
      val npCte =
        s"""$np AS (SELECT CAST(min(p) AS INTEGER) AS pl FROM range(1, ${capPlanes + 1}) r(p)
           |  WHERE (SELECT count(*) FROM e) <= $targetBucket * (CAST(1 AS BIGINT) << p))""".stripMargin
      val blocks = (0 until tables).map { t =>
        val ps = Similarity.hyperplanes(capPlanes, Dim, seed + t)
        val key = ps.zipWithIndex
          .map { case (p, i) =>
            s"(CASE WHEN $i < $np.pl AND list_inner_product(v, ${planeArray(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
          }
          .mkString(" + ")
        s"SELECT vec_id, $t AS tbl, $key AS key FROM e, $np"
      }
      val probeSide =
        if (probeBits <= 0) lb
        else {
          val flips = Similarity
            .probeMasks(probeBits, probeDepth)
            .drop(1) // identity handled by the base SELECT
            .map(m => s"SELECT vec_id, tbl, xor(key, $m) AS key FROM $lb")
          s"(SELECT vec_id, tbl, key FROM $lb UNION ALL ${flips.mkString(" UNION ALL ")})"
        }
      s"$npCte,\n$lb AS (${blocks.mkString("\nUNION ALL\n")}),\n" +
        s"$cand AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid FROM $probeSide x JOIN $lb y " +
        "ON x.tbl = y.tbl AND x.key = y.key AND x.vec_id <> y.vec_id)"
    }

    /** Auto-width two-sided banded keys + candidates — the cross-table
      * (retrieval) form of [[lshBandsAutoCte]]: width from the CORPUS-side
      * count (`cPred` rows — the side that drives occupancy, exactly as
      * [[Similarity.lshTopKAgainst]] resolves it), query side banded at
      * the same gated width and multi-probe-expanded, candidates joined
      * without the self-pair exclusion.
      */
    def lshBandsXtableAutoCte(
        tables: Int,
        capPlanes: Int,
        seed: Long,
        targetBucket: Long,
        qPred: String,
        cPred: String,
        probeBits: Int = 0,
        probeDepth: Int = 1
    ): String = {
      val npCte =
        s"""np AS (SELECT CAST(min(p) AS INTEGER) AS pl FROM range(1, ${capPlanes + 1}) r(p)
           |  WHERE (SELECT count(*) FROM e WHERE $cPred) <= $targetBucket * (CAST(1 AS BIGINT) << p))""".stripMargin
      def blocks(pred: String): String =
        (0 until tables)
          .map { t =>
            val ps = Similarity.hyperplanes(capPlanes, Dim, seed + t)
            val key = ps.zipWithIndex
              .map { case (p, i) =>
                s"(CASE WHEN $i < np.pl AND list_inner_product(v, ${planeArray(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
              }
              .mkString(" + ")
            s"SELECT vec_id, $t AS tbl, $key AS key FROM e, np WHERE $pred"
          }
          .mkString("\nUNION ALL\n")
      val probeSide =
        if (probeBits <= 0) "lbq"
        else {
          val flips = Similarity
            .probeMasks(probeBits, probeDepth)
            .drop(1) // identity handled by the base SELECT
            .map(m => s"SELECT vec_id, tbl, xor(key, $m) AS key FROM lbq")
          s"(SELECT vec_id, tbl, key FROM lbq UNION ALL ${flips.mkString(" UNION ALL ")})"
        }
      s"$npCte,\nlbq AS (${blocks(qPred)}),\n" +
        s"lbc AS (${blocks(cPred)}),\n" +
        s"cand AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid FROM $probeSide x JOIN lbc y " +
        "ON x.tbl = y.tbl AND x.key = y.key)"
    }

    /** LSH top-k as (qid, nid, rnk) — exact cosine re-rank of the bucketed
      * candidates, ties broken by nid, identical to [[Similarity.lshTopK]].
      * `prefix` must match the bands CTE feeding it.
      */
    def lshTopCte(k: Int, prefix: String = "", src: String = "e", idC: String = "vec_id"): String =
      s"""${prefix}lr AS (SELECT c.qid, c.nid, list_cosine_similarity(ea.v, eb.v) AS cos
         |       FROM ${prefix}cand c JOIN $src ea ON ea.$idC = c.qid JOIN $src eb ON eb.$idC = c.nid),
         |${prefix}lshtop AS (SELECT qid, nid, rnk FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk FROM ${prefix}lr)
         |  WHERE rnk <= $k)""".stripMargin

    /** IVF top-k as (qid, nid, rnk) — smallest-id centroids, nprobe cell
      * probing, exact re-rank; identical to [[Similarity.ivfTopK]].
      */
    def ivfTopCte(k: Int, cells: Int, nprobe: Int): String =
      s"""ic AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT $cells),
         |ip AS (SELECT e.vec_id AS id, e.v AS pv, ic.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY list_cosine_similarity(e.v, ic.cv) DESC, ic.cid) AS crank
         |       FROM e CROSS JOIN ic QUALIFY crank <= $nprobe),
         |iidx AS (SELECT cid, id AS nid, pv AS nv FROM ip WHERE crank = 1),
         |iq AS (SELECT cid, id AS qid, pv AS qv FROM ip),
         |ivftop AS (SELECT qid, nid, rnk FROM (
         |  SELECT iq.qid, iidx.nid,
         |    row_number() OVER (PARTITION BY iq.qid
         |      ORDER BY list_cosine_similarity(iq.qv, iidx.nv) DESC, iidx.nid) AS rnk
         |  FROM iq JOIN iidx ON iq.cid = iidx.cid AND iq.qid <> iidx.nid)
         |  WHERE rnk <= $k)""".stripMargin

    /** Auto-cells IVF top-k — the SQL replay of the
      * [[Similarity.suggestedCells]] sqrt rule: `cells` is the smallest c
      * with c² >= count(*) (integer comparisons, same
      * no-floating-point-boundary contract as the auto-LSH width), the
      * smallest-id centroid set is rank-gated on that count, and the rest
      * of the probe chain is [[ivfTopCte]] verbatim. Valid while
      * n <= capCells²; callers guard the row count loudly.
      */
    def ivfTopAutoCte(k: Int, capCells: Int, nprobe: Int): String =
      s"""nc AS (SELECT CAST(min(c) AS INTEGER) AS cells FROM range(1, ${capCells + 1}) r(c)
         |  WHERE (SELECT count(*) FROM e) <= CAST(c AS BIGINT) * c),
         |ic AS (SELECT vec_id AS cid, v AS cv FROM (
         |         SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
         |       WHERE rn <= (SELECT cells FROM nc)),
         |ip AS (SELECT e.vec_id AS id, e.v AS pv, ic.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY list_cosine_similarity(e.v, ic.cv) DESC, ic.cid) AS crank
         |       FROM e CROSS JOIN ic QUALIFY crank <= $nprobe),
         |iidx AS (SELECT cid, id AS nid, pv AS nv FROM ip WHERE crank = 1),
         |iq AS (SELECT cid, id AS qid, pv AS qv FROM ip),
         |ivftop AS (SELECT qid, nid, rnk FROM (
         |  SELECT iq.qid, iidx.nid,
         |    row_number() OVER (PARTITION BY iq.qid
         |      ORDER BY list_cosine_similarity(iq.qv, iidx.nv) DESC, iidx.nid) AS rnk
         |  FROM iq JOIN iidx ON iq.cid = iidx.cid AND iq.qid <> iidx.nid)
         |  WHERE rnk <= $k)""".stripMargin

    /** Cross-table IVF top-k (qid, nid, rnk): centroids and home-cell
      * index from the corpus predicate only, probing from the query
      * predicate — the SQL replay of [[Similarity.ivfTopKAgainst]].
      * Predicates are written against `vec_id`.
      */
    def ivfTopXtableCte(k: Int, cells: Int, nprobe: Int, qPred: String, cPred: String): String =
      s"""ic AS (SELECT vec_id AS cid, v AS cv FROM e WHERE $cPred ORDER BY vec_id LIMIT $cells),
         |ia AS (SELECT e.vec_id AS id, e.v AS pv, ic.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY list_cosine_similarity(e.v, ic.cv) DESC, ic.cid) AS crank
         |       FROM e CROSS JOIN ic WHERE $cPred QUALIFY crank = 1),
         |qa AS (SELECT e.vec_id AS id, e.v AS pv, ic.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY list_cosine_similarity(e.v, ic.cv) DESC, ic.cid) AS crank
         |       FROM e CROSS JOIN ic WHERE $qPred QUALIFY crank <= $nprobe),
         |ivfxtop AS (SELECT qid, nid, rnk FROM (
         |  SELECT qa.id AS qid, ia.id AS nid,
         |    row_number() OVER (PARTITION BY qa.id
         |      ORDER BY list_cosine_similarity(qa.pv, ia.pv) DESC, ia.id) AS rnk
         |  FROM qa JOIN ia ON qa.cid = ia.cid)
         |  WHERE rnk <= $k)""".stripMargin

    /** Brute top-k (qid, nid) — the exact baseline for recall math. */
    def bruteTopCte(k: Int, src: String = "e", idC: String = "vec_id"): String =
      s"""br AS (SELECT a.$idC AS qid, b.$idC AS nid FROM $src a JOIN $src b ON a.$idC <> b.$idC
         |  QUALIFY row_number() OVER (PARTITION BY a.$idC
         |    ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.$idC) <= $k)""".stripMargin

    // -------------------------------------------------------------------
    // Clustered ANN fixture + k-means IVF replay. The driver's embeddings
    // are structureless random vectors — the regime where NO coarse
    // quantizer can beat brute force (llm_ann_ivf's 74% recall ceiling).
    // k-means IVF is the upgrade for CLUSTERED data, so its gate runs on a
    // deterministic clustered fixture derived from the same parquet table:
    //   v = center[md5(vec_id) % 8] + 0.25 · embedding
    // The 8 gaussian centers are plan literals (Similarity.hyperplanes,
    // seed 7) shared verbatim with this SQL generator; the md5 cluster
    // assignment keeps "smallest ids as centroids" from trivially covering
    // every cluster, so the fixture actually separates the identity
    // quantizer from the fitted one.
    // -------------------------------------------------------------------
    val FixtureClusters = 8
    val FixtureNoise = 0.25
    def fixtureCenters: Array[Array[Double]] =
      Similarity.hyperplanes(FixtureClusters, Dim, seed = 7L)

    /** `cf` CTE: the clustered fixture as (id, v DOUBLE[]). */
    def clusteredCte: String = {
      val values = fixtureCenters.zipWithIndex
        .map { case (cv, c) => s"($c, ${planeArray(cv)})" }
        .mkString(",\n  ")
      s"""kc(c, cv) AS (VALUES
         |  $values),
         |cf AS (SELECT e.vec_id AS id,
         |         list_transform(range(1, ${Dim + 1}),
         |           j -> kc.cv[j] + $FixtureNoise * CAST(e.embedding[j] AS DOUBLE)) AS v
         |       FROM embeddings e JOIN kc
         |         ON kc.c = CAST(CAST(concat('0x', substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8)) AS UBIGINT)
         |                        % $FixtureClusters AS BIGINT))""".stripMargin
    }

    /** Where the ARRIVING batch's clusters sit in the drift-recall
      * fixture (seed 11) — deliberately different hyperplanes from
      * [[fixtureCenters]], so rows appended after the fit drift away from
      * the frozen centroids while the corpus slice stays put.
      */
    def driftCenters: Array[Array[Double]] =
      Similarity.hyperplanes(FixtureClusters, Dim, seed = 11L)

    /** [[clusteredCte]] variant for the drift ledger: corpus rows
      * (id % 5 <> 0) use the fit-time centers `kc`, batch rows
      * (id % 5 = 0) the drifted ones `kcd`. Downstream CTEs read the same
      * `cf` name, so the whole replay machinery applies unchanged.
      */
    def driftedCte: String = {
      val values = fixtureCenters.zipWithIndex
        .map { case (cv, c) => s"($c, ${planeArray(cv)})" }
        .mkString(",\n  ")
      val dvalues = driftCenters.zipWithIndex
        .map { case (cv, c) => s"($c, ${planeArray(cv)})" }
        .mkString(",\n  ")
      s"""kc(c, cv) AS (VALUES
         |  $values),
         |kcd(c, cv) AS (VALUES
         |  $dvalues),
         |cf AS (SELECT e.vec_id AS id,
         |         list_transform(range(1, ${Dim + 1}),
         |           j -> (CASE WHEN e.vec_id % 5 = 0 THEN kcd.cv[j] ELSE kc.cv[j] END)
         |                + $FixtureNoise * CAST(e.embedding[j] AS DOUBLE)) AS v
         |       FROM embeddings e
         |       JOIN kc ON kc.c = CAST(CAST(concat('0x', substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8)) AS UBIGINT)
         |                        % $FixtureClusters AS BIGINT)
         |       JOIN kcd ON kcd.c = kc.c)""".stripMargin
    }

    /** `qb` CTE: fixture rows with their int8-quantized (as DOUBLE) vectors
      * — the SQL replay of [[Embeddings.quantizeInt8]] (floor(x·127/s + .5),
      * half-up; all-zero guard).
      */
    val kmeansQuantCte: String =
      s"""qs AS (SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM cf),
         |qb AS (SELECT id, v,
         |         list_transform(v, x -> CASE WHEN s = 0 THEN 0.0
         |                                     ELSE floor(x * 127.0 / s + 0.5) END) AS qv
         |       FROM qs)""".stripMargin

    /** `kmtop` CTE chain: the full [[Similarity.ivfTopKKmeans]] replay —
      * md5-order seeded init, `iters` unrolled Lloyd iterations (argmax-
      * cosine assignment with cid tie-break; exact integer-sum means), then
      * nprobe cell probing on the quantized vectors and exact re-rank on
      * the original ones.
      */
    /** The k-means FIT alone (k0 … k`iters` CTEs over `src`, default the
      * full quantized fixture `qb`) — shared by the IVF probe chain and
      * the SemDeDup assignment. `cellsSql` overrides the init gate with a
      * SQL expression (the auto-cells replay passes a scalar subquery on
      * the data-derived ⌈√n⌉ count — [[Similarity.suggestedCells]]'s
      * integer rule, same no-floating-point contract as the auto-LSH
      * width); `src` points the fit at a SAMPLED projection of `qb` for
      * the `fitSamplePercent < 100` replay (assignment CTEs downstream
      * keep reading the full `qb` — only the fit sees the sample, exactly
      * as [[Similarity.kmeansCentroids]] scopes it).
      */
    /** `pfx` prefixes every CTE this generator defines (and the
      * references between them) so TWO independent fit/probe chains can
      * coexist in one oracle — the drift-recall ledger replays a
      * frozen-fit chain and a refit chain side by side. With the default
      * "" the generated SQL is byte-identical to the unprefixed form.
      */
    def kmeansFitCtes(cells: Int, iters: Int, seed: Long, src: String = "qb", cellsSql: String = "", pfx: String = ""): String = {
      val gate = if (cellsSql.nonEmpty) cellsSql else cells.toString
      val init =
        s"""${pfx}k0 AS (SELECT rn - 1 AS cid, qv AS cv FROM (
           |  SELECT qv, row_number() OVER (ORDER BY
           |    CAST(concat('0x', substr(md5(concat_ws(':', '$seed', CAST(id AS VARCHAR))), 1, 8)) AS UBIGINT),
           |    id) AS rn
           |  FROM $src) WHERE rn <= $gate)""".stripMargin
      val iterCtes = (1 to iters).map { i =>
        s"""${pfx}a$i AS (SELECT $src.id, $src.qv, c.cid FROM $src CROSS JOIN ${pfx}k${i - 1} c
           |  QUALIFY row_number() OVER (PARTITION BY $src.id
           |    ORDER BY list_cosine_similarity($src.qv, c.cv) DESC, c.cid) = 1),
           |${pfx}u$i AS (SELECT a.cid, u.i AS dim, sum(a.qv[u.i + 1]) / count(*) AS m
           |        FROM ${pfx}a$i a, unnest(range(len(a.qv))) AS u(i) GROUP BY 1, 2),
           |${pfx}k$i AS (SELECT cid, list(m ORDER BY dim) AS cv FROM ${pfx}u$i GROUP BY cid)""".stripMargin
      }
      (init +: iterCtes).mkString(",\n")
    }

    /** `snc` CTE: the [[Similarity.suggestedCells]] ⌈√n⌉ rule over the
      * fit source's row count — smallest c with c² >= count(*), integer
      * comparisons only (the same boundary-exact contract as the auto-LSH
      * `np` CTE). Valid while n <= capCells²; callers guard loudly.
      */
    def autoCellsCte(capCells: Int, src: String = "qb"): String =
      s"""snc AS (SELECT CAST(min(c) AS INTEGER) AS cells FROM range(1, ${capCells + 1}) r(c)
         |  WHERE (SELECT count(*) FROM $src) <= CAST(c AS BIGINT) * c)""".stripMargin

    /** `qbs` CTE: the deterministic md5-bucket fit sample of `qb` — the
      * SQL replay of [[Similarity.kmeansCentroids]]'s
      * `fitSamplePercent < 100` filter (bucket = first 8 md5 hex digits of
      * "fit:seed:id" mod 100).
      */
    def fitSampleCte(seed: Long, fitSamplePercent: Int): String =
      s"""qbs AS (SELECT * FROM qb
         |  WHERE CAST(concat('0x', substr(md5(concat_ws(':', 'fit', '$seed', CAST(id AS VARCHAR))), 1, 8)) AS UBIGINT)
         |        % 100 < $fitSamplePercent)""".stripMargin

    /** SemDeDup replay over the fitted centroids: rank-1 assignment with
      * centroid similarity, same-cell near-dup pairs at cosine >= tau on
      * the ORIGINAL vectors, drop any doc with a (csim, id)-smaller
      * neighbor — [[Similarity.semDedup]]'s exact rule.
      */
    def semDedupCtes(tau: Double, iters: Int): String =
      s"""sasg AS (SELECT qb.id, qb.v, c.cid, list_cosine_similarity(qb.qv, c.cv) AS csim
         |  FROM qb CROSS JOIN k$iters c
         |  QUALIFY row_number() OVER (PARTITION BY qb.id
         |    ORDER BY list_cosine_similarity(qb.qv, c.cv) DESC, c.cid) = 1),
         |sdrop AS (SELECT DISTINCT x.id FROM sasg x JOIN sasg y
         |  ON x.cid = y.cid AND x.id <> y.id
         |  WHERE list_cosine_similarity(x.v, y.v) >= $tau
         |    AND (y.csim < x.csim OR (y.csim = x.csim AND y.id < x.id)))""".stripMargin

    /** Skew-capped SemDeDup replay ([[Similarity.semDedup]] with
      * `maxCell > 0`): rank each cell's members by (csim desc, id), block
      * key = (rank−1) div maxCell, and seek pairs only within (cid, blk) —
      * the similarity-ordered blocking that bounds a skewed cell's pair
      * work at maxCell² per block.
      */
    def semDedupCappedCtes(tau: Double, iters: Int, maxCell: Int): String =
      semDedupCappedCtesSql(tau, iters, maxCell.toString)

    /** [[semDedupCappedCtes]] with the cap as a SQL expression — the
      * [[Similarity.AutoMaxCell]] replay passes the data-derived
      * 4·⌈n/cells⌉ integer rule as a scalar subquery, the same
      * no-floating-point contract as the auto-cells `snc` CTE.
      */
    def semDedupCappedCtesSql(tau: Double, iters: Int, maxCell: String): String =
      s"""sasg AS (SELECT qb.id, qb.v, c.cid, list_cosine_similarity(qb.qv, c.cv) AS csim
         |  FROM qb CROSS JOIN k$iters c
         |  QUALIFY row_number() OVER (PARTITION BY qb.id
         |    ORDER BY list_cosine_similarity(qb.qv, c.cv) DESC, c.cid) = 1),
         |sblk AS (SELECT *, CAST(floor(CAST(row_number() OVER (PARTITION BY cid
         |    ORDER BY csim DESC, id) - 1 AS DOUBLE) / $maxCell) AS BIGINT) AS blk FROM sasg),
         |sdrop AS (SELECT DISTINCT x.id FROM sblk x JOIN sblk y
         |  ON x.cid = y.cid AND x.blk = y.blk AND x.id <> y.id
         |  WHERE list_cosine_similarity(x.v, y.v) >= $tau
         |    AND (y.csim < x.csim OR (y.csim = x.csim AND y.id < x.id)))""".stripMargin

    def kmeansIvfCte(k: Int, cells: Int, nprobe: Int, iters: Int, seed: Long, fitSrc: String = "qb"): String = {
      val probe =
        s"""kp AS (SELECT qb.id, qb.v, c.cid,
           |         row_number() OVER (PARTITION BY qb.id
           |           ORDER BY list_cosine_similarity(qb.qv, c.cv) DESC, c.cid) AS crank
           |       FROM qb CROSS JOIN k$iters c QUALIFY crank <= $nprobe),
           |kidx AS (SELECT cid, id AS nid, v AS nv FROM kp WHERE crank = 1),
           |kq AS (SELECT cid, id AS qid, v AS qv2 FROM kp),
           |kmtop AS (SELECT qid, nid, rnk FROM (
           |  SELECT kq.qid, kidx.nid,
           |    row_number() OVER (PARTITION BY kq.qid
           |      ORDER BY list_cosine_similarity(kq.qv2, kidx.nv) DESC, kidx.nid) AS rnk
           |  FROM kq JOIN kidx ON kq.cid = kidx.cid AND kq.qid <> kidx.nid)
           |  WHERE rnk <= $k)""".stripMargin
      kmeansFitCtes(cells, iters, seed, src = fitSrc) + ",\n" + probe
    }

    /** `fivtop` CTE: [[Similarity.ivfTopK]] (identity smallest-id
      * quantizer) replayed over the clustered fixture — the comparison row
      * in the k-means recall ledger.
      */
    def fixtureIvfCte(k: Int, cells: Int, nprobe: Int): String =
      s"""fic AS (SELECT id AS cid, v AS cv FROM cf ORDER BY id LIMIT $cells),
         |fip AS (SELECT cf.id, cf.v, fic.cid,
         |          row_number() OVER (PARTITION BY cf.id
         |            ORDER BY list_cosine_similarity(cf.v, fic.cv) DESC, fic.cid) AS crank
         |        FROM cf CROSS JOIN fic QUALIFY crank <= $nprobe),
         |fidx AS (SELECT cid, id AS nid, v AS nv FROM fip WHERE crank = 1),
         |fiq AS (SELECT cid, id AS qid, v AS qv2 FROM fip),
         |fivtop AS (SELECT qid, nid FROM (
         |  SELECT fiq.qid, fidx.nid,
         |    row_number() OVER (PARTITION BY fiq.qid
         |      ORDER BY list_cosine_similarity(fiq.qv2, fidx.nv) DESC, fidx.nid) AS rnk
         |  FROM fiq JOIN fidx ON fiq.cid = fidx.cid AND fiq.qid <> fidx.nid)
         |  WHERE rnk <= $k)""".stripMargin

    /** `fbr` CTE: brute top-k over the clustered fixture. */
    def fixtureBruteCte(k: Int): String =
      s"""fbr AS (SELECT a.id AS qid, b.id AS nid FROM cf a JOIN cf b ON a.id <> b.id
         |  QUALIFY row_number() OVER (PARTITION BY a.id
         |    ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.id) <= $k)""".stripMargin

    /** PQ codebook fit + encode replay ([[Similarity.pqCodebooks]] /
      * [[Similarity.pqEncode]]): subvector split of the quantized `qb`
      * vectors, md5-order seeded per-subspace init, `pqIters` unrolled
      * Lloyd rounds with argmin EXACT-INTEGER squared-L2 assignment (cid
      * tie-break; every difference/square/sum is an exact integer — no
      * reduction-order or ULP channel) and exact integer-sum means, then
      * encode + reconstruction `prv` (codewords concatenated in subspace
      * order).
      */
    def pqCtes(dim: Int, m: Int, ks: Int, pqIters: Int, seed: Long, fitSrc: String = "qb", pfx: String = ""): String = {
      val sub = dim / m
      val l2 = "list_sum(list_transform(range(len(sv)), i -> (sv[i+1] - c.cv[i+1]) * (sv[i+1] - c.cv[i+1])))"
      // fit vs encode split (the append replay): the PQ FIT (init + Lloyd
      // rounds) sees only `fitSrc`'s subvectors, while the encode CTEs
      // `pe`/`prv` keep reading the FULL `psub` — exactly how
      // AnnIndex.fitIvfPq scopes the fit and AnnIndex.encodeAgainst
      // encodes arrivals against the frozen codebooks. With the default
      // fitSrc the generated SQL is byte-identical to the pre-split form.
      // `pfx` as in kmeansFitCtes: namespaces the chain for side-by-side
      // replays.
      val psub = s"${pfx}psub"
      val fitSub = if (fitSrc == "qb") psub else s"${pfx}psubf"
      val subCte =
        s"""$psub AS (SELECT id, mm.m AS m, qv[mm.m*$sub+1 : mm.m*$sub+$sub] AS sv
           |  FROM qb, (SELECT unnest(range($m)) AS m) mm)""".stripMargin
      val fitSubCte =
        if (fitSrc == "qb") ""
        else s""",\n$fitSub AS (SELECT $psub.* FROM $psub JOIN $fitSrc f ON $psub.id = f.id)"""
      val init =
        s"""${pfx}pq0 AS (SELECT m, rn - 1 AS cid, sv AS cv FROM (
           |  SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY
           |    CAST(concat('0x', substr(md5(concat_ws(':', '$seed', CAST(m AS VARCHAR), CAST(id AS VARCHAR))), 1, 8)) AS UBIGINT),
           |    id) AS rn
           |  FROM $fitSub) WHERE rn <= $ks)""".stripMargin
      val iterCtes = (1 to pqIters).map { j =>
        s"""${pfx}pa$j AS (SELECT $fitSub.id, $fitSub.m, $fitSub.sv, c.cid FROM $fitSub JOIN ${pfx}pq${j - 1} c ON $fitSub.m = c.m
           |  QUALIFY row_number() OVER (PARTITION BY $fitSub.id, $fitSub.m
           |    ORDER BY $l2 ASC, c.cid) = 1),
           |${pfx}pu$j AS (SELECT a.m, a.cid, u.i AS dim, sum(a.sv[u.i + 1]) / count(*) AS mn
           |        FROM ${pfx}pa$j a, unnest(range(len(a.sv))) AS u(i) GROUP BY 1, 2, 3),
           |${pfx}pq$j AS (SELECT m, cid, list(mn ORDER BY dim) AS cv FROM ${pfx}pu$j GROUP BY 1, 2)""".stripMargin
      }
      val enc =
        s"""${pfx}pe AS (SELECT $psub.id, $psub.m, c.cid FROM $psub JOIN ${pfx}pq$pqIters c ON $psub.m = c.m
           |  QUALIFY row_number() OVER (PARTITION BY $psub.id, $psub.m
           |    ORDER BY $l2 ASC, c.cid) = 1),
           |${pfx}prv AS (SELECT pe.id, flatten(list(c.cv ORDER BY pe.m)) AS rv
           |        FROM ${pfx}pe pe JOIN ${pfx}pq$pqIters c ON pe.m = c.m AND pe.cid = c.cid GROUP BY pe.id)""".stripMargin
      (Seq(subCte + fitSubCte, init) ++ iterCtes :+ enc).mkString(",\n")
    }

    /** `pqtop` CTE: the IVF-PQ probe replay ([[AnnIndex.probeIvfPq]], which
      * [[Similarity.ivfPqTopK]] runs after its fit) — nprobe
      * coarse-cell probing on the quantized vectors (same coarse fit
      * `k_iters` as the kmeans chain), candidates joined on cell id, and
      * ASYMMETRIC-distance ranking: the query's full quantized vector
      * against each candidate's PQ reconstruction `prv.rv`. With
      * `rerank > k` the chain appends `pqrr`: exact-cosine re-rank of the
      * ADC top-`rerank` shortlist against the ORIGINAL `cf` vectors —
      * the fetch-and-rerank replay.
      *
      * `idxFilter` restricts the INDEX side (`kpidx`, rows referenced as
      * `kpp.id`) — the delete replay excludes removed ids from the index
      * while every id still queries. `pfx` as in [[kmeansFitCtes]].
      */
    def pqIvfTopCte(k: Int, nprobe: Int, iters: Int, rerank: Int = 0, pfx: String = "", idxFilter: String = ""): String = {
      val shortlist = math.max(k, rerank)
      val idxPred = if (idxFilter.isEmpty) "" else s" AND ($idxFilter)"
      val adc =
        s"""${pfx}kpp AS (SELECT qb.id, qb.qv, c.cid,
           |         row_number() OVER (PARTITION BY qb.id
           |           ORDER BY list_cosine_similarity(qb.qv, c.cv) DESC, c.cid) AS crank
           |       FROM qb CROSS JOIN ${pfx}k$iters c QUALIFY crank <= $nprobe),
           |${pfx}kpidx AS (SELECT kpp.cid, kpp.id AS nid, prv.rv FROM ${pfx}kpp kpp JOIN ${pfx}prv prv ON prv.id = kpp.id WHERE crank = 1$idxPred),
           |${pfx}kpq AS (SELECT cid, id AS qid, qv FROM ${pfx}kpp),
           |${pfx}pqtop AS (SELECT qid, nid, rnk FROM (
           |  SELECT kpq.qid, kpidx.nid,
           |    row_number() OVER (PARTITION BY kpq.qid
           |      ORDER BY list_cosine_similarity(kpq.qv, kpidx.rv) DESC, kpidx.nid) AS rnk
           |  FROM ${pfx}kpq kpq JOIN ${pfx}kpidx kpidx ON kpq.cid = kpidx.cid AND kpq.qid <> kpidx.nid)
           |  WHERE rnk <= $shortlist)""".stripMargin
      if (rerank <= k) adc
      else
        adc + ",\n" +
          s"""${pfx}pqrr AS (SELECT qid, nid, rnk FROM (
             |  SELECT p.qid, p.nid,
             |    row_number() OVER (PARTITION BY p.qid
             |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, p.nid) AS rnk
             |  FROM ${pfx}pqtop p JOIN cf q ON q.id = p.qid JOIN cf n ON n.id = p.nid)
             |  WHERE rnk <= $k)""".stripMargin
    }
  }

  // Portable (md5-based) simhash + rolling fingerprint CTEs — the DuckDB
  // bit-for-bit reproduction of Fingerprints.simhash56Md5 /
  // rollingFingerprintMd5.
  // shared with StreamingQueries' t9 near-dup ingest oracle
  private[queries] val simhash56Cte: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |th AS (SELECT doc_id, (CAST(concat('0x', substr(md5(t), 1, 7)) AS UBIGINT) << 28)
      |                      + CAST(concat('0x', substr(md5(t), 8, 7)) AS UBIGINT) AS hv FROM tok),
      |vt AS (SELECT doc_id, bi, sum(CASE WHEN (hv >> bi) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |       FROM th CROSS JOIN (SELECT unnest(range(56)) AS bi) GROUP BY 1, 2),
      |sh56 AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << bi
      |                                      ELSE CAST(0 AS UBIGINT) END) AS BIGINT) AS simhash
      |         FROM vt GROUP BY 1)""".stripMargin

  private val rollingMd5Cte: String =
    """rf AS (SELECT doc_id, CAST(list_reduce(
      |  list_prepend(CAST(0 AS UBIGINT), list_transform(string_split(text, ' '),
      |    t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS UBIGINT))),
      |  (acc, x) -> (acc * 31 + x) % 144115188075855872) AS BIGINT) AS rolling_fp
      |FROM documents)""".stripMargin

  def all: Seq[QueryDef] = Seq(
    // Exact dedup: smallest doc_id survives per identical text.
    QueryDef(
      "llm_dedup_exact",
      Some(
        "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)"
      ),
      (spark, sf) => {
        // full pinned pipeline: typed scan → dedup transform → policy sink
        val out = tmpDir("llm_dedup_exact")
        val run = PipelineBuilder[Nothing]("llm_dedup_exact")
          .addSource(TypedSource[DocumentRow]("parquet", s"$sf/documents.parquet"))
          .transformAs[DocDeduped]("exact dedup")(df =>
            Dedup
              .dedupExact(df, Fingerprints.contentKeyMd5(col("text")), col("doc_id"))
              .select("doc_id", "lang", "n_chars")
          )
          .addSink[DocDeduped, SchemaPolicy.ExactT](TypedSink[DocDeduped](s"$out/d"))
          .build
        run(spark)
        spark.read.parquet(s"$out/d")
      }
    ),
    // Per-document text stats (built-in expressions only).
    QueryDef(
      "llm_text_stats",
      Some(
        """SELECT doc_id,
          |  CAST(length(text) AS BIGINT) AS n_chars_calc,
          |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
          |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
          |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS distinct_ratio
          |FROM documents""".stripMargin
      ),
      (spark, sf) =>
        PipelineBuilder[Nothing]("llm_text_stats")
          .addSource(TypedSource[DocumentRow]("parquet", s"$sf/documents.parquet"))
          .transformAs[DocStats]("text stats")(df =>
            TextStats
              .withStats(df)
              .select("doc_id", "n_chars_calc", "n_tokens", "n_distinct_tokens", "avg_token_len", "distinct_ratio")
          )
          .addSink[DocStats, SchemaPolicy.ExactT](TypedSink[DocStats](s"${tmpDir("llm_text_stats")}/s"))
          .build(implicitly)(spark)
    ),
    // Token counting rollup per language (whitespace + BPE-ish regex).
    QueryDef(
      "llm_token_count",
      Some(
        """SELECT lang,
          |  count(*) AS n_docs,
          |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
          |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpeish
          |FROM documents GROUP BY lang""".stripMargin
      ),
      (spark, sf) =>
        table(spark, sf, "documents")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(TextStats.tokens(col("text")))).as("total_tokens"),
            sum(TextStats.bpeishTokenCount(col("text"))).as("total_bpeish")
          )
    ),
    // Language-ID heuristic: stopword-hit argmax with deterministic ties.
    QueryDef(
      "llm_lang_id",
      Some(
        s"""WITH h AS (SELECT doc_id, lang,
           |  ${hitsSql("en")} AS en, ${hitsSql("de")} AS de, ${hitsSql("fr")} AS fr,
           |  ${hitsSql("es")} AS es, ${hitsSql("zh")} AS zh
           |FROM documents)
           |SELECT doc_id, lang,
           |  CASE WHEN greatest(en, de, fr, es, zh) = 0 THEN 'und'
           |       WHEN en >= greatest(de, fr, es, zh) THEN 'en'
           |       WHEN de >= greatest(fr, es, zh) THEN 'de'
           |       WHEN fr >= greatest(es, zh) THEN 'fr'
           |       WHEN es >= zh THEN 'es'
           |       ELSE 'zh' END AS lang_pred
           |FROM h""".stripMargin
      ),
      (spark, sf) =>
        table(spark, sf, "documents")
          .select(col("doc_id"), col("lang"), TextStats.langId(col("text")).as("lang_pred"))
    ),
    // Composite quality score.
    QueryDef(
      "llm_quality_score",
      Some(
        s"""SELECT doc_id, round(
           |  0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) +
           |  0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) +
           |  0.2 * least(CAST(${hitsSql("en")} AS DOUBLE) / 4.0, 1.0), 6) AS quality
           |FROM documents""".stripMargin
      ),
      (spark, sf) =>
        table(spark, sf, "documents")
          .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
    ),
    // Curriculum training order over the quality score: 3 stages at
    // thresholds (0.3, 0.5), HIGH-quality stages first, seeded shuffle
    // within each stage per shard — the full (stage, shard, pos) order is
    // replayed by DuckDB (stage rule on the gated score, hash windows).
    QueryDef(
      "llm_curriculum",
      Some(
        s"""WITH q AS (SELECT doc_id, round(
           |    0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) +
           |    0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) +
           |    0.2 * least(CAST(${hitsSql("en")} AS DOUBLE) / 4.0, 1.0), 6) AS quality
           |  FROM documents),
           |s AS (SELECT doc_id, quality,
           |    CAST((CASE WHEN quality >= 0.3 THEN 1 ELSE 0 END)
           |       + (CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS stage,
           |    CAST(concat('0x', substr(md5('cur:13:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS hv
           |  FROM q)
           |SELECT doc_id, stage, CAST(hv % 8 AS BIGINT) AS shard,
           |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY -stage, hv, doc_id) - 1 AS BIGINT) AS pos
           |FROM s""".stripMargin
      ),
      (spark, sf) =>
        Corpus
          .curriculumOrder(
            table(spark, sf, "documents")
              .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality")),
            "doc_id",
            "quality",
            thresholds = Seq(0.3, 0.5),
            seed = 13L,
            shards = 8,
            descendingStages = true
          )
          .select("doc_id", "stage", "shard", "pos")
    ),
    // Paragraph-level boilerplate removal (C4/RefinedWeb repeated-spans
    // step): the corpus is single-line, so the query synthesizes line
    // structure in both engines (the llm_c4_clean fixture) plus two
    // planted boilerplate lines — a footer on EVERY doc and a share link
    // on every 17th — and drops paragraphs appearing in > 5 distinct
    // docs from all of them. Reassembled clean_text must match
    // byte-for-byte.
    QueryDef(
      "llm_paragraph_dedup",
      Some(
        """WITH lined AS (SELECT doc_id,
          |    regexp_replace(
          |      regexp_replace(text, '((?:\S+ ){4}\S+) ', '\1.' || chr(10), 'g'),
          |      '(?m)^(.*slow.*)\.$', '\1', 'g') AS t
          |  FROM documents),
          |fx AS (SELECT doc_id, t || chr(10) || 'subscribe to our newsletter now' ||
          |         CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'share this page' ELSE '' END AS text
          |  FROM lined),
          |p0 AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM fx),
          |p1 AS (SELECT doc_id, l, unnest(range(len(l))) AS pos FROM p0),
          |px AS (SELECT doc_id, pos, l[pos+1] AS para FROM p1),
          |bp AS (SELECT para FROM px GROUP BY para HAVING count(DISTINCT doc_id) > 5),
          |kp AS (SELECT doc_id, pos, para FROM px WHERE para NOT IN (SELECT para FROM bp)),
          |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          |          string_agg(para, chr(10) ORDER BY pos) AS clean FROM kp GROUP BY doc_id)
          |SELECT f.doc_id,
          |  CAST(len(string_split(f.text, chr(10))) AS BIGINT) AS n_paragraphs,
          |  coalesce(agg.n_kept, CAST(0 AS BIGINT)) AS n_kept,
          |  coalesce(agg.clean, '') AS clean_text
          |FROM fx f LEFT JOIN agg USING (doc_id)""".stripMargin
      ),
      (spark, sf) => {
        val lined = regexp_replace(
          regexp_replace(col("text"), "((?:\\S+ ){4}\\S+) ", "$1.\n"),
          "(?m)^(.*slow.*)\\.$",
          "$1"
        )
        val fx = table(spark, sf, "documents").select(
          col("doc_id"),
          concat(
            lined,
            lit("\nsubscribe to our newsletter now"),
            when(col("doc_id") % 17 === 0, lit("\nshare this page")).otherwise(lit(""))
          ).as("text")
        )
        Dedup
          .dropRepeatedParagraphs(fx, "doc_id", "text", maxDocs = 5)
          .select("doc_id", "n_paragraphs", "n_kept", "clean_text")
      }
    ),
    // Duplicated-span detection (exact-substring dedup signal) over the
    // corpus plus partial copies planted in both engines (every 31st doc
    // re-ingested under a new id with a 2-token prefix — its whole body
    // becomes one maximal duplicated span, shifted by the prefix), k=8
    // windows. Canonical-occurrence choice and island merging are both
    // total-order deterministic, so the span table matches exactly.
    QueryDef(
      "llm_duplicate_spans",
      Some(
        s"""WITH $dupSpanCtes
           |SELECT doc_id, span_start, span_end, n_windows FROM spans""".stripMargin
      ),
      (spark, sf) => Dedup.duplicateSpans(spanFixture(spark, sf), "doc_id", "text", k = 8)
    ),
    // Companion removal: cut every duplicated span (the canonical first
    // occurrence survives corpus-wide), survivors rejoin in order. Docs
    // without spans pass through untouched; cleaned text byte-identical.
    QueryDef(
      "llm_span_removal",
      Some(
        s"""WITH $dupSpanCtes,
           |tka AS (SELECT doc_id, string_split(text, ' ') AS toks FROM src),
           |tk AS (SELECT doc_id, unnest(range(len(toks))) AS i, toks FROM tka),
           |tok AS (SELECT doc_id, i, toks[i+1] AS tkn FROM tk),
           |keep AS (SELECT tok.doc_id, tok.i, tok.tkn FROM tok WHERE NOT EXISTS (
           |    SELECT 1 FROM spans sp WHERE sp.doc_id = tok.doc_id
           |      AND tok.i BETWEEN sp.span_start AND sp.span_end)),
           |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_tokens,
           |          string_agg(tkn, ' ' ORDER BY i) AS clean FROM keep GROUP BY doc_id)
           |SELECT s.doc_id, coalesce(agg.n_kept_tokens, CAST(0 AS BIGINT)) AS n_kept_tokens,
           |       coalesce(agg.clean, '') AS clean_text
           |FROM src s LEFT JOIN agg USING (doc_id)""".stripMargin
      ),
      (spark, sf) =>
        Dedup
          .removeDuplicateSpans(spanFixture(spark, sf), "doc_id", "text", k = 8)
          .select("doc_id", "n_kept_tokens", "clean_text")
    ),
    // Cleaning-pipeline capstone composing the round-8 operators end to
    // end: lined fixture with planted boilerplate (footer on every doc,
    // share-line on every 17th) PLUS partial copies (every 31st doc
    // re-ingested with a 2-token prefix) → paragraph-level boilerplate
    // removal (maxDocs=5) → duplicated-span removal (k=8; the re-ingested
    // bodies lose their copied text, the canonical copies survive) →
    // token-budget quality selection (40%). Every stage is non-vacuous by
    // construction and the oracle replays the entire chain.
    QueryDef(
      "llm_clean_pipeline",
      Some(
        s"""WITH lined AS (SELECT doc_id,
           |    regexp_replace(
           |      regexp_replace(text, '((?:\\S+ ){4}\\S+) ', '\\1.' || chr(10), 'g'),
           |      '(?m)^(.*slow.*)\\.$$', '\\1', 'g') AS t
           |  FROM documents),
           |fx0 AS (SELECT doc_id, t || chr(10) || 'subscribe to our newsletter now' ||
           |          CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'share this page' ELSE '' END AS text
           |  FROM lined),
           |src AS (SELECT doc_id, text FROM fx0
           |  UNION ALL
           |  SELECT doc_id + 100000 AS doc_id, 'intro segment ' || text AS text
           |  FROM fx0 WHERE doc_id % 31 = 0),
           |pp0 AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM src),
           |pp1 AS (SELECT doc_id, l, unnest(range(len(l))) AS pos FROM pp0),
           |ppx AS (SELECT doc_id, pos, l[pos+1] AS para FROM pp1),
           |pbp AS (SELECT para FROM ppx GROUP BY para HAVING count(DISTINCT doc_id) > 5),
           |pkp AS (SELECT doc_id, pos, para FROM ppx WHERE para NOT IN (SELECT para FROM pbp)),
           |pagg AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean FROM pkp GROUP BY doc_id),
           |c1 AS (SELECT s.doc_id, coalesce(pagg.clean, '') AS text FROM src s LEFT JOIN pagg USING (doc_id)),
           |st AS (SELECT doc_id, string_split(text, ' ') AS toks FROM c1 WHERE len(string_split(text, ' ')) >= 8),
           |sw AS (SELECT doc_id, unnest(range(len(toks) - 7)) AS pos, toks FROM st),
           |sfp AS (SELECT doc_id, pos, md5(array_to_string(toks[pos+1:pos+8], ' ')) AS fp FROM sw),
           |sd AS (SELECT doc_id, pos FROM (
           |    SELECT doc_id, pos, row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM sfp)
           |  WHERE rn > 1),
           |si AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM sd),
           |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end FROM si GROUP BY doc_id, isl),
           |stk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM c1),
           |stk1 AS (SELECT doc_id, unnest(range(len(toks))) AS i, toks FROM stk),
           |stok AS (SELECT doc_id, i, toks[i+1] AS tkn FROM stk1),
           |skeep AS (SELECT stok.doc_id, stok.i, stok.tkn FROM stok WHERE NOT EXISTS (
           |    SELECT 1 FROM sp WHERE sp.doc_id = stok.doc_id AND stok.i BETWEEN sp.span_start AND sp.span_end)),
           |sagg AS (SELECT doc_id, string_agg(tkn, ' ' ORDER BY i) AS clean FROM skeep GROUP BY doc_id),
           |c2 AS (SELECT c.doc_id, coalesce(sagg.clean, '') AS text FROM c1 c LEFT JOIN sagg USING (doc_id)),
           |q AS (SELECT doc_id,
           |    round(round(
           |      0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) +
           |      0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) +
           |      0.2 * least(CAST(${hitsSql("en")} AS DOUBLE) / 4.0, 1.0), 6), 1) AS lvl,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM c2),
           |b AS (SELECT sum(n_tokens) * 2 // 5 AS budget FROM q),
           |lv AS (SELECT lvl, sum(n_tokens) AS lt FROM q GROUP BY lvl),
           |ks AS (SELECT lvl, sum(lt) OVER (ORDER BY lvl DESC
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM lv),
           |keepl AS (SELECT lvl FROM ks, b WHERE cum <= budget)
           |SELECT q.doc_id, q.lvl, q.n_tokens FROM q JOIN keepl USING (lvl)""".stripMargin
      ),
      (spark, sf) => {
        val lined = regexp_replace(
          regexp_replace(col("text"), "((?:\\S+ ){4}\\S+) ", "$1.\n"),
          "(?m)^(.*slow.*)\\.$",
          "$1"
        )
        val fx0 = table(spark, sf, "documents").select(
          col("doc_id"),
          concat(
            lined,
            lit("\nsubscribe to our newsletter now"),
            when(col("doc_id") % 17 === 0, lit("\nshare this page")).otherwise(lit(""))
          ).as("text")
        )
        val src = fx0.unionByName(
          fx0
            .filter(col("doc_id") % 31 === 0)
            .select(copyId(col("doc_id")).as("doc_id"), concat(lit("intro segment "), col("text")).as("text"))
        )
        // snapshot each stage boundary: removeDuplicateSpans reads its
        // input four times (span build, flag set, token explode, touched
        // join) — without the checkpoint that's four full paragraph-dedup
        // recomputations riding one plan
        val c1 = Dedup
          .dropRepeatedParagraphs(src, "doc_id", "text", maxDocs = 5)
          .select(col("doc_id"), col("clean_text").as("text"))
          .localCheckpoint(true)
        val c2 = Dedup
          .removeDuplicateSpans(c1, "doc_id", "text", k = 8)
          .select(col("doc_id"), col("clean_text").as("text"))
          .localCheckpoint(true)
        val q = c2.select(
          col("doc_id"),
          round(TextStats.qualityScore(col("text")), 1).as("lvl"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")
        )
        val total = q.agg(sum("n_tokens")).head().getLong(0)
        Corpus
          .selectUnderTokenBudget(q, "lvl", "n_tokens", total * 2 / 5)
          .select("doc_id", "lvl", "n_tokens")
      }
    ),
    // Quality-thresholded selection under a token budget (40% of corpus
    // tokens): whole quality LEVELS (round(quality, 1) — the level table
    // stays tiny) are taken top-down while they fit — the scalable form
    // of "sort by quality, cut at budget" (no corpus-wide total order).
    // The budget, the level cumsum, and the selection replay exactly in
    // DuckDB (integer token sums, integer-division budget).
    QueryDef(
      "llm_budget_select",
      Some(
        s"""WITH q AS (SELECT doc_id,
           |    round(round(
           |      0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) +
           |      0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) +
           |      0.2 * least(CAST(${hitsSql("en")} AS DOUBLE) / 4.0, 1.0), 6), 1) AS lvl,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |b AS (SELECT sum(n_tokens) * 2 // 5 AS budget FROM q),
           |lv AS (SELECT lvl, sum(n_tokens) AS lt FROM q GROUP BY lvl),
           |ks AS (SELECT lvl, sum(lt) OVER (ORDER BY lvl DESC
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM lv),
           |keep AS (SELECT lvl FROM ks, b WHERE cum <= budget)
           |SELECT q.doc_id, q.lvl, q.n_tokens FROM q JOIN keep USING (lvl)""".stripMargin
      ),
      (spark, sf) => {
        val q = table(spark, sf, "documents").select(
          col("doc_id"),
          round(TextStats.qualityScore(col("text")), 1).as("lvl"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")
        )
        val total = q.agg(sum("n_tokens")).head().getLong(0)
        Corpus
          .selectUnderTokenBudget(q, "lvl", "n_tokens", total * 2 / 5)
          .select("doc_id", "lvl", "n_tokens")
      }
    ),
    // Frequency-based rarity signal: mean corpus document-frequency of
    // each doc's token occurrences (integer-exact — the log-free CCNet
    // -style quality bucket signal).
    QueryDef(
      "llm_rarity_score",
      Some(
        """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          |dfr AS (SELECT tok, count(DISTINCT doc_id) AS dfn FROM tk GROUP BY tok)
          |SELECT tk.doc_id, CAST(sum(dfn) AS DOUBLE) / count(*) AS mean_token_df,
          |       CAST(count(*) AS BIGINT) AS n_tokens
          |FROM tk JOIN dfr USING (tok) GROUP BY tk.doc_id""".stripMargin
      ),
      (spark, sf) =>
        TextStats.rarityScore(table(spark, sf, "documents"))
    ),
    // Quantized bigram surprisal: the log-free LM-score proxy — integer
    // floor-log2 (binary digit count) of the corpus's own bigram
    // conditionals, so the perplexity-style signal hash-gates where a
    // float ln score couldn't.
    QueryDef(
      "llm_surprisal",
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |b AS (SELECT doc_id, toks[CAST(u.i AS INTEGER) + 1] AS prev,
          |        toks[CAST(u.i AS INTEGER) + 1] || ' ' || toks[CAST(u.i AS INTEGER) + 2] AS bg
          |      FROM t, unnest(range(len(toks) - 1)) AS u(i)),
          |cp AS (SELECT bg, CAST(count(*) AS BIGINT) AS cpair FROM b GROUP BY 1),
          |cv AS (SELECT prev, CAST(count(*) AS BIGINT) AS cprev FROM b GROUP BY 1),
          |s AS (SELECT doc_id,
          |        CAST((length(bin(cprev)) - 1) - (length(bin(cpair)) - 1) AS BIGINT) AS sv
          |      FROM b JOIN cp USING (bg) JOIN cv USING (prev)),
          |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |          CAST(sum(sv) AS BIGINT) AS surprisal_sum FROM s GROUP BY 1)
          |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
          |  coalesce(surprisal_sum, 0) AS surprisal_sum,
          |  CASE WHEN coalesce(n_bigrams, 0) = 0 THEN NULL
          |       ELSE CAST(surprisal_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) END AS mean_surprisal
          |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin
      ),
      (spark, sf) => TextStats.bigramSurprisal(table(spark, sf, "documents"))
    ),
    // Content fingerprint (cross-engine md5).
    QueryDef(
      "llm_fingerprint",
      Some("SELECT doc_id, md5(text) AS content_md5 FROM documents"),
      (spark, sf) =>
        table(spark, sf, "documents")
          .select(col("doc_id"), Fingerprints.contentKeyMd5(col("text")).as("content_md5"))
    ),
    // Winnowing fingerprints (MOSS): min-hash of every 4-window of
    // positional 3-gram hashes, deduped — the full selection replayed by
    // DuckDB. Shared runs of >= 6 tokens are GUARANTEED a shared
    // fingerprint at ~2/(w+1) storage density.
    QueryDef(
      "llm_winnow",
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
          |        THEN list_transform(range(len(toks)-2), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
          |        ELSE CAST([] AS VARCHAR[]) END AS grams FROM t),
          |h AS (SELECT doc_id, list_transform(grams,
          |        g -> CAST((CAST(concat('0x', substr(md5(g), 1, 7)) AS UBIGINT) << 28)
          |               + CAST(concat('0x', substr(md5(g), 8, 7)) AS UBIGINT) AS BIGINT)) AS hs FROM g),
          |f AS (SELECT doc_id, list_distinct(
          |        CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
          |             WHEN len(hs) <= 4 THEN [list_min(hs)]
          |             ELSE list_transform(range(len(hs)-3),
          |                    i -> list_min(hs[CAST(i+1 AS INTEGER):CAST(i+4 AS INTEGER)])) END) AS fps FROM h)
          |SELECT doc_id, unnest(fps) AS fp FROM f""".stripMargin
      ),
      (spark, sf) =>
        Fingerprints.winnowFingerprints(table(spark, sf, "documents"), "doc_id", "text", k = 3, w = 4)
    ),
    // Portable fingerprints: 56-bit md5-simhash + order-sensitive rolling
    // hash, both recomputed bit-for-bit by the DuckDB oracle (was a
    // rows-only entry when it exposed the xxhash64 variants; those stay as
    // the fast path, pinned by llm_native_consistency below).
    QueryDef(
      "llm_simhash",
      Some(
        s"""WITH $simhash56Cte,
           |$rollingMd5Cte
           |SELECT sh56.doc_id, sh56.simhash, rf.rolling_fp FROM sh56 JOIN rf USING (doc_id)""".stripMargin
      ),
      (spark, sf) =>
        table(spark, sf, "documents")
          .select(
            col("doc_id"),
            Fingerprints.simhash56Md5(col("text")).as("simhash"),
            Fingerprints.rollingFingerprintMd5(col("text")).as("rolling_fp")
          )
    ),
    // Native-vs-reference consistency, driver-gated: the xxhash64 native
    // expressions (SimHash64, TokenShingles, SimHash56Md5) must agree with
    // their interpreted built-in-function formulations on every document.
    // The oracle is the trivial all-true table — any drift in a native
    // expression flips a row and fails the hash compare. Verification-only
    // entry (the interpreted HOF references are ~150× the native cost by
    // design) — deliberately NOT in the bench headline.
    QueryDef(
      "llm_native_consistency",
      Some(
        "SELECT doc_id, true AS sim64_agree, true AS sim56_agree, true AS shingles_agree FROM documents"
      ),
      (spark, sf) =>
        table(spark, sf, "documents")
          // explicit fan-out: the testdata parquet is ONE row group, so the
          // scan is one partition and this projection's deliberately-slow
          // interpreted HOF reference formulations (~150x the native
          // expressions) would run single-task — measured 21 MINUTES at
          // sf0.1. One small shuffle spreads the rows across the cluster;
          // the native fast path never needs this (seconds either way).
          .repartition(spark.sparkContext.defaultParallelism)
          .select(
            col("doc_id"),
            (Fingerprints.simhash64(col("text")) === Fingerprints.simhash64Hof(col("text")))
              .as("sim64_agree"),
            (Fingerprints.simhash56Md5(col("text")) === Fingerprints.simhash56Md5Hof(col("text")))
              .as("sim56_agree"),
            (Fingerprints.shingles(col("text"), 3) === Fingerprints.shinglesHof(col("text"), 3))
              .as("shingles_agree")
          )
    ),
    // MinHash-LSH near-dup pairs, exact-Jaccard verified: output must equal
    // the exact all-pairs oracle (recall at tau=0.8 is 1-5e-8; precision is
    // exact because candidates are re-verified).
    QueryDef(
      "llm_dedup_minhash",
      Some(jaccardPairsSql(0.8)),
      (spark, sf) =>
        Dedup.minhashNearDupPairs(
          table(spark, sf, "documents"),
          "doc_id",
          "text",
          k = 3,
          numHashes = 128,
          bands = 32,
          tau = 0.8
        )
    ),
    // Cross-table MinHash near-dup: a 10% "incoming batch" against the
    // remaining 90% "stored corpus" — the ingest-time near-dup check.
    // Oracle = the exact cross-pair Jaccard (banding recall at tau=0.8 is
    // 1-5e-8, and precision is exact by re-verification), mirroring the
    // llm_dedup_minhash methodology two-sidedly.
    QueryDef(
      "llm_dedup_minhash_xtable",
      Some(jaccardPairsXtableSql(0.8, "a.doc_id % 10 = 0", "b.doc_id % 10 <> 0")),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        Dedup.minhashNearDupAgainst(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id",
          "text",
          k = 3,
          numHashes = 128,
          bands = 32,
          tau = 0.8
        )
      }
    ),
    // Directed n-gram CONTAINMENT: the excerpt detector. The fixture
    // plants 12-token prefix snippets of every 37th doc — snippet→source
    // containment is 1.0 while their Jaccard is tiny, exactly the case
    // the jaccard dedup family structurally misses. Registered WITH the
    // maxDf universe cap (df <= 8): the uncapped shared-shingle join
    // measured 71x shuffle growth under 10x data (this corpus's tiny
    // token vocabulary saturates the 3-gram space, so pair volume tracks
    // sum(df^2) ~ n^2/|shingle space|); at df <= 8 the measured join
    // volume is 54k -> 457k under 10x data — linear — while the planted
    // snippet signal stays live at both SFs (snippet shingles natively
    // have df 2). Capped containment is containment OVER the capped
    // universe on both engines — the same semantics-preserving trade the
    // capped jaccard entry proves.
    QueryDef(
      "llm_containment",
      Some(
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000 AS doc_id,
          |    array_to_string(string_split(text, ' ')[1:12], ' ') AS text
          |  FROM documents WHERE doc_id % 37 = 2),
          |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
          |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2),
          |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS s FROM t),
          |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 8),
          |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
          |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns FROM sh GROUP BY 1),
          |i AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
          |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY 1, 2)
          |SELECT a, b, CAST(inter AS DOUBLE) / CAST(ns AS DOUBLE) AS containment
          |FROM i JOIN n ON n.doc_id = i.a
          |WHERE CAST(inter AS DOUBLE) / CAST(ns AS DOUBLE) >= 0.8""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents").select("doc_id", "text")
        val snippets = docs
          .filter(col("doc_id") % 37 === 2)
          .select(
            copyId(col("doc_id")).as("doc_id"),
            array_join(slice(TextStats.tokens(col("text")), 1, 12), " ").as("text")
          )
        Dedup.ngramContainmentPairs(docs.unionByName(snippets), "doc_id", "text", k = 3, tau = 0.8, maxDf = 8)
      }
    ),
    // Exact n-gram Jaccard pairs via the inverted-index join (lower tau:
    // exercises the exact path on a wider candidate set).
    QueryDef(
      "llm_dedup_ngram",
      Some(jaccardPairsSql(0.05)),
      (spark, sf) =>
        Dedup.ngramJaccardPairs(table(spark, sf, "documents"), "doc_id", "text", k = 3, tau = 0.05)
    ),
    // Same exact-jaccard semantics with the document-frequency skew guard
    // engaged (maxDf=3 bites on this corpus: shingles shared by 4+ docs are
    // dropped from the universe on BOTH engines) — proves the 100 TB
    // straggler cap is semantics-preserving, not a silent approximation.
    QueryDef(
      "llm_dedup_ngram_capped",
      Some(jaccardPairsSql(0.05, maxDf = 3)),
      (spark, sf) =>
        Dedup.ngramJaccardPairs(
          table(spark, sf, "documents"),
          "doc_id",
          "text",
          k = 3,
          tau = 0.05,
          maxDf = 3
        )
    ),
    // Greedy near-dup removal: survivors after dropping docs with a smaller
    // similar neighbor.
    QueryDef(
      "llm_dedup_docs",
      Some(
        s"""$shingleCte,
           |pairs AS (SELECT p.a, p.b FROM p JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
           |          WHERE CAST(p.inter AS DOUBLE)/(na.n + nb.n - p.inter) >= 0.8)
           |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT b FROM pairs)""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 128, 32, 0.8)
        Dedup.dropNearDuplicates(docs, "doc_id", pairs).select("doc_id")
      }
    ),
    // Connected-components dedup clusters: every doc labeled with the min
    // id transitively reachable through near-dup edges. Spark runs
    // iterative min-label propagation (2-4 bucketed shuffles); the oracle
    // computes the transitive closure with a recursive CTE — completely
    // different fixpoint algorithms, identical labeling.
    QueryDef(
      "llm_dedup_clusters",
      Some {
        val recursiveShingles = shingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
        s"""$recursiveShingles,
           |pr AS (SELECT p.a, p.b FROM p JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
           |       WHERE CAST(p.inter AS DOUBLE)/(na.n + nb.n - p.inter) >= 0.8),
           |sym AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
           |reach(x, y) AS (
           |  SELECT x, y FROM sym
           |  UNION
           |  SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x),
           |comp AS (SELECT x, least(x, min(y)) AS c FROM reach GROUP BY x)
           |SELECT d.doc_id, coalesce(comp.c, d.doc_id) AS component
           |FROM documents d LEFT JOIN comp ON comp.x = d.doc_id""".stripMargin
      },
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 128, 32, 0.8)
        Dedup.connectedComponents(docs, "doc_id", pairs)
      }
    ),
    // Cluster-representative dedup: keep exactly one doc per connected
    // component (its min id) — the transitive upgrade of the greedy
    // llm_dedup_docs rule; survivors = docs that ARE their component.
    QueryDef(
      "llm_dedup_docs_cc",
      Some {
        val recursiveShingles = shingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
        s"""$recursiveShingles,
           |pr AS (SELECT p.a, p.b FROM p JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
           |       WHERE CAST(p.inter AS DOUBLE)/(na.n + nb.n - p.inter) >= 0.8),
           |sym AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
           |reach(x, y) AS (
           |  SELECT x, y FROM sym
           |  UNION
           |  SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x),
           |comp AS (SELECT x, least(x, min(y)) AS c FROM reach GROUP BY x)
           |SELECT d.doc_id FROM documents d LEFT JOIN comp ON comp.x = d.doc_id
           |WHERE coalesce(comp.c, d.doc_id) = d.doc_id""".stripMargin
      },
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 128, 32, 0.8)
        Dedup
          .connectedComponents(docs, "doc_id", pairs)
          .filter(col("doc_id") === col("component"))
          .select("doc_id")
      }
    ),
    // Leakage-safe train/valid split: the split bucket is computed on the
    // TRANSITIVE near-dup component label, so paraphrase clusters can
    // never straddle the train/valid boundary (the contamination channel
    // a doc-level content-hash split leaves open). Oracle = recursive-CTE
    // components + the same salted md5 bucket on the component label.
    //
    // RECALL ASSUMPTION (shared with llm_dedup_docs_cc and
    // llm_ingest_pipeline_v2): pair discovery is MinHash BANDING on the
    // Spark side vs exact shingle Jaccard in the oracle. Candidates are
    // exact-verified (precision 1), so the only divergence channel is a
    // true tau>=0.8 pair whose 32×4 bands never collide — miss
    // probability ~(1-(1-0.8⁴)³²) complement ≈ 5e-8 per pair — and
    // because the split rides the COMPONENT label, one missed pair can
    // flip a whole cluster's bucket, not one row. If a future testdata
    // regeneration ever trips this gate nondeterministically, this is
    // the place to look first (round-9 advisor note).
    QueryDef(
      "llm_split_safe",
      Some {
        val recursiveShingles = shingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
        s"""$recursiveShingles,
           |pr AS (SELECT p.a, p.b FROM p JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
           |       WHERE CAST(p.inter AS DOUBLE)/(na.n + nb.n - p.inter) >= 0.8),
           |sym AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
           |reach(x, y) AS (
           |  SELECT x, y FROM sym
           |  UNION
           |  SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x),
           |comp AS (SELECT x, least(x, min(y)) AS c FROM reach GROUP BY x),
           |lab AS (SELECT d.doc_id, coalesce(comp.c, d.doc_id) AS component
           |        FROM documents d LEFT JOIN comp ON comp.x = d.doc_id)
           |SELECT doc_id, component,
           |  CASE WHEN CAST(concat('0x', substr(md5(CAST(component AS VARCHAR) || '|split'), 1, 8)) AS UBIGINT) % 100 < 90
           |       THEN 'train' ELSE 'valid' END AS split
           |FROM lab""".stripMargin
      },
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 128, 32, 0.8)
        Corpus.splitByComponent(docs.select("doc_id"), "doc_id", pairs, trainPercent = 90)
      }
    ),
    // Soft dedup (duplicate downweighting): every copy kept, weighted
    // 1/count so a duplicate group contributes one doc of training mass.
    // The fixture re-ingests every 31st doc verbatim so n_copies=2 /
    // weight=0.5 rows exist; weight is one exact integer-into-IEEE
    // division — hash-gated like the other portable doubles.
    QueryDef(
      "llm_soft_dedup",
      Some(
        """WITH src AS (SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 31 = 0),
          |c AS (SELECT md5(text) AS k, CAST(count(*) AS BIGINT) AS n_copies FROM src GROUP BY 1)
          |SELECT s.doc_id, c.n_copies, CAST(1 AS DOUBLE) / c.n_copies AS weight
          |FROM src s JOIN c ON md5(s.text) = c.k""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents").select("doc_id", "text")
        val src = docs.unionByName(
          docs.filter(col("doc_id") % 31 === 0).select(copyId(col("doc_id")).as("doc_id"), col("text"))
        )
        Dedup
          .softDedup(src, Fingerprints.contentKeyMd5(col("text")))
          .select("doc_id", "n_copies", "weight")
      }
    ),
    // SimHash near-dup pairs over the portable 56-bit simhash: Spark runs
    // the banded pigeonhole plan (4 bands, any pair at Hamming <= 3 shares
    // a band — exact by construction); the oracle recomputes the simhash
    // from scratch and takes the brute all-pairs Hamming set. A hash match
    // certifies both the hash math and that banding lost nothing.
    QueryDef(
      "llm_simhash_pairs",
      Some(
        s"""WITH $simhash56Cte
           |SELECT x.doc_id AS a, y.doc_id AS b,
           |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
           |FROM sh56 x JOIN sh56 y ON x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin
      ),
      (spark, sf) =>
        Dedup.simhashNearDupPairs(
          table(spark, sf, "documents"),
          "doc_id",
          "text",
          bands = 4,
          maxHamming = 3,
          simFn = Fingerprints.simhash56Md5,
          simBits = 56
        )
    ),
    // Cross-table SimHash near-dup: incoming 10% batch vs stored 90%
    // corpus at Hamming <= 3. Banding stays pigeonhole-exact two-sidedly,
    // so the oracle is the brute cross-pair Hamming set recomputed from
    // scratch — same certification as llm_simhash_pairs, ingest-shaped.
    QueryDef(
      "llm_simhash_xtable",
      Some(
        s"""WITH $simhash56Cte
           |SELECT x.doc_id AS a, y.doc_id AS b,
           |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
           |FROM sh56 x JOIN sh56 y ON x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
           |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        Dedup.simhashNearDupAgainst(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id",
          "text",
          bands = 4,
          maxHamming = 3,
          simFn = Fingerprints.simhash56Md5,
          simBits = 56
        )
      }
    ),
    // Brute-force cosine top-1 neighbor (ids only; cosine computed in
    // double on both sides). Oracle baseline — NOT the scale path and no
    // longer a bench headline; lshTopK/ivfTopK are the registered ANN.
    QueryDef(
      "llm_ann_top1",
      Some(
        """SELECT a.vec_id AS qid, b.vec_id AS nid
          |FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
          |QUALIFY row_number() OVER (PARTITION BY a.vec_id
          |  ORDER BY list_cosine_similarity(
          |    list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
          |    list_transform(b.embedding, x -> CAST(x AS DOUBLE))) DESC, b.vec_id) = 1""".stripMargin
      ),
      (spark, sf) =>
        Similarity
          .bruteTopK(table(spark, sf, "embeddings"), "vec_id", "embedding", k = 1)
          .select("qid", "nid")
    ),
    // LSH-bucketed approximate top-5 (the 100 TB path). The oracle replays
    // the identical algorithm in DuckDB — same seeded hyperplanes as SQL
    // literals, same sign buckets, same exact re-rank — so the hash match
    // certifies the bucketed plan itself (was rows-only in round 2).
    QueryDef(
      "llm_ann_lsh",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsCte(tables = 8, planes = 6, seed = 42L, probeBits = 5, probeDepth = 2)},
           |${lshTopCte(5)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM lshtop""".stripMargin
      },
      (spark, sf) =>
        Similarity
          .lshTopK(embeddingsDimChecked(spark, sf), "vec_id", "embedding", k = 5, tables = 8, planesPerTable = 6, probeBits = 5, probeDepth = 2, dim = EmbDim)
          .select("qid", "nid", "rank")
    ),
    // Cross-table LSH top-5 — the retrieval shape (query set vs corpus:
    // embedding decontamination, eval retrieval, hard-negative mining).
    // Query side = every 20th vector, corpus = the rest; same planes and
    // multi-probe masks as llm_ann_lsh, replayed two-sidedly by DuckDB.
    QueryDef(
      "llm_ann_lsh_xtable",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsXtableCte(tables = 8, planes = 6, seed = 42L, qPred = "vec_id % 20 = 0", cPred = "vec_id % 20 <> 0", probeBits = 5, probeDepth = 2)},
           |${lshTopCte(5)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM lshtop""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        Similarity
          .lshTopKAgainst(
            e.filter(col("vec_id") % 20 === 0),
            e.filter(col("vec_id") % 20 =!= 0),
            "vec_id",
            "embedding",
            k = 5,
            tables = 8,
            planesPerTable = 6,
            probeBits = 5,
            probeDepth = 2,
            dim = EmbDim
          )
          .select("qid", "nid", "rank")
      }
    ),
    // Auto-sized LSH top-5 — the 100×-scale answer to the fixed-knob
    // candidate blowup: planesPerTable is unset (AutoPlanes), so the key
    // width comes from suggestedPlanes(n, targetBucket=32) and expected
    // bucket occupancy stays ~32 at ANY corpus size (4 planes at sf0.01,
    // 8 at sf0.1 — candidates grow ~linearly where the fixed-knob family
    // measured 13-15× under 10× data). The oracle replays the SAME
    // auto-sizing: capped prefix-consistent plane literals with each sign
    // bit gated on the integer-replayed plane count — so the hash match
    // certifies the sizing rule itself at every SF the gate runs.
    QueryDef(
      "llm_ann_lsh_auto",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsAutoCte(tables = 8, capPlanes = 10, seed = 42L, targetBucket = 32L, probeBits = 5, probeDepth = 2)},
           |${lshTopCte(5)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM lshtop""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val n = e.count()
        require(
          n <= (32L << 10),
          s"auto-LSH oracle embeds 10 capped plane literals (valid to n = ${32L << 10}); n=$n needs a larger capPlanes"
        )
        Similarity
          .lshTopK(e, "vec_id", "embedding", k = 5, tables = 8, probeBits = 5, probeDepth = 2, dim = EmbDim)
          .select("qid", "nid", "rank")
      }
    ),
    // Cross-table auto-width LSH top-5 — completes the auto family across
    // all three LSH shapes (self-join, threshold pairs, retrieval): width
    // from the corpus-side count, two-sided gated replay in DuckDB.
    QueryDef(
      "llm_ann_lsh_auto_xtable",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsXtableAutoCte(tables = 8, capPlanes = 10, seed = 42L, targetBucket = 32L, qPred = "vec_id % 20 = 0", cPred = "vec_id % 20 <> 0", probeBits = 5, probeDepth = 2)},
           |${lshTopCte(5)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM lshtop""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val corpus = e.filter(col("vec_id") % 20 =!= 0)
        val n = corpus.count()
        require(
          n <= (32L << 10),
          s"auto-LSH oracle embeds 10 capped plane literals (valid to n = ${32L << 10}); n=$n needs a larger capPlanes"
        )
        Similarity
          .lshTopKAgainst(
            e.filter(col("vec_id") % 20 === 0),
            corpus,
            "vec_id",
            "embedding",
            k = 5,
            tables = 8,
            probeBits = 5,
            probeDepth = 2,
            dim = EmbDim
          )
          .select("qid", "nid", "rank")
      }
    ),
    // IVF-bucketed approximate top-5 (alternative scale path to LSH): the
    // deterministic smallest-id centroids make the whole algorithm
    // SQL-replayable — oracled end-to-end like llm_ann_lsh.
    QueryDef(
      "llm_ann_ivf",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${ivfTopCte(5, cells = 16, nprobe = 8)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM ivftop""".stripMargin
      },
      (spark, sf) =>
        Similarity
          .ivfTopK(embeddingsDimChecked(spark, sf), "vec_id", "embedding", k = 5, cells = 16, nprobe = 8)
          .select("qid", "nid", "rank")
    ),
    // Auto-cells IVF top-5: cells = ceil(sqrt(n)) (the classic IVF rule —
    // candidates per query ~nprobe·sqrt(n), SUBLINEAR at fixed nprobe,
    // where a fixed cell count degrades to n·nprobe/cells) with the sqrt
    // rule itself oracle-replayed in integer arithmetic. Recall at fixed
    // nprobe falls as the probed fraction shrinks — measured honestly by
    // llm_ann_ivf_auto_recall below; on structureless vectors that is the
    // data's nature (see round8_lsh_knobs.md), on clustered corpora the
    // kmeans fit keeps recall (llm_ann_kmeans_recall).
    QueryDef(
      "llm_ann_ivf_auto",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${ivfTopAutoCte(5, capCells = 128, nprobe = 8)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM ivftop""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val n = e.count()
        require(n <= 128L * 128L, s"auto-IVF oracle cell search capped at 128 (n <= 16384); n=$n")
        Similarity
          .ivfTopK(e, "vec_id", "embedding", k = 5, cells = Similarity.suggestedCells(n), nprobe = 8)
          .select("qid", "nid", "rank")
      }
    ),
    // Recall ledger for the auto-cells IVF (exact/approx/hit counts vs the
    // brute top-5 pair set) — publishes the fixed-nprobe recall number the
    // sublinear schedule pays on structureless data.
    QueryDef(
      "llm_ann_ivf_auto_recall",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${ivfTopAutoCte(5, capCells = 128, nprobe = 8)},
           |${bruteTopCte(5)}
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM br) AS n_exact,
           |       (SELECT CAST(count(*) AS BIGINT) FROM ivftop) AS n_approx,
           |       (SELECT CAST(count(*) AS BIGINT) FROM br JOIN ivftop USING (qid, nid)) AS n_hit""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val n = e.count()
        require(n <= 128L * 128L, s"auto-IVF oracle cell search capped at 128 (n <= 16384); n=$n")
        val brute = Similarity.bruteTopK(e, "vec_id", "embedding", k = 5).select("qid", "nid")
        val approx = Similarity
          .ivfTopK(e, "vec_id", "embedding", k = 5, cells = Similarity.suggestedCells(n), nprobe = 8)
          .select("qid", "nid")
        brute
          .agg(count(lit(1)).as("n_exact"))
          .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
          .crossJoin(brute.join(approx, Seq("qid", "nid")).agg(count(lit(1)).as("n_hit")))
      }
    ),
    // ANN recall, driver-verified: per-query overlap between each
    // approximate top-5 and the brute-force top-5, as a histogram
    // (method, hits∈[0,5], n queries). DuckDB recomputes BOTH sides, so
    // the recall figure itself is certified — "what's the recall of your
    // ANN?" is answerable from the correctness artifact. Verification-only
    // entry (contains the O(n²) brute baseline, evaluated per method) —
    // deliberately NOT in the bench headline.
    QueryDef(
      "llm_ann_recall",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsCte(tables = 8, planes = 6, seed = 42L, probeBits = 5, probeDepth = 2)},
           |${lshTopCte(5)},
           |${lshBandsAutoCte(tables = 8, capPlanes = 10, seed = 42L, targetBucket = 32L, probeBits = 5, probeDepth = 2, prefix = "a")},
           |${lshTopCte(5, prefix = "a")},
           |${ivfTopCte(5, cells = 16, nprobe = 8)},
           |${bruteTopCte(5)},
           |lh AS (SELECT l.qid, count(*) AS c FROM lshtop l JOIN br USING (qid, nid) GROUP BY 1),
           |ah AS (SELECT l.qid, count(*) AS c FROM alshtop l JOIN br USING (qid, nid) GROUP BY 1),
           |ih AS (SELECT i.qid, count(*) AS c FROM ivftop i JOIN br USING (qid, nid) GROUP BY 1),
           |rows_ AS (
           |  SELECT 'lsh' AS method, CAST(coalesce(lh.c, 0) AS BIGINT) AS hits
           |  FROM e LEFT JOIN lh ON lh.qid = e.vec_id
           |  UNION ALL
           |  SELECT 'lsh_auto' AS method, CAST(coalesce(ah.c, 0) AS BIGINT) AS hits
           |  FROM e LEFT JOIN ah ON ah.qid = e.vec_id
           |  UNION ALL
           |  SELECT 'ivf' AS method, CAST(coalesce(ih.c, 0) AS BIGINT) AS hits
           |  FROM e LEFT JOIN ih ON ih.qid = e.vec_id)
           |SELECT method, hits, CAST(count(*) AS BIGINT) AS n FROM rows_ GROUP BY 1, 2""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val brute = Similarity.bruteTopK(e, "vec_id", "embedding", k = 5).select("qid", "nid")
        def hist(method: String, approx: org.apache.spark.sql.DataFrame) = {
          val hits = approx
            .select("qid", "nid")
            .join(brute, Seq("qid", "nid"))
            .groupBy("qid")
            .agg(count(lit(1)).as("__c"))
          e.select(col("vec_id").as("qid"))
            .join(hits, Seq("qid"), "left")
            .select(coalesce(col("__c"), lit(0L)).as("hits"))
            .groupBy("hits")
            .agg(count(lit(1)).as("n"))
            .select(lit(method).as("method"), col("hits"), col("n"))
        }
        hist("lsh", Similarity.lshTopK(e, "vec_id", "embedding", 5, tables = 8, planesPerTable = 6, probeBits = 5, probeDepth = 2, dim = EmbDim))
          .unionByName(
            hist("lsh_auto", Similarity.lshTopK(e, "vec_id", "embedding", 5, tables = 8, probeBits = 5, probeDepth = 2, dim = EmbDim))
          )
          .unionByName(hist("ivf", Similarity.ivfTopK(e, "vec_id", "embedding", 5, cells = 16, nprobe = 8)))
      }
    ),
    // Cross-table IVF top-5 — the standard vector-index query mode (index
    // the corpus once, probe per query). Same knobs as llm_ann_ivf; the
    // oracle replays centroid selection, home-cell indexing, and probing
    // two-sidedly.
    QueryDef(
      "llm_ann_ivf_xtable",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${ivfTopXtableCte(5, cells = 16, nprobe = 8, qPred = "vec_id % 20 = 0", cPred = "vec_id % 20 <> 0")}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM ivfxtop""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        Similarity
          .ivfTopKAgainst(
            e.filter(col("vec_id") % 20 === 0),
            e.filter(col("vec_id") % 20 =!= 0),
            "vec_id",
            "embedding",
            k = 5,
            cells = 16,
            nprobe = 8
          )
          .select("qid", "nid", "rank")
      }
    ),
    // Recall ledger for the cross-table path: per-query overlap between
    // the bucketed top-5 and the brute query-vs-corpus top-5, as a
    // histogram — DuckDB recomputes both sides, so the retrieval recall is
    // itself a certified number. Verification-only (contains the brute
    // cross join) — not a bench headline entry.
    QueryDef(
      "llm_ann_xtable_recall",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsXtableCte(tables = 8, planes = 6, seed = 42L, qPred = "vec_id % 20 = 0", cPred = "vec_id % 20 <> 0", probeBits = 5, probeDepth = 2)},
           |${lshTopCte(5)},
           |brx AS (SELECT a.vec_id AS qid, b.vec_id AS nid FROM e a JOIN e b
           |  ON a.vec_id % 20 = 0 AND b.vec_id % 20 <> 0
           |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
           |    ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id) <= 5),
           |h AS (SELECT l.qid, count(*) AS c FROM lshtop l JOIN brx USING (qid, nid) GROUP BY 1)
           |SELECT CAST(coalesce(h.c, 0) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT vec_id AS qid FROM e WHERE vec_id % 20 = 0) q
           |LEFT JOIN h USING (qid) GROUP BY 1""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val qs = e.filter(col("vec_id") % 20 === 0)
        val cs = e.filter(col("vec_id") % 20 =!= 0)
        val approx = Similarity
          .lshTopKAgainst(qs, cs, "vec_id", "embedding", k = 5, tables = 8, planesPerTable = 6, probeBits = 5, probeDepth = 2, dim = EmbDim)
          .select("qid", "nid")
        // brute cross side: deliberate O(|q|·|c|) baseline, verification-only
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid")
          .orderBy(col("cos").desc, col("nid"))
        val brute = qs
          .select(col("vec_id").as("qid"), col("embedding").as("__qv"))
          .crossJoin(cs.select(col("vec_id").as("nid"), col("embedding").as("__cv")))
          .withColumn("cos", Similarity.cosine(col("__qv"), col("__cv")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("qid", "nid")
        val hits = approx.join(brute, Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("__c"))
        qs.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(coalesce(col("__c"), lit(0L)).as("hits"))
          .groupBy("hits")
          .agg(count(lit(1)).as("n"))
      }
    ),
    // Retrieval recall ledger for the AUTO-width cross-table path —
    // completes ledger coverage of every registered ANN shape (self /
    // threshold / retrieval × fixed / auto): hits histogram of the
    // auto-sized lshTopKAgainst vs the brute query-vs-corpus top-5,
    // both recomputed by DuckDB. Verification-only (brute baseline).
    QueryDef(
      "llm_ann_auto_xtable_recall",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsXtableAutoCte(tables = 8, capPlanes = 10, seed = 42L, targetBucket = 32L, qPred = "vec_id % 20 = 0", cPred = "vec_id % 20 <> 0", probeBits = 5, probeDepth = 2)},
           |${lshTopCte(5)},
           |brx AS (SELECT a.vec_id AS qid, b.vec_id AS nid FROM e a JOIN e b
           |  ON a.vec_id % 20 = 0 AND b.vec_id % 20 <> 0
           |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
           |    ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id) <= 5),
           |h AS (SELECT l.qid, count(*) AS c FROM lshtop l JOIN brx USING (qid, nid) GROUP BY 1)
           |SELECT CAST(coalesce(h.c, 0) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT vec_id AS qid FROM e WHERE vec_id % 20 = 0) q
           |LEFT JOIN h USING (qid) GROUP BY 1""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val qs = e.filter(col("vec_id") % 20 === 0)
        val cs = e.filter(col("vec_id") % 20 =!= 0)
        val n = cs.count()
        require(
          n <= (32L << 10),
          s"auto-LSH oracle embeds 10 capped plane literals (valid to n = ${32L << 10}); n=$n needs a larger capPlanes"
        )
        val approx = Similarity
          .lshTopKAgainst(qs, cs, "vec_id", "embedding", k = 5, tables = 8, probeBits = 5, probeDepth = 2, dim = EmbDim)
          .select("qid", "nid")
        // brute cross side: deliberate O(|q|·|c|) baseline, verification-only
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid")
          .orderBy(col("cos").desc, col("nid"))
        val brute = qs
          .select(col("vec_id").as("qid"), col("embedding").as("__qv"))
          .crossJoin(cs.select(col("vec_id").as("nid"), col("embedding").as("__cv")))
          .withColumn("cos", Similarity.cosine(col("__qv"), col("__cv")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("qid", "nid")
        val hits = approx.join(brute, Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("__c"))
        qs.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(coalesce(col("__c"), lit(0L)).as("hits"))
          .groupBy("hits")
          .agg(count(lit(1)).as("n"))
      }
    ),
    // IVF top-5 with a real (deterministic Lloyd's) k-means fit, gated on
    // the clustered fixture — the regime the ivfTopK scaladoc promises the
    // centroid upgrade for. The oracle replays the ENTIRE algorithm in
    // DuckDB: int8 quantization, md5-order seeded init, two unrolled Lloyd
    // iterations (exact integer-sum means — reduction-order-independent by
    // construction), nprobe probing, exact re-rank. A hash match certifies
    // the fit itself, not just the probe join.
    QueryDef(
      "llm_ann_ivf_kmeans",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansIvfCte(k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM kmtop""".stripMargin
      },
      (spark, sf) =>
        Similarity
          .ivfTopKKmeans(clusteredFixture(spark, sf), "vec_id", "v", k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L)
          .select("qid", "nid", "rank")
    ),
    // IVF-PQ top-5 (Jégou et al. 2011): the k-means IVF probe join with
    // the candidate side stored as PQ codes — per-subspace codebooks
    // (m=8 × ks=32 over 64 dims → 40 bits/vector vs 256 bytes float32)
    // fit by deterministic Lloyd's in the quantized space, candidates
    // scored by ASYMMETRIC distance (query's quantized vector vs the
    // candidate's codeword reconstruction), then the production
    // refinement: the ADC top-50 shortlist fetches its ORIGINAL vectors
    // by id and the exact-cosine top-5 of the shortlist is returned
    // (measured vs the exact-rank IVF at sf0.01: mean top-5 overlap 0.97
    // at R=50 vs 0.66 at R=20 — the shortlist knob buys recall back at
    // O(R) fetches per query; at production cells≈√n the shortlist is a
    // constant over nprobe·√n candidates, a vanishing fraction). The
    // oracle replays the ENTIRE algorithm: coarse fit, subvector split,
    // per-subspace seeded init, exact-integer squared-L2 Lloyd rounds,
    // encode, reconstruction, probe, ADC shortlist, exact re-rank. At
    // 100 TB the code column replaces the float32 index — the storage
    // lever int8 quantization alone doesn't give at lookup time.
    QueryDef(
      "llm_ann_ivf_pq",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
           |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L)},
           |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM pqrr""".stripMargin
      },
      (spark, sf) =>
        Similarity
          // checkpoint the fixture: its zip_with construction is otherwise
          // re-evaluated by every consumer in the chain (coarse fit, PQ
          // fit, encode, probe, re-rank fetch) — measured 9.6 → 7.1 s
          .ivfPqTopK(clusteredFixture(spark, sf).localCheckpoint(true), "vec_id", "v", k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, rerank = 50, dim = EmbDim)
          .select("qid", "nid", "rank")
    ),
    // Persisted-index lifecycle (the production shape of llm_ann_ivf_pq):
    // fit the IVF-PQ index ONCE, WRITE it to storage (centroids +
    // codebooks + the codes-only corpus index partitioned by cell id —
    // m small ints per vector, the ~30× compression that turns a 100 TB
    // float32 corpus into a ~3 TB index whose probe prunes to
    // nprobe/cells of the files), LOAD it back (contract-checked tables,
    // the fit collected to the driver, the codes a lazy scan), and PROBE
    // the query batch against the loaded index. ivfPqTopK is this same
    // fit + probe without the storage round trip, and parquet round-trips
    // doubles bit-exact, so the oracle is the SAME full-algorithm replay
    // as llm_ann_ivf_pq — the gate proves a saved index answers
    // identically to the in-memory fit across sessions.
    QueryDef(
      "llm_ann_index_lifecycle",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
           |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L)},
           |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50)}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM pqrr""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val dir = tmpDir("llm_ann_index_lifecycle")
        val idx = AnnIndex.fitIvfPq(fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        val loaded = AnnIndex.load(spark, dir)
        AnnIndex
          .probeIvfPq(loaded, fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid", "rank")
      }
    ),
    // Small-batch pruned probe of the persisted index — the online-serving
    // shape: the batch's cells are ranked on the driver and their ids ride
    // as a LITERAL IN filter, so the cell-partitioned codes scan statically
    // prunes to the probed cells' files (LlmOpsSpec asserts the
    // PartitionFilters of the probe's shortlist execution; at production
    // scale a 10-vector batch at nprobe=2 over 1,024 cells reads
    // ≤ 20/1,024 of a ~3 TB index). The shortlist and the rerank fetch are
    // two Spark jobs run while the query is built; the probe returns a
    // local relation. Results identical to the join-form
    // probe on the same batch — the oracle is the full-corpus replay
    // restricted to the batch's qids, which IS the per-query-independent
    // semantics being claimed.
    QueryDef(
      "llm_ann_index_pruned",
      Some(indexPrunedOracleSql),
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val dir = tmpDir("llm_ann_index_pruned")
        val idx = AnnIndex.fitIvfPq(fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        val loaded = AnnIndex.load(spark, dir)
        val batch = fx.filter(col("vec_id") % 97 === 0)
        AnnIndex
          .probeIvfPqPruned(loaded, batch, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid", "rank")
      }
    ),
    // Incremental index maintenance (round 13): fit the IVF-PQ index on
    // 80% of the fixture (the stored corpus), SAVE it, then APPEND the
    // remaining 20% (the arriving batch) encoded against the FROZEN
    // centroids/codebooks — new code files land inside the touched cells'
    // partitions; nothing refits. The probe then runs over corpus ∪ batch
    // against the appended index. The oracle replays the same split: the
    // coarse k-means AND the PQ codebooks fit ONLY on the corpus slice
    // (kmeansFitCtes/pqCtes with fitSrc = qbc), while assignment, encode,
    // probe, ADC, and exact re-rank cover the full set — a hash match
    // proves append ≡ encode-under-frozen-fit, i.e. a production ingest
    // stream can grow the index without refitting and probe results are
    // exactly what a fresh encode of the union under the same fit gives.
    QueryDef(
      "llm_ann_index_append",
      Some(indexAppendOracleSql),
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_append")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
        val appended = AnnIndex.load(spark, dir)
        AnnIndex
          .probeIvfPq(appended, fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid", "rank")
      }
    ),
    // Staleness ledger for the appended index: per-cell occupancy NOW vs
    // the fit-time occupancy/ snapshot — fit_n (corpus rows the cell held
    // at save), now_n (after the append), added (the drift). The refit
    // signal at production scale: a cell whose occupancy multiplied is
    // probing ever-larger candidate lists under a centroid fit that never
    // saw its new mass. The oracle replays BOTH sides from the shared
    // frozen assignment: fit counts over the corpus slice, now counts
    // over the union — full-outer semantics included (a cell gaining its
    // FIRST rows post-fit shows fit_n = 0).
    QueryDef(
      "llm_ann_index_staleness",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |qbc AS (SELECT * FROM qb WHERE id % 5 <> 0),
           |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L, src = "qbc")},
           |asga AS (SELECT qb.id, c.cid, (qb.id % 5 <> 0) AS infit FROM qb CROSS JOIN k2 c
           |  QUALIFY row_number() OVER (PARTITION BY qb.id
           |    ORDER BY list_cosine_similarity(qb.qv, c.cv) DESC, c.cid) = 1)
           |SELECT CAST(cid AS INTEGER) AS cell,
           |       CAST(sum(CASE WHEN infit THEN 1 ELSE 0 END) AS BIGINT) AS fit_n,
           |       CAST(count(*) AS BIGINT) AS now_n,
           |       CAST(sum(CASE WHEN infit THEN 0 ELSE 1 END) AS BIGINT) AS added
           |FROM asga GROUP BY 1""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_staleness")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
        AnnIndex.staleness(spark, dir)
      }
    ),
    // Index compaction (round 13, completing the maintenance loop): three
    // separate appends fragment the touched cells' partitions (one file
    // per append per cell — the streaming-ingest failure mode at scale:
    // probe cost grows with FILE count while rows stand still), then
    // compact() rewrites each cell into a single file via a
    // write-then-swap. Compaction is logically the identity, so the probe
    // over the compacted index must hash-match the SAME frozen-fit replay
    // llm_ann_index_append gates against — the oracle knows nothing about
    // files, which is exactly the point: physical layout changed, answers
    // didn't. The spec additionally pins the file counts (fragmented > 1
    // per touched cell, compacted == 1) and staleness invariance.
    QueryDef(
      "llm_ann_index_compact",
      Some(indexAppendOracleSql),
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_compact")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        (0 until 3).foreach { i =>
          AnnIndex.append(spark, dir, batch.filter(col("vec_id") % 3 === i), "vec_id", "v", batchId = i.toLong)
        }
        AnnIndex.compact(spark, dir)
        AnnIndex
          .probeIvfPq(AnnIndex.load(spark, dir), fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid", "rank")
      }
    ),
    // Index deletion (round 15, the decontamination / right-to-be-forgotten
    // path): fit on the 80% corpus, save, append the 20% batch under the
    // frozen fit, then DELETE every id ≡ 0 (mod 7) — partition-local
    // rewrites of only the touched (__batch, __cid) partitions, nothing
    // refits. The probe then runs the FULL fixture as queries (deleted ids
    // still query; they can no longer be answers). The oracle is the same
    // frozen-fit replay as llm_ann_index_append with the INDEX side
    // restricted to the survivors — it knows nothing about files or
    // partitions, which is the point: delete must be indistinguishable
    // from an index that never contained those rows.
    QueryDef(
      "llm_ann_index_delete",
      Some(indexDeleteOracleSql),
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_delete")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
        AnnIndex.delete(spark, dir, fx.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
        AnnIndex
          .probeIvfPq(AnnIndex.load(spark, dir), fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid", "rank")
      }
    ),
    // Recall-after-drift ledger (round 15): the staleness ledger says WHEN
    // cell occupancy moved; this one prices what the drift COSTS IN
    // ANSWERS — the refit threshold as data, not judgment. The drifted
    // fixture's append slice (vec_id ≡ 0 mod 5) draws from centers the
    // frozen fit never saw; the ledger is the per-query top-5 overlap
    // histogram between (a) the appended-under-frozen-fit persisted index
    // and (b) a full refit on the union (ivfPqTopK at identical knobs).
    // The oracle replays BOTH complete IVF-PQ chains side by side (fz/rf
    // prefixes) and folds the same histogram. Verification-only at bench:
    // it deliberately runs the index lifecycle AND a second full fit.
    QueryDef(
      "llm_ann_index_drift_recall",
      Some(indexDriftRecallOracleSql),
      (spark, sf) => {
        val fx = driftedFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_drift_recall")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
        val frozen = AnnIndex
          .probeIvfPq(AnnIndex.load(spark, dir), fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid")
        val refit = Similarity
          .ivfPqTopK(fx, "vec_id", "v", k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, rerank = 50, dim = EmbDim)
          .select("qid", "nid")
        val hits = frozen.join(refit, Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("__c"))
        fx.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(coalesce(col("__c"), lit(0L)).as("hits"))
          .groupBy("hits")
          .agg(count(lit(1)).as("n"))
      }
    ),
    // Quantizer refit (round 16, closing the index lifecycle): the drift
    // ledger says WHEN the frozen fit is stale and what it costs — refit
    // is the operator that ACTS on it. Fit frozen on the 80% corpus, save,
    // append the drifted 20% under the frozen fit (the degraded state the
    // drift-recall ledger prices), then REFIT on the union: a whole new
    // IVF-PQ fit written as the next generation, carrying its own fit
    // layers, under compact's commit discipline (marker-last, pinned
    // readers untouched, pre-refit replays no-op on the carried hwm —
    // all spec-asserted). The probe then runs over the migrated index;
    // the oracle is ONE fresh-fit replay of the full corpus, because
    // refit's contract is exactly "answers as if the index had been fit
    // on today's corpus from scratch" — the frozen fit and the appends
    // must be invisible in the result.
    QueryDef(
      "llm_ann_index_refit",
      Some(indexRefitOracleSql),
      (spark, sf) => {
        val fx = driftedFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_refit")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
        AnnIndex.refit(spark, dir, fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex
          .probeIvfPq(AnnIndex.load(spark, dir), fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid", "rank")
      }
    ),
    // The refit DECISION priced end-to-end (round 16): the drift-recall
    // ledger before AND after the migration in one result. Phase 'frozen'
    // overlaps the degraded frozen-fit index probe against the post-refit
    // probe (the new ground truth) — the answer-quality loss the operator
    // repairs; phase 'refit' overlaps the migrated index against itself
    // via the SAME ledger computation — returning to hits = k for every
    // query, replayed (not assumed) so a post-refit probe regression
    // cannot hide. Verification-only at bench: two complete fits.
    QueryDef(
      "llm_ann_index_refit_recall",
      Some(indexRefitRecallOracleSql),
      (spark, sf) => {
        val fx = driftedFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_refit_recall")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
        val frozen = AnnIndex
          .probeIvfPq(AnnIndex.load(spark, dir), fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid")
          .localCheckpoint(true) // snapshot BEFORE the refit swaps the current generation
        AnnIndex.refit(spark, dir, fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        val refit = AnnIndex
          .probeIvfPq(AnnIndex.load(spark, dir), fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid")
          .localCheckpoint(true) // read by BOTH histograms
        def hist(side: org.apache.spark.sql.DataFrame, phase: String) = {
          val hits = side.join(refit, Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("__c"))
          fx.select(col("vec_id").as("qid"))
            .join(hits, Seq("qid"), "left")
            .select(coalesce(col("__c"), lit(0L)).as("hits"))
            .groupBy("hits")
            .agg(count(lit(1)).as("n"))
            .select(lit(phase).as("phase"), col("hits"), col("n"))
        }
        hist(frozen, "frozen").unionByName(hist(refit, "refit"))
      }
    ),
    // Filtered ANN probe (round 16): production vector search is almost
    // always "top-k WHERE lang = 'en' AND source = x" — the predicate
    // lands on the codes scan BEFORE candidate ranking, so each query's
    // top-k fills from MATCHING survivors (post-filtering plain top-k
    // output silently under-fills k). Online-serving shape: the pruned
    // probe composes the predicate with the probed-cell IN list on the
    // same scan, so a filtered probe still reads only the probed cells'
    // files (LlmOpsSpec pins the shortlist execution's plan). The oracle is the full replay
    // with the predicate in the index-side CTE — the same shape the
    // delete oracle uses, because "filtered" must be indistinguishable
    // from "an index that only ever contained matching rows".
    QueryDef(
      "llm_ann_index_filtered",
      Some(indexFilteredPrunedOracleSql),
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val dir = tmpDir("llm_ann_index_filtered")
        val idx = AnnIndex.fitIvfPq(fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        val loaded = AnnIndex.load(spark, dir)
        val batch = fx.filter(col("vec_id") % 97 === 0)
        AnnIndex
          .probeIvfPqPruned(loaded, batch, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true,
            idFilter = Some(col("__nid") % 7 === 1))
          .select("qid", "nid", "rank")
      }
    ),
    // Recall ledger for the FILTERED probe (round 17, completing ledger
    // coverage of every probe form): the filtered ANN top-5 (idFilter on
    // the index side, k filling from matching survivors) overlapped
    // against the brute-force top-5 computed under the SAME predicate —
    // the answer-quality price of quantized filtered search, certified by
    // DuckDB recomputing both sides. Two rows per query like the PQ-loss
    // ledger: 'filtered_rerank' (the registered operating point —
    // measured recall 1.0 at sf0.01: the 50-deep shortlist covers the
    // 5-deep filtered truth even though the predicate shrinks each cell's
    // pool ~7x) and 'filtered_adc' (no rerank — what codebook compression
    // alone costs when fewer survivors compete). Verification-only
    // (brute baseline).
    QueryDef(
      "llm_ann_index_filtered_recall",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
           |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L)},
           |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2, rerank = 50, idxFilter = "kpp.id % 7 = 1")},
           |fbrf AS (SELECT a.id AS qid, b.id AS nid FROM cf a JOIN cf b
           |  ON a.id <> b.id AND b.id % 7 = 1
           |  QUALIFY row_number() OVER (PARTITION BY a.id
           |    ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.id) <= 5),
           |hr AS (SELECT p.qid, count(*) AS c FROM pqrr p JOIN fbrf USING (qid, nid) GROUP BY 1),
           |ha AS (SELECT p.qid, count(*) AS c FROM (SELECT qid, nid FROM pqtop WHERE rnk <= 5) p
           |       JOIN fbrf USING (qid, nid) GROUP BY 1),
           |rows_ AS (
           |  SELECT 'filtered_rerank' AS method, CAST(coalesce(hr.c, 0) AS BIGINT) AS hits
           |  FROM (SELECT id AS qid FROM cf) q LEFT JOIN hr USING (qid)
           |  UNION ALL
           |  SELECT 'filtered_adc' AS method, CAST(coalesce(ha.c, 0) AS BIGINT) AS hits
           |  FROM (SELECT id AS qid FROM cf) q LEFT JOIN ha USING (qid))
           |SELECT method, hits, CAST(count(*) AS BIGINT) AS n FROM rows_ GROUP BY 1, 2""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val dir = tmpDir("llm_ann_index_filtered_recall")
        AnnIndex.save(
          AnnIndex.fitIvfPq(fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim),
          dir
        )
        val loaded = AnnIndex.load(spark, dir)
        val pred: org.apache.spark.sql.Column = col("__nid") % 7 === 1
        // exact baseline under the SAME predicate on the candidate side —
        // deliberate O(n * survivors) brute cross, verification-only
        val w = org.apache.spark.sql.expressions.Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
        val brute = fx
          .select(col("vec_id").as("qid"), col("v").as("__qv"))
          .crossJoin(fx.filter(col("vec_id") % 7 === 1).select(col("vec_id").as("nid"), col("v").as("__cv")))
          .filter(col("qid") =!= col("nid"))
          .withColumn("cos", Similarity.cosine(col("__qv"), col("__cv")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("qid", "nid")
          .localCheckpoint(true) // read by both histograms
        def hist(method: String, approx: org.apache.spark.sql.DataFrame) = {
          val hits = approx.select("qid", "nid").join(brute, Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("__c"))
          fx.select(col("vec_id").as("qid"))
            .join(hits, Seq("qid"), "left")
            .select(coalesce(col("__c"), lit(0L)).as("hits"))
            .groupBy("hits")
            .agg(count(lit(1)).as("n"))
            .select(lit(method).as("method"), col("hits"), col("n"))
        }
        hist(
          "filtered_rerank",
          AnnIndex.probeIvfPq(loaded, fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true, idFilter = Some(pred))
        ).unionByName(
          hist(
            "filtered_adc",
            AnnIndex.probeIvfPq(loaded, fx, "vec_id", "v", k = 5, nprobe = 2, excludeSelf = true, idFilter = Some(pred))
          )
        )
      }
    ),
    // Maintenance policy ledger (round 16; round 17 adds the empty-cell
    // mass floor): SCALE_LEDGER prose as a queryable operator — per cell,
    // occupancy drift (staleness) joined with layer fragmentation (what
    // append leaves behind), folded through integer threshold rules into
    // a compact/refit/ok decision. Thresholds are plan literals (the
    // fit_n = 0 refit rule gated on now_n·cells·minMassDen ≥
    // total·minMassNum so one stray row in an empty cell cannot flag a
    // whole-index refit; growth refit at ≥ 25% via added·4 ≥ fit_n,
    // compact at ≥ 2 layers) and the oracle replays the RULES, not just
    // the counts, from the shared frozen assignment + the construction's
    // batch labels (fit rows −1, appended rows id mod 3).
    QueryDef(
      "llm_ann_index_policy",
      Some(indexPolicyOracleSql),
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_policy")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        (0 until 3).foreach { i =>
          AnnIndex.append(spark, dir, batch.filter(col("vec_id") % 3 === i), "vec_id", "v", batchId = i.toLong)
        }
        AnnIndex.maintenancePolicy(spark, dir, refitNum = 1, refitDen = 4, minLayers = 2, minMassNum = 1, minMassDen = 20)
      }
    ),
    // Generational overwrite (round 17): save() onto a COMMITTED index
    // writes the replacement as the next generation under refit's
    // marker-last commit discipline — a crash mid-save can no longer
    // destroy a working index — and RESETS the append high-water mark
    // (a re-save is a fresh index: the documented remedy for restarting
    // a stream's batch-id space). Construction: fit+save the 80% corpus,
    // append the drifted 20% under the frozen fit, then SAVE a fresh fit
    // of the full union over the live index and probe. The oracle is the
    // refit oracle — ONE fresh-fit replay of the union — because
    // save-over's contract is exactly refit's with a caller-supplied
    // fit: the old index, its fit, and the appends must all be invisible
    // in the answers.
    QueryDef(
      "llm_ann_index_resave",
      Some(indexRefitOracleSql),
      (spark, sf) => {
        val fx = driftedFixture(spark, sf).localCheckpoint(true)
        val corpus = fx.filter(col("vec_id") % 5 =!= 0)
        val batch = fx.filter(col("vec_id") % 5 === 0)
        val dir = tmpDir("llm_ann_index_resave")
        val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(idx, dir)
        AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
        val fresh = AnnIndex.fitIvfPq(fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
        AnnIndex.save(fresh, dir) // generational overwrite of the live index
        AnnIndex
          .probeIvfPq(AnnIndex.load(spark, dir), fx, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
          .select("qid", "nid", "rank")
      }
    ),
    // Recall ledger pricing PQ loss: ADC-ONLY top-5 (no re-rank, same
    // m/ks as the headline) vs the exact re-rank top-5 over the SAME
    // coarse candidates (ivfTopKKmeans at identical cells/nprobe/seed) —
    // the histogram isolates what codebook compression costs before the
    // shortlist refinement buys it back. Measured at sf0.01: ADC-only
    // mean top-5 overlap ~0.35 (within-cluster ordering is noise-level,
    // which PQ quantizes away — the reason the headline reranks). Both
    // sides replayed by DuckDB. Verification-only (ledger, not a
    // throughput path).
    QueryDef(
      "llm_ann_ivf_pq_recall",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansIvfCte(k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L)},
           |${pqCtes(dim = Dim, m = 8, ks = 32, pqIters = 2, seed = 42L)},
           |${pqIvfTopCte(k = 5, nprobe = 2, iters = 2)},
           |h AS (SELECT p.qid, count(*) AS c FROM pqtop p JOIN kmtop USING (qid, nid) GROUP BY 1)
           |SELECT CAST(coalesce(h.c, 0) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT id AS qid FROM cf) q LEFT JOIN h USING (qid) GROUP BY 1""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val pq = Similarity
          .ivfPqTopK(fx, "vec_id", "v", k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = EmbDim)
          .select("qid", "nid")
        val exact = Similarity
          .ivfTopKKmeans(fx, "vec_id", "v", k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L)
          .select("qid", "nid")
        val hits = pq.join(exact, Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("__c"))
        fx.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(coalesce(col("__c"), lit(0L)).as("hits"))
          .groupBy("hits")
          .agg(count(lit(1)).as("n"))
      }
    ),
    // Recall ledger for the k-means IVF on the clustered fixture, with the
    // identity-quantizer IVF at the same (cells, nprobe) as the comparison
    // row — both histograms and the brute baseline recomputed by DuckDB.
    // Verification-only (contains the O(n²) brute baseline).
    //
    // Registered operating point: cells = 8 (matched to the fixture's true
    // cluster count — what a fitted quantizer is for), nprobe = 2 →
    // k-means recall 1.000. Measured grid at sf0.01 (DuckDB replay, which
    // hash-matches the Spark plan): over-segmented settings degrade the
    // fitted centroids more gracefully than smallest-id ones (cells=16,
    // nprobe=1: 0.724 vs 0.658; cells=32, nprobe=2: 0.784 vs 0.713), and
    // both saturate at cells=8 because a cluster's members co-locate in
    // one cell whichever single centroid serves them.
    QueryDef(
      "llm_ann_kmeans_recall",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansIvfCte(k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L)},
           |${fixtureIvfCte(k = 5, cells = 8, nprobe = 2)},
           |${fixtureBruteCte(5)},
           |kh AS (SELECT t.qid, count(*) AS c FROM kmtop t JOIN fbr USING (qid, nid) GROUP BY 1),
           |ih AS (SELECT t.qid, count(*) AS c FROM fivtop t JOIN fbr USING (qid, nid) GROUP BY 1),
           |rows_ AS (
           |  SELECT 'ivf_kmeans' AS method, CAST(coalesce(kh.c, 0) AS BIGINT) AS hits
           |  FROM cf LEFT JOIN kh ON kh.qid = cf.id
           |  UNION ALL
           |  SELECT 'ivf_smallid' AS method, CAST(coalesce(ih.c, 0) AS BIGINT) AS hits
           |  FROM cf LEFT JOIN ih ON ih.qid = cf.id)
           |SELECT method, hits, CAST(count(*) AS BIGINT) AS n FROM rows_ GROUP BY 1, 2""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val brute = Similarity.bruteTopK(fx, "vec_id", "v", k = 5).select("qid", "nid")
        def hist(method: String, approx: org.apache.spark.sql.DataFrame) = {
          val hits = approx
            .select("qid", "nid")
            .join(brute, Seq("qid", "nid"))
            .groupBy("qid")
            .agg(count(lit(1)).as("__c"))
          fx.select(col("vec_id").as("qid"))
            .join(hits, Seq("qid"), "left")
            .select(coalesce(col("__c"), lit(0L)).as("hits"))
            .groupBy("hits")
            .agg(count(lit(1)).as("n"))
            .select(lit(method).as("method"), col("hits"), col("n"))
        }
        hist("ivf_kmeans", Similarity.ivfTopKKmeans(fx, "vec_id", "v", 5, cells = 8, nprobe = 2, iters = 2, seed = 42L))
          .unionByName(hist("ivf_smallid", Similarity.ivfTopK(fx, "vec_id", "v", 5, cells = 8, nprobe = 2)))
      }
    ),
    // Sampled-fit k-means recall ledger — the 100 TB fit discipline as
    // driver-verified data: at scale the Lloyd fit runs on a deterministic
    // md5-bucket sample (two full-corpus passes just to place 8 centroids
    // is wasted I/O), so this registers fitSamplePercent = 50 next to the
    // full fit at the same (cells=8, nprobe=2) and publishes both hit
    // histograms against the brute baseline. The oracle replays the
    // sample filter itself (qbs CTE: md5("fit:seed:id") mod 100 < 50),
    // fits on the sample, assigns/probes the FULL fixture — exactly
    // kmeansCentroids' scoping — so a hash match certifies that only the
    // fit saw the sample. Verification-only (brute baseline).
    QueryDef(
      "llm_ann_kmeans_sampled_recall",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${fitSampleCte(seed = 42L, fitSamplePercent = 50)},
           |${kmeansIvfCte(k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L, fitSrc = "qbs")},
           |${fixtureBruteCte(5)},
           |sh AS (SELECT t.qid, count(*) AS c FROM kmtop t JOIN fbr USING (qid, nid) GROUP BY 1)
           |SELECT 'ivf_kmeans_fit50' AS method, CAST(coalesce(sh.c, 0) AS BIGINT) AS hits,
           |       CAST(count(*) AS BIGINT) AS n
           |FROM cf LEFT JOIN sh ON sh.qid = cf.id GROUP BY 1, 2""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val brute = Similarity.bruteTopK(fx, "vec_id", "v", k = 5).select("qid", "nid")
        val approx = Similarity
          .ivfTopKKmeans(fx, "vec_id", "v", 5, cells = 8, nprobe = 2, iters = 2, seed = 42L, fitSamplePercent = 50)
          .select("qid", "nid")
        val hits = approx.join(brute, Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("__c"))
        fx.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(lit("ivf_kmeans_fit50").as("method"), coalesce(col("__c"), lit(0L)).as("hits"))
          .groupBy("method", "hits")
          .agg(count(lit(1)).as("n"))
      }
    ),
    // SemDeDup (Abbas et al. 2023): semantic dedup inside k-means cells on
    // the clustered fixture — pair search bucketed by fitted cell, keep
    // the least-prototypical member of each duplicate group (lowest
    // centroid similarity; diversity-preserving). The oracle replays the
    // ENTIRE method: int8 quantization, seeded k-means fit, rank-1
    // assignment, same-cell pair threshold on the original vectors, and
    // the (csim, id)-lexicographic survivor rule.
    QueryDef(
      "llm_semdedup",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
           |${semDedupCtes(tau = 0.95, iters = 2)}
           |SELECT s.id AS vec_id, CAST(s.cid AS BIGINT) AS cell, s.csim AS centroid_sim
           |FROM sasg s WHERE s.id NOT IN (SELECT id FROM sdrop)""".stripMargin
      },
      (spark, sf) =>
        // maxCell = 0: the EXACT within-cell rule — the baseline the cap
        // ledger prices against. The operator default is the auto skew cap
        // (AutoMaxCell; exercised by llm_semdedup_default); this uncapped
        // form is baseline-only at scale, like brute ANN.
        Similarity.semDedup(clusteredFixture(spark, sf), "vec_id", "v", tau = 0.95, cells = 8, iters = 2, seed = 42L, maxCell = 0)
    ),
    // SemDeDup with the AutoCells default — the production knob: cells =
    // ⌈√n⌉ via suggestedCells (23 at sf0.01's 500 fixture rows, 45 at
    // sf0.1's 2000), so within-cell pair work stays ~n·√n-bounded as the
    // corpus grows instead of the fixed-cells ~n²/cells degradation. The
    // oracle replays the ⌈√n⌉ rule itself with integer comparisons (snc
    // CTE) and gates the seeded init on the SQL-computed count — a hash
    // match certifies the sizing rule, the fit under it, and the survivor
    // rule end to end.
    QueryDef(
      "llm_semdedup_auto",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${autoCellsCte(capCells = 64)},
           |${kmeansFitCtes(cells = 0, iters = 2, seed = 42L, cellsSql = "(SELECT cells FROM snc)")},
           |${semDedupCtes(tau = 0.95, iters = 2)}
           |SELECT s.id AS vec_id, CAST(s.cid AS BIGINT) AS cell, s.csim AS centroid_sim
           |FROM sasg s WHERE s.id NOT IN (SELECT id FROM sdrop)""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf)
        val n = fx.count()
        require(n <= 64L * 64L, s"auto-SemDeDup oracle cell search capped at 64 (n <= 4096); n=$n")
        // maxCell = 0: exact rule; this query gates the AutoCells sizing
        Similarity.semDedup(fx, "vec_id", "v", tau = 0.95, iters = 2, seed = 42L, maxCell = 0)
      }
    ),
    // Cap-cost ledger: what the maxCell=24 blocking COSTS on the
    // clustered fixture, as driver-verified data — total docs, survivors
    // under the exact within-cell rule vs the blocked rule, and the
    // count of docs whose fate (kept/dropped) agrees. The uncapped pair
    // universe is a superset, so survivors can only grow under the cap;
    // the gap divided by n is the recall price the shuffle note
    // describes qualitatively. Both rules replayed in full by the oracle
    // from one shared assignment.
    QueryDef(
      "llm_semdedup_cap_ledger",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
           |sasg AS (SELECT qb.id, qb.v, c.cid, list_cosine_similarity(qb.qv, c.cv) AS csim
           |  FROM qb CROSS JOIN k2 c
           |  QUALIFY row_number() OVER (PARTITION BY qb.id
           |    ORDER BY list_cosine_similarity(qb.qv, c.cv) DESC, c.cid) = 1),
           |drop_exact AS (SELECT DISTINCT x.id FROM sasg x JOIN sasg y
           |  ON x.cid = y.cid AND x.id <> y.id
           |  WHERE list_cosine_similarity(x.v, y.v) >= 0.95
           |    AND (y.csim < x.csim OR (y.csim = x.csim AND y.id < x.id))),
           |sblk AS (SELECT *, CAST(floor(CAST(row_number() OVER (PARTITION BY cid
           |    ORDER BY csim DESC, id) - 1 AS DOUBLE) / 24) AS BIGINT) AS blk FROM sasg),
           |drop_blocked AS (SELECT DISTINCT x.id FROM sblk x JOIN sblk y
           |  ON x.cid = y.cid AND x.blk = y.blk AND x.id <> y.id
           |  WHERE list_cosine_similarity(x.v, y.v) >= 0.95
           |    AND (y.csim < x.csim OR (y.csim = x.csim AND y.id < x.id)))
           |SELECT CAST((SELECT count(*) FROM sasg) AS BIGINT) AS n,
           |       CAST((SELECT count(*) FROM sasg WHERE id NOT IN (SELECT id FROM drop_exact)) AS BIGINT) AS surv_exact,
           |       CAST((SELECT count(*) FROM sasg WHERE id NOT IN (SELECT id FROM drop_blocked)) AS BIGINT) AS surv_capped,
           |       CAST((SELECT count(*) FROM sasg WHERE
           |               (id IN (SELECT id FROM drop_exact)) = (id IN (SELECT id FROM drop_blocked))) AS BIGINT) AS fate_agree""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val exact = Similarity
          .semDedup(fx, "vec_id", "v", tau = 0.95, cells = 8, iters = 2, seed = 42L, maxCell = 0)
          .select(col("vec_id"))
        val capped = Similarity
          .semDedup(fx, "vec_id", "v", tau = 0.95, cells = 8, iters = 2, seed = 42L, maxCell = 24)
          .select(col("vec_id"))
        val base = fx.select(col("vec_id"))
        val flags = base
          .join(exact.withColumn("__se", lit(1)), Seq("vec_id"), "left")
          .join(capped.withColumn("__sc", lit(1)), Seq("vec_id"), "left")
          .select(
            coalesce(col("__se"), lit(0)).as("__se"),
            coalesce(col("__sc"), lit(0)).as("__sc")
          )
        flags.agg(
          count(lit(1)).as("n"),
          sum(col("__se")).cast("long").as("surv_exact"),
          sum(col("__sc")).cast("long").as("surv_capped"),
          sum((col("__se") === col("__sc")).cast("int")).cast("long").as("fate_agree")
        )
      }
    ),
    // Skew-capped SemDeDup — the 100 TB guard rail as a driver-verified
    // query: AutoCells bounds EXPECTED pair work, but one degenerate
    // centroid catching a constant corpus fraction still makes that
    // cell's pair join quadratic. maxCell = 24 ranks each cell by
    // (centroid-sim desc, id) and seeks pairs only within consecutive
    // 24-row blocks (similarity-ordered blocking: near-dups have
    // near-equal centroid sim, so blocking costs recall only at block
    // boundaries) — total pair work n·maxCell whatever the skew. The
    // fixture's ~62 rows/cell (sf0.01) make the blocking genuinely
    // engage (~3 blocks per cell), and the oracle replays rank, block
    // key, and the blocked survivor rule end to end.
    QueryDef(
      "llm_semdedup_capped",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
           |${semDedupCappedCtes(tau = 0.95, iters = 2, maxCell = 24)}
           |SELECT s.id AS vec_id, CAST(s.cid AS BIGINT) AS cell, s.csim AS centroid_sim
           |FROM sasg s WHERE s.id NOT IN (SELECT id FROM sdrop)""".stripMargin
      },
      (spark, sf) =>
        Similarity
          .semDedup(clusteredFixture(spark, sf), "vec_id", "v", tau = 0.95, cells = 8, iters = 2, seed = 42L, maxCell = 24)
    ),
    // SemDeDup under the OPERATOR DEFAULT knobs (round 13): maxCell left
    // at AutoMaxCell, so the skew cap auto-sizes to 4·⌈n/cells⌉ — four
    // times the mean cell occupancy. The oracle replays the sizing rule
    // itself as an integer scalar subquery feeding the blocked survivor
    // chain: a hash match certifies that (a) the auto rule computes the
    // documented cap and (b) on this fixture's balanced-within-4× cells
    // every cell is one block, i.e. the default is result-identical to
    // the exact rule while still bounding a degenerate cell's pair work.
    QueryDef(
      "llm_semdedup_default",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |$kmeansQuantCte,
           |${kmeansFitCtes(cells = 8, iters = 2, seed = 42L)},
           |${semDedupCappedCtesSql(tau = 0.95, iters = 2, maxCell = "(SELECT 4 * ((count(*) + 7) // 8) FROM qb)")}
           |SELECT s.id AS vec_id, CAST(s.cid AS BIGINT) AS cell, s.csim AS centroid_sim
           |FROM sasg s WHERE s.id NOT IN (SELECT id FROM sdrop)""".stripMargin
      },
      (spark, sf) =>
        Similarity
          .semDedup(clusteredFixture(spark, sf), "vec_id", "v", tau = 0.95, cells = 8, iters = 2, seed = 42L)
    ),
    // Deep-key LSH top-5 on the clustered fixture — the key width REAL
    // corpora would run: the round-8 knob grid (round8_lsh_knobs.md)
    // showed recall 1.0 holding out to planes 10-12 on clusterable data
    // while candidates track true near-pair density, but no oracle-gated
    // query certified those widths (the auto schedule picks 4-6 at gate
    // SFs). This registers planes=10 with the same prefix-consistent
    // plane literals — a hash match certifies the deep-key path
    // end-to-end at both SFs.
    QueryDef(
      "llm_ann_lsh_clustered",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |${lshBandsCte(tables = 8, planes = 10, seed = 42L, probeBits = 5, probeDepth = 2, src = "cf", idC = "id")},
           |${lshTopCte(5, src = "cf", idC = "id")}
           |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM lshtop""".stripMargin
      },
      (spark, sf) =>
        Similarity
          .lshTopK(clusteredFixture(spark, sf), "vec_id", "v", k = 5, tables = 8, planesPerTable = 10, probeBits = 5, probeDepth = 2, dim = EmbDim)
          .select("qid", "nid", "rank")
    ),
    // Recall ledger for the deep-key clustered LSH above: hits histogram
    // vs the brute top-5 on the same fixture, both sides recomputed by
    // DuckDB — the "deep keys are free on clusterable data" claim as a
    // certified number. Verification-only (brute baseline).
    QueryDef(
      "llm_ann_clustered_recall",
      Some {
        import AnnOracles._
        s"""WITH $clusteredCte,
           |${lshBandsCte(tables = 8, planes = 10, seed = 42L, probeBits = 5, probeDepth = 2, src = "cf", idC = "id")},
           |${lshTopCte(5, src = "cf", idC = "id")},
           |${fixtureBruteCte(5)},
           |h AS (SELECT t.qid, count(*) AS c FROM lshtop t JOIN fbr USING (qid, nid) GROUP BY 1)
           |SELECT CAST(coalesce(h.c, 0) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n
           |FROM cf LEFT JOIN h ON h.qid = cf.id GROUP BY 1""".stripMargin
      },
      (spark, sf) => {
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        val brute = Similarity.bruteTopK(fx, "vec_id", "v", k = 5).select("qid", "nid")
        val approx = Similarity
          .lshTopK(fx, "vec_id", "v", k = 5, tables = 8, planesPerTable = 10, probeBits = 5, probeDepth = 2, dim = EmbDim)
          .select("qid", "nid")
        val hits = approx.join(brute, Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("__c"))
        fx.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(coalesce(col("__c"), lit(0L)).as("hits"))
          .groupBy("hits")
          .agg(count(lit(1)).as("n"))
      }
    ),
    // Embedding-cosine near-dup pairs at tau=0.4 through the LSH candidate
    // path (8 tables × 4 sign bits — bucketed equi-joins, no window, no
    // BroadcastNestedLoop). Oracle = DuckDB replay of the same algorithm;
    // the recall of this config vs the exact pair set is published by
    // llm_cosine_recall below.
    QueryDef(
      "llm_cosine_neardup",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsCte(tables = 8, planes = 4, seed = 42L, probeBits = 4)}
           |SELECT c.qid AS a, c.nid AS b FROM cand c
           |JOIN e ea ON ea.vec_id = c.qid JOIN e eb ON eb.vec_id = c.nid
           |WHERE c.qid < c.nid AND list_cosine_similarity(ea.v, eb.v) >= 0.4""".stripMargin
      },
      (spark, sf) =>
        Similarity
          .cosineNearDupPairs(
            embeddingsDimChecked(spark, sf),
            "vec_id",
            "embedding",
            tau = 0.4,
            tables = 8,
            planesPerTable = 4,
            probeBits = 4,
            dim = EmbDim
          )
          .select("a", "b")
    ),
    // Auto-sized variant of llm_cosine_neardup: same threshold semantics,
    // key width from suggestedPlanes(n, 32) instead of the fixed 4 bits —
    // the knob schedule the near-dup path runs at growing corpus sizes
    // (see llm_ann_lsh_auto for the sizing rationale and oracle replay).
    QueryDef(
      "llm_cosine_neardup_auto",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsAutoCte(tables = 8, capPlanes = 10, seed = 42L, targetBucket = 32L, probeBits = 5, probeDepth = 2)}
           |SELECT c.qid AS a, c.nid AS b FROM cand c
           |JOIN e ea ON ea.vec_id = c.qid JOIN e eb ON eb.vec_id = c.nid
           |WHERE c.qid < c.nid AND list_cosine_similarity(ea.v, eb.v) >= 0.4""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val n = e.count()
        require(
          n <= (32L << 10),
          s"auto-LSH oracle embeds 10 capped plane literals (valid to n = ${32L << 10}); n=$n needs a larger capPlanes"
        )
        Similarity
          .cosineNearDupPairs(e, "vec_id", "embedding", tau = 0.4, tables = 8, probeBits = 5, probeDepth = 2, dim = EmbDim)
          .select("a", "b")
      }
    ),
    // Cross-table embedding near-dup at tau=0.4 (ingest batch vs stored
    // corpus), completing the cross-table near-dup family for the
    // embedding path. Same knobs as llm_cosine_neardup; two-sided DuckDB
    // replay of the banded candidate generator + threshold.
    QueryDef(
      "llm_cosine_xtable",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsXtableCte(tables = 8, planes = 4, seed = 42L, qPred = "vec_id % 20 = 0", cPred = "vec_id % 20 <> 0", probeBits = 4)}
           |SELECT c.qid AS a, c.nid AS b FROM cand c
           |JOIN e ea ON ea.vec_id = c.qid JOIN e eb ON eb.vec_id = c.nid
           |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        Similarity
          .cosineNearDupAgainst(
            e.filter(col("vec_id") % 20 === 0),
            e.filter(col("vec_id") % 20 =!= 0),
            "vec_id",
            "embedding",
            tau = 0.4,
            tables = 8,
            planesPerTable = 4,
            probeBits = 4,
            dim = EmbDim
          )
          .select("a", "b")
      }
    ),
    // Honest recall ledger for the LSH near-dup config above: exact pair
    // count, LSH-found count, and their intersection — all three recomputed
    // independently by DuckDB. (At tau=0.4 on near-orthogonal synthetic
    // embeddings sign-LSH recall is intrinsically partial — see
    // Similarity scaladoc; this query keeps that number in the open.)
    QueryDef(
      "llm_cosine_recall",
      Some {
        import AnnOracles._
        s"""WITH $eCte,
           |${lshBandsCte(tables = 8, planes = 4, seed = 42L, probeBits = 4)},
           |${lshBandsAutoCte(tables = 8, capPlanes = 10, seed = 42L, targetBucket = 32L, probeBits = 5, probeDepth = 2, prefix = "a")},
           |ex AS (SELECT a.vec_id AS a, b.vec_id AS b FROM e a JOIN e b ON a.vec_id < b.vec_id
           |       WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
           |ls AS (SELECT c.qid AS a, c.nid AS b FROM cand c
           |       JOIN e ea ON ea.vec_id = c.qid JOIN e eb ON eb.vec_id = c.nid
           |       WHERE c.qid < c.nid AND list_cosine_similarity(ea.v, eb.v) >= 0.4),
           |als AS (SELECT c.qid AS a, c.nid AS b FROM acand c
           |       JOIN e ea ON ea.vec_id = c.qid JOIN e eb ON eb.vec_id = c.nid
           |       WHERE c.qid < c.nid AND list_cosine_similarity(ea.v, eb.v) >= 0.4)
           |SELECT 'fixed' AS config,
           |       (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
           |       (SELECT CAST(count(*) AS BIGINT) FROM ls) AS n_lsh,
           |       (SELECT CAST(count(*) AS BIGINT) FROM ex JOIN ls USING (a, b)) AS n_hit
           |UNION ALL
           |SELECT 'auto' AS config,
           |       (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
           |       (SELECT CAST(count(*) AS BIGINT) FROM als) AS n_lsh,
           |       (SELECT CAST(count(*) AS BIGINT) FROM ex JOIN als USING (a, b)) AS n_hit""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val exact =
          Similarity.cosineNearDupPairs(e, "vec_id", "embedding", tau = 0.4, tables = 0).select("a", "b")
        def ledger(config: String, approx: org.apache.spark.sql.DataFrame) = {
          val hit = exact.join(approx, Seq("a", "b"))
          exact
            .agg(count(lit(1)).as("n_exact"))
            .crossJoin(approx.agg(count(lit(1)).as("n_lsh")))
            .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
            .select(lit(config).as("config"), col("n_exact"), col("n_lsh"), col("n_hit"))
        }
        val fixed = Similarity
          .cosineNearDupPairs(e, "vec_id", "embedding", tau = 0.4, tables = 8, planesPerTable = 4, probeBits = 4, dim = EmbDim)
          .select("a", "b")
        val auto = Similarity
          .cosineNearDupPairs(e, "vec_id", "embedding", tau = 0.4, tables = 8, probeBits = 5, probeDepth = 2, dim = EmbDim)
          .select("a", "b")
        ledger("fixed", fixed).unionByName(ledger("auto", auto))
      }
    ),
    // PII redaction: email → IP → phone-ish digit runs, fixed order. The
    // patterns are RE2-compatible on purpose, so Spark's Java regex and
    // DuckDB's RE2 must produce byte-identical redacted text.
    QueryDef(
      "llm_pii_scrub",
      Some {
        val nested = TextStats.piiPatterns.foldLeft("text") { case (inner, (pat, tag)) =>
          s"regexp_replace($inner, '$pat', '$tag', 'g')"
        }
        s"SELECT doc_id, $nested AS redacted FROM documents"
      },
      (spark, sf) =>
        table(spark, sf, "documents")
          .select(col("doc_id"), TextStats.redactPii(col("text")).as("redacted"))
    ),
    // Blocklist screening (C4 badwords step, on corpus-native tokens so
    // both branches of the keep decision fire): occurrence counts, ratio,
    // and the keep flag at a 12% ceiling (majority keep, tail drop).
    QueryDef(
      "llm_blocklist",
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |b AS (SELECT doc_id, toks,
          |        CAST(len(list_filter(toks, x -> list_contains(['slow', 'big', 'stream'], x))) AS BIGINT) AS n_bad
          |      FROM t)
          |SELECT doc_id, n_bad,
          |  CAST(n_bad AS DOUBLE) / len(toks) AS bad_ratio,
          |  CAST(n_bad AS DOUBLE) / len(toks) <= 0.12 AS keep
          |FROM b""".stripMargin
      ),
      (spark, sf) =>
        TextStats
          .blocklistFilter(
            table(spark, sf, "documents").select("doc_id", "text"),
            "text",
            words = Seq("slow", "big", "stream"),
            maxBadRatio = 0.12
          )
          .select("doc_id", "n_bad", "bad_ratio", "keep")
    ),
    // Gopher-style quality-rule flags: measured values + composite keep.
    QueryDef(
      "llm_gopher_rules",
      Some(
        """WITH s AS (SELECT doc_id, length(text) AS nc,
          |  len(string_split(text, ' ')) AS nt,
          |  len(list_distinct(string_split(text, ' '))) AS nd,
          |  length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS nsym FROM documents)
          |SELECT doc_id,
          |  CAST(nt AS BIGINT) AS n_tokens,
          |  CAST(nc - nt + 1 AS DOUBLE) / nt AS mean_word_len,
          |  CAST(nsym AS DOUBLE) / nc AS symbol_ratio,
          |  1.0 - CAST(nd AS DOUBLE) / nt AS repetition,
          |  (nt BETWEEN 16 AND 100000) AND (CAST(nc - nt + 1 AS DOUBLE) / nt BETWEEN 2.0 AND 12.0)
          |    AND (CAST(nsym AS DOUBLE) / nc <= 0.2) AND (1.0 - CAST(nd AS DOUBLE) / nt <= 0.6) AS keep
          |FROM s""".stripMargin
      ),
      (spark, sf) =>
        TextStats
          .gopherRules(table(spark, sf, "documents"))
          .select("doc_id", "n_tokens", "mean_word_len", "symbol_ratio", "repetition", "keep")
    ),
    // Deterministic stratified downsampling: per-language rates over the
    // content-hash bucket — reproducible across engines (no RNG), which is
    // exactly what the oracle checks.
    QueryDef(
      "llm_stratified_sample",
      Some(
        """SELECT doc_id, lang FROM documents
          |WHERE CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) % 100 <
          |  CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 50 WHEN 'zh' THEN 0 ELSE 100 END""".stripMargin
      ),
      (spark, sf) =>
        Corpus
          .stratifiedSampleByHash(
            table(spark, sf, "documents"),
            "lang",
            col("text"),
            rates = Map("en" -> 25, "de" -> 50, "zh" -> 0)
          )
          .select("doc_id", "lang")
    ),
    // Per-source document cap (RefinedWeb/C4-style per-domain limits,
    // round 11): keep at most 10 docs per source, selected by a seeded
    // md5 order over ids — deterministic, ingestion-order-unbiased, and
    // the skew-REDUCING shape (every key exits with <= cap rows). The
    // oracle replays the identical hash rank.
    QueryDef(
      "llm_domain_cap",
      Some(
        """SELECT doc_id, source FROM documents
          |QUALIFY row_number() OVER (PARTITION BY source
          |  ORDER BY CAST(concat('0x', substr(md5(concat_ws(':', 'cap', '7', CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT),
          |           doc_id) <= 10""".stripMargin
      ),
      (spark, sf) =>
        Corpus
          .capPerKey(table(spark, sf, "documents"), "doc_id", "source", cap = 10, seed = 7L)
          .select("doc_id", "source")
    ),
    // Int8 embedding quantization (4x storage at 100 TB): floor(x+0.5)
    // rounding is engine-portable (round() is not — half-even vs half-up),
    // so every quantized byte must match DuckDB's recompute. The int array
    // ships as a joined string because the gate's row sort can't order
    // list columns.
    QueryDef(
      "llm_embed_quantize",
      Some(
        """WITH e AS (SELECT vec_id,
          |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
          |  embedding FROM embeddings)
          |SELECT vec_id, scale,
          |  array_to_string(list_transform(embedding,
          |    x -> CASE WHEN scale = 0 THEN 0
          |              ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) / scale + 0.5) AS INTEGER) END), ',') AS q
          |FROM e""".stripMargin
      ),
      (spark, sf) =>
        table(spark, sf, "embeddings")
          .select(
            col("vec_id"),
            Embeddings.maxAbsScale(col("embedding")).as("scale"),
            array_join(Embeddings.quantizeInt8(col("embedding")), ",").as("q")
          )
    ),
    // Per-label centroids over the int8-quantized embeddings: exact
    // integer pooling — deterministic under any reduction order, unlike
    // float mean — so every (label, dim) centroid hash-matches DuckDB's
    // recompute of the full quantize-then-pool chain.
    QueryDef(
      "llm_embed_centroids",
      Some(
        """WITH e AS (SELECT label,
          |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
          |  embedding FROM embeddings),
          |q AS (SELECT label, list_transform(embedding,
          |        x -> CASE WHEN scale = 0 THEN 0
          |                  ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) / scale + 0.5) AS INTEGER) END) AS qv
          |      FROM e),
          |x AS (SELECT label, i AS dim, qv[i+1] AS v FROM q, unnest(range(len(qv))) AS u(i))
          |SELECT label, CAST(dim AS BIGINT) AS dim, CAST(sum(v) AS BIGINT) AS sum_q,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / count(*) AS centroid_q
          |FROM x GROUP BY 1, 2""".stripMargin
      ),
      (spark, sf) => Embeddings.quantizedCentroids(table(spark, sf, "embeddings"), "label", "embedding")
    ),
    // Johnson–Lindenstrauss sign projection 64→16 over the int8-quantized
    // vectors: every projected coordinate is an exact integer sum, and the
    // ±1 matrix is DERIVED (md5 parity of "rp:seed:j:i"), so the oracle
    // reconstructs it from the formula instead of trusting a literal. The
    // recall this projection costs is priced by llm_ann_project_recall.
    QueryDef(
      "llm_embed_project",
      Some(
        s"""WITH eq AS (SELECT vec_id, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
           |  embedding FROM embeddings),
           |q AS (SELECT vec_id, list_transform(embedding,
           |        x -> CASE WHEN scale = 0 THEN 0
           |                  ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) / scale + 0.5) AS INTEGER) END) AS qv
           |      FROM eq),
           |qd AS (SELECT vec_id, CAST(i.i AS BIGINT) AS i, qv[CAST(i.i AS INTEGER) + 1] AS qi
           |       FROM q, (SELECT unnest(range(${AnnOracles.Dim})) AS i) i),
           |m AS (SELECT CAST(j.j AS BIGINT) AS j, CAST(i.i AS BIGINT) AS i,
           |        CASE WHEN CAST(concat('0x', substr(md5('rp:7:' || CAST(j.j AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 8)) AS UBIGINT) % 2 = 0
           |             THEN 1 ELSE -1 END AS s
           |      FROM (SELECT unnest(range(16)) AS j) j, (SELECT unnest(range(${AnnOracles.Dim})) AS i) i),
           |p AS (SELECT vec_id, m.j, CAST(sum(qd.qi * m.s) AS BIGINT) AS pj
           |      FROM qd JOIN m ON qd.i = m.i GROUP BY 1, 2)
           |SELECT vec_id, array_to_string(list(pj ORDER BY j), ',') AS proj FROM p GROUP BY 1""".stripMargin
      ),
      (spark, sf) => {
        val m = Embeddings.signMatrix(16, AnnOracles.Dim, seed = 7L)
        // quantize in its OWN projection: the 16 per-dim dots each
        // reference the quantized array, and CollapseProject keeps the
        // split (qv referenced 16x, non-cheap), so each row is quantized
        // once, not 16 times
        table(spark, sf, "embeddings")
          .select(col("vec_id"), Embeddings.quantizeInt8(col("embedding")).as("__qv"))
          .select(
            col("vec_id"),
            array_join(
              transform(Embeddings.randomProject(col("__qv"), m), x => x.cast("string")),
              ","
            ).as("proj")
          )
      }
    ),
    // What the 4x projection costs, priced per REGIME (the honest JL
    // physics): on STRUCTURELESS random vectors all pairs are near-
    // equidistant, so a 64→16 projection scrambles top-5 (overlap ~0.05 —
    // not a bug, the regime's true answer); on the CLUSTERED fixture the
    // projection preserves the structure that matters and overlap stays
    // high. Verification-tier (brute passes on both sides); the integer-
    // valued projected cosines are engine-exact, so the ledger hash-gates.
    QueryDef(
      "llm_ann_project_recall",
      Some {
        import AnnOracles._
        def projCtes(srcSql: String, id: String, vecExpr: String, pfx: String): String =
          s"""${pfx}eq AS (SELECT $id AS vid, list_max(list_transform($vecExpr, x -> abs(CAST(x AS DOUBLE)))) AS scale,
             |  $vecExpr AS vv FROM $srcSql),
             |${pfx}q AS (SELECT vid, list_transform(vv,
             |        x -> CASE WHEN scale = 0 THEN 0
             |                  ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) / scale + 0.5) AS INTEGER) END) AS qv
             |      FROM ${pfx}eq),
             |${pfx}qd AS (SELECT vid, CAST(i.i AS BIGINT) AS i, qv[CAST(i.i AS INTEGER) + 1] AS qi
             |       FROM ${pfx}q, (SELECT unnest(range($Dim)) AS i) i),
             |${pfx}p AS (SELECT vid, m.j, CAST(sum(${pfx}qd.qi * m.s) AS BIGINT) AS pj
             |      FROM ${pfx}qd JOIN m ON ${pfx}qd.i = m.i GROUP BY 1, 2),
             |${pfx}pv AS (SELECT vid, list(CAST(pj AS DOUBLE) ORDER BY j) AS v FROM ${pfx}p GROUP BY 1),
             |${pfx}bp AS (SELECT a.vid AS qid, b.vid AS nid FROM ${pfx}pv a JOIN ${pfx}pv b ON a.vid <> b.vid
             |  QUALIFY row_number() OVER (PARTITION BY a.vid
             |    ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vid) <= 5)""".stripMargin
        s"""WITH m AS (SELECT CAST(j.j AS BIGINT) AS j, CAST(i.i AS BIGINT) AS i,
           |        CASE WHEN CAST(concat('0x', substr(md5('rp:7:' || CAST(j.j AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 8)) AS UBIGINT) % 2 = 0
           |             THEN 1 ELSE -1 END AS s
           |      FROM (SELECT unnest(range(16)) AS j) j, (SELECT unnest(range($Dim)) AS i) i),
           |$eCte,
           |$clusteredCte,
           |${projCtes("embeddings", "vec_id", "embedding", "s")},
           |${projCtes("cf", "id", "v", "c")},
           |${bruteTopCte(5)},
           |${fixtureBruteCte(5)},
           |sh AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM br JOIN sbp USING (qid, nid)),
           |ch AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM fbr JOIN cbp USING (qid, nid)),
           |cs AS (SELECT CAST(count(*) AS BIGINT) AS n_same FROM cbp
           |       WHERE CAST(CAST(concat('0x', substr(md5(CAST(qid AS VARCHAR)), 1, 8)) AS UBIGINT) % $FixtureClusters AS BIGINT)
           |           = CAST(CAST(concat('0x', substr(md5(CAST(nid AS VARCHAR)), 1, 8)) AS UBIGINT) % $FixtureClusters AS BIGINT)),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM embeddings)
           |SELECT 'structureless' AS regime, n_queries, sh.n_hits,
           |  CAST(sh.n_hits AS DOUBLE) / (CAST(n_queries AS DOUBLE) * 5.0) AS mean_overlap,
           |  CAST(NULL AS DOUBLE) AS structure_score FROM n, sh
           |UNION ALL
           |SELECT 'clustered' AS regime, n_queries, ch.n_hits,
           |  CAST(ch.n_hits AS DOUBLE) / (CAST(n_queries AS DOUBLE) * 5.0) AS mean_overlap,
           |  CAST(cs.n_same AS DOUBLE) / (CAST(n_queries AS DOUBLE) * 5.0) AS structure_score FROM n, ch, cs""".stripMargin
      },
      (spark, sf) => {
        val e = embeddingsDimChecked(spark, sf)
        val m = Embeddings.signMatrix(16, EmbDim, seed = 7L)
        def clusterOf(c: org.apache.spark.sql.Column) =
          conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") %
            AnnOracles.FixtureClusters
        def overlapRow(
            regime: String,
            src: org.apache.spark.sql.DataFrame,
            vecCol: String,
            labeled: Boolean
        ) = {
          // checkpoint the projected vectors: bruteTopK's pair join would
          // otherwise re-evaluate the projection expression PER PAIR
          // (n x per row — measured 32 s for this ledger; checkpointed:
          // the brute passes alone). Quantize split from projection for
          // the same per-dim re-evaluation reason as llm_embed_project.
          val proj = src
            .select(col("vec_id"), Embeddings.quantizeInt8(col(vecCol)).as("__qv"))
            .select(
              col("vec_id"),
              transform(Embeddings.randomProject(col("__qv"), m), x => x.cast("double"))
                .as("pv")
            )
            .localCheckpoint(true)
          val full = Similarity.bruteTopK(src, "vec_id", vecCol, k = 5).select("qid", "nid")
          val onProj = Similarity.bruteTopK(proj, "vec_id", "pv", k = 5).select("qid", "nid")
          val structScore =
            if (!labeled) lit(null).cast("double").as("structure_score")
            else
              (col("n_same").cast("double") / (col("n_queries").cast("double") * 5.0))
                .as("structure_score")
          val base = e
            .agg(count(lit(1)).as("n_queries")) // 1x1 scalar ledger joins
            .crossJoin(full.join(onProj, Seq("qid", "nid")).agg(count(lit(1)).as("n_hits")))
          val withSame =
            if (!labeled) base
            else
              base.crossJoin(
                onProj
                  .filter(clusterOf(col("qid")) === clusterOf(col("nid")))
                  .agg(count(lit(1)).as("n_same"))
              )
          withSame.select(
            lit(regime).as("regime"),
            col("n_queries"),
            col("n_hits"),
            (col("n_hits").cast("double") / (col("n_queries").cast("double") * 5.0))
              .as("mean_overlap"),
            structScore
          )
        }
        val fx = clusteredFixture(spark, sf).localCheckpoint(true)
        overlapRow("structureless", e, "embedding", labeled = false)
          .unionAll(overlapRow("clustered", fx, "v", labeled = true))
      }
    ),
    // KMV distinct sketch, driver-gated like the LSH oracles: the estimate
    // is a deterministic function of the data (md5 hash points, k smallest,
    // (k-1)·2^56/max), so DuckDB recomputes the identical number — an
    // approximate operator under an exact gate, with the true distinct
    // count alongside as the honest error ledger.
    QueryDef(
      "llm_distinct_sketch",
      Some(
        // sketched over 3-token shingles (16k+ distinct at sf0.01) so the
        // estimator branch, not the exact small-cardinality branch, is
        // what the gate certifies.
        """WITH t0 AS (SELECT string_split(text, ' ') AS toks FROM documents),
          |tok AS (SELECT unnest(list_distinct(list_transform(range(len(toks)-2),
          |          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS t FROM t0),
          |h AS (SELECT DISTINCT CAST((CAST(concat('0x', substr(md5(t), 1, 7)) AS UBIGINT) << 28)
          |        + CAST(concat('0x', substr(md5(t), 8, 7)) AS UBIGINT) AS BIGINT) AS hv FROM tok),
          |kept AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
          |s AS (SELECT count(*) AS c, max(hv) AS m FROM kept)
          |SELECT CASE WHEN c < 256 THEN CAST(c AS DOUBLE)
          |            ELSE CAST(255 AS DOUBLE) * CAST(72057594037927936 AS DOUBLE) / CAST(m AS DOUBLE) END AS n_distinct_est,
          |       (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM tok) AS n_distinct_exact
          |FROM s""".stripMargin
      ),
      (spark, sf) => {
        val shingles = table(spark, sf, "documents")
          .select(explode(Fingerprints.shingles(col("text"), 3)).as("t"))
        // crossJoin of two SINGLE-ROW aggregates (estimate x exact): the
        // resulting BroadcastNestedLoopJoin is a 1x1 scalar combine —
        // constant cost at any corpus size, unlike the pair-join BNLJs the
        // plan audit hunts for.
        Sketches
          .kmvDistinctEstimate(shingles, "t", k = 256)
          .crossJoin(shingles.agg(count_distinct(col("t")).as("n_distinct_exact")))
      }
    ),
    // Hash-sampled quantile sketch: deterministic Bernoulli sample by md5
    // bucket of event_id → estimated p50/p90 per event_type, exact
    // quantiles alongside as the error ledger. An approximate operator
    // under the exact hash gate (both engines replay the same sample).
    QueryDef(
      "llm_quantile_sketch",
      Some(
        """WITH s AS (SELECT event_type, value FROM events
          |           WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 10),
          |est AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample,
          |          quantile_cont(value, 0.5) AS est_p50, quantile_cont(value, 0.9) AS est_p90
          |        FROM s GROUP BY 1),
          |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
          |         quantile_cont(value, 0.5) AS exact_p50, quantile_cont(value, 0.9) AS exact_p90
          |       FROM events GROUP BY 1)
          |SELECT est.event_type, n_sample, est_p50, est_p90, n_total, exact_p50, exact_p90
          |FROM est JOIN ex USING (event_type)""".stripMargin
      ),
      (spark, sf) =>
        Sketches.hashSampledQuantiles(
          table(spark, sf, "events"),
          groupCol = "event_type",
          valueCol = "value",
          idCol = "event_id",
          samplePercent = 10,
          qs = Seq(0.5, 0.9)
        )
    ),
    // Exact heavy hitters: top-20 tokens by frequency, deterministic ties.
    QueryDef(
      "llm_heavy_hitters",
      Some(
        """SELECT t AS value, CAST(count(*) AS BIGINT) AS cnt
          |FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
          |GROUP BY 1 ORDER BY cnt DESC, value LIMIT 20""".stripMargin
      ),
      (spark, sf) =>
        Sketches.heavyHitters(
          table(spark, sf, "documents").select(explode(TextStats.tokens(col("text"))).as("t")),
          "t",
          k = 20
        )
    ),
    // Raw HyperLogLog distinct estimate (p = 6, 64 registers) over the
    // 3-shingle universe, with the exact distinct count as the error
    // ledger. Driver-gated like KMV: registers are a pure md5 function of
    // the data and the harmonic sum is exact-integer, so DuckDB replays
    // the identical estimate — bucket from the hash's top bits, rho from
    // the base-2 digit count of the low 32 bits, absent registers at 0.
    QueryDef(
      "llm_hll_sketch",
      Some(
        s"""WITH t0 AS (SELECT string_split(text, ' ') AS toks FROM documents),
           |tok AS (SELECT unnest(list_distinct(list_transform(range(len(toks)-2),
           |          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS t FROM t0),
           |h AS (SELECT CAST((CAST(concat('0x', substr(md5(t), 1, 7)) AS UBIGINT) << 28)
           |        + CAST(concat('0x', substr(md5(t), 8, 7)) AS UBIGINT) AS BIGINT) AS hv FROM tok),
           |r AS (SELECT hv >> 50 AS bucket, hv & 4294967295 AS w FROM h),
           |rh AS (SELECT bucket, CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rho FROM r),
           |regs AS (SELECT bucket, max(rho) AS m_j FROM rh GROUP BY 1),
           |allb AS (SELECT b.b AS bucket, coalesce(m_j, 0) AS m_j
           |         FROM (SELECT unnest(range(64)) AS b) b LEFT JOIN regs ON regs.bucket = b.b),
           |s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << CAST(33 - m_j AS INT)) AS BIGINT) AS s FROM allb)
           |SELECT ${Sketches.hllAlphaScaled(6)} / CAST(s AS DOUBLE) AS n_distinct_est,
           |       (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM tok) AS n_distinct_exact
           |FROM s""".stripMargin
      ),
      (spark, sf) => {
        val shingles = table(spark, sf, "documents")
          .select(explode(Fingerprints.shingles(col("text"), 3)).as("t"))
        // 1x1 scalar cross join (estimate x exact ledger) — constant cost
        Sketches
          .hllDistinctEstimate(shingles, "t", p = 6)
          .crossJoin(shingles.agg(count_distinct(col("t")).as("n_distinct_exact")))
      }
    ),
    // Count-min sketch point estimates for the top-15 shingles, exact
    // counts alongside. depth=3 x width=512 over a ~17k-shingle universe:
    // the sketch is saturated by construction, so cnt_est > cnt_exact rows
    // prove the collision path live while the min-over-rows rule and the
    // one-sided error guarantee stay visible in the ledger.
    QueryDef(
      "llm_cms_counts",
      Some(
        """WITH t0 AS (SELECT string_split(text, ' ') AS toks FROM documents),
          |tok AS (SELECT unnest(list_distinct(list_transform(range(len(toks)-2),
          |          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS t FROM t0),
          |sk AS (SELECT CAST(j.j AS BIGINT) AS row_j,
          |              CAST((CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || t), 1, 7)) AS UBIGINT) << 28)
          |                + CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || t), 8, 7)) AS UBIGINT) AS BIGINT) % 512 AS col_j,
          |              CAST(count(*) AS BIGINT) AS cnt
          |       FROM tok, (SELECT unnest(range(3)) AS j) j GROUP BY 1, 2),
          |hh AS (SELECT t AS value, CAST(count(*) AS BIGINT) AS cnt_exact FROM tok GROUP BY 1
          |       ORDER BY cnt_exact DESC, value LIMIT 15),
          |probe AS (SELECT hh.value, hh.cnt_exact, CAST(j.j AS BIGINT) AS row_j,
          |                 CAST((CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || value), 1, 7)) AS UBIGINT) << 28)
          |                   + CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || value), 8, 7)) AS UBIGINT) AS BIGINT) % 512 AS col_j
          |          FROM hh, (SELECT unnest(range(3)) AS j) j)
          |SELECT probe.value, probe.cnt_exact, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cnt_est
          |FROM probe LEFT JOIN sk ON probe.row_j = sk.row_j AND probe.col_j = sk.col_j
          |GROUP BY 1, 2""".stripMargin
      ),
      (spark, sf) => {
        val shingles = table(spark, sf, "documents")
          .select(explode(Fingerprints.shingles(col("text"), 3)).as("t"))
        val sketch = Sketches.cmsSketch(shingles, "t", depth = 3, width = 512)
        val hh = Sketches
          .heavyHitters(shingles, "t", k = 15)
          .select(col("value"), col("cnt").as("cnt_exact"))
        Sketches
          .cmsEstimate(sketch, hh.select(col("value").as("t")), "t", depth = 3, width = 512)
          .join(hh, col("t") === col("value"))
          .select(col("value"), col("cnt_exact"), col("cnt_est"))
      }
    ),
    // Sketch mergeability, demonstrated as data: per-shard CMS/HLL
    // sketches (one corpus pass, shard in the group key) folded by the
    // merge algebra (counter SUM / register MAX) must EQUAL the one-shot
    // whole-corpus sketch — the property that makes both sketches valid
    // at 1000 executors (partial agg = shard sketch, exchange = merge).
    // Output: per sketch kind, entry counts on both paths, mismatches
    // (must be 0), an integer checksum, and the merged-register HLL
    // estimate (must equal llm_hll_sketch's one-shot estimate).
    QueryDef(
      "llm_sketch_merge",
      Some(
        s"""WITH t0 AS (SELECT string_split(text, ' ') AS toks FROM documents),
           |tok AS (SELECT unnest(list_distinct(list_transform(range(len(toks)-2),
           |          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS t FROM t0),
           |sh AS (SELECT t, CAST((CAST(concat('0x', substr(md5('sh:' || t), 1, 7)) AS UBIGINT) << 28)
           |         + CAST(concat('0x', substr(md5('sh:' || t), 8, 7)) AS UBIGINT) AS BIGINT) % 2 AS shard FROM tok),
           |cms_sh AS (SELECT shard, CAST(j.j AS BIGINT) AS row_j,
           |             CAST((CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || t), 1, 7)) AS UBIGINT) << 28)
           |               + CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || t), 8, 7)) AS UBIGINT) AS BIGINT) % 512 AS col_j,
           |             CAST(count(*) AS BIGINT) AS cnt
           |           FROM sh, (SELECT unnest(range(3)) AS j) j GROUP BY 1, 2, 3),
           |cms_m AS (SELECT row_j, col_j, CAST(sum(cnt) AS BIGINT) AS cnt FROM cms_sh GROUP BY 1, 2),
           |cms_w AS (SELECT CAST(j.j AS BIGINT) AS row_j,
           |            CAST((CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || t), 1, 7)) AS UBIGINT) << 28)
           |              + CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || t), 8, 7)) AS UBIGINT) AS BIGINT) % 512 AS col_j,
           |            CAST(count(*) AS BIGINT) AS cnt
           |          FROM tok, (SELECT unnest(range(3)) AS j) j GROUP BY 1, 2),
           |cms_cmp AS (SELECT CAST(count(*) AS BIGINT) AS n_entries,
           |              CAST(sum(CASE WHEN m.cnt IS DISTINCT FROM w.cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           |              CAST(sum(coalesce(m.cnt, 0)) AS BIGINT) AS checksum
           |            FROM cms_m m FULL OUTER JOIN cms_w w USING (row_j, col_j)),
           |h AS (SELECT shard, CAST((CAST(concat('0x', substr(md5(t), 1, 7)) AS UBIGINT) << 28)
           |        + CAST(concat('0x', substr(md5(t), 8, 7)) AS UBIGINT) AS BIGINT) AS hv FROM sh),
           |rh AS (SELECT shard, hv >> 50 AS bucket,
           |         CASE WHEN (hv & 4294967295) = 0 THEN 33 ELSE 33 - length(bin(hv & 4294967295)) END AS rho FROM h),
           |regs_sh AS (SELECT shard, bucket, max(rho) AS m_j FROM rh GROUP BY 1, 2),
           |regs_m AS (SELECT bucket, max(m_j) AS m_j FROM regs_sh GROUP BY 1),
           |regs_w AS (SELECT bucket, max(rho) AS m_j FROM rh GROUP BY 1),
           |hll_cmp AS (SELECT CAST(count(*) AS BIGINT) AS n_entries,
           |              CAST(sum(CASE WHEN m.m_j IS DISTINCT FROM w.m_j THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           |              CAST(sum(coalesce(m.m_j, 0)) AS BIGINT) AS checksum
           |            FROM regs_m m FULL OUTER JOIN regs_w w USING (bucket)),
           |allb AS (SELECT b.b AS bucket, coalesce(m_j, 0) AS m_j
           |         FROM (SELECT unnest(range(64)) AS b) b LEFT JOIN regs_m ON regs_m.bucket = b.b),
           |hll_est AS (SELECT CAST(sum(CAST(1 AS BIGINT) << CAST(33 - m_j AS INT)) AS BIGINT) AS s FROM allb)
           |SELECT 'cms' AS kind, n_entries, n_mismatch, checksum, CAST(NULL AS DOUBLE) AS est FROM cms_cmp
           |UNION ALL
           |SELECT 'hll' AS kind, n_entries, n_mismatch, checksum,
           |       ${Sketches.hllAlphaScaled(6)} / CAST(s AS DOUBLE) AS est FROM hll_cmp, hll_est""".stripMargin
      ),
      (spark, sf) => {
        val shingles = table(spark, sf, "documents")
          .select(explode(Fingerprints.shingles(col("text"), 3)).as("t"))
        // shard hash decorrelated from the sketch hashes by the 'sh:' salt
        val sharded = shingles.withColumn(
          "shard",
          pmod(Sketches.hash56(concat(lit("sh:"), col("t"))), lit(2L))
        )
        def cmp(
            merged: org.apache.spark.sql.DataFrame,
            whole: org.apache.spark.sql.DataFrame,
            keys: Seq[String],
            v: String
        ): org.apache.spark.sql.DataFrame =
          merged
            .withColumnRenamed(v, "__m")
            .join(whole.withColumnRenamed(v, "__w"), keys, "full_outer")
            .agg(
              count(lit(1)).as("n_entries"),
              sum(when(col("__m") <=> col("__w"), 0L).otherwise(1L)).as("n_mismatch"),
              sum(coalesce(col("__m"), lit(0L))).as("checksum")
            )
        val cmsRow = cmp(
          Sketches.cmsMerge(Sketches.cmsSketchBy(sharded, "t", "shard", depth = 3, width = 512).drop("shard")),
          Sketches.cmsSketch(shingles, "t", depth = 3, width = 512),
          Seq("row_j", "col_j"),
          "cnt"
        ).select(lit("cms").as("kind"), col("n_entries"), col("n_mismatch"), col("checksum"), lit(null).cast("double").as("est"))
        val mergedRegs =
          Sketches.hllMerge(Sketches.hllRegistersBy(sharded, "t", "shard", p = 6).drop("shard"))
        val hllRow = cmp(
          mergedRegs,
          Sketches.hllRegisters(shingles, "t", p = 6),
          Seq("bucket"),
          "m_j"
        ).crossJoin(Sketches.hllEstimateFromRegisters(mergedRegs, p = 6)) // 1x1 scalar
          .select(lit("hll").as("kind"), col("n_entries"), col("n_mismatch"), col("checksum"), col("n_distinct_est").as("est"))
        cmsRow.unionAll(hllRow)
      }
    ),
    // Bloom-prefiltered decontamination: per-doc shared-shingle counts
    // computed THROUGH the m-bit Bloom gate (two md5 hash positions per
    // shingle, broadcast semi-joins) with exact verification behind it —
    // the oracle replays the bloom path and must land on the exact
    // ledger's numbers (false positives die in the verify join).
    QueryDef(
      "llm_bloom_decontaminate",
      Some(
        s"""$decontamCte,
           |bits AS (SELECT DISTINCT CAST((CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || sh), 1, 7)) AS UBIGINT) << 28)
           |           + CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || sh), 8, 7)) AS UBIGINT) AS BIGINT) % 65536 AS pos
           |         FROM held, (SELECT unnest(range(2)) AS j) j),
           |cand AS (SELECT s.doc_id, s.sh FROM s WHERE s.split = 'train'
           |         AND CAST((CAST(concat('0x', substr(md5('0:' || sh), 1, 7)) AS UBIGINT) << 28)
           |               + CAST(concat('0x', substr(md5('0:' || sh), 8, 7)) AS UBIGINT) AS BIGINT) % 65536 IN (SELECT pos FROM bits)
           |         AND CAST((CAST(concat('0x', substr(md5('1:' || sh), 1, 7)) AS UBIGINT) << 28)
           |               + CAST(concat('0x', substr(md5('1:' || sh), 8, 7)) AS UBIGINT) AS BIGINT) % 65536 IN (SELECT pos FROM bits))
           |SELECT cand.doc_id, CAST(count(*) AS BIGINT) AS n_shared
           |FROM cand JOIN held USING (sh) GROUP BY 1""".stripMargin
      ),
      (spark, sf) => {
        val (train, valid) = trainValidSplit(spark, sf)
        Dedup.bloomContaminationLedger(train, valid, "doc_id", "text", k = 5, mBits = 65536, kHashes = 2)
      }
    ),
    // The Bloom prefilter's own ledger: bit-table size, corpus shingle
    // instances in vs out of the gate, true overlaps, flagged docs — the
    // candidate/true gap IS the false-positive count, so the row proves
    // the filter is live (FPs > 0 at 65536 bits on this corpus) AND sound
    // (docs flagged through the gate = the exact ledger's docs).
    QueryDef(
      "llm_bloom_ledger",
      Some(
        s"""$decontamCte,
           |bits AS (SELECT DISTINCT CAST((CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || sh), 1, 7)) AS UBIGINT) << 28)
           |           + CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR) || ':' || sh), 8, 7)) AS UBIGINT) AS BIGINT) % 65536 AS pos
           |         FROM held, (SELECT unnest(range(2)) AS j) j),
           |tr AS (SELECT doc_id, sh FROM s WHERE split = 'train'),
           |cand AS (SELECT tr.doc_id, tr.sh FROM tr
           |         WHERE CAST((CAST(concat('0x', substr(md5('0:' || sh), 1, 7)) AS UBIGINT) << 28)
           |               + CAST(concat('0x', substr(md5('0:' || sh), 8, 7)) AS UBIGINT) AS BIGINT) % 65536 IN (SELECT pos FROM bits)
           |         AND CAST((CAST(concat('0x', substr(md5('1:' || sh), 1, 7)) AS UBIGINT) << 28)
           |               + CAST(concat('0x', substr(md5('1:' || sh), 8, 7)) AS UBIGINT) AS BIGINT) % 65536 IN (SELECT pos FROM bits))
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           |       (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_corpus_instances,
           |       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidate_instances,
           |       (SELECT CAST(count(*) AS BIGINT) FROM cand JOIN held USING (sh)) AS n_true_instances,
           |       (SELECT CAST(count(DISTINCT cand.doc_id) AS BIGINT) FROM cand JOIN held USING (sh)) AS n_docs_flagged""".stripMargin
      ),
      (spark, sf) => {
        val (train, valid) = trainValidSplit(spark, sf)
        val corpusSh = train.select(col("doc_id").as("__id"), explode(Fingerprints.shingles(col("text"), 5)).as("__s"))
        val heldSh = valid.select(explode(Fingerprints.shingles(col("text"), 5)).as("__s")).distinct()
        val bits = Dedup.bloomBits(heldSh, "__s", mBits = 65536, kHashes = 2)
        val cand = (0 until 2).foldLeft(corpusSh) { (d, j) =>
          d.join(
            broadcast(bits),
            pmod(Sketches.hash56(concat(lit(s"$j:"), col("__s"))), lit(65536L)) === col("pos"),
            "left_semi"
          )
        }
        val truePairs = cand.join(heldSh, "__s")
        // 1-row scalar cross joins only (the llm_distinct_sketch pattern)
        bits
          .agg(count(lit(1)).as("n_bits_set"))
          .crossJoin(corpusSh.agg(count(lit(1)).as("n_corpus_instances")))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidate_instances")))
          .crossJoin(truePairs.agg(count(lit(1)).as("n_true_instances")))
          .crossJoin(truePairs.agg(countDistinct(col("__id")).as("n_docs_flagged")))
      }
    ),
    // No-split sequence packing: next-fit-decreasing whole-document bin
    // packing per md5 shard (capacity 256 tokens, 32 shards). The oracle
    // replays the per-shard fold with a FLAT BIGINT[] accumulator
    // ([bin, rem, id1, bin1, ...]) — DuckDB 1.0's list_reduce corrupts
    // struct-wrapped list accumulators across rows; the flat form is the
    // same encoding the BPE merge replay relies on.
    QueryDef(
      "llm_pack_bins",
      Some(
        """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
          |                  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 32 AS BIGINT) AS shard
          |           FROM documents),
          |g AS (SELECT shard, list(CAST([doc_id, t] AS BIGINT[]) ORDER BY -t, doc_id) AS docs FROM d GROUP BY 1),
          |f AS (SELECT shard, list_reduce(
          |    list_prepend(CAST([-1, 0] AS BIGINT[]), docs),
          |    (acc, x) -> CASE WHEN x[2] <= acc[2]
          |      THEN list_concat(list_concat([acc[1], acc[2] - x[2]], acc[3:]), [x[1], acc[1]])
          |      ELSE list_concat(list_concat([acc[1] + 1, greatest(CAST(256 AS BIGINT) - x[2], 0)], acc[3:]), [x[1], acc[1] + 1]) END
          |  ) AS st FROM g),
          |e AS (SELECT shard, unnest(list_transform(range(len(st) // 2 - 1), k -> [st[2*k+3], st[2*k+4]])) AS p FROM f)
          |SELECT p[1] AS doc_id, shard, p[2] AS bin FROM e""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
          .select(col("doc_id"), size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
        Corpus.packBinsNextFit(docs, "doc_id", "n_tokens", capacity = 256, shards = 32)
      }
    ),
    // SparkSessionExtensions surface, driver-gated: the native expressions
    // must be reachable from PLAIN SQL (function-registry injection), and
    // the SQL-invoked simhash must match DuckDB's independent recompute.
    QueryDef(
      "llm_sql_extension",
      Some(
        s"""WITH $simhash56Cte
           |SELECT doc_id, simhash FROM sh56""".stripMargin
      ),
      (spark, sf) => {
        graft.functions.GraftExtensions.register(spark)
        table(spark, sf, "documents").createOrReplaceTempView("__graft_docs")
        spark.sql("SELECT doc_id, simhash56_md5(split(text, ' ')) AS simhash FROM __graft_docs")
      }
    ),
    // CAPSTONE: the full corpus-prep pipeline composed end-to-end —
    // quality-rule filter → PII scrub → exact dedup on the scrubbed text →
    // per-language stratified downsampling → content-hash train/valid
    // split → per-(lang, split) counts. Every stage is one of the
    // registered operators; the oracle recomputes the whole chain in SQL,
    // so the green row certifies the operators COMPOSE, not just work in
    // isolation.
    QueryDef(
      "llm_corpus_pipeline",
      Some {
        val redacted = TextStats.piiPatterns.foldLeft("text") { case (inner, (pat, tag)) =>
          s"regexp_replace($inner, '$pat', '$tag', 'g')"
        }
        s"""WITH g AS (
           |  SELECT doc_id, lang, $redacted AS t2
           |  FROM documents
           |  WHERE len(string_split(text, ' ')) BETWEEN 16 AND 100000
           |    AND CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
           |    AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) <= 0.2
           |    AND 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) <= 0.6),
           |d AS (SELECT * FROM g WHERE doc_id IN (SELECT min(doc_id) FROM g GROUP BY md5(t2))),
           |f AS (SELECT * FROM d
           |      WHERE CAST(concat('0x', substr(md5(t2), 1, 8)) AS UBIGINT) % 100 <
           |        CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 50 ELSE 100 END)
           |SELECT lang,
           |  CASE WHEN CAST(concat('0x', substr(md5(concat(t2, '|split')), 1, 8)) AS UBIGINT) % 100 < 90
           |       THEN 'train' ELSE 'valid' END AS split,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(len(string_split(t2, ' '))) AS BIGINT) AS total_tokens
           |FROM f GROUP BY 1, 2""".stripMargin
      },
      (spark, sf) => {
        val kept = TextStats
          .gopherRules(table(spark, sf, "documents"))
          .filter(col("keep"))
          .select(col("doc_id"), col("lang"), TextStats.redactPii(col("text")).as("t2"))
        val deduped = Dedup.dedupExact(kept, Fingerprints.contentKeyMd5(col("t2")), col("doc_id"))
        val sampled = Corpus.stratifiedSampleByHash(
          deduped,
          "lang",
          col("t2"),
          rates = Map("en" -> 50, "de" -> 50)
        )
        sampled
          // salted: the sampling gate above buckets on md5(t2), so an
          // unsalted split hash would make every sampled en/de doc 'train'
          // (bucket<50 ⊂ bucket<90) and leave the valid split en/de-free —
          // vacuous decontamination. The salt decorrelates the two hashes.
          .withColumn(
            "split",
            Corpus.splitByContentHash(concat(col("t2"), lit("|split")), trainPercent = 90)
          )
          .groupBy("lang", "split")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(TextStats.tokens(col("t2")))).as("total_tokens")
          )
      }
    ),
    // CAPSTONE v2: the round-4 tail of the pipeline — after quality
    // filter → scrub → dedup → sample → split (the v1 chain), the train
    // half is decontaminated against the valid half (5-gram overlap >= 3)
    // and packed into 512-token training sequences; output = per-shard
    // doc/token/sequence counts. One green row certifies that
    // decontamination and packing compose with everything upstream.
    QueryDef(
      "llm_corpus_pipeline_v2",
      Some {
        val redacted = TextStats.piiPatterns.foldLeft("text") { case (inner, (pat, tag)) =>
          s"regexp_replace($inner, '$pat', '$tag', 'g')"
        }
        val gram5 = (1 to 5).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
        s"""WITH g AS (
           |  SELECT doc_id, lang, $redacted AS t2
           |  FROM documents
           |  WHERE len(string_split(text, ' ')) BETWEEN 16 AND 100000
           |    AND CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
           |    AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) <= 0.2
           |    AND 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) <= 0.6),
           |d AS (SELECT * FROM g WHERE doc_id IN (SELECT min(doc_id) FROM g GROUP BY md5(t2))),
           |f AS (SELECT * FROM d
           |      WHERE CAST(concat('0x', substr(md5(t2), 1, 8)) AS UBIGINT) % 100 <
           |        CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 50 ELSE 100 END),
           |lab AS (SELECT *, CASE WHEN CAST(concat('0x', substr(md5(concat(t2, '|split')), 1, 8)) AS UBIGINT) % 100 < 90
           |                       THEN 'train' ELSE 'valid' END AS split FROM f),
           |ts AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-4), i -> $gram5))) AS sh
           |       FROM (SELECT doc_id, string_split(t2, ' ') AS toks FROM lab WHERE split = 'train')),
           |vs AS (SELECT DISTINCT sh FROM (
           |         SELECT unnest(list_distinct(list_transform(range(len(toks)-4), i -> $gram5))) AS sh
           |         FROM (SELECT string_split(t2, ' ') AS toks FROM lab WHERE split = 'valid'))),
           |flag AS (SELECT ts.doc_id, count(*) AS n FROM ts JOIN vs USING (sh) GROUP BY 1),
           |cleand AS (SELECT doc_id, t2 FROM lab
           |          WHERE split = 'train'
           |            AND doc_id NOT IN (SELECT doc_id FROM flag WHERE n >= 3)),
           |vv AS (SELECT token, token_id FROM (
           |         SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS token_id
           |         FROM (SELECT token, count(*) AS cnt FROM (
           |                 SELECT unnest(string_split(t2, ' ')) AS token FROM cleand) GROUP BY 1))
           |       WHERE token_id < 24),
           |ov AS (SELECT x.doc_id, count(*) AS oov FROM (
           |         SELECT doc_id, unnest(string_split(t2, ' ')) AS token FROM cleand) x
           |       LEFT JOIN vv USING (token) WHERE vv.token_id IS NULL GROUP BY 1),
           |clean AS (SELECT doc_id, len(string_split(t2, ' ')) AS n FROM cleand),
           |sh AS (SELECT doc_id, n,
           |         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 8 AS BIGINT) AS shard
           |       FROM clean)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
           |       CAST((sum(n) - 1) // 512 + 1 AS BIGINT) AS n_seqs,
           |       CAST(sum(coalesce(ov.oov, 0)) AS BIGINT) AS total_oov
           |FROM sh LEFT JOIN ov USING (doc_id) GROUP BY 1""".stripMargin
      },
      (spark, sf) => {
        val kept = TextStats
          .gopherRules(table(spark, sf, "documents"))
          .filter(col("keep"))
          .select(col("doc_id"), col("lang"), TextStats.redactPii(col("text")).as("t2"))
        val deduped = Dedup.dedupExact(kept, Fingerprints.contentKeyMd5(col("t2")), col("doc_id"))
        val sampled = Corpus
          .stratifiedSampleByHash(deduped, "lang", col("t2"), rates = Map("en" -> 50, "de" -> 50))
          // salted: the sampling gate above buckets on md5(t2), so an
          // unsalted split hash would make every sampled en/de doc 'train'
          // (bucket<50 ⊂ bucket<90) and leave the valid split en/de-free —
          // vacuous decontamination. The salt decorrelates the two hashes.
          .withColumn(
            "split",
            Corpus.splitByContentHash(concat(col("t2"), lit("|split")), trainPercent = 90)
          )
        val train = sampled.filter(col("split") === "train")
        val valid = sampled.filter(col("split") === "valid")
        val clean = Dedup.decontaminate(train, valid, "doc_id", "t2", k = 5, minShared = 3)
        // tokenizer loop closed (round-8 verdict #5): the vocab is learned
        // on the decontaminated train split, capped at 24 ids, and packing
        // consumes the ENCODED id counts — with the per-shard OOV total in
        // the output so the encode stage is non-vacuous by construction
        val vocab = TextStats.buildVocab(clean, textCol = "t2").filter(col("token_id") < 24)
        val enc = TextStats
          .encodeWithVocab(clean, vocab, idCol = "doc_id", textCol = "t2")
          .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_tokens"), col("n_oov"))
          .localCheckpoint(true) // packing + the oov join both read it
        Corpus
          .packSequences(
            enc.select("doc_id", "n_tokens"),
            "doc_id",
            "n_tokens",
            budgetTokens = 512,
            shards = 8
          )
          .join(enc.select("doc_id", "n_oov"), Seq("doc_id"))
          .groupBy("shard")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            max(col("seq_id") + col("n_seqs")).as("n_seqs"),
            sum(col("n_oov")).as("total_oov")
          )
      }
    ),
    // Corpus capstone v3: v2 with the split stage upgraded to the
    // PRODUCTION leakage-safe rule — near-dup pairs over the sampled
    // survivors → connected components → the whole transitive paraphrase
    // cluster lands on one side of the train/valid boundary (v2's salted
    // content-hash split can put paraphrases of training docs into the
    // eval set; decontamination then has to catch them after the fact —
    // v3 closes the channel structurally, and decontamination remains as
    // the backstop for sub-threshold overlap). The oracle replays the
    // full chain with EXACT shingle Jaccard pairs and a recursive-CTE
    // component fixpoint. Same recall assumption as llm_split_safe
    // (banded MinHash vs exact pairs, miss ~5e-8 per true pair).
    QueryDef(
      "llm_corpus_pipeline_v3",
      Some {
        val redacted = TextStats.piiPatterns.foldLeft("text") { case (inner, (pat, tag)) =>
          s"regexp_replace($inner, '$pat', '$tag', 'g')"
        }
        val gram3 = (1 to 3).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
        val gram5 = (1 to 5).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
        s"""WITH RECURSIVE g AS (
           |  SELECT doc_id, lang, $redacted AS t2
           |  FROM documents
           |  WHERE len(string_split(text, ' ')) BETWEEN 16 AND 100000
           |    AND CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
           |    AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) <= 0.2
           |    AND 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) <= 0.6),
           |d AS (SELECT * FROM g WHERE doc_id IN (SELECT min(doc_id) FROM g GROUP BY md5(t2))),
           |f AS (SELECT * FROM d
           |      WHERE CAST(concat('0x', substr(md5(t2), 1, 8)) AS UBIGINT) % 100 <
           |        CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 50 ELSE 100 END),
           |tf AS (SELECT doc_id, string_split(t2, ' ') AS toks FROM f),
           |s3 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2), i -> $gram3))) AS sh FROM tf),
           |n3 AS (SELECT doc_id, count(*) AS n FROM s3 GROUP BY 1),
           |pp AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
           |       FROM s3 a JOIN s3 b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |pr AS (SELECT pp.a, pp.b FROM pp JOIN n3 na ON na.doc_id = pp.a JOIN n3 nb ON nb.doc_id = pp.b
           |       WHERE CAST(pp.inter AS DOUBLE)/(na.n + nb.n - pp.inter) >= 0.8),
           |sym AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
           |reach(x, y) AS (
           |  SELECT x, y FROM sym
           |  UNION
           |  SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x),
           |comp AS (SELECT x, least(x, min(y)) AS c FROM reach GROUP BY x),
           |lab AS (SELECT f.*,
           |          CASE WHEN CAST(concat('0x', substr(md5(CAST(coalesce(comp.c, f.doc_id) AS VARCHAR) || '|split'), 1, 8)) AS UBIGINT) % 100 < 90
           |               THEN 'train' ELSE 'valid' END AS split
           |        FROM f LEFT JOIN comp ON comp.x = f.doc_id),
           |ts AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-4), i -> $gram5))) AS sh
           |       FROM (SELECT doc_id, string_split(t2, ' ') AS toks FROM lab WHERE split = 'train')),
           |vs AS (SELECT DISTINCT sh FROM (
           |         SELECT unnest(list_distinct(list_transform(range(len(toks)-4), i -> $gram5))) AS sh
           |         FROM (SELECT string_split(t2, ' ') AS toks FROM lab WHERE split = 'valid'))),
           |flag AS (SELECT ts.doc_id, count(*) AS n FROM ts JOIN vs USING (sh) GROUP BY 1),
           |cleand AS (SELECT doc_id, t2 FROM lab
           |          WHERE split = 'train'
           |            AND doc_id NOT IN (SELECT doc_id FROM flag WHERE n >= 3)),
           |vv AS (SELECT token, token_id FROM (
           |         SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS token_id
           |         FROM (SELECT token, count(*) AS cnt FROM (
           |                 SELECT unnest(string_split(t2, ' ')) AS token FROM cleand) GROUP BY 1))
           |       WHERE token_id < 24),
           |ov AS (SELECT x.doc_id, count(*) AS oov FROM (
           |         SELECT doc_id, unnest(string_split(t2, ' ')) AS token FROM cleand) x
           |       LEFT JOIN vv USING (token) WHERE vv.token_id IS NULL GROUP BY 1),
           |clean AS (SELECT doc_id, len(string_split(t2, ' ')) AS n FROM cleand),
           |sh AS (SELECT doc_id, n,
           |         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 8 AS BIGINT) AS shard
           |       FROM clean)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
           |       CAST((sum(n) - 1) // 512 + 1 AS BIGINT) AS n_seqs,
           |       CAST(sum(coalesce(ov.oov, 0)) AS BIGINT) AS total_oov
           |FROM sh LEFT JOIN ov USING (doc_id) GROUP BY 1""".stripMargin
      },
      (spark, sf) => {
        val kept = TextStats
          .gopherRules(table(spark, sf, "documents"))
          .filter(col("keep"))
          .select(col("doc_id"), col("lang"), TextStats.redactPii(col("text")).as("t2"))
        val deduped = Dedup.dedupExact(kept, Fingerprints.contentKeyMd5(col("t2")), col("doc_id"))
        val sampled = Corpus
          .stratifiedSampleByHash(deduped, "lang", col("t2"), rates = Map("en" -> 50, "de" -> 50))
          .localCheckpoint(true) // pair discovery + split + downstream all read it
        // the production split rule: transitive near-dup clusters (MinHash
        // pairs at tau>=0.8 over the sampled survivors -> CC) ride one
        // side of the boundary as a unit
        val pairs = Dedup.minhashNearDupPairs(sampled, "doc_id", "t2", 3, 128, 32, 0.8)
        val split = Corpus.splitByComponent(sampled, "doc_id", pairs, trainPercent = 90)
        val train = split.filter(col("split") === "train")
        val valid = split.filter(col("split") === "valid")
        val clean = Dedup.decontaminate(train, valid, "doc_id", "t2", k = 5, minShared = 3)
        val vocab = TextStats.buildVocab(clean, textCol = "t2").filter(col("token_id") < 24)
        val enc = TextStats
          .encodeWithVocab(clean, vocab, idCol = "doc_id", textCol = "t2")
          .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_tokens"), col("n_oov"))
          .localCheckpoint(true)
        Corpus
          .packSequences(
            enc.select("doc_id", "n_tokens"),
            "doc_id",
            "n_tokens",
            budgetTokens = 512,
            shards = 8
          )
          .join(enc.select("doc_id", "n_oov"), Seq("doc_id"))
          .groupBy("shard")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            max(col("seq_id") + col("n_seqs")).as("n_seqs"),
            sum(col("n_oov")).as("total_oov")
          )
      }
    ),
    // Ingest-pipeline capstone (v3): the batch-arrival path the corpus
    // capstones (v1/v2) don't cover — a 10% incoming batch plus six
    // deterministic re-ingested corpus copies (ids +100000; the corpus has
    // no natural exact dups, so re-ingests make the dedup stage
    // non-vacuous) flows through quality gate → exact dedup vs the stored
    // corpus → MinHash near-dup drop vs the corpus → deterministic shuffle
    // order. Stage survivor counts at sf0.01: 56 → 36 → 33 → 30. The
    // oracle replays the whole chain; its near-dup stage is the EXACT
    // cross-pair Jaccard, which the banded Spark plan must equal (recall
    // at tau=0.8 is 1-5e-8; pair equality itself is gated by
    // llm_dedup_minhash_xtable).
    QueryDef(
      "llm_ingest_pipeline",
      Some(
        """WITH batch AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL
          |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 97 = 1 AND doc_id % 10 <> 0),
          |g AS (SELECT doc_id, text, length(text) AS nc, len(string_split(text, ' ')) AS nt,
          |      len(list_distinct(string_split(text, ' '))) AS nd,
          |      length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS nsym FROM batch),
          |keep AS (SELECT doc_id, text FROM g
          |  WHERE (nt BETWEEN 16 AND 100000) AND (CAST(nc - nt + 1 AS DOUBLE)/nt BETWEEN 2.0 AND 12.0)
          |    AND (CAST(nsym AS DOUBLE)/nc <= 0.2) AND (1.0 - CAST(nd AS DOUBLE)/nt <= 0.6)),
          |dedup AS (SELECT k.doc_id, k.text FROM keep k
          |  WHERE md5(k.text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)
          |  QUALIFY row_number() OVER (PARTITION BY md5(k.text) ORDER BY k.doc_id) = 1),
          |tb AS (SELECT doc_id, string_split(text, ' ') AS toks FROM dedup),
          |sb AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2),
          |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh FROM tb),
          |tc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 10 <> 0),
          |sc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2),
          |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh FROM tc),
          |nb AS (SELECT doc_id, count(*) AS n FROM sb GROUP BY 1),
          |ncn AS (SELECT doc_id, count(*) AS n FROM sc GROUP BY 1),
          |p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter FROM sb a JOIN sc b ON a.sh = b.sh GROUP BY 1, 2),
          |flag AS (SELECT DISTINCT p.a FROM p JOIN nb ON nb.doc_id = p.a JOIN ncn ON ncn.doc_id = p.b
          |         WHERE CAST(p.inter AS DOUBLE)/(nb.n + ncn.n - p.inter) >= 0.8),
          |surv AS (SELECT doc_id FROM dedup WHERE doc_id NOT IN (SELECT a FROM flag)),
          |h AS (SELECT doc_id,
          |    CAST(concat('0x', substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 15)) AS UBIGINT) AS hv
          |  FROM surv)
          |SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
          |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
          |FROM h""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val batch = docs
          .filter(col("doc_id") % 10 === 0)
          .select("doc_id", "text")
          .unionByName(
            docs
              .filter(col("doc_id") % 97 === 1 && col("doc_id") % 10 =!= 0)
              .select(copyId(col("doc_id")).as("doc_id"), col("text"))
          )
        val kept = TextStats.gopherRules(batch).filter(col("keep")).select("doc_id", "text")
        val fresh = Dedup.dedupIncremental(
          kept,
          corpus.select(Fingerprints.contentKeyMd5(col("text")).as("ck")),
          "ck",
          Fingerprints.contentKeyMd5(col("text")),
          col("doc_id")
        )
        val flagged = Dedup
          .minhashNearDupAgainst(fresh, corpus, "doc_id", "text", k = 3, numHashes = 128, bands = 32, tau = 0.8)
          .select(col("a").as("doc_id"))
          .distinct()
        val surv = fresh.join(flagged, Seq("doc_id"), "left_anti")
        Corpus
          .shuffleOrder(surv.select("doc_id"), "doc_id", seed = 7L, shards = 8)
          .select("doc_id", "shard", "pos")
      }
    ),
    // Ingest-pipeline capstone v4: the near-dup stage upgraded from pair
    // lists to the PRODUCTION rule — keep one doc per TRANSITIVE cluster
    // (round-8 verdict #8). The batch carries near-dup chains (original →
    // "intro segment " variant → double-prefix variant: adjacent links
    // clear tau=0.8 while the far pair can fall below it on short docs),
    // so connectedComponents' transitivity is load-bearing, not cosmetic:
    // quality gate → exact dedup vs corpus → within-batch MinHash pairs →
    // CC → min-id cluster representative → corpus near-dup drop → shuffle
    // order. The oracle replays the WHOLE chain, its CC as an independent
    // recursive-CTE fixpoint and its near-dup stages as exact Jaccard.
    QueryDef(
      "llm_ingest_pipeline_v2",
      Some(
        """WITH RECURSIVE batch AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL
          |  SELECT doc_id + 100000 AS doc_id, 'intro segment ' || text AS text FROM documents WHERE doc_id % 30 = 0
          |  UNION ALL
          |  SELECT doc_id + 200000 AS doc_id, 'intro segment intro segment ' || text AS text FROM documents WHERE doc_id % 30 = 0),
          |g AS (SELECT doc_id, text, length(text) AS nc, len(string_split(text, ' ')) AS nt,
          |      len(list_distinct(string_split(text, ' '))) AS nd,
          |      length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS nsym FROM batch),
          |keep AS (SELECT doc_id, text FROM g
          |  WHERE (nt BETWEEN 16 AND 100000) AND (CAST(nc - nt + 1 AS DOUBLE)/nt BETWEEN 2.0 AND 12.0)
          |    AND (CAST(nsym AS DOUBLE)/nc <= 0.2) AND (1.0 - CAST(nd AS DOUBLE)/nt <= 0.6)),
          |dedup AS (SELECT k.doc_id, k.text FROM keep k
          |  WHERE md5(k.text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)
          |  QUALIFY row_number() OVER (PARTITION BY md5(k.text) ORDER BY k.doc_id) = 1),
          |tb AS (SELECT doc_id, string_split(text, ' ') AS toks FROM dedup),
          |sb AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2),
          |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh FROM tb),
          |nb AS (SELECT doc_id, count(*) AS n FROM sb GROUP BY 1),
          |pp AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
          |       FROM sb a JOIN sb b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |pr AS (SELECT pp.a, pp.b FROM pp JOIN nb na ON na.doc_id = pp.a JOIN nb nbb ON nbb.doc_id = pp.b
          |       WHERE CAST(pp.inter AS DOUBLE)/(na.n + nbb.n - pp.inter) >= 0.8),
          |sym AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
          |reach(x, y) AS (
          |  SELECT x, y FROM sym
          |  UNION
          |  SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x),
          |comp AS (SELECT x, least(x, min(y)) AS c FROM reach GROUP BY x),
          |reps AS (SELECT d.doc_id, d.text FROM dedup d LEFT JOIN comp ON comp.x = d.doc_id
          |         WHERE coalesce(comp.c, d.doc_id) = d.doc_id),
          |tr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM reps),
          |sr AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2),
          |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh FROM tr),
          |nr AS (SELECT doc_id, count(*) AS n FROM sr GROUP BY 1),
          |tc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 10 <> 0),
          |sc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks)-2),
          |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh FROM tc),
          |ncn AS (SELECT doc_id, count(*) AS n FROM sc GROUP BY 1),
          |p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter FROM sr a JOIN sc b ON a.sh = b.sh GROUP BY 1, 2),
          |flag AS (SELECT DISTINCT p.a FROM p JOIN nr ON nr.doc_id = p.a JOIN ncn ON ncn.doc_id = p.b
          |         WHERE CAST(p.inter AS DOUBLE)/(nr.n + ncn.n - p.inter) >= 0.8),
          |surv AS (SELECT doc_id FROM reps WHERE doc_id NOT IN (SELECT a FROM flag)),
          |h AS (SELECT doc_id,
          |    CAST(concat('0x', substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 15)) AS UBIGINT) AS hv
          |  FROM surv)
          |SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
          |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
          |FROM h""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val chainBase = docs.filter(col("doc_id") % 30 === 0)
        val batch = docs
          .filter(col("doc_id") % 10 === 0)
          .select("doc_id", "text")
          .unionByName(
            chainBase.select(copyId(col("doc_id")).as("doc_id"), concat(lit("intro segment "), col("text")).as("text"))
          )
          .unionByName(
            chainBase.select(
              copyId(col("doc_id"), gen = 2).as("doc_id"),
              concat(lit("intro segment intro segment "), col("text")).as("text")
            )
          )
        val kept = TextStats.gopherRules(batch).filter(col("keep")).select("doc_id", "text")
        val fresh = Dedup
          .dedupIncremental(
            kept,
            corpus.select(Fingerprints.contentKeyMd5(col("text")).as("ck")),
            "ck",
            Fingerprints.contentKeyMd5(col("text")),
            col("doc_id")
          )
          .localCheckpoint(true) // read by the pair build, CC seed, and rep join
        val pairs = Dedup.minhashNearDupPairs(fresh, "doc_id", "text", k = 3, numHashes = 128, bands = 32, tau = 0.8)
        val reps = Dedup
          .connectedComponents(fresh, "doc_id", pairs)
          .filter(col("doc_id") === col("component"))
          .select("doc_id")
          .join(fresh, Seq("doc_id"))
        val flagged = Dedup
          .minhashNearDupAgainst(reps, corpus, "doc_id", "text", k = 3, numHashes = 128, bands = 32, tau = 0.8)
          .select(col("a").as("doc_id"))
          .distinct()
        val surv = reps.join(flagged, Seq("doc_id"), "left_anti")
        Corpus
          .shuffleOrder(surv.select("doc_id"), "doc_id", seed = 7L, shards = 8)
          .select("doc_id", "shard", "pos")
      }
    ),
    // Overlapping token-window chunking (chunkSize=32, overlap=8).
    QueryDef(
      "llm_chunking",
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
          |  array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk
          |FROM t, unnest(range((len(toks) + 23) // 24)) AS u(i)""".stripMargin
      ),
      (spark, sf) =>
        Corpus
          .chunkTokens(table(spark, sf, "documents"), "text", chunkSize = 32, overlap = 8)
          .select("doc_id", "chunk_id", "chunk")
    ),
    // Normalized-content dedup: survivors after deduping on the
    // case/punctuation-insensitive canonical form — catches the near-dups
    // byte-exact hashing misses. DuckDB regexes need the 'g' flag to
    // replace all occurrences (Java replaces all by default).
    QueryDef(
      "llm_dedup_normalized",
      Some(
        """WITH n AS (SELECT doc_id,
          |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS ck
          |FROM documents),
          |r AS (SELECT doc_id, row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn FROM n)
          |SELECT doc_id FROM r WHERE rn = 1""".stripMargin
      ),
      (spark, sf) =>
        Dedup
          .dedupExact(
            table(spark, sf, "documents"),
            Fingerprints.contentKeyMd5(TextStats.normalizeText(col("text"))),
            col("doc_id")
          )
          .select("doc_id")
    ),
    // Temperature-scaled mixture weights at α = 1/2 (sqrt is the ONE
    // correctly-rounded IEEE power, so the weights hash-gate cross-engine);
    // the Σ√c normalizer is an ORDER-FIXED fold over the source table
    // (sources ascending) on both sides — a plain SUM of doubles would be
    // aggregation-order-dependent and ungateable.
    QueryDef(
      "llm_temp_mixture",
      Some(
        """WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
          |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
          |      FROM t GROUP BY 1),
          |d AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, max(n_tokens) AS maxtok,
          |        list_reduce(list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source), (a, b) -> a + b) AS denom
          |      FROM g)
          |SELECT source, n_docs, n_tokens,
          |  CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS nat_share,
          |  sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(maxtok AS DOUBLE)) AS w_rel_max,
          |  sqrt(CAST(n_tokens AS DOUBLE)) / denom AS temp_weight
          |FROM g, d""".stripMargin
      ),
      (spark, sf) => Corpus.temperatureMixture(table(spark, sf, "documents"), "source", "text")
    ),
    // UniMax waterfilling (Chung et al. 2023): budget = 98% of total
    // capacity at 2 epochs max — pinned as a CAPACITY FRACTION so the same
    // query mixes saturated and unsaturated sources at BOTH scale factors
    // (an absolute budget flips regime with the data). The saturation test
    // is pure integer; only θ and epochs are (single-division) doubles.
    QueryDef(
      "llm_unimax",
      Some(
        """WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
          |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
          |c AS (SELECT source, n_tokens, n_tokens * 2 AS cap_tokens FROM g),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_src, CAST(sum(cap_tokens) AS BIGINT) AS total_cap FROM c),
          |r AS (SELECT c.*, tot.n_src, (tot.total_cap * 980) // 1000 AS b,
          |        CAST(row_number() OVER w AS BIGINT) AS i,
          |        COALESCE(CAST(sum(cap_tokens) OVER (ORDER BY cap_tokens, source
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prefix
          |      FROM c, tot WINDOW w AS (ORDER BY cap_tokens, source)),
          |s AS (SELECT *, CASE WHEN cap_tokens * (n_src - i + 1) <= b - prefix THEN 1 ELSE 0 END AS cond FROM r),
          |s2 AS (SELECT *, min(cond) OVER (ORDER BY cap_tokens, source
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS saturated FROM s),
          |st AS (SELECT CAST(sum(CASE WHEN saturated THEN cap_tokens ELSE 0 END) AS BIGINT) AS sat_cap,
          |         CAST(sum(CASE WHEN saturated THEN 1 ELSE 0 END) AS BIGINT) AS k FROM s2),
          |a AS (SELECT s2.*, st.sat_cap, st.k,
          |        CASE WHEN saturated THEN CAST(cap_tokens AS DOUBLE)
          |             ELSE CAST(b - sat_cap AS DOUBLE) / CAST(n_src - k AS DOUBLE) END AS alloc_tokens
          |      FROM s2, st)
          |SELECT source, n_tokens, cap_tokens, saturated, alloc_tokens,
          |  alloc_tokens / CAST(n_tokens AS DOUBLE) AS epochs
          |FROM a""".stripMargin
      ),
      (spark, sf) =>
        Corpus.uniMaxAllocationPermille(
          table(spark, sf, "documents"),
          "source",
          "text",
          budgetPermille = 980,
          maxEpochs = 2
        )
    ),
    // Training-mixture ledger: per-(source, lang) doc/token counts and the
    // token-proportional corpus share that drives mixture rates.
    QueryDef(
      "llm_source_mix",
      Some(
        """WITH t AS (SELECT source, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
          |g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
          |      FROM t GROUP BY 1, 2)
          |SELECT source, lang, n_docs, n_tokens,
          |  CAST(n_tokens AS DOUBLE) / (SELECT CAST(sum(n) AS BIGINT) FROM t) AS token_share
          |FROM g""".stripMargin
      ),
      (spark, sf) => Corpus.sourceMixture(table(spark, sf, "documents"), "source", "lang", "text")
    ),
    // Proportional source interleaving (stride scheduling): src0 at
    // weight 5, src1 at weight 3, the rest at 1 — the full per-shard
    // merge order is replayed by DuckDB (one IEEE stride division,
    // (source, id) tie-breaks).
    QueryDef(
      "llm_interleave",
      Some(
        """WITH h AS (SELECT doc_id, source,
          |    CAST(concat('0x', substr(md5(concat('11:', CAST(doc_id AS VARCHAR))), 1, 15)) AS UBIGINT) AS hv
          |  FROM documents),
          |b AS (SELECT doc_id, source, hv, CAST(hv % 8 AS BIGINT) AS shard,
          |    CASE WHEN source = 'src0' THEN 5 WHEN source = 'src1' THEN 3 ELSE 1 END AS w FROM h),
          |p AS (SELECT doc_id, source, shard, w, hv,
          |    row_number() OVER (PARTITION BY shard, source ORDER BY hv, doc_id) AS ps FROM b)
          |SELECT doc_id, source, shard,
          |  CAST(row_number() OVER (PARTITION BY shard
          |    ORDER BY CAST(ps AS DOUBLE)/w, source, doc_id) - 1 AS BIGINT) AS pos
          |FROM p""".stripMargin
      ),
      (spark, sf) =>
        Corpus
          .interleaveBySource(
            table(spark, sf, "documents"),
            "doc_id",
            "source",
            weights = Map("src0" -> 5, "src1" -> 3),
            seed = 11L,
            shards = 8
          )
          .select("doc_id", "source", "shard", "pos")
    ),
    // Incremental ingest dedup: docs with id >= 250 arrive as the new
    // batch; the already-ingested half contributes only its content-key
    // index. Survivors = batch docs whose content is new to the corpus AND
    // first within the batch.
    QueryDef(
      "llm_dedup_incremental",
      Some(
        """WITH old AS (SELECT DISTINCT md5(text) AS ck FROM documents WHERE doc_id < 250),
          |new_ AS (SELECT doc_id, md5(text) AS ck FROM documents WHERE doc_id >= 250),
          |fresh AS (SELECT doc_id, ck FROM new_ WHERE ck NOT IN (SELECT ck FROM old)),
          |r AS (SELECT doc_id, row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn FROM fresh)
          |SELECT doc_id FROM r WHERE rn = 1""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val index = docs
          .filter(col("doc_id") < 250)
          .select(Fingerprints.contentKeyMd5(col("text")).as("ck"))
        Dedup
          .dedupIncremental(
            docs.filter(col("doc_id") >= 250),
            index,
            "ck",
            Fingerprints.contentKeyMd5(col("text")),
            col("doc_id")
          )
          .select("doc_id")
      }
    ),
    // Duplicate n-gram repetition ratios (Gopher-style looping-text
    // signal): per-row exact-int-into-IEEE-division, portable.
    QueryDef(
      "llm_repetition",
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          |SELECT doc_id,
          |  CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_2grams,
          |  CASE WHEN len(toks) < 2 THEN 0.0
          |       ELSE 1.0 - CAST(len(list_distinct(list_transform(range(len(toks)-1),
          |              i -> toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE) / (len(toks) - 1) END AS dup_2gram_ratio,
          |  CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_3grams,
          |  CASE WHEN len(toks) < 3 THEN 0.0
          |       ELSE 1.0 - CAST(len(list_distinct(list_transform(range(len(toks)-2),
          |              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS DOUBLE) / (len(toks) - 2) END AS dup_3gram_ratio
          |FROM t""".stripMargin
      ),
      (spark, sf) =>
        TextStats
          .repetitionRatios(table(spark, sf, "documents"))
          .select("doc_id", "n_2grams", "dup_2gram_ratio", "n_3grams", "dup_3gram_ratio")
    ),
    // Frequency-ranked corpus vocabulary (tokenizer id assignment): the
    // global rank runs over the distinct-token set only, never the corpus.
    QueryDef(
      "llm_vocab",
      Some(
        """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
          |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1)
          |SELECT token, cnt,
          |  CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS token_id
          |FROM c""".stripMargin
      ),
      (spark, sf) => TextStats.buildVocab(table(spark, sf, "documents"))
    ),
    // The encode half of the tokenizer loop (round-8 verdict: buildVocab's
    // ids had no consumer): encode with the learned vocab CAPPED at 24 ids
    // — the fixed-vocab-size setting every real tokenizer trains under —
    // so the frequency-ranked tail (the testdata pool has 31 distinct
    // tokens at every SF) genuinely exercises the OOV policy (id -1) on
    // real rows. The oracle replays vocab build + cap + positional token
    // lookup + ordered id reassembly exactly.
    QueryDef(
      "llm_encode_ids",
      Some(
        """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
          |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
          |v0 AS (SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS token_id FROM c),
          |v AS (SELECT token, token_id FROM v0 WHERE token_id < 24),
          |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |p0 AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks FROM t),
          |p AS (SELECT doc_id, pos, toks[pos+1] AS token FROM p0),
          |j AS (SELECT doc_id, pos, coalesce(v.token_id, -1) AS tid,
          |             CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
          |      FROM p LEFT JOIN v USING (token))
          |SELECT doc_id, array_to_string(list(tid ORDER BY pos), ' ') AS token_ids_s,
          |       CAST(count(*) AS BIGINT) AS n_tokens,
          |       CAST(sum(oov) AS BIGINT) AS n_oov
          |FROM j GROUP BY doc_id""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        // the comparator sorts columns, which list cells break — gate the
        // id array through its exact space-joined rendering (lossless for
        // integer ids)
        TextStats
          .encodeWithVocab(docs, TextStats.buildVocab(docs).filter(col("token_id") < 24))
          .select(
            col("doc_id"),
            concat_ws(" ", col("token_ids")).as("token_ids_s"),
            col("n_tokens"),
            col("n_oov")
          )
      }
    ),
    // Log-free tf-idf top-3 terms per doc: score = tf * N / df in per-row
    // double arithmetic (exact ints into one IEEE division — portable,
    // unlike ln()'s libm-specific last ulp). Deterministic tie-break.
    QueryDef(
      "llm_tfidf",
      Some(
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
          |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          |s AS (SELECT doc_id, token, tf, df,
          |        CAST(tf AS DOUBLE) * (SELECT count(*) FROM documents) / df AS score
          |      FROM tf JOIN dfreq USING (token)),
          |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk FROM s)
          |SELECT doc_id, token, tf, df, score, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 3""".stripMargin
      ),
      (spark, sf) => TextStats.tfidfTopTerms(table(spark, sf, "documents"), "doc_id", "text", k = 3)
    ),
    // Deterministic sequence packing: concat-and-chunk positions for every
    // doc in a sharded stream of 512-token training sequences. Pure window
    // cumsum per shard — the oracle replays the identical integer
    // arithmetic.
    QueryDef(
      "llm_seq_pack",
      Some(
        """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 8 AS BIGINT) AS shard
          |       FROM documents),
          |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
          |SELECT doc_id, shard, n_tokens,
          |  CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
          |  CAST((cum - n_tokens) % 512 AS BIGINT) AS seq_offset,
          |  CAST(greatest(cum - 1, 0) // 512 - (cum - n_tokens) // 512 + 1 AS BIGINT) AS n_seqs
          |FROM c""".stripMargin
      ),
      (spark, sf) =>
        Corpus
          .packSequences(
            table(spark, sf, "documents")
              .select(col("doc_id"), size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")),
            "doc_id",
            "n_tokens",
            budgetTokens = 512,
            shards = 8
          )
          .select("doc_id", "shard", "n_tokens", "seq_id", "seq_offset", "n_seqs")
    ),
    // Benchmark decontamination, both surfaces: the per-doc ledger of
    // 5-gram overlap with the held-out split, and the surviving corpus
    // after dropping docs with >= 3 shared shingles. The held-out set is
    // the content-hash "valid" split, so the whole check is self-contained
    // and the oracle recomputes split + shingles + overlap from scratch.
    QueryDef(
      "llm_contamination",
      Some(
        s"""$decontamCte
           |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
           |FROM s JOIN held USING (sh) WHERE s.split = 'train' GROUP BY 1""".stripMargin
      ),
      (spark, sf) => {
        val (train, valid) = trainValidSplit(spark, sf)
        Dedup.contaminationLedger(train, valid, "doc_id", "text", k = 5)
      }
    ),
    QueryDef(
      "llm_decontaminate",
      Some(
        s"""$decontamCte,
           |flag AS (SELECT s.doc_id, count(*) AS n FROM s JOIN held USING (sh)
           |         WHERE s.split = 'train' GROUP BY 1)
           |SELECT doc_id FROM lab WHERE split = 'train'
           |  AND doc_id NOT IN (SELECT doc_id FROM flag WHERE n >= 3)""".stripMargin
      ),
      (spark, sf) => {
        val (train, valid) = trainValidSplit(spark, sf)
        Dedup.decontaminate(train, valid, "doc_id", "text", k = 5, minShared = 3).select("doc_id")
      }
    ),
    // Deterministic content-hash train/validation split.
    QueryDef(
      "llm_train_split",
      Some(
        """SELECT doc_id,
          |  CASE WHEN CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) % 100 < 90
          |       THEN 'train' ELSE 'valid' END AS split
          |FROM documents""".stripMargin
      ),
      (spark, sf) =>
        table(spark, sf, "documents")
          .select(col("doc_id"), Corpus.splitByContentHash(col("text"), trainPercent = 90).as("split"))
    ),
    // C4-style line-level page cleaning. The corpus is single-line, so the
    // query first synthesizes deterministic line structure IN BOTH ENGINES
    // (the clustered-kmeans-fixture pattern): every 5 words become a
    // '.'-terminated line, lines containing 'slow' lose their terminal dot
    // (so the punctuation rule fires), the word-remainder tail line stays
    // unpunctuated (so the word-count rule fires), and every 17th doc gets
    // a '{javascript}' boilerplate line appended (so the page flags fire).
    // The oracle recomputes the fixture and the cleaning with DuckDB's RE2
    // — the shared pattern is lookaround-free on purpose — and the cleaned
    // text must match byte-for-byte.
    QueryDef(
      "llm_c4_clean",
      Some(
        """WITH lined AS (SELECT doc_id,
          |    regexp_replace(
          |      regexp_replace(text, '((?:\S+ ){4}\S+) ', '\1.' || chr(10), 'g'),
          |      '(?m)^(.*slow.*)\.$', '\1', 'g') AS t
          |  FROM documents),
          |fx AS (SELECT doc_id,
          |    CASE WHEN doc_id % 17 = 0 THEN t || chr(10) || 'var x = {javascript};'
          |         ELSE t END AS text
          |  FROM lined),
          |norm AS (SELECT doc_id, regexp_replace(text, '\r\n?', chr(10), 'g') AS text FROM fx),
          |c AS (SELECT doc_id, text,
          |    regexp_extract_all(text, '(?m)^(?:\S+ ){4,}\S+[.!?"]$') AS kept
          |  FROM norm)
          |SELECT doc_id,
          |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept,
          |  contains(lower(text), 'javascript') AS has_javascript,
          |  contains(text, '{') AS has_brace,
          |  contains(lower(text), 'lorem ipsum') AS has_lorem,
          |  len(kept) >= 3 AND NOT contains(lower(text), 'javascript')
          |    AND NOT contains(text, '{') AND NOT contains(lower(text), 'lorem ipsum') AS keep,
          |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text
          |FROM c""".stripMargin
      ),
      (spark, sf) => {
        val lined = regexp_replace(
          regexp_replace(col("text"), "((?:\\S+ ){4}\\S+) ", "$1.\n"),
          "(?m)^(.*slow.*)\\.$",
          "$1"
        )
        val fixture = table(spark, sf, "documents").select(
          col("doc_id"),
          when(col("doc_id") % 17 === 0, concat(lined, lit("\nvar x = {javascript};")))
            .otherwise(lined)
            .as("text")
        )
        TextStats
          .c4CleanLines(fixture)
          .select(
            "doc_id",
            "n_lines",
            "n_kept",
            "has_javascript",
            "has_brace",
            "has_lorem",
            "keep",
            "clean_text"
          )
      }
    ),
    // Deterministic corpus shuffle: shard + in-shard rank from a seeded
    // md5 — one fixed pseudorandom permutation per seed, replayed by the
    // oracle from scratch (no RNG, no global sort).
    QueryDef(
      "llm_shuffle_order",
      Some(
        """WITH h AS (SELECT doc_id,
          |    CAST(concat('0x', substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 15)) AS UBIGINT) AS hv
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(hv % 8 AS BIGINT) AS shard,
          |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
          |FROM h""".stripMargin
      ),
      (spark, sf) =>
        Corpus
          .shuffleOrder(table(spark, sf, "documents").select("doc_id"), "doc_id", seed = 7L, shards = 8)
          .select("doc_id", "shard", "pos")
    ),
    // Multimodal plumbing: binary payload + typed metadata through the
    // contract, stub feature extraction (see Multimodal scaladoc).
    QueryDef(
      "llm_multimodal",
      Some(
        """SELECT doc_id,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
          |  'text/plain' AS mime,
          |  md5(text) AS content_md5,
          |  CAST(octet_length(encode(text)) % 1024 + 1 AS BIGINT) AS fake_width,
          |  CAST(octet_length(encode(text)) % 768 + 1 AS BIGINT) AS fake_height,
          |  CAST(octet_length(encode(text)) AS DOUBLE) / 1024.0 AS fake_duration_s
          |FROM documents""".stripMargin
      ),
      (spark, sf) =>
        PipelineBuilder[Nothing]("llm_multimodal")
          .addSource(TypedSource[DocumentRow]("parquet", s"$sf/documents.parquet"))
          .transformAs[MediaFeatures]("attach binary + stub decode")(df =>
            Multimodal.extractFeaturesStub(Multimodal.attachBinary(df))
          )
          .addSink[MediaFeatures, SchemaPolicy.ExactT](TypedSink[MediaFeatures](s"${tmpDir("llm_multimodal")}/m"))
          .build(implicitly)(spark)
    ),
    // REAL multimodal decode: deterministic PNGs are synthesized per doc
    // (dims + fill color are functions of doc_id), then decoded back with
    // javax.imageio inside the per-partition-codec mapPartitions — width,
    // height AND the pixel checksum must round-trip through an actual
    // codec. The oracle derives the expected values from doc_id alone, so
    // any failure in encode→bytes→decode surfaces as a hash mismatch.
    QueryDef(
      "llm_multimodal_decode",
      Some(
        """SELECT doc_id,
          |  'image/png' AS mime,
          |  CAST(doc_id % 21 + 1 AS BIGINT) * 3 AS width,
          |  CAST(doc_id % 13 + 1 AS BIGINT) * 4 AS height,
          |  (CAST(doc_id % 21 + 1 AS BIGINT) * 3) * (CAST(doc_id % 13 + 1 AS BIGINT) * 4)
          |    * ((doc_id * 7) % 256 + (doc_id * 13) % 256 + (doc_id * 31) % 256) AS pixel_sum
          |FROM documents""".stripMargin
      ),
      (spark, sf) => {
        import spark.implicits._
        val media = Multimodal.synthesizePng(table(spark, sf, "documents").select("doc_id"))
        Multimodal.decodeBatched[DecodedImage](media)(Multimodal.imageIoCodec(DecodedImage.apply)).toDF()
      }
    ),
    // REAL nearest-neighbor resize over gradient PNGs: decode + NN sample
    // to 8x8 inside the per-partition codec loop. The gradient fixture
    // makes the sampled-channel sum depend on WHICH source pixels the
    // coordinate map picked, so the oracle's arithmetic replay of
    // floor(d*src/dst) sampling verifies the resize map itself.
    QueryDef(
      "llm_multimodal_resize",
      Some(
        """WITH d AS (SELECT doc_id, CAST(doc_id % 21 + 1 AS BIGINT) * 3 AS src_w,
          |    CAST(doc_id % 13 + 1 AS BIGINT) * 4 AS src_h FROM documents),
          |g AS (SELECT doc_id, src_w, src_h,
          |    (CAST(dx.dx AS BIGINT) * src_w) // 8 AS sx,
          |    (CAST(dy.dy AS BIGINT) * src_h) // 8 AS sy
          |  FROM d, (SELECT unnest(range(8)) AS dx) dx, (SELECT unnest(range(8)) AS dy) dy)
          |SELECT doc_id, src_w, src_h, CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
          |  CAST(sum((5 * sx + doc_id) % 256 + (7 * sy + 2 * doc_id) % 256
          |           + (sx + sy + 3 * doc_id) % 256) AS BIGINT) AS sample_sum
          |FROM g GROUP BY 1, 2, 3""".stripMargin
      ),
      (spark, sf) => {
        import spark.implicits._
        val media = Multimodal.synthesizePngGradient(table(spark, sf, "documents").select("doc_id"))
        Multimodal
          .decodeBatched[ResizedImage](media)(
            Multimodal.resizeNearestCodec(8, 8)(ResizedImage.apply)
          )
          .toDF()
      }
    ),
    // REAL audio decode: deterministic 16-bit mono PCM WAVs round-trip
    // javax.sound.sampled — container metadata (rate, frames) and the PCM
    // byte checksum must match the doc_id-derived oracle. byte_sum =
    // frames x (low byte + high byte) of the constant sample value.
    QueryDef(
      "llm_multimodal_audio",
      Some(
        """SELECT doc_id,
          |  'audio/wav' AS mime,
          |  8000 + (doc_id % 5) * 4000 AS sample_rate,
          |  100 + (doc_id % 50) * 10 AS n_frames,
          |  (100 + (doc_id % 50) * 10) *
          |    (((doc_id % 1000) * 16) % 256 + ((doc_id % 1000) * 16) // 256) AS byte_sum
          |FROM documents""".stripMargin
      ),
      (spark, sf) => {
        import spark.implicits._
        val media = Multimodal.synthesizeWav(table(spark, sf, "documents").select("doc_id"))
        Multimodal.decodeBatched[DecodedAudio](media)(Multimodal.wavCodec(DecodedAudio.apply)).toDF()
      }
    ),
    // REAL video-container parse: deterministic ISO BMFF (MP4) box trees
    // round-trip a genuine box-walking parser — movie timescale, duration
    // and track count come out of big-endian byte arithmetic on the moov
    // tree, and must match the doc_id-derived oracle. (Frame decode needs
    // a codec library the JVM doesn't ship; the container metadata path —
    // what a 100 TB ingest filter actually runs first — is fully real.)
    QueryDef(
      "llm_multimodal_video",
      Some(
        """SELECT doc_id,
          |  'video/mp4' AS mime,
          |  CAST(600 + (doc_id % 10) * 300 AS BIGINT) AS timescale,
          |  CAST((600 + (doc_id % 10) * 300) * (5 + doc_id % 60) AS BIGINT) AS duration_ticks,
          |  CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks
          |FROM documents""".stripMargin
      ),
      (spark, sf) => {
        import spark.implicits._
        val media = Multimodal.synthesizeMp4(table(spark, sf, "documents").select("doc_id"))
        Multimodal.decodeBatched[DecodedVideo](media)(Multimodal.mp4Codec(DecodedVideo.apply)).toDF()
      }
    ),
    // REAL merge-based BPE (Sennrich 2016): the full learning loop —
    // pair counts over the distinct-word table, deterministic argmax
    // (count desc, left asc, right asc), greedy leftmost fold — replayed
    // in DuckDB as one generated CTE chain per merge step, so the oracle
    // re-derives every rule from raw text rather than trusting the
    // engine's rule list. Covers what bpeishTokenCount only approximated.
    // Bpe.learn is the production trainer shape (HuggingFace tokenizers):
    // ONE distributed corpus pass (word-frequency agg), then the merge
    // loop on the driver over the collected vocab-sized word table.
    QueryDef(
      "llm_bpe_vocab",
      Some(bpeVocabOracle(BpeMerges)),
      (spark, sf) =>
        Bpe.learn(table(spark, sf, "documents"), numMerges = BpeMerges).merges
    ),
    // The same learner under the name the driver-loop trainer was first
    // registered and benched as (bench_results/round12_bpe_merges.md);
    // same oracle as llm_bpe_vocab.
    QueryDef(
      "llm_bpe_vocab_local",
      Some(bpeVocabOracle(BpeMerges)),
      (spark, sf) =>
        Bpe.learn(table(spark, sf, "documents"), numMerges = BpeMerges).merges
    ),
    // Encode under the learned merges: per-doc ordered subword pieces.
    // The oracle relearns the same rules (same CTE chain) and reassembles
    // each document word-by-word — a full independent replay of the
    // train-then-encode tokenizer loop at the subword level.
    QueryDef(
      "llm_bpe_encode",
      Some(bpeEncodeOracle(BpeMerges)),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        Bpe.encode(docs, Bpe.learn(docs, numMerges = BpeMerges))
      }
    ),
    // Subword-ID encoding — the storage form: pieces mapped through the
    // frequency-ranked subword vocabulary (occurrences weighted by word
    // frequency, symbol tie-break). The oracle relearns the merges,
    // re-derives the vocabulary ranking, and reassembles every document's
    // id sequence in (word, piece) order.
    QueryDef(
      "llm_bpe_ids",
      Some(bpeIdsOracle(BpeMerges)),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        Bpe.encodeIds(docs, Bpe.learn(docs, numMerges = BpeMerges))
      }
    ),
    // DSIR importance scores (Xie et al. 2023): hashed unigram+bigram
    // bucket distributions, target = English docs, quantized (floor-log2)
    // per-bucket log-likelihood ratios summed per doc — every score an
    // exact integer, the full hashed-feature pipeline replayed by the
    // oracle. The target slice's real distributional signal (English
    // stopword n-grams) is what separates scores, not the label itself.
    QueryDef(
      "llm_dsir",
      Some(
        """WITH t AS (SELECT doc_id, (lang = 'en') AS tgt, string_split(text, ' ') AS toks FROM documents),
          |f AS (
          |  SELECT doc_id, tgt, unnest(toks) AS f FROM t
          |  UNION ALL
          |  SELECT doc_id, tgt, unnest(list_transform(range(len(toks)-1),
          |    i -> toks[i+1] || ' ' || toks[i+2])) AS f
          |  FROM t WHERE len(toks) >= 2),
          |o AS (SELECT doc_id, tgt,
          |        CAST(CAST(concat('0x', substr(md5(f), 1, 7)) AS UBIGINT) % 1024 AS BIGINT) AS b FROM f),
          |bs AS (SELECT b, CAST(count(*) AS BIGINT) AS craw,
          |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ctgt FROM o GROUP BY 1),
          |tot AS (SELECT CAST(sum(craw) AS BIGINT) AS nraw, CAST(sum(ctgt) AS BIGINT) AS ntgt FROM bs),
          |q AS (SELECT b,
          |        ((length(bin(ctgt + 1)) - 1) - (length(bin(ntgt + 1024)) - 1))
          |      - ((length(bin(craw + 1)) - 1) - (length(bin(nraw + 1024)) - 1)) AS qlr
          |      FROM bs, tot),
          |s AS (SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_features,
          |        CAST(sum(qlr) AS BIGINT) AS dsir_score
          |      FROM o JOIN q USING (b) GROUP BY 1)
          |SELECT d.doc_id, coalesce(n_features, 0) AS n_features,
          |  coalesce(dsir_score, 0) AS dsir_score
          |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin
      ),
      (spark, sf) =>
        Selection.dsirScores(table(spark, sf, "documents"), col("lang") === "en", buckets = 1024)
    ),
    // Multinomial Naive Bayes quality classifier (the fastText role in the
    // GPT-3/LLaMA pipelines), trained in-engine: positive = zh docs (a
    // cleanly separable token distribution, so the predicted flag is live
    // in both directions), quantized Laplace-smoothed per-token weights,
    // integer scores. Training (two aggregations) and scoring are both
    // replayed end-to-end by the oracle.
    QueryDef(
      "llm_nb_classifier",
      Some(
        """WITH t AS (SELECT doc_id, (lang = 'zh') AS pos, string_split(text, ' ') AS toks FROM documents),
          |o AS (SELECT doc_id, pos, unnest(toks) AS tok FROM t),
          |v AS (SELECT tok,
          |        CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
          |        CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cneg FROM o GROUP BY 1),
          |ct AS (SELECT CAST(sum(cpos) AS BIGINT) AS tpos, CAST(sum(cneg) AS BIGINT) AS tneg,
          |         CAST(count(*) AS BIGINT) AS vs FROM v),
          |w AS (SELECT tok,
          |        ((length(bin(cpos + 1)) - 1) - (length(bin(tpos + vs)) - 1))
          |      - ((length(bin(cneg + 1)) - 1) - (length(bin(tneg + vs)) - 1)) AS w
          |      FROM v, ct),
          |s AS (SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(w) AS BIGINT) AS ts
          |      FROM o JOIN w USING (tok) GROUP BY 1),
          |p AS (SELECT (length(bin(CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) + 1)) - 1)
          |           - (length(bin(CAST(sum(CASE WHEN lang = 'zh' THEN 0 ELSE 1 END) AS BIGINT) + 1)) - 1) AS prior
          |      FROM documents)
          |SELECT d.doc_id, (d.lang = 'zh') AS is_positive_label,
          |  coalesce(n_tokens, 0) AS n_tokens,
          |  CAST(coalesce(ts, 0) + prior AS BIGINT) AS nb_score,
          |  (coalesce(ts, 0) + prior) > 0 AS nb_positive
          |FROM documents d LEFT JOIN s USING (doc_id), p""".stripMargin
      ),
      (spark, sf) =>
        Selection.nbQualityScores(table(spark, sf, "documents"), col("lang") === "zh")
    ),
    // Cross-corpus NB scoring — the production ingest shape: weights
    // trained on the labeled corpus, scores computed for an UNLABELED
    // batch containing tokens the training vocabulary has never seen
    // (every batch doc gets one synthetic 'unseen<id>' token, so the OOV
    // branch is structurally non-vacuous: n_oov >= 1 on every row and the
    // oov-weight constant participates in every score).
    QueryDef(
      "llm_nb_xtable",
      Some(
        """WITH t AS (SELECT doc_id, (lang = 'zh') AS pos, string_split(text, ' ') AS toks FROM documents),
          |o AS (SELECT pos, unnest(toks) AS tok FROM t),
          |v AS (SELECT tok,
          |        CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
          |        CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cneg FROM o GROUP BY 1),
          |ct AS (SELECT CAST(sum(cpos) AS BIGINT) AS tpos, CAST(sum(cneg) AS BIGINT) AS tneg,
          |         CAST(count(*) AS BIGINT) AS vs FROM v),
          |w AS (SELECT tok,
          |        ((length(bin(cpos + 1)) - 1) - (length(bin(tpos + vs)) - 1))
          |      - ((length(bin(cneg + 1)) - 1) - (length(bin(tneg + vs)) - 1)) AS w
          |      FROM v, ct),
          |consts AS (SELECT
          |    (length(bin(CAST((SELECT sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) FROM documents) AS BIGINT) + 1)) - 1)
          |  - (length(bin(CAST((SELECT sum(CASE WHEN lang = 'zh' THEN 0 ELSE 1 END) FROM documents) AS BIGINT) + 1)) - 1) AS prior,
          |    (length(bin(tneg + vs)) - 1) - (length(bin(tpos + vs)) - 1) AS oovw
          |  FROM ct),
          |batch AS (SELECT doc_id, text || ' unseen' || CAST(doc_id AS VARCHAR) AS text
          |          FROM documents WHERE doc_id % 7 = 1),
          |bo AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM batch),
          |s AS (SELECT bo.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |        CAST(sum(CASE WHEN w.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          |        CAST(sum(coalesce(w.w, 0)) AS BIGINT) AS known
          |      FROM bo LEFT JOIN w USING (tok) GROUP BY 1)
          |SELECT b.doc_id, coalesce(n_tokens, 0) AS n_tokens, coalesce(n_oov, 0) AS n_oov,
          |  CAST(coalesce(known, 0) + coalesce(n_oov, 0) * oovw + prior AS BIGINT) AS nb_score,
          |  (coalesce(known, 0) + coalesce(n_oov, 0) * oovw + prior) > 0 AS nb_positive
          |FROM batch b LEFT JOIN s USING (doc_id), consts""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val batch = docs
          .filter(col("doc_id") % 7 === 1)
          .select(
            col("doc_id"),
            concat(col("text"), lit(" unseen"), col("doc_id").cast("string")).as("text")
          )
        Selection.nbScoreAgainst(docs, batch, col("lang") === "zh")
      }
    ),
    // CCNet-style perplexity bands over the quantized surprisal: the
    // head/middle/tail split is CORPUS-RELATIVE (integer per-mille mean,
    // totals divided first so the comparison never multiplies corpus
    // totals into per-doc products — ANSI-safe at any scale). Thresholds
    // 998/1002 keep all three bands populated at both SFs (219/38/243 at
    // sf0.01, 2826/1244/930 at sf0.1).
    QueryDef(
      "llm_ppl_bands",
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |b AS (SELECT doc_id, toks[CAST(u.i AS INTEGER) + 1] AS prev,
          |        toks[CAST(u.i AS INTEGER) + 1] || ' ' || toks[CAST(u.i AS INTEGER) + 2] AS bg
          |      FROM t, unnest(range(len(toks) - 1)) AS u(i)),
          |cp AS (SELECT bg, count(*) AS cpair FROM b GROUP BY 1),
          |cv AS (SELECT prev, count(*) AS cprev FROM b GROUP BY 1),
          |s AS (SELECT doc_id, (length(bin(cprev)) - 1) - (length(bin(cpair)) - 1) AS sv
          |      FROM b JOIN cp USING (bg) JOIN cv USING (prev)),
          |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, CAST(sum(sv) AS BIGINT) AS ss
          |        FROM s GROUP BY 1),
          |tot AS (SELECT CAST(sum(ss) * 1000 // sum(nb) AS BIGINT) AS m1000 FROM agg),
          |r AS (SELECT d.doc_id, coalesce(nb, 0) AS n_bigrams, coalesce(ss, 0) AS surprisal_sum
          |      FROM documents d LEFT JOIN agg USING (doc_id))
          |SELECT doc_id, n_bigrams, surprisal_sum,
          |  CASE WHEN surprisal_sum * 1000000 < 998 * m1000 * n_bigrams THEN 'head'
          |       WHEN surprisal_sum * 1000000 > 1002 * m1000 * n_bigrams THEN 'tail'
          |       ELSE 'middle' END AS band,
          |  NOT (surprisal_sum * 1000000 > 1002 * m1000 * n_bigrams) AS keep
          |FROM r, tot""".stripMargin
      ),
      (spark, sf) => TextStats.surprisalBands(table(spark, sf, "documents"))
    ),
    // The selection stage composed: NB classifier (curated-like = en),
    // DSIR above-corpus-mean importance (same en target, cross-multiplied
    // — never integer-divided: Spark div truncates, DuckDB // floors, and
    // DSIR scores go negative), and the perplexity middle+head band, with
    // selected = all three. Signals are coherent (one curated slice
    // drives both learned signals) and every flag is live in both
    // directions at both SFs; the oracle replays all three pipelines and
    // the conjunction.
    QueryDef(
      "llm_select_pipeline",
      Some(
        """WITH t AS (SELECT doc_id, (lang = 'en') AS tgt, string_split(text, ' ') AS toks FROM documents),
          |f AS (
          |  SELECT doc_id, tgt, unnest(toks) AS f FROM t
          |  UNION ALL
          |  SELECT doc_id, tgt, unnest(list_transform(range(len(toks)-1),
          |    i -> toks[i+1] || ' ' || toks[i+2])) AS f
          |  FROM t WHERE len(toks) >= 2),
          |o AS (SELECT doc_id, tgt,
          |        CAST(CAST(concat('0x', substr(md5(f), 1, 7)) AS UBIGINT) % 1024 AS BIGINT) AS b FROM f),
          |bs AS (SELECT b, CAST(count(*) AS BIGINT) AS craw,
          |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ctgt FROM o GROUP BY 1),
          |dtot AS (SELECT CAST(sum(craw) AS BIGINT) AS nraw, CAST(sum(ctgt) AS BIGINT) AS ntgt FROM bs),
          |q AS (SELECT b,
          |        ((length(bin(ctgt + 1)) - 1) - (length(bin(ntgt + 1024)) - 1))
          |      - ((length(bin(craw + 1)) - 1) - (length(bin(nraw + 1024)) - 1)) AS qlr
          |      FROM bs, dtot),
          |ds AS (SELECT d.doc_id, CAST(coalesce(sum(qlr), 0) AS BIGINT) AS score
          |       FROM documents d LEFT JOIN o ON o.doc_id = d.doc_id LEFT JOIN q USING (b) GROUP BY 1),
          |dm AS (SELECT CAST(sum(score) AS BIGINT) AS ts, CAST(count(*) AS BIGINT) AS n FROM ds),
          |tk AS (SELECT doc_id, (lang = 'en') AS pos, unnest(string_split(text, ' ')) AS tok FROM documents),
          |v AS (SELECT tok,
          |        CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
          |        CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cneg FROM tk GROUP BY 1),
          |ct AS (SELECT CAST(sum(cpos) AS BIGINT) AS tpos, CAST(sum(cneg) AS BIGINT) AS tneg,
          |         CAST(count(*) AS BIGINT) AS vs FROM v),
          |w AS (SELECT tok,
          |        ((length(bin(cpos + 1)) - 1) - (length(bin(tpos + vs)) - 1))
          |      - ((length(bin(cneg + 1)) - 1) - (length(bin(tneg + vs)) - 1)) AS w
          |      FROM v, ct),
          |nbs AS (SELECT tk.doc_id, CAST(sum(w) AS BIGINT) AS tsc FROM tk JOIN w USING (tok) GROUP BY 1),
          |pr AS (SELECT (length(bin(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) + 1)) - 1)
          |            - (length(bin(CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) + 1)) - 1) AS prior
          |       FROM documents),
          |bg AS (SELECT doc_id, toks[CAST(u.i AS INTEGER) + 1] AS prev,
          |        toks[CAST(u.i AS INTEGER) + 1] || ' ' || toks[CAST(u.i AS INTEGER) + 2] AS bg
          |      FROM t, unnest(range(len(toks) - 1)) AS u(i)),
          |cp AS (SELECT bg, count(*) AS cpair FROM bg GROUP BY 1),
          |cv AS (SELECT prev, count(*) AS cprev FROM bg GROUP BY 1),
          |sv AS (SELECT doc_id, (length(bin(cprev)) - 1) - (length(bin(cpair)) - 1) AS s
          |      FROM bg JOIN cp USING (bg) JOIN cv USING (prev)),
          |sagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, CAST(sum(s) AS BIGINT) AS ss
          |         FROM sv GROUP BY 1),
          |stot AS (SELECT CAST(sum(ss) * 1000 // sum(nb) AS BIGINT) AS m1000 FROM sagg),
          |ppl AS (SELECT d.doc_id,
          |          NOT (coalesce(ss, 0) * 1000000 > 1002 * m1000 * coalesce(nb, 0)) AS ppl_keep
          |        FROM documents d LEFT JOIN sagg USING (doc_id), stot)
          |SELECT d.doc_id,
          |  (coalesce(nbs.tsc, 0) + pr.prior) > 0 AS nb_positive,
          |  ds.score * dm.n >= dm.ts AS dsir_keep,
          |  ppl.ppl_keep AS ppl_keep,
          |  ((coalesce(nbs.tsc, 0) + pr.prior) > 0 AND ds.score * dm.n >= dm.ts AND ppl.ppl_keep) AS selected
          |FROM documents d
          |JOIN ds ON ds.doc_id = d.doc_id
          |JOIN ppl ON ppl.doc_id = d.doc_id
          |LEFT JOIN nbs ON nbs.doc_id = d.doc_id, dm, pr""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val en = col("lang") === "en"
        val nb = Selection
          .nbQualityScores(docs, en)
          .select(col("doc_id"), col("nb_positive"))
        val ds = Selection
          .dsirAboveMean(Selection.dsirScores(docs, en, buckets = 1024))
          .select(col("doc_id"), col("dsir_keep"))
        val ppl = TextStats
          .surprisalBands(docs)
          .select(col("doc_id"), col("keep").as("ppl_keep"))
        nb.join(ds, "doc_id")
          .join(ppl, "doc_id")
          .select(
            col("doc_id"),
            col("nb_positive"),
            col("dsir_keep"),
            col("ppl_keep"),
            (col("nb_positive") && col("dsir_keep") && col("ppl_keep")).as("selected")
          )
      }
    ),
    // Per-source corpus audit report (the "data card" ledger): volume,
    // exact-dup incidence, PII incidence, Gopher pass rate, language
    // spread — every counter integer-exact. The raw fixture has ~no dups
    // or PII, so the report corpus plants both: every 29th doc
    // re-ingested verbatim (live n_dup_docs) and every 41st re-ingested
    // with an appended email (live n_pii_docs) — the llm_containment
    // copyId fixture discipline.
    QueryDef(
      "llm_corpus_report",
      Some {
        val nestedPii = TextStats.piiPatterns.foldLeft("k.text") { case (inner, (pat, tag)) =>
          s"regexp_replace($inner, '$pat', '$tag', 'g')"
        }
        s"""WITH corpus AS (
           |  SELECT doc_id, source, lang, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000, source, lang, text FROM documents WHERE doc_id % 29 = 5
           |  UNION ALL
           |  SELECT doc_id + 200000, source, lang, text || ' contact bob@example.com' AS text
           |  FROM documents WHERE doc_id % 41 = 3),
           |k AS (SELECT *, md5(text) AS key FROM corpus),
           |dk AS (SELECT key, true AS dup FROM k GROUP BY key HAVING count(*) > 1),
           |s AS (SELECT k.source, k.lang,
           |        length(k.text) AS nc, len(string_split(k.text, ' ')) AS nt,
           |        len(list_distinct(string_split(k.text, ' '))) AS nd,
           |        length(regexp_replace(k.text, '[A-Za-z0-9 ]', '', 'g')) AS nsym,
           |        coalesce(dk.dup, false) AS dup,
           |        ($nestedPii) <> k.text AS pii
           |      FROM k LEFT JOIN dk USING (key))
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(nt) AS BIGINT) AS n_tokens,
           |  CAST(CAST(sum(nt) AS BIGINT) AS DOUBLE) / count(*) AS mean_doc_tokens,
           |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           |  CAST(sum(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
           |  CAST(sum(CASE WHEN (nt BETWEEN 16 AND 100000)
           |        AND (CAST(nc - nt + 1 AS DOUBLE) / nt BETWEEN 2.0 AND 12.0)
           |        AND (CAST(nsym AS DOUBLE) / nc <= 0.2)
           |        AND (1.0 - CAST(nd AS DOUBLE) / nt <= 0.6) THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_keep,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
           |FROM s GROUP BY 1""".stripMargin
      },
      (spark, sf) => {
        val docs = table(spark, sf, "documents").select("doc_id", "source", "lang", "text")
        val copies = docs
          .filter(col("doc_id") % 29 === 5)
          .select(copyId(col("doc_id")).as("doc_id"), col("source"), col("lang"), col("text"))
        val piiCopies = docs
          .filter(col("doc_id") % 41 === 3)
          .select(
            copyId(col("doc_id"), 2).as("doc_id"),
            col("source"),
            col("lang"),
            concat(col("text"), lit(" contact bob@example.com")).as("text")
          )
        Corpus.corpusReport(docs.unionByName(copies).unionByName(piiCopies))
      }
    ),
    // Tokenizer fertility ledger — the standard tokenizer-quality metric
    // (subword pieces per word, chars per piece) per language, over the
    // learned BPE vocabulary: exact-integer piece/word/char sums into one
    // trailing division per (5-row) lang group. The oracle RELEARNS the
    // merges and recomputes every count — a fertility drift on either
    // engine fails the hash gate. High-fertility languages (zh: no
    // merge reuse across CJK chars) vs low (en) is the signal a real
    // tokenizer team reads off this table.
    QueryDef(
      "llm_bpe_fertility",
      Some(bpeFertilityOracle(BpeMerges)),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val enc = Bpe.encode(docs, Bpe.learn(docs, numMerges = BpeMerges))
        val words = filter(TextStats.tokens(col("text")), w => length(w) > 0)
        val per = docs.select(
          col("doc_id"),
          col("lang"),
          size(words).cast("long").as("__w"),
          aggregate(words, lit(0L), (acc, w) => acc + length(w)).as("__c")
        )
        per
          .join(enc, "doc_id")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("__w").as("n_words"),
            sum("n_pieces").as("n_pieces"),
            sum("__c").as("n_chars"),
            (sum("n_pieces").cast("double") / sum("__w")).as("fertility"),
            (sum("__c").cast("double") / sum("n_pieces")).as("chars_per_piece")
          )
      }
    ),
    // Winnowing MATCH pairs — the cross-document MOSS join over the
    // selected fingerprints (k=3, w=4: shared runs >= 6 tokens guaranteed
    // detected). Same planted-snippet fixture as llm_containment (12-token
    // prefixes of every 37th doc): the snippet's 7 winnow windows all come
    // from the shared run, so snippet->source coverage is ~1.0. The df<=8
    // cap keeps the fingerprint self-join off boilerplate-hot buckets —
    // the measured-linear discipline of the shingle-level pair joins, on a
    // stream winnowing has already thinned ~2/(w+1).
    QueryDef(
      "llm_winnow_pairs",
      Some(
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000 AS doc_id,
          |    array_to_string(string_split(text, ' ')[1:12], ' ') AS text
          |  FROM documents WHERE doc_id % 37 = 2),
          |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
          |g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
          |        THEN list_transform(range(len(toks)-2), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
          |        ELSE CAST([] AS VARCHAR[]) END AS grams FROM t),
          |h AS (SELECT doc_id, list_transform(grams,
          |        g -> CAST((CAST(concat('0x', substr(md5(g), 1, 7)) AS UBIGINT) << 28)
          |               + CAST(concat('0x', substr(md5(g), 8, 7)) AS UBIGINT) AS BIGINT)) AS hs FROM g),
          |f AS (SELECT doc_id, list_distinct(
          |        CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
          |             WHEN len(hs) <= 4 THEN [list_min(hs)]
          |             ELSE list_transform(range(len(hs)-3),
          |                    i -> list_min(hs[CAST(i+1 AS INTEGER):CAST(i+4 AS INTEGER)])) END) AS fps FROM h),
          |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
          |keep AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 8),
          |ec AS (SELECT e.doc_id, e.fp FROM e JOIN keep USING (fp)),
          |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM ec GROUP BY 1),
          |i AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
          |      FROM ec a JOIN ec b ON a.fp = b.fp AND a.doc_id <> b.doc_id GROUP BY 1, 2)
          |SELECT a, b, n_shared, CAST(n_shared AS DOUBLE) / CAST(nf AS DOUBLE) AS coverage
          |FROM i JOIN n ON n.doc_id = i.a
          |WHERE CAST(n_shared AS DOUBLE) / CAST(nf AS DOUBLE) >= 0.5""".stripMargin
      ),
      (spark, sf) => {
        val docs = table(spark, sf, "documents").select("doc_id", "text")
        val snippets = docs
          .filter(col("doc_id") % 37 === 2)
          .select(
            copyId(col("doc_id")).as("doc_id"),
            array_join(slice(TextStats.tokens(col("text")), 1, 12), " ").as("text")
          )
        Dedup.winnowPairs(docs.unionByName(snippets), "doc_id", "text", k = 3, w = 4, tau = 0.5, maxDf = 8)
      }
    ),
    // Embedding quality-centroid affinity — the CLIP-score-filter shape
    // (LAION/DataComp): cosine of every vector against the exact-integer
    // centroid SUM of a trusted slice (label 3), computed over the int8
    // quantization so dot_c hash-gates and the affinity is one trailing
    // IEEE divide. The fixture's labels are real clusters (target-slice
    // mean affinity ~0.14 vs ~0.00 for the rest), so the score carries
    // signal, and the oracle replays quantize -> centroid sum -> dot ->
    // normalize end to end.
    QueryDef(
      "llm_embed_quality",
      Some(
        """WITH e AS (SELECT vec_id, label,
          |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
          |  embedding FROM embeddings),
          |q AS (SELECT vec_id, label, list_transform(embedding,
          |        x -> CASE WHEN scale = 0 THEN 0
          |                  ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) / scale + 0.5) AS INTEGER) END) AS qv
          |      FROM e),
          |x AS (SELECT i AS dim, qv[CAST(i AS INTEGER)+1] AS v FROM q, unnest(range(len(qv))) AS u(i)
          |      WHERE label = 3),
          |c AS (SELECT list(s ORDER BY dim) AS csum
          |      FROM (SELECT dim, CAST(sum(v) AS BIGINT) AS s FROM x GROUP BY 1)),
          |d AS (SELECT vec_id, (label = 3) AS is_target,
          |        CAST(list_sum(list_transform(range(len(qv)),
          |          i -> CAST(qv[CAST(i AS INTEGER)+1] AS BIGINT) * csum[CAST(i AS INTEGER)+1])) AS BIGINT) AS dot_c,
          |        CAST(list_sum(list_transform(qv, y -> CAST(y AS BIGINT) * y)) AS BIGINT) AS qq,
          |        CAST(list_sum(list_transform(csum, y -> y * y)) AS BIGINT) AS cc
          |      FROM q, c)
          |SELECT vec_id, is_target, dot_c,
          |  CASE WHEN qq = 0 OR cc = 0 THEN 0.0
          |       ELSE CAST(dot_c AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) END AS affinity
          |FROM d""".stripMargin
      ),
      (spark, sf) =>
        Embeddings.centroidAffinity(table(spark, sf, "embeddings"), col("label") === 3)
    ),
    // Char-n-gram NB language ID (round 13) — the production replacement
    // for the stopword-argmax heuristic. The corpus `lang` labels sit on
    // near-identical English-ish text, so a deterministic multilingual
    // fixture gives each language REAL character statistics: every token
    // gains a language-flavored suffix chosen by md5(token) mod 3 from a
    // per-language list ('en' keeps ~1/3 of tokens bare, so the stopword
    // baseline still sees English function words there — non-degenerate).
    // Train = doc_id % 5 <> 0, held-out = the rest. The model is
    // Selection.nbFitMulti over boundary-padded char trigrams
    // (TextStats.charNgrams): dense (vocab × 5) integer Laplace weights,
    // priors, per-class OOV mass — and the oracle replays the ENTIRE
    // pipeline in SQL: fixture transform, trigram explode, fit counts,
    // dense weights, priors, held-out scoring with OOV correction,
    // argmax with lexicographic tie-break, plus the stopword baseline's
    // prediction per doc. All-integer scores — hash-exact cross-engine.
    QueryDef(
      "llm_lang_id_nb",
      Some(s"""WITH $langIdCtes
              |SELECT doc_id, lang, nb_lang, nb_score, stop_lang FROM perdoc""".stripMargin),
      (spark, sf) => langIdPerDoc(spark, sf)
    ),
    // The beats-the-baseline ledger as driver-verified data: held-out
    // accuracy of the char-n-gram NB vs the stopword argmax on the same
    // fixture slice (the spec asserts nb_correct > stop_correct; the
    // expected regime is NB ≈ all docs right — suffix trigrams are
    // near-perfect class evidence — vs the baseline capped at the 'en'
    // share, since only bare English function words survive the
    // transform). Same CTE chain as llm_lang_id_nb, rolled up.
    QueryDef(
      "llm_lang_id_ledger",
      Some(s"""WITH $langIdCtes
              |SELECT CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(CASE WHEN nb_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS nb_correct,
              |  CAST(sum(CASE WHEN stop_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS stop_correct
              |FROM perdoc""".stripMargin),
      (spark, sf) =>
        langIdPerDoc(spark, sf).agg(
          count(lit(1)).as("n"),
          sum(when(col("nb_lang") === col("lang"), 1L).otherwise(0L)).as("nb_correct"),
          sum(when(col("stop_lang") === col("lang"), 1L).otherwise(0L)).as("stop_correct")
        )
    )
  )

  /** Per-language suffix lists for the language-ID fixture (3 options per
    * language, picked per token by md5(token) mod 3 — deterministic and
    * SQL-replayable). 'en' includes the empty suffix so a third of
    * English tokens keep their bare form (the stopword baseline's only
    * surviving signal); the others are morphology-flavored so char
    * trigrams separate classes the way real orthography does.
    */
  private val langSuffixes: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("", "s", "ing"),
    "de" -> Seq("ung", "keit", "sch"),
    "fr" -> Seq("eux", "tion", "ois"),
    "es" -> Seq("ción", "idad", "amos"),
    "zh" -> Seq("的", "了", "在")
  )

  /** The language-flavored token array for one document (Spark side of the
    * `ft` CTE): non-empty whitespace tokens, each suffixed per its doc's
    * lang. Per-row HOFs — zero shuffle, codegen'd.
    */
  private def langFlavoredToks: org.apache.spark.sql.Column = {
    val sfxMap = map(langSuffixes.flatMap { case (l, s) => Seq(lit(l), array(s.map(lit): _*)) }: _*)
    val sfx = element_at(sfxMap, col("lang"))
    transform(
      filter(TextStats.tokens(col("text")), t => length(t) > 0),
      t =>
        concat(
          t,
          element_at(sfx, (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % 3).cast("int") + 1)
        )
    )
  }

  /** The full language-ID pipeline, shared by both registered queries:
    * fixture transform → char-trigram features → multiclass NB fit on the
    * train split → held-out scoring → stopword-baseline prediction on the
    * SAME transformed text. Output: (doc_id, lang, nb_lang, nb_score,
    * stop_lang) for every feature-bearing held-out doc.
    */
  private def langIdPerDoc(
      spark: org.apache.spark.sql.SparkSession,
      sf: String
  ): org.apache.spark.sql.DataFrame = {
    val base = table(spark, sf, "documents")
      .select(
        col("doc_id"),
        col("lang"),
        langFlavoredToks.as("__ftoks")
      )
      .withColumn("__feats", TextStats.charNgrams(col("__ftoks"), 3))
      .localCheckpoint(true) // feeds fit, scoring, and the baseline
    val train = base.filter(col("doc_id") % 5 =!= 0)
    val held = base.filter(col("doc_id") % 5 === 0)
    val model = Selection.nbFitMulti(train, "lang", col("__feats"))
    val nb = Selection.nbScoreMulti(held, model, "doc_id", col("__feats"))
    held
      .select(
        col("doc_id"),
        col("lang"),
        TextStats.langId(array_join(col("__ftoks"), " ")).as("stop_lang")
      )
      .join(nb.select("doc_id", "nb_lang", "nb_score"), Seq("doc_id"))
      .select("doc_id", "lang", "nb_lang", "nb_score", "stop_lang")
  }

  /** DuckDB replay of [[langIdPerDoc]], ending in
    * `perdoc(doc_id, lang, nb_lang, nb_score, stop_lang)`. flog2 is
    * `length(bin(x)) - 1` (the t11 idiom — Spark's conv-based floor-log2
    * twin); the stopword lists are shared with [[TextStats.stopwords]].
    */
  private def langIdCtes: String = {
    def sqlList(xs: Seq[String]): String =
      xs.map(x => s"'${x}'").mkString("[", ", ", "]")
    val sfxRows = langSuffixes
      .map { case (l, s) => s"('$l', ${sqlList(s)})" }
      .mkString(",\n  ")
    val swRows = TextStats.stopwords.zipWithIndex
      .map { case ((l, ws), i) => s"('$l', ${i + 1}, ${sqlList(ws)})" }
      .mkString(",\n  ")
    s"""sfx(slang, s) AS (VALUES
       |  $sfxRows),
       |ft AS (SELECT d.doc_id, d.lang,
       |         list_transform(list_filter(string_split(d.text, ' '), t -> t <> ''),
       |           t -> t || s[CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS UBIGINT) % 3 AS INTEGER) + 1]) AS toks
       |       FROM documents d JOIN sfx ON sfx.slang = d.lang),
       |tg AS (SELECT doc_id, lang, unnest(flatten(list_transform(toks,
       |         t -> list_transform(range(1, length('^' || t || '$$') - 1),
       |                i -> substr('^' || t || '$$', CAST(i AS INTEGER), 3))))) AS g
       |       FROM ft),
       |tr AS (SELECT * FROM tg WHERE doc_id % 5 <> 0),
       |hd AS (SELECT * FROM tg WHERE doc_id % 5 = 0),
       |cnt AS (SELECT g, lang, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
       |labt AS (SELECT lang, CAST(count(*) AS BIGINT) AS t FROM tr GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM tr),
       |voc AS (SELECT DISTINCT g FROM tr),
       |dw AS (SELECT voc.g, labt.lang,
       |         (length(bin(coalesce(cnt.c, 0) + 1)) - 1) - (length(bin(labt.t + vv.v)) - 1) AS w
       |       FROM voc CROSS JOIN labt CROSS JOIN vv
       |       LEFT JOIN cnt ON cnt.g = voc.g AND cnt.lang = labt.lang),
       |pr0 AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
       |pr AS (SELECT pr0.lang, (length(bin(nl + 1)) - 1) AS prior,
       |         0 - (length(bin(labt.t + vv.v)) - 1) AS oovw
       |       FROM pr0 JOIN labt USING (lang) CROSS JOIN vv),
       |hknown AS (SELECT hd.doc_id, dw.lang AS plang, CAST(sum(dw.w) AS BIGINT) AS known,
       |             CAST(count(*) AS BIGINT) AS nk
       |           FROM hd JOIN dw ON dw.g = hd.g GROUP BY 1, 2),
       |hn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM hd GROUP BY 1),
       |sc AS (SELECT hn.doc_id, pr.lang AS plang,
       |         coalesce(hk.known, 0) + (hn.nf - coalesce(hk.nk, 0)) * pr.oovw + pr.prior AS score
       |       FROM hn CROSS JOIN pr
       |       LEFT JOIN hknown hk ON hk.doc_id = hn.doc_id AND hk.plang = pr.lang),
       |nbp AS (SELECT doc_id, plang AS nb_lang, CAST(score AS BIGINT) AS nb_score
       |        FROM sc QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) = 1),
       |sw(wlang, wpri, ws) AS (VALUES
       |  $swRows),
       |hits AS (SELECT ft.doc_id, sw.wlang, sw.wpri,
       |           len(list_filter(list_distinct(ft.toks), t -> list_contains(sw.ws, t))) AS h
       |         FROM ft CROSS JOIN sw WHERE ft.doc_id % 5 = 0),
       |sp AS (SELECT doc_id, wlang, h,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, wpri) AS rn,
       |         max(h) OVER (PARTITION BY doc_id) AS mh
       |       FROM hits),
       |stp AS (SELECT doc_id, CASE WHEN mh = 0 THEN 'und' ELSE wlang END AS stop_lang FROM sp WHERE rn = 1),
       |perdoc AS (SELECT f.doc_id, f.lang, n.nb_lang, n.nb_score, s.stop_lang
       |           FROM (SELECT DISTINCT doc_id, lang FROM ft WHERE doc_id % 5 = 0) f
       |           JOIN nbp n USING (doc_id) JOIN stp s USING (doc_id))""".stripMargin
  }

  /** Merge-step count for the registered BPE queries: enough steps that
    * multi-level merges (merged symbols merging again) are exercised, small
    * enough that the DuckDB replay (2 passes over the word table per step)
    * stays fast. The spec suite covers longer runs against a plain-Scala
    * reference.
    */
  private val BpeMerges = 10

  /** DuckDB replay of [[graft.llmops.Bpe.learn]]: w0 is the word-frequency
    * table with code-point+`</w>` symbols; each step i counts adjacent pairs
    * (c_i), picks the deterministic argmax (p_i), and applies it with the
    * same greedy leftmost non-overlapping fold (w_i) via `list_reduce` —
    * `acc[-1]`/`x[1]` comparisons against the correlated p_i row, drop-last
    * + append on merge. Exactly the Sennrich single-scan semantics of the
    * driver loop's fold. The w_i and c_i are `MATERIALIZED`:
    * each w_i is read by both c_(i+1) and w_(i+1), and DuckDB inlining the
    * chain doubles the plan per step (out of memory at sf0.01 with a 4 GB
    * limit; 1 s materialized).
    */
  private def bpeLearnCtes(numMerges: Int): String = {
    val base =
      """w0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |    list_append(list_transform(range(1, length(word)+1), i -> word[i]), '</w>') AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0
        |  GROUP BY word)""".stripMargin
    val steps = (1 to numMerges).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT t.pair[1] AS l, t.pair[2] AS r, SUM(freq) AS cnt
         |  FROM w${i - 1}, UNNEST(list_transform(range(1, len(syms)), j -> [syms[j], syms[j+1]])) AS t(pair)
         |  GROUP BY 1, 2),
         |p$i AS (SELECT l, r FROM c$i ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    list_reduce(list_transform(syms, s -> [s]),
         |      (acc, x) -> CASE WHEN acc[-1] = p.l AND x[1] = p.r
         |                  THEN list_append(acc[:-2], p.l || p.r)
         |                  ELSE list_append(acc, x[1]) END) AS syms
         |  FROM w${i - 1}, p$i p)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  private def bpeVocabOracle(numMerges: Int): String = {
    val ranks = (1 to numMerges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, l, r, l || r AS merged FROM p$i")
      .mkString("\nUNION ALL\n")
    s"WITH ${bpeLearnCtes(numMerges)}\n$ranks"
  }

  /** [[graft.llmops.Bpe.encodeIds]] replay: the learn chain, the
    * frequency-ranked subword vocabulary over the final word table
    * (occurrences weighted by word freq, symbol tie-break — binary
    * collation on both engines), and per-doc id reassembly ordered by
    * (word position, piece position).
    */
  private def bpeIdsOracle(numMerges: Int): String =
    s"""WITH ${bpeLearnCtes(numMerges)},
       |bv AS (SELECT u.s AS piece, SUM(freq) AS cnt FROM w$numMerges, UNNEST(syms) u(s) GROUP BY 1),
       |vr AS (SELECT piece, CAST(row_number() OVER (ORDER BY cnt DESC, piece) - 1 AS BIGINT) AS piece_id FROM bv),
       |d AS (
       |  SELECT doc_id, s.pos AS pos, s.word AS word
       |  FROM (SELECT doc_id,
       |          UNNEST(list_transform(range(1, len(ws)+1), i -> struct_pack(pos := i, word := ws[i]))) AS s
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
       |  WHERE length(s.word) > 0),
       |dp AS (
       |  SELECT doc_id, pos, t.pp AS pp, t.piece AS piece
       |  FROM (SELECT d.doc_id, d.pos,
       |          UNNEST(list_transform(range(1, len(w.syms)+1), i -> struct_pack(pp := i, piece := w.syms[i]))) AS t
       |        FROM d JOIN w$numMerges w ON w.word = d.word)),
       |ids AS (
       |  SELECT dp.doc_id, list(vr.piece_id ORDER BY dp.pos, dp.pp) AS ids
       |  FROM dp JOIN vr ON vr.piece = dp.piece
       |  GROUP BY 1)
       |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_pieces,
       |  array_to_string(ids, ' ') AS ids_str, CAST(0 AS BIGINT) AS n_oov
       |FROM ids""".stripMargin

  /** DuckDB replay of the fertility ledger: relearn the merges, re-encode
    * every word, aggregate exact-integer piece/word/char totals per lang.
    */
  private def bpeFertilityOracle(numMerges: Int): String =
    s"""WITH ${bpeLearnCtes(numMerges)},
       |d AS (
       |  SELECT doc_id, s.word AS word
       |  FROM (SELECT doc_id,
       |          UNNEST(list_transform(range(1, len(ws)+1), i -> struct_pack(pos := i, word := ws[i]))) AS s
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
       |  WHERE length(s.word) > 0),
       |enc AS (
       |  SELECT d.doc_id, CAST(sum(len(w.syms)) AS BIGINT) AS n_pieces,
       |         CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(length(d.word)) AS BIGINT) AS n_chars
       |  FROM d JOIN w$numMerges w ON d.word = w.word
       |  GROUP BY 1)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(enc.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(enc.n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(sum(enc.n_chars) AS BIGINT) AS n_chars,
       |  CAST(CAST(sum(enc.n_pieces) AS BIGINT) AS DOUBLE) / CAST(sum(enc.n_words) AS BIGINT) AS fertility,
       |  CAST(CAST(sum(enc.n_chars) AS BIGINT) AS DOUBLE) / CAST(sum(enc.n_pieces) AS BIGINT) AS chars_per_piece
       |FROM documents doc JOIN enc ON enc.doc_id = doc.doc_id
       |GROUP BY 1""".stripMargin

  private def bpeEncodeOracle(numMerges: Int): String =
    s"""WITH ${bpeLearnCtes(numMerges)},
       |d AS (
       |  SELECT doc_id, s.pos AS pos, s.word AS word
       |  FROM (SELECT doc_id,
       |          UNNEST(list_transform(range(1, len(ws)+1), i -> struct_pack(pos := i, word := ws[i]))) AS s
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
       |  WHERE length(s.word) > 0),
       |enc AS (
       |  SELECT d.doc_id, flatten(list(w.syms ORDER BY d.pos)) AS pieces
       |  FROM d JOIN w$numMerges w ON d.word = w.word
       |  GROUP BY d.doc_id)
       |SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_pieces,
       |  array_to_string(pieces, ' ') AS pieces_str
       |FROM enc""".stripMargin
}
