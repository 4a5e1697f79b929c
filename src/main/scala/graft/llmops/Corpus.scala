package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators: overlapping token-window chunking and
  * deterministic content-hash train/validation splitting — the two steps
  * between a cleaned document table and a tokenizer at training time.
  * Pure per-row expressions (chunking explodes row-locally): no shuffle,
  * full scan parallelism at any corpus size.
  */
object Corpus {

  /** Explode each document into overlapping token windows:
    * chunk i = tokens[i*stride, i*stride + chunkSize) joined by spaces,
    * stride = chunkSize - overlap, count = ceil(n_tokens / stride). The
    * final chunk may be shorter (no padding). Output adds
    * (chunk_id: long, chunk: string).
    */
  def chunkTokens(df: DataFrame, textCol: String, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val toks = TextStats.tokens(col(textCol))
    val nChunks = ((size(toks) + (stride - 1)) / stride).cast("int")
    val chunks = transform(
      sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * stride + 1, lit(chunkSize)), " ")
    )
    df.select(col("*"), posexplode(chunks).as(Seq("chunk_id", "chunk")))
      .withColumn("chunk_id", col("chunk_id").cast("long"))
  }

  /** Deterministic, content-stable split assignment: the first 8 hex chars
    * of md5(content) modulo 100 against `trainPercent`. Content-hashed (not
    * id-hashed) on purpose: exact duplicates always land in the same split,
    * so dedup ordering can't leak train docs into validation. Cross-engine
    * reproducible (md5 is portable, unlike xxhash64).
    */
  def splitByContentHash(content: Column, trainPercent: Int): Column = {
    val bucket = conv(substring(md5(content), 1, 8), 16, 10).cast("long") % 100
    when(bucket < trainPercent, lit("train")).otherwise(lit("valid"))
  }

  /** Leakage-safe train/valid split: every member of the same near-dup
    * CLUSTER lands in the same split. A doc-level content-hash split leaks
    * — two near-identical docs can straddle the boundary, putting
    * paraphrases of training content into the eval set — so the split
    * bucket is computed on the TRANSITIVE component label
    * ([[Dedup.connectedComponents]] over the supplied near-dup pair list)
    * and inherited by every member. Scale shape: CC runs on ids only; the
    * final join is id→(component, split), broadcast-or-shuffle by AQE.
    * `salt` decorrelates this hash from any upstream content-hash gates
    * (the same trap `llm_corpus_pipeline`'s salted split documents).
    */
  def splitByComponent(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      trainPercent: Int = 90,
      salt: String = "split"
  ): DataFrame = {
    val comp = Dedup.connectedComponents(df.select(col(idCol)), idCol, pairs)
    df.join(comp, Seq(idCol))
      .withColumn(
        "split",
        splitByContentHash(concat(col("component").cast("string"), lit("|"), lit(salt)), trainPercent)
      )
  }

  /** Deterministic sequence packing (concat-and-chunk): assign every doc a
    * position in a stream of fixed-`budgetTokens` training sequences, the
    * way GPT-style pipelines concatenate tokenized docs and slice the
    * stream into equal windows. Docs are sharded by a portable content-id
    * hash and packed per shard in deterministic id order:
    *
    *   - `shard`       — md5(id) % `shards`; each shard is an independent
    *                     token stream, so packing parallelizes across
    *                     shards with NO global order (a single total order
    *                     would serialize a 100 TB corpus through one task).
    *   - `seq_id`      — index (within shard) of the sequence where the
    *                     doc's tokens start,
    *   - `seq_offset`  — token offset inside that sequence,
    *   - `n_seqs`      — how many sequences the doc spans (docs straddle
    *                     boundaries; that is the concat-and-chunk
    *                     contract — no padding, perfect fill).
    *
    * One window per shard (a hash shuffle + per-shard sort). Everything is
    * integer arithmetic on the running token count: reproducible across
    * engines and runs, no RNG, no driver state. Choose `shards` ≈ cluster
    * parallelism; each shard's packing is contiguous and deterministic.
    *
    * PRECONDITION: `idCol` values must be unique — `(shard, idCol)` is the
    * window's total order, and with duplicate ids the ROWS-framed cumsum
    * assigns the duplicates' slots in a tie order that can differ across
    * runs/engines. (Aggregate totals would still agree; the per-row
    * seq_id/seq_offset assignment would not be reproducible.)
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      nTokensCol: String,
      budgetTokens: Int,
      shards: Int
  ): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(shards > 0, "shards must be positive")
    val shard = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long"),
      lit(shards.toLong)
    )
    // ROWS frame (not the orderBy default RANGE): duplicate idCol values
    // must each advance the running count by their own token length, and
    // the oracle's cumsum is ROWS-framed.
    val w = Window
      .partitionBy("shard")
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = lit(budgetTokens.toLong)
    // `div` = integer division on longs: exact at any cumulative token
    // count, where floor() over Spark's double-valued `/` loses exactness
    // past 2^53 (a realistic corpus-scale token total).
    df.withColumn("shard", shard)
      .withColumn("__cum", sum(col(nTokensCol)).over(w))
      .withColumn("__start", (col("__cum") - col(nTokensCol)).cast("long"))
      .withColumn("seq_id", expr(s"__start div ${budgetTokens}L"))
      .withColumn("seq_offset", pmod(col("__start"), b).cast("long"))
      .withColumn(
        // greatest(..., 0): Spark `div` truncates toward zero but the
        // oracle's `//` floors — they only agree on non-negative operands,
        // and a zero-token doc at a shard head has __cum - 1 = -1. The
        // clamp makes a shard-head empty doc report n_seqs = 1 (a
        // zero-width slot at start 0); an empty doc whose start falls
        // exactly on a positive budget boundary (__cum = k·budget, k >= 1)
        // reports n_seqs = 0 — both engines compute the identical clamped
        // formula (the oracle mirrors the greatest()), so the gate covers
        // both cases.
        "n_seqs",
        expr(s"greatest(__cum - 1L, 0L) div ${budgetTokens}L") - col("seq_id") + lit(1L)
      )
      .drop("__cum", "__start")
  }

  /** No-split sequence packing: next-fit-decreasing bin packing of whole
    * documents into fixed-capacity training bins — the alternative to
    * [[packSequences]] when documents must NOT be cut at sequence
    * boundaries (truncation hurts: Ding et al. 2024, "Fewer Truncations
    * Improve Language Modeling", uses best-fit-decreasing; next-fit-
    * decreasing is the member of the family whose packing state is O(1) —
    * current bin + remaining capacity — so the per-shard fold is engine-
    * replayable, at a bounded cost: NFD uses ≤ 2·OPT bins, FFD/BFD
    * ≤ 11/9·OPT).
    *
    * Rule: within each md5 shard, docs in (n_tokens DESC, id ASC) order; a
    * doc opens a new bin iff it exceeds the current bin's remaining
    * capacity; docs longer than `capacity` get a bin alone (remaining
    * clamps to 0). Scale shape: the only shuffle is the per-shard regroup;
    * the fold runs over one shard's (n_tokens, id) pairs — size the shard
    * count so a shard's doc COUNT fits an in-memory array (ids + lengths
    * only, never text; 10⁶ docs/shard ≈ 16 MB). Deterministic: md5
    * sharding, total (−n_tokens, id) order, sequential fold.
    */
  def packBinsNextFit(
      df: DataFrame,
      idCol: String,
      nTokensCol: String,
      capacity: Int,
      shards: Int
  ): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    require(shards > 0, "shards must be positive")
    val cap = lit(capacity.toLong)
    val shard = pmod(
      conv(substring(md5(col("__id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(shards.toLong)
    )
    val ordered = df
      .select(col(idCol).as("__id"), col(nTokensCol).cast("long").as("__t"))
      .withColumn("shard", shard)
      .groupBy("shard")
      .agg(
        array_sort(collect_list(struct((-col("__t")).as("nt"), col("__id").as("id"), col("__t").as("t"))))
          .as("__docs")
      )
    // Fold state: (assigns: array<struct<id, bin>>, bin: current bin index,
    // rem: remaining capacity). The docs array is referenced exactly once,
    // so projection collapse stays linear.
    val packed = aggregate(
      col("__docs"),
      struct(
        typedlit(Seq.empty[(Long, Long)]).cast("array<struct<id:bigint,bin:bigint>>").as("assigns"),
        lit(-1L).as("bin"),
        lit(0L).as("rem")
      ),
      (acc, d) => {
        val fits = d.getField("t") <= acc.getField("rem")
        val bin = when(fits, acc.getField("bin")).otherwise(acc.getField("bin") + 1L)
        val rem = when(fits, acc.getField("rem") - d.getField("t"))
          .otherwise(greatest(cap - d.getField("t"), lit(0L)))
        struct(
          concat(
            acc.getField("assigns"),
            array(struct(d.getField("id").as("id"), bin.as("bin")))
          ).as("assigns"),
          bin.as("bin"),
          rem.as("rem")
        )
      },
      acc => acc.getField("assigns")
    )
    ordered
      .select(col("shard"), explode(packed).as("__a"))
      .select(
        col("__a.id").as(idCol),
        col("shard"),
        col("__a.bin").as("bin")
      )
  }

  /** Deterministic training-order assignment ("corpus shuffle"): LLM
    * training consumes the corpus in a pseudorandom order that must be
    * reproducible (checkpoint resume mid-epoch; ablation reruns) — but a
    * literal ORDER BY rand() is neither reproducible nor scalable (one
    * total order serializes a 100 TB corpus through a single sort). Each
    * row instead gets
    *
    *   - `shard` — md5(seed ‖ id) % `shards`: which output file/stream,
    *   - `pos`   — its 0-based rank inside the shard, ordered by the same
    *     hash (id tie-break).
    *
    * A reader that round-robins the shard files in `pos` order replays one
    * fixed pseudorandom permutation per seed; a new seed is a fresh
    * permutation (new epoch). One hash shuffle + per-shard sort — packing
    * parallelizes across shards exactly like [[packSequences]], and the
    * md5 hash makes the permutation engine-portable (no RNG state).
    *
    * Duplicate `idCol` values are safe here (unlike [[packSequences]])
    * WITH one precise boundary: equal ids share (hash, shard) and occupy
    * adjacent positions, so the OUTPUT multiset of (id, shard, pos) rows
    * is identical across runs and engines — but which PHYSICAL row of a
    * duplicated id takes which of those adjacent positions is not
    * pinned, so any non-id payload columns riding through (text, source,
    * …) get a nondeterministic (payload, pos) association under
    * duplicate ids. Callers needing payload determinism must either
    * dedup/disambiguate ids first or select only (idCol, shard, pos)
    * from the result and re-join on a unique key.
    */
  def shuffleOrder(df: DataFrame, idCol: String, seed: Long, shards: Int): DataFrame = {
    require(shards > 0, "shards must be positive")
    // 15 hex chars = 60 bits: exact in a signed long (conv returns the
    // value as a decimal string) and exact in the oracle's UBIGINT.
    val h = conv(
      substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 15),
      16,
      10
    ).cast("long")
    val w = Window.partitionBy("shard").orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__h")
  }

  /** Training-mixture ledger: per-(source, stratum) doc and token counts
    * plus each cell's token-proportional share of the corpus — the table a
    * mixture designer reads before assigning per-source rates to
    * [[stratifiedSampleByHash]]. One hash aggregation + a 1-row total
    * broadcast; the share division is exact ints into IEEE double
    * (engine-portable).
    */
  def sourceMixture(
      df: DataFrame,
      sourceCol: String,
      strataCol: String,
      textCol: String
  ): DataFrame = {
    val withN = df.select(
      col(sourceCol),
      col(strataCol),
      size(TextStats.tokens(col(textCol))).cast("long").as("__n")
    )
    val grouped = withN
      .groupBy(sourceCol, strataCol)
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
    grouped
      .crossJoin(withN.agg(sum(col("__n")).as("__total"))) // 1-row scalar
      .withColumn("token_share", col("n_tokens").cast("double") / col("__total"))
      .drop("__total")
  }

  /** Deterministic stratified downsampling: keep a row iff its content-hash
    * bucket falls under the stratum's rate. Unlike `df.sample`, this is
    * reproducible across runs/engines (no RNG state), duplicate-stable
    * (identical content always sampled together), and needs no shuffle or
    * per-stratum pass — the rate map rides into the plan as a CASE chain.
    * Strata missing from `rates` fall back to `defaultPercent`.
    */
  def stratifiedSampleByHash(
      df: DataFrame,
      strataCol: String,
      content: Column,
      rates: Map[String, Int],
      defaultPercent: Int = 100
  ): DataFrame = {
    val bucket = conv(substring(md5(content), 1, 8), 16, 10).cast("long") % 100
    val rate = rates.foldLeft(lit(defaultPercent)) { case (acc, (stratum, pct)) =>
      when(col(strataCol) === stratum, lit(pct)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Per-key document cap (the RefinedWeb/C4-style per-domain limit): keep
    * at most `cap` docs per key, chosen by a seeded md5 order over ids so
    * the kept subset is deterministic across runs and engines and unbiased
    * by ingestion order (a plain "first N" would keep whatever the scan
    * happened to read first). One shuffle on the key; the window ranks
    * each key's group only — never a global sort — and the keys a cap
    * targets are exactly the heavy hitters, so downstream skew SHRINKS to
    * at most `cap` rows per key by construction.
    */
  def capPerKey(
      df: DataFrame,
      idCol: String,
      keyCol: String,
      cap: Int,
      seed: Long = 7L
  ): DataFrame = {
    require(cap > 0, "cap must be positive")
    val h = conv(
      substring(md5(concat_ws(":", lit("cap"), lit(seed.toString), col(idCol).cast("string"))), 1, 8),
      16,
      10
    ).cast("long")
    val w = Window.partitionBy(keyCol).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap)
      .drop("__h", "__rk")
  }

  /** Deterministic proportional source interleaving for training order —
    * the mixture SCHEDULER to [[sourceMixture]]'s ledger and
    * [[stratifiedSampleByHash]]'s sampler: within each shard, rows of
    * each source appear at a rate proportional to its weight, decided by
    * the classic stride key `posInSource / weight` (stride scheduling —
    * source k's i-th row sorts at i/w_k, so a weight-5 source lands 5
    * rows in the time a weight-1 source lands one). Per-shard orders,
    * never a global one — same 100 TB posture as [[shuffleOrder]], whose
    * seeded-md5 shard/order machinery this reuses (and whose
    * duplicate-id payload caveat applies unchanged).
    *
    * Engine-exact: the stride is ONE IEEE division of exact integers and
    * ties break on (source, id) — a total order both engines replay.
    * Sources missing from `weights` get `defaultWeight`.
    */
  def interleaveBySource(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      weights: Map[String, Int],
      seed: Long,
      shards: Int,
      defaultWeight: Int = 1
  ): DataFrame = {
    require(shards > 0, "shards must be positive")
    require(defaultWeight > 0 && weights.values.forall(_ > 0), "weights must be positive")
    val h = conv(
      substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 15),
      16,
      10
    ).cast("long")
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (s, wt)) =>
      when(col(sourceCol) === s, lit(wt)).otherwise(acc)
    }
    val wSrc = Window.partitionBy(col("shard"), col(sourceCol)).orderBy(col("__h"), col(idCol))
    val wShard = Window.partitionBy("shard").orderBy(col("__stride"), col(sourceCol), col(idCol))
    df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
      .withColumn("__stride", row_number().over(wSrc).cast("double") / w.cast("double"))
      .withColumn("pos", (row_number().over(wShard) - 1).cast("long"))
      .drop("__h", "__stride")
  }

  /** Quality-thresholded corpus selection under a token budget — "take the
    * best data that fits" (the data-selection step of mixture design),
    * in the form that scales: instead of globally sorting the corpus by
    * quality and cutting at a running token total (a single total order —
    * the one thing a 100 TB job must never do), select WHOLE QUALITY
    * LEVELS from the top down while their cumulative token count fits in
    * `budgetTokens`. The only ordered structure is the LEVEL table (one
    * row per distinct `levelCol` value — callers bucket continuous scores
    * first, e.g. `round(quality, 1)`, keeping it tiny), so the window
    * sort is level-cardinality, never corpus-cardinality; docs are then
    * kept via one semi-join on their level.
    *
    * All-or-nothing per level makes the answer order-independent and
    * engine-exact: a partially-taken level would depend on WHICH docs of
    * the boundary level are chosen — any such tie-break is a policy, and
    * the deterministic ones (hash order) compose as
    * `stratifiedSampleByHash` on the boundary level afterwards.
    *
    * Returns the selected rows of `df` unchanged.
    */
  def selectUnderTokenBudget(
      df: DataFrame,
      levelCol: String,
      nTokensCol: String,
      budgetTokens: Long
  ): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be non-negative")
    val levels = df.groupBy(col(levelCol)).agg(sum(col(nTokensCol)).as("__lvl_tokens"))
    // single-partition window, bounded by level cardinality (see scaladoc)
    val w = Window.orderBy(col(levelCol).desc).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keep = levels
      .withColumn("__cum", sum(col("__lvl_tokens")).over(w))
      .filter(col("__cum") <= budgetTokens)
      .select(col(levelCol))
    df.join(keep, Seq(levelCol), "left_semi")
  }

  /** Curriculum training order: documents bucketed into STAGES by fixed
    * score thresholds, then seeded-shuffled WITHIN each stage, per shard —
    * so training consumes stage after stage (curriculum learning,
    * Bengio et al. 2009) while each stage's internal order stays an
    * unbiased hash shuffle. Thresholds are explicit plan literals (derive
    * them from [[Sketches.hashSampledQuantiles]] upstream when quantile
    * boundaries are wanted) so the stage rule is engine-exact — no global
    * score sort, no rank-based ntile; per-shard windows only, the same
    * 100 TB posture as [[shuffleOrder]]. `descendingStages` flips the
    * stage consumption order (quality curricula train high-score first).
    * Output adds (stage, shard, pos).
    */
  def curriculumOrder(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      thresholds: Seq[Double],
      seed: Long,
      shards: Int,
      descendingStages: Boolean = false
  ): DataFrame = {
    require(shards > 0, "shards must be positive")
    require(thresholds.nonEmpty, "need at least one threshold")
    require(thresholds == thresholds.sorted, "thresholds must be ascending")
    val stage = thresholds.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(col(scoreCol) >= t, lit(1L)).otherwise(lit(0L))
    }
    val h = conv(
      substring(md5(concat(lit(s"cur:$seed:"), col(idCol).cast("string"))), 1, 15),
      16,
      10
    ).cast("long")
    val w = Window.partitionBy("shard").orderBy(col("__sk"), col("__h"), col(idCol))
    df.withColumn("stage", stage)
      .withColumn("__sk", if (descendingStages) -col("stage") else col("stage"))
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__sk", "__h")
  }

  /** Temperature-scaled source sampling weights at α = 1/2 — the standard
    * multilingual/multi-source rebalancing rule (sample source k at rate
    * ∝ c_k^α, α < 1, so low-resource sources are up-weighted relative to
    * their natural share; Arivazhagan et al. 2019 §5, XLM-R). α is
    * HARDWIRED to 1/2 because c^0.5 is `sqrt` — the one power IEEE-754
    * requires correctly rounded, so every weight is bit-identical across
    * engines, where a general `pow(c, α)` is not portable. Output per
    * source: (n_docs, n_tokens, nat_share = c_k/Σc, w_rel_max =
    * √c_k/√c_max, temp_weight = √c_k / Σ_j √c_j).
    *
    * The normalizing Σ_j √c_j is a sum of DOUBLES — order-dependent in
    * IEEE — so it is folded in a FIXED order (sources ascending) over the
    * collected per-source list, never left to aggregation order. Safe
    * because the fold is over the SOURCE table (one row per source), not
    * the corpus: the corpus-sized work is one map-side-combined groupBy.
    */
  def temperatureMixture(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val withN = df.select(
      col(sourceCol),
      size(TextStats.tokens(col(textCol))).cast("long").as("__n")
    )
    val grouped = withN
      .groupBy(sourceCol)
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
    val totals = grouped.agg(
      sum(col("n_tokens")).as("__total"),
      max(col("n_tokens")).as("__maxtok"),
      aggregate(
        transform(
          array_sort(collect_list(struct(col(sourceCol).as("s"), col("n_tokens").as("t")))),
          x => sqrt(x.getField("t").cast("double"))
        ),
        lit(0.0),
        (acc, x) => acc + x
      ).as("__denom")
    )
    grouped
      .crossJoin(totals) // 1-row scalar
      .select(
        col(sourceCol),
        col("n_docs"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / col("__total").cast("double")).as("nat_share"),
        (sqrt(col("n_tokens").cast("double")) / sqrt(col("__maxtok").cast("double")))
          .as("w_rel_max"),
        (sqrt(col("n_tokens").cast("double")) / col("__denom")).as("temp_weight")
      )
  }

  /** UniMax token-budget allocation (Chung et al. 2023): split a total
    * training budget across sources as EVENLY as possible subject to a
    * per-source epoch cap — no source repeats more than `maxEpochs` times.
    * Classic waterfilling: sources sorted by capacity (cap_k = c_k ·
    * maxEpochs) ascending; a source is SATURATED (gets its full cap) iff
    * giving every not-yet-saturated source an equal share would exceed its
    * cap; the rest all get the common water level θ = (B − Σ saturated
    * caps) / #unsaturated. The saturation test is PURE INTEGER
    * (cap·remaining ≤ B − prefix — no float water level to compare
    * against), θ is one trailing IEEE division, and epochs = alloc/c_k one
    * more — so the whole allocation is engine-exact.
    *
    * Scale shape: the corpus is touched once (map-side-combined token
    * count per source); everything after runs on the SOURCE table, whose
    * single-partition window sort is source-cardinality (tens to
    * thousands), never corpus-cardinality — same posture as
    * [[selectUnderTokenBudget]]'s level table. Overflow bound:
    * cap · n_sources must stay under 2^63 (at 100 TB ≈ 2.5·10^13 tokens ×
    * epochs × sources ~ 10^17, three orders inside).
    *
    * Output per source: (n_tokens, cap_tokens, saturated, alloc_tokens,
    * epochs). Σ alloc = min(B, Σ cap); epochs ≤ maxEpochs everywhere.
    */
  def uniMaxAllocation(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      budgetTokens: Long,
      maxEpochs: Int
  ): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be non-negative")
    uniMaxCore(df, sourceCol, textCol, lit(budgetTokens), maxEpochs)
  }

  /** [[uniMaxAllocation]] with the budget given as a fraction (permille) of
    * TOTAL capacity instead of an absolute count — the form a registered
    * query can pin across scale factors, since the budget tracks the data.
    * B = (permille · Σ cap) / 1000 in integer arithmetic.
    */
  def uniMaxAllocationPermille(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      budgetPermille: Int,
      maxEpochs: Int
  ): DataFrame = {
    require(budgetPermille >= 0 && budgetPermille <= 1000, "need 0 <= budgetPermille <= 1000")
    // `div`, not `/`: Spark's `/` on longs is DOUBLE division; the budget
    // must stay an exact integer for the saturation test
    uniMaxCore(df, sourceCol, textCol, expr(s"(__total_cap * $budgetPermille) div 1000"), maxEpochs)
  }

  private def uniMaxCore(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      budget: Column,
      maxEpochs: Int
  ): DataFrame = {
    require(maxEpochs > 0, "maxEpochs must be positive")
    val grouped = df
      .select(col(sourceCol), size(TextStats.tokens(col(textCol))).cast("long").as("__n"))
      .groupBy(sourceCol)
      .agg(sum(col("__n")).as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
    val totals = grouped.agg(
      count(lit(1)).as("__n_src"),
      sum(col("cap_tokens")).as("__total_cap")
    )
    // single-partition windows over the source table (see scaladoc)
    val byCap = Window.orderBy(col("cap_tokens"), col(sourceCol))
    val ranked = grouped
      .crossJoin(totals) // 1-row scalar
      .withColumn("__b", budget)
      .withColumn("__i", row_number().over(byCap).cast("long"))
      .withColumn(
        "__prefix",
        coalesce(sum(col("cap_tokens")).over(byCap.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      )
      .withColumn(
        "__cond",
        (col("cap_tokens") * (col("__n_src") - col("__i") + 1L) <= col("__b") - col("__prefix"))
          .cast("int")
      )
      // waterfilling saturation is a PREFIX of the cap-ascending order;
      // the running min enforces it exactly even at ties
      .withColumn(
        "saturated",
        min(col("__cond")).over(byCap.rowsBetween(Window.unboundedPreceding, 0)) === 1
      )
    val satTotals = ranked.agg(
      sum(when(col("saturated"), col("cap_tokens")).otherwise(lit(0L))).as("__sat_cap"),
      sum(col("saturated").cast("long")).as("__k")
    )
    ranked
      .crossJoin(satTotals) // 1-row scalar
      .withColumn(
        "alloc_tokens",
        when(col("saturated"), col("cap_tokens").cast("double"))
          .otherwise(
            (col("__b") - col("__sat_cap")).cast("double") /
              (col("__n_src") - col("__k")).cast("double")
          )
      )
      .withColumn("epochs", col("alloc_tokens") / col("n_tokens").cast("double"))
      .select(col(sourceCol), col("n_tokens"), col("cap_tokens"), col("saturated"), col("alloc_tokens"), col("epochs"))
  }

  /** Per-source corpus audit report — the "data card" ledger a pipeline
    * publishes before training: document/token volume, corpus-wide
    * exact-duplicate incidence, PII incidence, Gopher-rule pass rate, and
    * language spread, one row per source. Every counter is an exact
    * integer (the mean is the single trailing division), so the whole
    * report hash-gates cross-engine.
    *
    * Scale: one corpus scan computes the per-row signals (Gopher flags,
    * PII match — both zero-shuffle projections); the only shuffles are the
    * content-hash duplicate-key aggregation (32-char hashes, never text —
    * the [[Dedup.dedupExact]] shape) and the final source rollup
    * (map-side combined to |sources|·|langs| rows).
    */
  def corpusReport(
      df: DataFrame,
      sourceCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"
  ): DataFrame = {
    val keyed = df.withColumn("__key", Fingerprints.contentKeyMd5(col(textCol)))
    val dupKeys = keyed
      .groupBy("__key")
      .agg(count(lit(1)).as("__nk"))
      .filter(col("__nk") > 1)
      .select(col("__key"), lit(true).as("__dup"))
    TextStats
      .gopherRules(keyed.join(dupKeys, Seq("__key"), "left"))
      .withColumn("__pii", TextStats.redactPii(col(textCol)) =!= col(textCol))
      .groupBy(sourceCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        (sum("n_tokens").cast("double") / count(lit(1))).as("mean_doc_tokens"),
        sum(when(coalesce(col("__dup"), lit(false)), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("__pii"), 1L).otherwise(0L)).as("n_pii_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_gopher_keep"),
        countDistinct(col(langCol)).as("n_langs")
      )
  }
}
