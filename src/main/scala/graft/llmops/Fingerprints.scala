package graft.llmops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Document fingerprinting: content hashes, k-token shingles, MinHash
  * signatures, SimHash. All pure per-row column expressions (higher-order
  * functions over split tokens) — no UDFs, no shuffles; signatures for a
  * 100 TB corpus compute map-side at full parallelism.
  */
object Fingerprints {

  // functions.shiftright/shiftleft take a literal Int shift; these accept a
  // column (lambda variable) shift via the SQL function registry.
  private def shr(x: Column, n: Column): Column = call_function("shiftright", x, n)
  private def shl(x: Column, n: Column): Column = call_function("shiftleft", x, n)

  /** Exact-content key: hex MD5 (cross-engine reproducible) — the groupBy
    * key for exact dedup at scale (hash the content, never shuffle the
    * content itself).
    */
  def contentKeyMd5(text: Column): Column = md5(text)

  /** Distinct k-token shingles: `w_i w_i+1 ... w_i+k-1` joined by spaces,
    * first-occurrence order; docs shorter than k tokens get an empty set
    * (matches the SQL oracle's `range(len-k+1)` semantics). Native
    * expression ([[graft.functions.TokenShingles]]); [[shinglesHof]] is the
    * semantically identical reference.
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.native.tokenShingles(TextStats.tokens(text), k)

  /** Interpreted HOF formulation of [[shingles]] — reference implementation. */
  def shinglesHof(text: Column, k: Int): Column = {
    val toks = TextStats.tokens(text)
    val n = size(toks)
    when(
      n >= k,
      array_distinct(
        transform(
          sequence(lit(0), n - k),
          i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)
        )
      )
    ).otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: for seed s in [0, numHashes), the minimum of
    * xxhash64(shingle, seed=s) over the doc's shingle set. Backed by the
    * native Catalyst expression [[graft.functions.MinHashSignature]] — a
    * row-local primitive loop, O(numHashes × shingles) per doc, fully
    * map-side (~150× faster than the same fold as higher-order functions).
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    graft.functions.native.minhashSignature(shinglesCol, numHashes)

  /** LSH band keys from a MinHash signature: `bands` hashes, each over a
    * contiguous slice of `rowsPerBand` signature entries. Docs sharing any
    * band key become candidate pairs — the O(n²) all-pairs comparison is
    * replaced by a bucketed equi-join on (band_index, band_key).
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)))
    )

  /** 64-bit SimHash over tokens: per-token xxhash64 (seed 42), vote each
    * bit ±1, take the sign. Near-duplicate docs land at small Hamming
    * distance. Native expression; bit-identical to [[simhash64Hof]] (the
    * spec asserts this).
    */
  def simhash64(text: Column): Column =
    graft.functions.native.simhash64(TextStats.tokens(text))

  /** Interpreted HOF formulation of SimHash — reference implementation. */
  def simhash64Hof(text: Column): Column = {
    val toks = TextStats.tokens(text)
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) =>
        zip_with(
          acc,
          sequence(lit(0L), lit(63L)),
          (a, i) =>
            a + when((shr(xxhash64(t), i.cast("int")).bitwiseAND(lit(1L))) === 1L, lit(1L))
              .otherwise(lit(-1L))
        )
    )
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, i) =>
        acc + when(element_at(votes, i + 1) > 0, shl(lit(1L), i.cast("int"))).otherwise(lit(0L))
    )
  }

  /** SimHash band keys: split the `simBits`-bit hash into `bands` equal bit
    * slices; docs within Hamming distance d < bands share at least one
    * band (pigeonhole) — the bucketed-join candidate generator for
    * Hamming-ball near-dup at scale.
    */
  def simhashBands(sim: Column, bands: Int, simBits: Int = 64): Column = {
    require(simBits % bands == 0, s"simBits ($simBits) must be divisible by bands ($bands)")
    val width = simBits / bands
    val mask = (1L << width) - 1
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => shr(sim, b.cast("int") * width).bitwiseAND(lit(mask))
    )
  }

  /** 56-bit *portable* SimHash: per-token 56-bit hash assembled from the
    * first 14 hex chars of the token's MD5 (two 28-bit halves), each bit
    * votes ±1, sign sets the bit. Functionally the same near-dup signal as
    * [[simhash64]], but every ingredient (md5, hex parse, shifts) is
    * reproducible in ANSI-ish SQL — the driver's DuckDB oracle recomputes
    * the full simhash independently and the outputs must hash-match.
    * 56 bits (not 64) so the value is always a non-negative long on both
    * engines — no unsigned/sign-bit gymnastics in either plan.
    *
    * Native expression ([[graft.functions.SimHash56Md5]]);
    * [[simhash56Md5Hof]] is the bit-identical built-in-function reference.
    */
  def simhash56Md5(text: Column): Column =
    graft.functions.native.simhash56Md5(TextStats.tokens(text))

  /** Winnowing fingerprints (Schleimer et al. 2003 — the MOSS document
    * fingerprint): hash every POSITIONAL k-gram (not the distinct set —
    * winnowing is order-aware), then keep the MINIMUM hash of every
    * window of `w` consecutive k-gram hashes, deduplicated. Guarantee:
    * any two docs sharing a token run of ≥ w+k−1 tokens share at least
    * one fingerprint, while the stored set is ~2/(w+1) the size of the
    * full k-gram set — the density/guarantee trade that makes winnowing
    * the standard near-copy index for plagiarism/clone detection. Docs
    * with fewer than `w` k-grams keep one fingerprint (the global min);
    * docs shorter than k tokens emit none.
    *
    * Pure per-row array expressions (no shuffle, no UDF); the 56-bit
    * md5-derived hash is the corpus-wide [[graft.llmops.Sketches.hash56]]
    * form, so fingerprint equality is engine-portable and the DuckDB
    * oracle replays the whole selection. Output: (idCol, fp) exploded —
    * the inverted-index shape a fingerprint store ingests.
    */
  def winnowFingerprints(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int
  ): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k-gram width must be positive")
    require(w >= 1, "winnowing window must be positive")
    val toks = TextStats.tokens(col(textCol))
    val n = size(toks)
    val grams = when(
      n >= k,
      transform(
        sequence(lit(0), n - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)
      )
    ).otherwise(array().cast("array<string>"))
    val hashes = transform(
      grams,
      g =>
        shl(conv(substring(md5(g), 1, 7), 16, 10).cast("long"), lit(28))
          .bitwiseOR(conv(substring(md5(g), 8, 7), 16, 10).cast("long"))
    )
    val hs = col("__hs")
    val fps = when(size(hs) === 0, array().cast("array<bigint>"))
      .when(size(hs) <= w, array(array_min(hs)))
      .otherwise(
        transform(sequence(lit(0), size(hs) - w), i => array_min(slice(hs, i + 1, lit(w))))
      )
    df.select(col(idCol), hashes.as("__hs"))
      .select(col(idCol), explode(array_distinct(fps)).as("fp"))
  }

  /** Built-in-function formulation of [[simhash56Md5]] — reference
    * implementation (conv/md5/substring are all Spark built-ins; slow
    * interpreted HOF, spec-only).
    */
  def simhash56Md5Hof(text: Column): Column = {
    def tokHash(t: Column): Column =
      shl(conv(substring(md5(t), 1, 7), 16, 10).cast("long"), lit(28))
        .bitwiseOR(conv(substring(md5(t), 8, 7), 16, 10).cast("long"))
    val toks = TextStats.tokens(text)
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 56),
      (acc, t) =>
        zip_with(
          acc,
          sequence(lit(0L), lit(55L)),
          (a, i) =>
            a + when(shr(tokHash(t), i.cast("int")).bitwiseAND(lit(1L)) === 1L, lit(1L))
              .otherwise(lit(-1L))
        )
    )
    aggregate(
      sequence(lit(0), lit(55)),
      lit(0L),
      (acc, i) =>
        acc + when(element_at(votes, i + 1) > 0, shl(lit(1L), i.cast("int"))).otherwise(lit(0L))
    )
  }

  /** Portable rolling fingerprint: h = (h*31 + md5_32(token)) mod 2^57,
    * order-sensitive (unlike the bag-of-tokens simhash). The token hash is
    * the first 8 hex chars of MD5, so DuckDB reproduces it exactly
    * (`list_reduce` over the same fold). The 57-bit modulus keeps every
    * intermediate below 2^63 — safe under ANSI mode.
    */
  def rollingFingerprintMd5(text: Column): Column = {
    val mask = (1L << 57) - 1
    aggregate(
      TextStats.tokens(text),
      lit(0L),
      (acc, t) => (acc * lit(31L) + conv(substring(md5(t), 1, 8), 16, 10).cast("long")).bitwiseAND(lit(mask))
    )
  }
}
