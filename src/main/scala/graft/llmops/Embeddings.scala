package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-column utilities for training-data pipelines. Quantization is
  * the storage/bandwidth lever at 100 TB: an int8 vector is 4× smaller
  * than float32 and dot products on it vectorize; the scale factor rides
  * alongside for dequantization.
  *
  * Determinism: rounding is `floor(x + 0.5)` (half-up) on doubles — unlike
  * `round()`, whose half-even/half-up convention differs across engines —
  * so the DuckDB oracle reproduces every quantized byte exactly.
  */
object Embeddings {

  /** Per-vector symmetric max-abs scale (double; exact float→double). */
  def maxAbsScale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Symmetric int8 quantization: q_i = floor(x_i·127/scale + 0.5) with
    * scale = [[maxAbsScale]], clipped implicitly by construction
    * (|x_i| <= scale ⇒ |q_i| <= 127); all-zero vectors quantize to zeros
    * (scale 0 guard). One compiled O(d) pass per row
    * ([[graft.functions.QuantizeInt8]], inside whole-stage codegen),
    * bit-identical to the HOF form of the same formula — nulls, NaN, ±Inf
    * and the ANSI overflow error included. Every fit, encode and probe
    * quantizes through it.
    */
  def quantizeInt8(vec: Column): Column = graft.functions.native.quantizeInt8(vec)

  /** Per-group centroids over int8-quantized vectors, one row per
    * (group, dimension): exact integer sums into one final division, so
    * the result is identical under ANY partitioning or reduction order —
    * float centroids can't promise that (fp addition isn't associative),
    * which is why the quantized path is both the verifiable one and the
    * scale-honest one (map-side partial integer sums, shuffle = groups ×
    * dims rows). Used for cluster representatives / class prototypes in
    * curation pipelines.
    */
  /** Deterministic ±1 sign matrix for sparse random projection
    * (Achlioptas 2003's database-friendly JL variant at density 1: entries
    * ±1 uniform — the projection w·x/√d preserves pairwise distances with
    * the JL guarantee while needing only integer adds). Entry (j, i) is
    * the md5 PARITY of "rp:seed:j:i" — derived, not sampled, so the DuckDB
    * oracle reconstructs the identical matrix from the formula instead of
    * trusting an embedded literal (same discipline as the seeded-md5
    * k-means init). Matches Spark's `md5` on the same string by
    * construction (both are standard MD5 over UTF-8).
    */
  def signMatrix(outDim: Int, dim: Int, seed: Long = 7L): Array[Array[Int]] =
    Array.tabulate(outDim, dim) { (j, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d
        .digest(s"rp:$seed:$j:$i".getBytes("UTF-8"))
        .take(4)
        .map(b => f"${b & 0xff}%02x")
        .mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }

  /** Johnson–Lindenstrauss random projection of an int8-QUANTIZED vector:
    * out_j = Σ_i sign(j,i)·q_i — pure integer sums (|out_j| ≤ 127·dim), so
    * every projected coordinate is engine-exact, unlike a float-Gaussian
    * projection whose dot products are reduction-order-dependent. The
    * matrix rides into the plan as a literal (no fit, no driver jobs, no
    * per-row hashing — outDim·dim md5s happen ONCE at plan build).
    * Dimensionality is the 100 TB ANN lever: a 64→16 projection cuts
    * brute-force candidate scoring 4× and shrinks any downstream index;
    * the recall ledger prices what the distortion costs.
    */
  def randomProject(qvec: Column, matrix: Array[Array[Int]]): Column =
    // one native codegen'd arrayDot per output dim: the HOF
    // aggregate/zip_with formulation of the same left-to-right sum
    // measured ~14 s at bench SF (interpreted lambda per element per
    // dim); products are ints, so the kernel's double accumulator is
    // exact and the long cast loses nothing
    array(matrix.map { row =>
      graft.functions.native.arrayDot(qvec, array(row.map(lit): _*)).cast("long")
    }: _*)

  /** Quality-centroid affinity — the embedding-space analog of the
    * CLIP-score filter used by LAION / DataComp: score every vector by its
    * cosine against the centroid of a trusted slice (`targetFilter`, e.g.
    * a curated label), then keep the high-affinity tail. The centroid is
    * the exact-integer SUM of the target rows' int8-quantized vectors
    * (cosine is scale-invariant, so the un-divided sum IS the mean
    * direction — no float mean, no reduction-order channel); the per-row
    * score is one native [[graft.functions.native.arrayDot]] against that
    * sum plus a single trailing divide-by-norms, so `dot_c` is an exact
    * long that hash-gates cross-engine and `affinity` is deterministic
    * per-row IEEE.
    *
    * Scale: the centroid is a 1-row scalar cross join (dim longs) built
    * from one map-side-combined (dim, sum) aggregation of the TARGET slice
    * only; scoring is a zero-shuffle projection over the corpus. The
    * exactness envelope: |Σ q_i| ≤ 127·n_target, and the dot's double
    * accumulator holds products up to 127·that — exact below 2^53, i.e.
    * n_target up to ~5·10^8 per dimension. Past that, pre-divide the sums
    * (mean direction re-quantized) before scoring.
    */
  def centroidAffinity(
      df: DataFrame,
      targetFilter: Column,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val qdf = df.select(col(idCol), quantizeInt8(col(vecCol)).as("__q"), targetFilter.as("__tgt"))
    val sums = qdf
      .filter(col("__tgt"))
      .select(posexplode(col("__q")).as(Seq("__dim", "__v")))
      .groupBy("__dim")
      .agg(sum(col("__v").cast("long")).as("__s"))
    val centroid = sums
      .agg(collect_list(struct(col("__dim"), col("__s"))).as("__ds"))
      .select(transform(array_sort(col("__ds")), s => s.getField("__s")).as("__csum"))
    qdf
      .crossJoin(centroid) // 1-row scalar: constant-cost broadcast at any scale
      .select(
        col(idCol),
        col("__tgt").as("is_target"),
        graft.functions.native.arrayDot(col("__q"), col("__csum")).cast("long").as("dot_c"),
        when(
          graft.functions.native.arrayDot(col("__q"), col("__q")) === 0.0 ||
            graft.functions.native.arrayDot(col("__csum"), col("__csum")) === 0.0,
          lit(0.0)
        ).otherwise(
          graft.functions.native.arrayDot(col("__q"), col("__csum")) /
            sqrt(
              graft.functions.native.arrayDot(col("__q"), col("__q")) *
                graft.functions.native.arrayDot(col("__csum"), col("__csum"))
            )
        ).as("affinity")
      )
  }

  def quantizedCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(quantizeInt8(col(vecCol))).as(Seq("dim", "__q")))
      .groupBy(col(groupCol), col("dim").cast("long").as("dim"))
      .agg(
        sum(col("__q")).as("sum_q"),
        count(lit(1)).as("n"),
        (sum(col("__q")).cast("double") / count(lit(1))).as("centroid_q")
      )
}
