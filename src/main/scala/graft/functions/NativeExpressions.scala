package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.{GraftSqlShim => ExpressionUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the llmops hot paths.
  *
  * The higher-order-function formulations (see Fingerprints/Similarity) are
  * semantically identical but evaluate interpreted lambdas with per-element
  * array allocation — ~3 µs per hash. These expressions run the same math
  * as tight primitive loops (~20 ns per hash): MinHash over a 5000-doc
  * corpus drops from minutes to seconds, and the gap widens linearly with
  * corpus size, so at 100 TB this is the difference between feasible and
  * not.
  *
  * The kernel expressions implement `doGenCode` (not `CodegenFallback`):
  * the generated code emits a static call into the [[NativeMath]] kernels
  * — the projection stays inside whole-stage codegen with no per-row
  * interpreted-eval detour, and because `eval` calls the *same* kernel,
  * interpreted and compiled paths are bit-identical by construction. They
  * also override `foldable`, so literal-argument calls constant-fold at
  * optimization time. The one exception is [[BroadcastValue]], a
  * non-foldable constant leaf whose `eval` returns a cached value.
  */
object native {

  def minhashSignature(shingles: Column, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(shingles), numHashes))

  def simhash64(tokens: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokens)))

  def simhash56Md5(tokens: Column): Column =
    ExpressionUtils.column(SimHash56Md5(ExpressionUtils.expression(tokens)))

  def tokenShingles(tokens: Column, k: Int): Column =
    ExpressionUtils.column(TokenShingles(ExpressionUtils.expression(tokens), k))

  def tokenWindows(tokens: Column, k: Int): Column =
    ExpressionUtils.column(TokenWindows(ExpressionUtils.expression(tokens), k))

  def arrayDot(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def arrayCosine(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayCosine(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def arrayL2Sq(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayL2Sq(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def cellTopK(vec: Column, cents: Column, upTo: Int): Column =
    ExpressionUtils.column(CellTopK(ExpressionUtils.expression(vec), ExpressionUtils.expression(cents), upTo))

  def codewordArgmin(sv: Column, entries: Column): Column =
    ExpressionUtils.column(CodewordArgmin(ExpressionUtils.expression(sv), ExpressionUtils.expression(entries)))

  /** Symmetric int8 quantization of a numeric vector — see
    * [[QuantizeInt8]].
    */
  def quantizeInt8(vec: Column): Column =
    ExpressionUtils.column(QuantizeInt8(ExpressionUtils.expression(vec)))

  /** The value held by `bc` (Catalyst data of type `dataType`) as a
    * column — see [[BroadcastValue]].
    */
  def broadcastValue(bc: Broadcast[_ <: AnyRef], dataType: DataType): Column =
    ExpressionUtils.column(BroadcastValue(bc, dataType))

  /** Per-group bottom-`k` of `e` by its natural (struct) ordering, as ONE
    * partially-aggregated pass — Spark's own bounded-top-k collector
    * (`CollectTopK`), exposed via the aggregate-package shim. The result
    * array's order is undefined; `sort_array` it before using positions.
    */
  def collectBottomK(e: Column, k: Int): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectShim
        .collectBottomK(ExpressionUtils.expression(e), k)
    )
}

private[functions] object GenUtil {
  /** Static-call target prefix for generated Java ([[NativeMath]]'s Scala
    * object compiles to static forwarders on the companion class).
    */
  val M = "graft.functions.NativeMath"
}

/** MinHash signature: sig[s] = min over shingles of xxhash64(shingle, seed=s).
  * Input array<string>, output array<long> of length `numHashes`.
  */
final case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {

  override def foldable: Boolean = child.foldable

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    NativeMath.minhashSignature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${GenUtil.M}.minhashSignature($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Distinct k-token shingles joined by single spaces, first-occurrence
  * order (identical to the `array_distinct(transform(...concat_ws...))`
  * HOF formulation and to DuckDB's `list_distinct(list_transform(...))`
  * oracle). Docs shorter than k tokens yield an empty array. Input
  * array<string>, output array<string>.
  */
final case class TokenShingles(child: Expression, k: Int) extends UnaryExpression {

  override def foldable: Boolean = child.foldable

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "token_shingles"

  override protected def nullSafeEval(input: Any): Any =
    NativeMath.tokenShingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${GenUtil.M}.tokenShingles($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}

/** ALL k-token windows joined by single spaces, in positional order with
  * duplicates kept (identical to the
  * `transform(sequence(0, n-k), i -> concat_ws(' ', slice(toks, i+1, k)))`
  * HOF formulation and to DuckDB's
  * `toks[pos+1:pos+k]` + `array_to_string` replay) — the sliding-window
  * sibling of [[TokenShingles]], for span-level dedup where POSITION is
  * the payload. Docs shorter than k yield an empty array. Input
  * array<string>, output array<string>.
  */
final case class TokenWindows(child: Expression, k: Int) extends UnaryExpression {

  override def foldable: Boolean = child.foldable

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "token_windows"

  override protected def nullSafeEval(input: Any): Any =
    NativeMath.tokenWindows(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${GenUtil.M}.tokenWindows($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): TokenWindows =
    copy(child = newChild)
}

/** 64-bit SimHash over a token array: per-token xxhash64 (seed 42, same as
  * the built-in `xxhash64`), each bit votes ±1, sign of the vote sets the
  * output bit. Input array<string>, output long.
  */
final case class SimHash64(child: Expression) extends UnaryExpression {

  override def foldable: Boolean = child.foldable

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    NativeMath.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${GenUtil.M}.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 56-bit portable SimHash over a token array: per-token hash = first 14
  * hex chars of MD5 as two 28-bit halves (bit-identical to Spark's
  * `conv(substring(md5(t),1,7),16,10) << 28 | conv(substring(md5(t),8,7),
  * 16,10)` and to DuckDB's equivalent — the cross-engine-reproducible
  * sibling of [[SimHash64]]). Each bit votes ±1; sign sets the bit. Input
  * array<string>, output long (always non-negative: 56 < 63 bits).
  */
final case class SimHash56Md5(child: Expression) extends UnaryExpression {

  override def foldable: Boolean = child.foldable

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash56_md5"

  override protected def nullSafeEval(input: Any): Any =
    NativeMath.simhash56Md5(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${GenUtil.M}.simhash56Md5($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash56Md5 =
    copy(child = newChild)
}

private[functions] trait ArrayNumericBinary extends BinaryExpression {

  // participate in Catalyst ConstantFolding: literal-argument calls
  // (e.g. plane signatures over literal hyperplanes in SQL) fold to
  // Literals at optimization time instead of evaluating per row
  override def foldable: Boolean = left.foldable && right.foldable

  override def dataType: DataType = DoubleType

  // result can be null even for non-null arrays (length mismatch / null
  // element) — the kernel's boxed return carries that tri-state
  override def nullable: Boolean = true

  protected def kernel: String // NativeMath method name

  @transient protected lazy val codeA: Int = NativeMath.typeCode(left.dataType)
  @transient protected lazy val codeB: Int = NativeMath.typeCode(right.dataType)

  override protected def nullSafeEval(l: Any, r: Any): Any

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val tmp = ctx.freshName("res")
        s"""
           |java.lang.Double $tmp = ${GenUtil.M}.$kernel($a, $b, $codeA, $codeB);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
         """.stripMargin
      }
    )
}

/** Dot product of two numeric arrays, accumulated left-to-right in double
  * (deterministic; identical order to the HOF `aggregate` formulation).
  * Null if either array, any touched element, or the lengths mismatch
  * (matching the HOF reference — never a silent common-prefix result).
  */
final case class ArrayDot(left: Expression, right: Expression) extends ArrayNumericBinary {

  override def prettyName: String = "array_dot"

  override protected def kernel: String = "dot"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeMath.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], codeA, codeB)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance: Σ (aᵢ − bᵢ)², every difference/square/sum in
  * double, accumulated left-to-right — bit-identical to the HOF
  * formulation it replaces (association order preserved). The PQ
  * assignment/encode inner loop (Similarity.pqCodebooks/pqEncode):
  * evaluated n·m·ks times per fit pass, the single hottest scalar in the
  * persisted-index family.
  */
final case class ArrayL2Sq(left: Expression, right: Expression) extends ArrayNumericBinary {

  override def prettyName: String = "array_l2sq"

  override protected def kernel: String = "l2sq"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeMath.l2sq(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], codeA, codeB)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Symmetric int8 quantization: array<float|double|int|long> in,
  * array<int> out, one static [[NativeMath.quantizeInt8]] call per row
  * (see there for the exact contract). Bit-identical to the HOF
  * `transform(v, x -> CASE WHEN s = 0 THEN 0 ELSE CAST(floor(CAST(x AS
  * DOUBLE) * 127.0 / s + 0.5) AS INT) END)` with `s =
  * array_max(transform(v, x -> abs(CAST(x AS DOUBLE))))`, whose lambda
  * re-evaluates `s` per element (O(d²) interpreted work per row).
  * `failOnError` is the ANSI mode of that form's int cast, taken from the
  * session when the expression is built, as Spark's `Cast` takes it.
  */
final case class QuantizeInt8(child: Expression, failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  override def foldable: Boolean = child.foldable

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def prettyName: String = "quantize_int8"

  @transient private lazy val code: Int = NativeMath.typeCode(child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    NativeMath.quantizeInt8(input.asInstanceOf[ArrayData], code, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${GenUtil.M}.quantizeInt8($c, $code, $failOnError);")

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

/** Top-`upTo` centroids by (cosine desc, ncid desc ⇔ cid asc) — the IVF
  * cell-ranking pass as ONE static kernel call per row (see
  * [[NativeMath.cellTopK]] for the exact ordering contract). `left` is
  * the vector column, `right` the broadcast single-row centroid entries
  * array<struct<__ncid: long, __cv: array<double>>>; output
  * array<struct<__csim: double, __ncid: long>>, ordered, length
  * min(upTo, cells).
  */
final case class CellTopK(left: Expression, right: Expression, upTo: Int) extends BinaryExpression {

  require(upTo > 0, "upTo must be positive")

  override def foldable: Boolean = left.foldable && right.foldable

  override def dataType: DataType = ArrayType(
    StructType(
      StructField("__csim", DoubleType, nullable = true) ::
        StructField("__ncid", LongType, nullable = false) :: Nil
    ),
    containsNull = false
  )

  override def prettyName: String = "cell_top_k"

  @transient private lazy val vcode: Int = NativeMath.typeCode(left.dataType)
  @transient private lazy val ccode: Int = NativeMath.typeCode(
    right.dataType
      .asInstanceOf[ArrayType]
      .elementType
      .asInstanceOf[StructType](1)
      .dataType
  )

  override protected def nullSafeEval(vec: Any, cents: Any): Any =
    NativeMath.cellTopK(vec.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData], vcode, ccode, upTo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => s"${ev.value} = ${GenUtil.M}.cellTopK($a, $b, $vcode, $ccode, $upTo);"
    )

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CellTopK =
    copy(left = newLeft, right = newRight)
}

/** Argmin codeword by (l2sq asc, cid asc) — the PQ assignment/encode
  * inner loop as ONE static kernel call per (row, subspace) (see
  * [[NativeMath.codewordArgmin]]). `left` is the subvector, `right` the
  * subspace's codeword entries array<struct<__cid: int, __cv:
  * array<double>>>; output is the winning entry (same struct type), null
  * when the entries array is empty.
  */
final case class CodewordArgmin(left: Expression, right: Expression) extends BinaryExpression {

  override def nullable: Boolean = true

  override def foldable: Boolean = left.foldable && right.foldable

  override def dataType: DataType = right.dataType.asInstanceOf[ArrayType].elementType

  override def prettyName: String = "codeword_argmin"

  @transient private lazy val scode: Int = NativeMath.typeCode(left.dataType)
  @transient private lazy val ccode: Int = NativeMath.typeCode(
    right.dataType
      .asInstanceOf[ArrayType]
      .elementType
      .asInstanceOf[StructType](1)
      .dataType
  )

  override protected def nullSafeEval(sv: Any, entries: Any): Any =
    NativeMath.codewordArgmin(sv.asInstanceOf[ArrayData], entries.asInstanceOf[ArrayData], scode, ccode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val tmp = ctx.freshName("win")
        s"""
           |Object $tmp = ${GenUtil.M}.codewordArgmin($a, $b, $scode, $ccode);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $tmp; }
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CodewordArgmin =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity: dot / (sqrt(|a|²) * sqrt(|b|²)), all three sums
  * accumulated left-to-right in double — bit-identical to the HOF
  * formulation it replaces (association order preserved).
  */
final case class ArrayCosine(left: Expression, right: Expression) extends ArrayNumericBinary {

  override def prettyName: String = "array_cosine"

  override protected def kernel: String = "cosine"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeMath.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], codeA, codeB)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayCosine =
    copy(left = newLeft, right = newRight)
}

/** A driver-built constant that reaches the executors through a Spark
  * broadcast: every row evaluates to `bc.value`, Catalyst data of
  * `dataType`. Where a `Literal` would copy the value into the plan (its
  * description and every task's serialized plan), this leaf carries only
  * the broadcast's handle — the value ships once per executor, costs no
  * Spark job, and is removed by the ContextCleaner once the driver drops
  * the broadcast (or by `bc.destroy()`). Deliberately non-foldable, so the
  * optimizer never inlines the value into the plan.
  */
final case class BroadcastValue(bc: Broadcast[_ <: AnyRef], dataType: DataType)
    extends LeafExpression
    with CodegenFallback {

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def prettyName: String = "broadcast_value"

  override def toString: String = s"$prettyName(${bc.id})"

  // read once per deserialized expression (one per task), not per row
  @transient private lazy val value: Any = bc.value

  override def eval(input: InternalRow): Any = value
}
