package graft.functions

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types._

/** Shared primitive kernels behind the native expressions: ONE
  * implementation serves both the interpreted `eval` path and the
  * generated code (the expressions' `doGenCode` emits a static call into
  * these methods via Scala's static forwarders), so whole-stage codegen
  * keeps the projection in generated code with zero per-row boxing of the
  * input row, and interpreted/compiled results are bit-identical by
  * construction.
  */
object NativeMath {

  final val TFloat = 0
  final val TDouble = 1
  final val TLong = 2
  final val TInt = 3

  def typeCode(dt: DataType): Int = dt match {
    case ArrayType(FloatType, _)   => TFloat
    case ArrayType(DoubleType, _)  => TDouble
    case ArrayType(LongType, _)    => TLong
    case ArrayType(IntegerType, _) => TInt
    case other => throw new IllegalArgumentException(s"unsupported array type: $other")
  }

  private def get(a: ArrayData, i: Int, code: Int): Double = code match {
    case TFloat  => a.getFloat(i).toDouble
    case TDouble => a.getDouble(i)
    case TLong   => a.getLong(i).toDouble
    case _       => a.getInt(i).toDouble
  }

  /** Left-to-right double dot product; null on length mismatch or any null
    * element (boxed return carries the tri-state to generated code).
    */
  def dot(a: ArrayData, b: ArrayData, ca: Int, cb: Int): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += get(a, i, ca) * get(b, i, cb)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Cosine with all three sums accumulated in one left-to-right pass. */
  def cosine(a: ArrayData, b: ArrayData, ca: Int, cb: Int): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, ca)
      val y = get(b, i, cb)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Squared L2 distance, every difference/square/sum in double,
    * accumulated left-to-right; null on length mismatch or any null
    * element — same tri-state contract as [[dot]].
    */
  def l2sq(a: ArrayData, b: ArrayData, ca: Int, cb: Int): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = get(a, i, ca) - get(b, i, cb)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Symmetric int8 quantization of one vector (see
    * [[graft.llmops.Embeddings.quantizeInt8]]): with s the max of |x| over
    * the non-null elements (Spark's double order, so one NaN makes s NaN;
    * no non-null element leaves s null), element x becomes
    * `(int) (long) floor(x·127/s + 0.5)`, 0 for every element (null ones
    * included) when s = 0, and null when x or s is null. One O(d) pass for
    * s and one for the elements, where the HOF form re-evaluates s inside
    * its per-element lambda. The long → int narrowing follows Spark's
    * cast: under ANSI (`failOnError`) an out-of-range value (x·127
    * overflowing to ±Inf) raises the cast's own `CAST_OVERFLOW` error,
    * otherwise it wraps.
    */
  def quantizeInt8(v: ArrayData, code: Int, failOnError: Boolean): ArrayData = {
    val n = v.numElements()
    var hasScale = false
    var scale = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = math.abs(get(v, i, code))
        if (!hasScale || cmpDouble(a, scale) > 0) scale = a
        hasScale = true
      }
      i += 1
    }
    val out = new Array[Int](n)
    if (hasScale && scale == 0.0) return UnsafeArrayData.fromPrimitiveArray(out)
    var nulls: Array[Boolean] = null
    i = 0
    while (i < n) {
      if (!hasScale || v.isNullAt(i)) {
        if (nulls == null) nulls = new Array[Boolean](n)
        nulls(i) = true
      } else {
        val q = math.floor(get(v, i, code) * 127.0 / scale + 0.5).toLong
        if (failOnError && q != q.toInt) throw GraftSqlShim.castOverflow(q, LongType, IntegerType)
        out(i) = q.toInt
      }
      i += 1
    }
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](n)(j => if (nulls(j)) null else out(j)))
  }

  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhash56Md5(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](56)
    val md = digest.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // first 14 hex chars = bytes 0..6 (high nibble of byte 3 ends the
        // first half): h = hex[0:7] << 28 | hex[7:14]
        val b0 = d(0) & 0xffL; val b1 = d(1) & 0xffL; val b2 = d(2) & 0xffL
        val b3 = d(3) & 0xffL; val b4 = d(4) & 0xffL; val b5 = d(5) & 0xffL
        val b6 = d(6) & 0xffL
        val hi = (b0 << 20) | (b1 << 12) | (b2 << 4) | (b3 >>> 4)
        val lo = ((b3 & 0xfL) << 24) | (b4 << 16) | (b5 << 8) | b6
        val h = (hi << 28) | lo
        var b = 0
        while (b < 56) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 56) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def minhashSignature(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var h = 0
        while (h < numHashes) {
          val v = XxHash64Function.hash(s, StringType, h.toLong)
          if (v < sig(h)) sig(h) = v
          h += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** ALL k-token windows in positional order (duplicates kept) — the
    * sliding-window sibling of [[tokenShingles]]'s distinct set; feeds
    * span-level dedup where window POSITION is the payload.
    */
  def tokenWindows(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new Array[Any](n - k + 1)
    val window = new Array[org.apache.spark.unsafe.types.UTF8String](k)
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) {
        window(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def tokenShingles(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    val window = new Array[org.apache.spark.unsafe.types.UTF8String](k)
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) {
        window(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(sep, window: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Spark SQL's total order on doubles (SQLOrderingUtil semantics): ±0
    * equal, NaN greatest and equal to itself — the ordering windows,
    * sort_array and array_max/min all use; the kernels below must match
    * it exactly for bit-identity with the HOF formulations they replace.
    */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Top-`upTo` centroids of `cents` by (cosine(vec, cv) DESC, ncid DESC
    * ⇔ cid ASC) — the IVF cell-ranking inner loop
    * (Similarity.explodeTopCells). `cents` is array<struct<ncid: long,
    * cv: array<double>>>; returns array<struct<csim: double, ncid:
    * long>> of length min(upTo, |cents|), ordered. Bit-identical to
    * `slice(sort_array(transform(cents, struct(cosine, ncid)), desc), 1,
    * upTo)` including the null-cosine edge (length-mismatched or null
    * cv): null csim sorts LAST under desc (Spark's nulls-last-in-struct-desc),
    * ties by ncid desc. One static call per ROW where the HOF form paid
    * an interpreted lambda dispatch per CENTROID — the difference
    * between O(cells) ~0.4 µs dispatches and one compiled loop, which is
    * what lets cell counts scale to the √n production rule.
    */
  def cellTopK(vec: ArrayData, cents: ArrayData, vcode: Int, ccode: Int, upTo: Int): ArrayData = {
    val n = cents.numElements()
    val k = if (upTo < n) upTo else n
    val ss = new Array[Double](k)
    val ids = new Array[Long](k)
    var filled = 0
    var nullScored: java.util.ArrayList[java.lang.Long] = null
    var i = 0
    while (i < n) {
      val e = cents.getStruct(i, 2)
      val ncid = e.getLong(0)
      val s = if (e.isNullAt(1)) null else cosine(vec, e.getArray(1), vcode, ccode)
      if (s == null) {
        if (nullScored == null) nullScored = new java.util.ArrayList[java.lang.Long]()
        nullScored.add(java.lang.Long.valueOf(ncid))
      } else {
        val sv = s.doubleValue()
        // insertion position in the descending (csim, ncid) order: step
        // left past every held entry that ranks BELOW the new one
        var pos = filled
        while (pos > 0 && {
                 val c = cmpDouble(ss(pos - 1), sv)
                 c < 0 || (c == 0 && ids(pos - 1) < ncid)
               }) pos -= 1
        if (pos < k) {
          var j = if (filled < k) filled else k - 1
          while (j > pos) { ss(j) = ss(j - 1); ids(j) = ids(j - 1); j -= 1 }
          ss(pos) = sv
          ids(pos) = ncid
          if (filled < k) filled += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](k)
    var o = 0
    while (o < filled && o < k) {
      out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](java.lang.Double.valueOf(ss(o)), java.lang.Long.valueOf(ids(o)))
      )
      o += 1
    }
    if (o < k && nullScored != null) {
      // null-scored entries fill the tail, ncid DESC (struct desc order
      // on equal-null first fields falls to the second field)
      nullScored.sort(java.util.Collections.reverseOrder[java.lang.Long]())
      var q = 0
      while (o < k && q < nullScored.size()) {
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](null, nullScored.get(q))
        )
        o += 1; q += 1
      }
    }
    new GenericArrayData(out)
  }

  /** The argmin codeword of `entries` by (l2sq(sv, cv) ASC, cid ASC) —
    * the PQ assignment/encode inner loop. `entries` is
    * array<struct<cid: int, cv: array<double>>>; returns the WINNING
    * entry as a fresh struct (cid, copied cv), or null when `entries` is
    * empty. Bit-identical to
    * `array_min(transform(entries, struct(l2sq, cid, cv)))` including
    * the null-distance edge: a null l2sq (length-mismatched or null cv)
    * sorts FIRST under asc (nulls-first struct ordering), ties by cid
    * asc; a null-cv winner comes back with a null cv.
    */
  def codewordArgmin(sv: ArrayData, entries: ArrayData, scode: Int, ccode: Int): Any = {
    val n = entries.numElements()
    if (n == 0) return null
    var bestIdx = -1
    var bestD = 0.0
    var bestNull = false
    var bestCid = 0
    var i = 0
    while (i < n) {
      val e = entries.getStruct(i, 2)
      val cid = e.getInt(0)
      val d = if (e.isNullAt(1)) null else l2sq(sv, e.getArray(1), scode, ccode)
      val better =
        if (bestIdx < 0) true
        else if (d == null) bestNull && cid < bestCid || !bestNull
        else if (bestNull) false
        else {
          val c = cmpDouble(d.doubleValue(), bestD)
          c < 0 || (c == 0 && cid < bestCid)
        }
      if (better) {
        bestIdx = i
        bestNull = d == null
        bestD = if (d == null) 0.0 else d.doubleValue()
        bestCid = cid
      }
      i += 1
    }
    val win = entries.getStruct(bestIdx, 2)
    val cvCopy =
      if (win.isNullAt(1)) null
      else {
        val cv = win.getArray(1)
        val m = cv.numElements()
        val cvOut = new Array[Any](m)
        var j = 0
        while (j < m) { cvOut(j) = if (cv.isNullAt(j)) null else java.lang.Double.valueOf(cv.getDouble(j)); j += 1 }
        new GenericArrayData(cvOut)
      }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](java.lang.Integer.valueOf(bestCid), cvCopy)
    )
  }
}
