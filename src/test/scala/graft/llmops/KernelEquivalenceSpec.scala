package graft.llmops

import graft.SparkTestSession
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The equivalence specs VERDICT r18 #3 found missing, plus the round-19
  * Lloyd-round rewrites' references:
  *
  *   1. `CellTopK` kernel ≡ [[KernelEquivalenceSpec.topCellsHof]] (the HOF oracle its
  *      scaladoc claims is pinned) over adversarial generated inputs —
  *      NaN, ±0.0, zero-norm and null centroid vectors (null/NaN cosine),
  *      exact csim ties, empty and shorter-than-upTo centroid arrays —
  *      under BOTH the interpreted and codegen expression paths, with
  *      codegen fallback off.
  *   2. `CodewordArgmin` ≡ `array_min(transform(entries, struct(l2sq,
  *      cid, cv)))`, same regime (incl. the null-distance-first edge, a
  *      null-cv winner and the empty-entries → null edge).
  *   3. [[Similarity.kmeansCentroids]] ≡ an independent window/explode
  *      Lloyd reference (the pre-r18 crossJoin+max_by formulation,
  *      rebuilt from public primitives) on random data — pins the
  *      round-19 bounded-top-k init AND the fused single-exchange update.
  *   4. [[Similarity.pqCodebooks]] ≡ the explode/min_by Lloyd reference,
  *      same purpose.
  *   5. [[Similarity.cellsLocal]] (the pruned probe's driver-side cell
  *      ranking, in rank order) and [[Similarity.cellRanks]] (the Spark pass over the
  *      same fit) ≡ the former join-form ranking against the centroid
  *      aggregate, on adversarial batches — null
  *      vectors and elements, wrong lengths, NaN, ties, three vector
  *      types, short, int and long cell ids, `upTo` above the cell count.
  *   6. [[Similarity.FitTables]] ≡ the Spark aggregates it replaces
  *      (centroid entries, codeword entries by subspace, the ADC codeword
  *      map) on a fit whose Lloyd rounds emptied cells, and the encode
  *      through it ≡ the former join-form encode, at d = 8 and at
  *      d ∈ {64, 384, 768, 1536} with codegen fallback off.
  *   7. The `QuantizeInt8` kernel behind [[Embeddings.quantizeInt8]] ≡
  *      [[KernelEquivalenceSpec.quantizeInt8Hof]] on every edge of the
  *      formula (null vector and elements, empty, zeros, ±0.0, NaN, ±Inf,
  *      subnormals, four element types, the ANSI cast overflow) and on
  *      random vectors at d ∈ {64, 384, 768, 1536}, with codegen fallback
  *      off.
  *   8. [[Similarity.ivfPqTopK]], now [[AnnIndex.fitIvfPq]] +
  *      [[AnnIndex.probeIvfPq]], ≡ [[KernelEquivalenceSpec.ivfPqTopKFusedRef]],
  *      the fused self-probe it replaced, on a null vector, ties, emptied
  *      cells, `nprobe` ≥ cells and `rerank` on both sides of `k`.
  *
  * All equality assertions go through Spark's null-safe `<=>` (SQL
  * semantics: NaN equals NaN, ±0.0 equal — exactly the ordering-contract
  * the kernels replicate).
  */
class KernelEquivalenceSpec extends AnyFunSuite with SparkTestSession {

  import KernelEquivalenceSpec._
  import spark.implicits._

  /** Run `body` under the interpreted-only and codegen-only expression
    * factories (both kernels dispatch to the same NativeMath call in
    * `eval` and `doGenCode`, and this proves it).
    */
  private def underBothCodegenPaths(body: => Unit): Unit =
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) withConf("spark.sql.codegen.factoryMode" -> mode)(body)

  /** `body` with the session confs `kvs` set, restored after. */
  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val rnd = new Random(42)

  /** Adversarial doubles: ordinary values, ±0.0, NaN, huge/tiny. */
  private def advDouble(): Double = rnd.nextInt(10) match {
    case 0 => 0.0
    case 1 => -0.0
    case 2 => Double.NaN
    case 3 => 1e300
    case 4 => -1e300
    case _ => math.rint(rnd.nextDouble() * 254 - 127) // the quantized regime
  }

  private def advVec(d: Int, zeroNorm: Boolean): Seq[Double] =
    if (zeroNorm) Seq.fill(d)(0.0) else Seq.fill(d)(advDouble())

  // ------------------------------------------------------------------
  // 1. CellTopK ≡ topCellsHof
  // ------------------------------------------------------------------

  private def cellTopKFixture(dim: Int, rows: Int): DataFrame = {
    val data = (1 to rows).map { i =>
      val nCents = rnd.nextInt(6) // includes 0 (empty) and < upTo counts
      val base = advVec(dim, zeroNorm = i % 7 == 0)
      // zero-norm centroid vectors and null ones → NULL cosine (the
      // kernel's null-scored tail path); duplicated centroid VECTORS →
      // exact csim ties the ncid tie-break must resolve identically
      var prev: Seq[Double] = null
      val cents = (0 until nCents).map { c =>
        val cv =
          if (c % 3 == 2 && prev != null) prev // exact tie with previous
          else advVec(dim, zeroNorm = c % 5 == 4 || rnd.nextInt(8) == 0)
        prev = cv
        (-c.toLong, if ((i + c) % 6 == 5) null else cv)
      }
      // production order is ncid ASC (FitTables sorts); shuffle
      // some rows to prove the kernel is input-order independent like the
      // HOF it mirrors
      val ordered = if (i % 4 == 0) rnd.shuffle(cents) else cents.sortBy(_._1)
      (i.toLong, base, ordered)
    }
    data.toDF("__id", "__qv", "__cents")
  }

  test("CellTopK kernel is bit-identical to the HOF oracle on adversarial inputs (interpreted and codegen)") {
    val df = cellTopKFixture(dim = 6, rows = 400)
      .select(
        col("__qv"),
        transform(
          col("__cents"),
          e => struct(e.getField("_1").as("__ncid"), e.getField("_2").as("__cv"))
        ).as("__cents")
      )
      .localCheckpoint(true)
    withConf("spark.sql.codegen.fallback" -> "false")(underBothCodegenPaths {
      for (upTo <- Seq(1, 2, 4, 7)) {
        val both = df.select(
          graft.functions.native.cellTopK(col("__qv"), col("__cents"), upTo).as("ker"),
          topCellsHof(col("__qv"), col("__cents"), upTo).as("hof")
        )
        val diff = both.filter(!(col("ker") <=> col("hof"))).count()
        assert(diff == 0L, s"cellTopK != topCellsHof on $diff rows at upTo=$upTo")
      }
    })
  }

  // ------------------------------------------------------------------
  // 2. CodewordArgmin ≡ array_min(transform(entries, struct(l2sq, cid, cv)))
  // ------------------------------------------------------------------

  private def argminFixture(sub: Int, rows: Int): DataFrame = {
    val data = (1 to rows).map { i =>
      val sv = advVec(sub, zeroNorm = i % 11 == 0)
      val nE = rnd.nextInt(6) // includes 0 → null result
      val entries = (0 until nE).map { c =>
        // duplicate vectors → exact distance ties; occasional
        // length-mismatched or null cv → null l2sq (nulls-first ordering
        // edge; a null-cv winner keeps its null cv)
        val cv =
          if (c % 4 == 3) advVec(sub + 1, zeroNorm = false)
          else if (c % 2 == 1 && c > 0) advVec(sub, zeroNorm = false)
          else advVec(sub, zeroNorm = c % 5 == 4)
        (c, if ((i + c) % 5 == 2) null else cv)
      }
      (i.toLong, sv, entries)
    }
    data.toDF("__id", "__sv", "__entries")
  }

  test("CodewordArgmin is bit-identical to the array_min HOF oracle on adversarial inputs (interpreted and codegen)") {
    val df = argminFixture(sub = 4, rows = 400).localCheckpoint(true)
    // duplicate an entry VECTOR under a new cid explicitly so at least
    // some rows carry a guaranteed tie
    val withTie = df.withColumn(
      "__entries",
      when(
        size(col("__entries")) > 0,
        concat(
          col("__entries"),
          array(struct(lit(99).as("_1"), element_at(col("__entries"), 1).getField("_2").as("_2")))
        )
      ).otherwise(col("__entries"))
    )
    withConf("spark.sql.codegen.fallback" -> "false")(underBothCodegenPaths {
      val hofWin = array_min(
        transform(
          col("__entries"),
          e =>
            struct(
              l2sqHof(col("__sv"), e.getField("_2")).as("__d"),
              e.getField("_1").as("__cid"),
              e.getField("_2").as("__cv")
            )
        )
      )
      val both = withTie.select(
        graft.functions.native
          .codewordArgmin(
            col("__sv"),
            transform(col("__entries"), e => struct(e.getField("_1").as("__cid"), e.getField("_2").as("__cv")))
          )
          .as("ker"),
        struct(hofWin.getField("__cid").as("__cid"), hofWin.getField("__cv").as("__cv")).as("hofRaw")
      )
      // empty entries: kernel yields null, array_min of empty yields null
      // struct whose fields are null — normalize through the same shape
      val normalized = both.withColumn(
        "hof",
        when(col("hofRaw.__cid").isNull && col("hofRaw.__cv").isNull, lit(null)).otherwise(col("hofRaw"))
      )
      val diff = normalized.filter(!(col("ker") <=> col("hof"))).count()
      assert(diff == 0L, s"codewordArgmin != array_min HOF on $diff rows")
    })
  }

  // ------------------------------------------------------------------
  // 3. kmeansCentroids ≡ independent window/explode Lloyd reference
  // ------------------------------------------------------------------

  /** The pre-r18 Lloyd formulation rebuilt from public primitives: score
    * every (row, centroid) pair via explode, rank with a window
    * ((csim desc, cid asc) — the original ordering), update means via
    * posexplode + per-(cid, dim) avg. Structurally everything the
    * round-18/19 rewrites removed, which is the point: same numbers, by
    * construction, through a completely different plan.
    */
  private def kmeansReference(df: DataFrame, cells: Int, iters: Int, seed: Long): DataFrame = {
    val qvd = transform(quantizeInt8Hof(col("v")), x => x.cast("double"))
    val qbase = df.select(col("id").as("__id"), qvd.as("__qv")).localCheckpoint(true)
    val h = conv(
      substring(md5(concat_ws(":", lit(seed.toString), col("__id").cast("string"))), 1, 8),
      16,
      10
    ).cast("long")
    val winit = Window.orderBy(col("__h"), col("__id"))
    val init = qbase
      .withColumn("__h", h)
      .orderBy(col("__h"), col("__id"))
      .limit(cells)
      .withColumn("__cid", (row_number().over(winit) - 1).cast("int"))
      .select(col("__cid"), col("__qv").as("__cv"))
    (1 to iters).foldLeft(init) { (centroids, _) =>
      val w = Window.partitionBy("__id").orderBy(col("__csim").desc, col("__cid"))
      val assigned = qbase
        .crossJoin(broadcast(centroids))
        .withColumn("__csim", Similarity.cosine(col("__qv"), col("__cv")))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") === 1)
        .select(col("__cid"), col("__qv"))
      assigned
        .select(col("__cid"), posexplode(col("__qv")).as(Seq("__dim", "__x")))
        .groupBy("__cid", "__dim")
        .agg((sum(col("__x")) / count(lit(1))).as("__m"))
        .groupBy("__cid")
        .agg(collect_list(struct(col("__dim"), col("__m"))).as("__dm"))
        .select(col("__cid"), transform(array_sort(col("__dm")), s => s.getField("__m")).as("__cv"))
    }
  }

  private def randomVecs(n: Int, dim: Int): DataFrame =
    (1 to n)
      .map(i => (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1)))
      .toDF("id", "v")

  test("kmeansCentroids (bounded-top-k init + fused update) matches the window/explode Lloyd reference") {
    val df = randomVecs(220, dim = 8).localCheckpoint(true)
    for (iters <- Seq(0, 2)) {
      val got = Similarity
        .kmeansCentroids(df, "id", "v", cells = 5, iters = iters, seed = 42L)
        .select(col("__cid"), col("__cv"))
      val ref = kmeansReference(df, cells = 5, iters = iters, seed = 42L)
      val joined = got.as("g").join(ref.as("r"), Seq("__cid"), "full_outer")
      val diff = joined.filter(!(col("g.__cv") <=> col("r.__cv"))).count()
      assert(diff == 0L, s"kmeansCentroids != reference at iters=$iters on $diff cells")
      assert(got.count() == ref.count())
    }
  }

  // ------------------------------------------------------------------
  // 4. pqCodebooks ≡ explode/min_by Lloyd reference
  // ------------------------------------------------------------------

  private def pqReference(df: DataFrame, dim: Int, m: Int, ks: Int, iters: Int, seed: Long): DataFrame = {
    val sub = dim / m
    val qvd = transform(quantizeInt8Hof(col("v")), x => x.cast("double"))
    val subs = df
      .select(col("id").as("__id"), qvd.as("__qv"))
      .select(
        col("__id"),
        explode(
          transform(
            sequence(lit(0), lit(m - 1)),
            mm => struct(mm.as("m"), slice(col("__qv"), mm * sub + 1, lit(sub)).as("sv"))
          )
        ).as("__e")
      )
      .select(col("__id"), col("__e.m").as("__m"), col("__e.sv").as("__sv"))
      .localCheckpoint(true)
    val h = conv(
      substring(
        md5(concat_ws(":", lit(seed.toString), col("__m").cast("string"), col("__id").cast("string"))),
        1,
        8
      ),
      16,
      10
    ).cast("long")
    val init = (0 until m)
      .map(mm => subs.filter(col("__m") === mm).withColumn("__h", h).orderBy(col("__h"), col("__id")).limit(ks))
      .reduce(_ unionByName _)
      .withColumn(
        "__cid",
        (row_number().over(Window.partitionBy("__m").orderBy(col("__h"), col("__id"))) - 1).cast("int")
      )
      .select(col("__m"), col("__cid"), col("__sv").as("__cv"))
    (1 to iters).foldLeft(init) { (cb, _) =>
      subs
        .join(broadcast(cb), Seq("__m"))
        .withColumn("__d", l2sqHof(col("__sv"), col("__cv")))
        .groupBy("__id", "__m")
        .agg(
          min_by(struct(col("__cid"), col("__sv")), struct(col("__d"), col("__cid"))).as("__w")
        )
        .select(col("__m"), col("__w.__cid").as("__cid"), col("__w.__sv").as("__sv"))
        .select(col("__m"), col("__cid"), posexplode(col("__sv")).as(Seq("__dim", "__x")))
        .groupBy("__m", "__cid", "__dim")
        .agg((sum(col("__x")) / count(lit(1))).as("__mn"))
        .groupBy("__m", "__cid")
        .agg(collect_list(struct(col("__dim"), col("__mn"))).as("__dm"))
        .select(col("__m"), col("__cid"), transform(array_sort(col("__dm")), s => s.getField("__mn")).as("__cv"))
    }
  }

  test("pqCodebooks (one-pass bounded-top-k init + fused update) matches the explode/min_by Lloyd reference") {
    val df = randomVecs(180, dim = 8).localCheckpoint(true)
    for (iters <- Seq(0, 2)) {
      val got = Similarity.pqCodebooks(df, "id", "v", dim = 8, m = 4, ks = 6, iters = iters, seed = 42L)
      val ref = pqReference(df, dim = 8, m = 4, ks = 6, iters = iters, seed = 42L)
      val joined = got.as("g").join(ref.as("r"), Seq("__m", "__cid"), "full_outer")
      val diff = joined.filter(!(col("g.__cv") <=> col("r.__cv"))).count()
      assert(diff == 0L, s"pqCodebooks != reference at iters=$iters on $diff codewords")
      assert(got.count() == ref.count())
    }
  }

  test("kmeansCentroids and pqCodebooks fit a corpus with null vectors as if they were absent") {
    val df = randomVecs(120, dim = 8).localCheckpoint(true)
    // ids interleaved with the corpus', so some would be drawn into the init
    val withNulls = df.unionByName((0 until 40).map(i => (10000L + i * 7, null: Seq[Double])).toDF("id", "v"))
    def rows(f: DataFrame => DataFrame): (Seq[String], Seq[String]) =
      (f(df).collect().map(_.toString).sorted.toSeq, f(withNulls).collect().map(_.toString).sorted.toSeq)
    val (km, kmNulls) = rows(Similarity.kmeansCentroids(_, "id", "v", cells = 6, iters = 2, seed = 42L))
    assert(kmNulls == km, "null vectors changed the k-means fit")
    val (pq, pqNulls) = rows(Similarity.pqCodebooks(_, "id", "v", dim = 8, m = 2, ks = 5, iters = 2, seed = 42L))
    assert(pqNulls == pq, "null vectors changed the PQ fit")
  }

  // ------------------------------------------------------------------
  // 5. driver-side cell ranking ≡ Similarity.cellRanks
  // ------------------------------------------------------------------

  /** An adversarial query batch of element type `elem`: null vectors,
    * null elements, wrong-length vectors, zero vectors, NaN (floating
    * types only) and ordinary quantized-range values; some queries equal
    * a centroid's direction so the ranking sees exact ties.
    */
  private def adversarialBatch(elem: DataType, dim: Int, rows: Int): DataFrame = {
    def cast(x: Double): Any = elem match {
      case FloatType => x.toFloat
      case DoubleType => x
      case _ => x.toInt
    }
    val floating = elem == FloatType || elem == DoubleType
    val data = (1 to rows).map { i =>
      val v: Seq[Any] = i % 9 match {
        case 0 => null
        case 1 => Seq.tabulate(dim)(j => if (j == dim / 2) null else cast(j + 1.0))
        case 2 => Seq.fill(dim + 1)(cast(3.0))
        case 3 => Seq.fill(dim)(cast(0.0))
        case 4 if floating => Seq.tabulate(dim)(j => if (j == 0) cast(Double.NaN) else cast(j.toDouble))
        case 5 => Seq.fill(dim)(cast(2.0)) // the direction of two duplicated centroids
        case _ => Seq.fill(dim)(cast(math.rint(rnd.nextDouble() * 254 - 127)))
      }
      Row(i.toLong, v)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(data: _*),
      StructType(Seq(StructField("__id", LongType), StructField("__qv", ArrayType(elem, containsNull = true))))
    )
  }

  /** Centroids with `cid` typed `cidType`: two share one direction (a
    * cosine tie the cid order breaks), one is the zero vector (NaN
    * cosine against every query).
    */
  private def adversarialCentroids(cidType: DataType, dim: Int): DataFrame = {
    val cvs = Seq(
      Seq.fill(dim)(1.0),
      Seq.fill(dim)(rnd.nextDouble() * 2 - 1),
      Seq.fill(dim)(1.0),
      Seq.fill(dim)(0.0),
      Seq.tabulate(dim)(j => if (j % 2 == 0) 1.0 else -1.0)
    )
    val rows = cvs.zipWithIndex.map { case (cv, c) =>
      Row(cidType match { case ShortType => c.toShort; case IntegerType => c; case _ => c.toLong }, cv)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("__cid", cidType), StructField("__cv", ArrayType(DoubleType))))
    )
  }

  test("driver-side cell ranking gives cellRanks' rows on adversarial batches (vector types, cid types, nprobe > cells)") {
    val dim = 6
    for {
      elem <- Seq(FloatType, DoubleType, IntegerType)
      cidType <- Seq(ShortType, IntegerType, LongType)
    } {
      val batch = adversarialBatch(elem, dim, rows = 90).localCheckpoint(true)
      val centroids = adversarialCentroids(cidType, dim).localCheckpoint(true)
      val fit = Similarity.FitTables(centroids, Seq((0, 0, Seq(1.0))).toDF("__m", "__cid", "__cv"), pqKs = 1)
      for (upTo <- Seq(1, 2, 5, 7)) {
        def rows(df: DataFrame): Seq[String] = df.select("__id", "__qv", "__cid").collect().map(_.toString).sorted.toSeq
        // the join form every ranking pass used before the fit moved to the driver
        val ref = batch
          .withColumn("__one", oneKey(col("__id")))
          .join(centroidEntriesRow(centroids), Seq("__one"))
          .select(col("__id"), col("__qv"), explode(graft.functions.native.cellTopK(col("__qv"), col("__cents"), upTo)).as("__tc"))
          .select(col("__id"), col("__qv"), (-col("__tc.__ncid")).cast(cidType).as("__cid"))
        val viaSpark = Similarity.cellRanks(batch, fit, upTo)
        val vcode = graft.functions.NativeMath.typeCode(batch.schema("__qv").dataType)
        // (id, rank, cell) of the driver-side ranking and of the join form
        val got = Similarity.collectRows(batch).flatMap { r =>
          Similarity.cellsLocal(if (r.isNullAt(1)) null else r.getArray(1), vcode, fit, upTo).zipWithIndex.map { case (c, i) => (r.getLong(0), i, c) }
        }
        val refRanked = batch
          .withColumn("__one", oneKey(col("__id")))
          .join(centroidEntriesRow(centroids), Seq("__one"))
          .select(col("__id"), posexplode(graft.functions.native.cellTopK(col("__qv"), col("__cents"), upTo)).as(Seq("__pos", "__tc")))
          .select(col("__id"), col("__pos"), (-col("__tc.__ncid")).as("__cid"))
          .as[(Long, Int, Long)]
          .collect()
        val at = s"elem=$elem cid=$cidType upTo=$upTo"
        assert(viaSpark.schema("__cid").dataType == cidType, s"cellRanks cid must keep the centroid cid type ($at)")
        assert(rows(viaSpark) == rows(ref), s"cellRanks over the fit != join-form ranking ($at)")
        assert(got.sorted == refRanked.toSeq.sorted, s"driver-side ranking != cellRanks ($at)")
      }
    }
  }

  // ------------------------------------------------------------------
  // 6. FitTables ≡ the Spark aggregates; encode through it ≡ join form
  // ------------------------------------------------------------------

  /** Three distinct directions repeated: with cells and ks above three,
    * Lloyd's rounds empty cells and codewords, so cids come out sparse.
    */
  private lazy val sparseFitCorpus: DataFrame =
    (0 until 90)
      .map(i => (i.toLong, Seq.tabulate(8)(j => ((i % 3) * 7 + (j % (i % 3 + 2))).toFloat + (i % 5) * 1e-3f)))
      .toDF("id", "v")
      .localCheckpoint(true)

  private def sparseFit(): (DataFrame, DataFrame) = {
    // seed 45: centroid ids 0, 1, 3, 6 survive; codeword ids skip 1 and 4-5
    val c = Similarity.kmeansCentroids(sparseFitCorpus, "id", "v", cells = 7, iters = 2, seed = 45L).localCheckpoint(true)
    val cb = Similarity.pqCodebooks(sparseFitCorpus, "id", "v", dim = 8, m = 2, ks = 6, iters = 2, seed = 45L).localCheckpoint(true)
    (c, cb)
  }

  test("FitTables entries equal the Spark aggregates' rows, including sparse cids after Lloyd's empties cells") {
    val (c, cb) = sparseFit()
    val cids = c.select("__cid").as[Int].collect().sorted.toSeq
    assert(cids.size < 7 && cids.last >= cids.size, s"fixture must leave sparse centroid ids, got $cids")
    val words = cb.select("__m", "__cid").as[(Int, Int)].collect().toSeq
    assert(words.groupBy(_._1).values.exists(ws => ws.map(_._2).max >= ws.size), s"fixture must leave sparse codeword ids, got $words")
    val fit = Similarity.FitTables(c, cb, pqKs = 6)
    val got = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(fit.schema)(fit.row)
      .asInstanceOf[Row]
    val cents = centroidEntriesRow(c).select("__cents")
    val byM = codebookEntriesByM(cb).select("__cbm")
    val codewords = cb
      .groupBy()
      .agg(
        map_from_entries(
          collect_list(struct((col("__m") * 6 + col("__cid")).cast("int").as("k"), col("__cv").as("v")))
        ).as("__cb")
      )
    for ((ref, name) <- Seq(cents -> "__cents", byM -> "__cbm", codewords -> "__cb")) {
      assert(fit.schema(name).dataType == ref.schema(name).dataType, s"$name type")
      assert(got.getAs[Any](name) == ref.head().getAs[Any](name), s"$name entries")
    }
    assert(got.getAs[Seq[Row]]("__cents").map(_.getLong(0)) == cids.reverse.map(-_.toLong), "centroid entries sorted by -cid")
  }

  /** A random fit at width `dim`: `cells` centroids and `m` subspaces of
    * `ks` codewords, every vector in the quantized range. The encode does
    * not care how a fit was made, so none is run here.
    */
  private def randomFit(dim: Int, cells: Int, m: Int, ks: Int): (DataFrame, DataFrame) = {
    def qvec(n: Int): Seq[Double] = Seq.fill(n)(math.rint(rnd.nextDouble() * 254 - 127))
    val c = (0 until cells).map(cid => (cid, qvec(dim))).toDF("__cid", "__cv").localCheckpoint(true)
    val cb = (for (mm <- 0 until m; cid <- 0 until ks) yield (mm, cid, qvec(dim / m)))
      .toDF("__m", "__cid", "__cv")
      .localCheckpoint(true)
    (c, cb)
  }

  test("encoding through FitTables equals the former join-form encode (interpreted and codegen)") {
    // at d = 8 and at d ∈ {64, 384, 768, 1536}, with codegen fallback off
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    // (fit, batch, dim, m, ks): the sparse-cid fit at d = 8, then random fits
    // at production widths; each batch carries a null vector and exact
    // duplicates (ties in every argmin)
    val (c8, cb8) = sparseFit()
    val cases = (c8, cb8, sparseFitCorpus.unionByName(randomVecs(60, dim = 8).select(col("id") + 1000 as "id", col("v"))), 8, 2, 6) +:
      Seq(64, 384, 768, 1536).map { d =>
        val (c, cb) = randomFit(d, cells = 6, m = 8, ks = 16)
        val vs = randomVecs(30, d)
        val batch = vs
          .unionByName(vs.limit(5).select(col("id") + 1000 as "id", col("v")))
          .unionByName(Seq((5000L, null: Seq[Double])).toDF("id", "v"))
        (c, cb, batch, d, 8, 16)
      }
    withConf("spark.sql.codegen.fallback" -> "false") {
      for ((c, cb, rawBatch, d, m, ks) <- cases) {
        val batch = rawBatch.localCheckpoint(true)
        val fit = Similarity.FitTables(c, cb, pqKs = ks)
        val joinForm = Similarity
          .quantizedBase(batch, "id", "v")
          .withColumn("__one", oneKey(col("__id")))
          .join(centroidEntriesRow(c), Seq("__one"))
          .join(codebookEntriesByM(cb), Seq("__one"))
          .select(
            (-Similarity.bestCellCol(col("__qv"), col("__cents")).getField("__ncid")).cast("int").as("__cid"),
            col("__id").as("__nid"),
            transform(pqBestPerSubspaceTwoLevel(col("__qv"), m, d / m, col("__cbm")), s => s.getField("__cid")).as("__codes")
          )
        underBothCodegenPaths {
          val viaFit = Similarity.assignAndEncode(batch, "id", "v", fit, dim = d, m = m)
          assert(viaFit.schema == joinForm.schema, s"d=$d")
          assert(rows(viaFit) == rows(joinForm), s"FitTables encode != join-form encode at d=$d")
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // 7. quantize_int8 kernel ≡ quantizeInt8Hof
  // ------------------------------------------------------------------

  /** Vectors of element type `elem` (an RDD scan, so no rule folds the
    * projection on the driver).
    */
  private def vectors(elem: DataType, vs: Seq[Seq[Any]]): DataFrame =
    spark
      .createDataFrame(
        java.util.Arrays.asList(vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }: _*),
        StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(elem, containsNull = true))))
      )
      .localCheckpoint(true)

  /** Rows where the kernel and the HOF differ (`<=>`: NaN = NaN, null = null). */
  private def quantizeDiffs(df: DataFrame): Long =
    df.select(Embeddings.quantizeInt8(col("v")).as("ker"), quantizeInt8Hof(col("v")).as("hof"))
      .filter(!(col("ker") <=> col("hof")))
      .count()

  private val quantizeEdges: Map[DataType, Seq[Seq[Any]]] = {
    val tiny = java.lang.Double.MIN_VALUE
    Map(
      DoubleType -> Seq(
        null,
        Seq(null, 0.0),
        Seq(null, 1.0),
        Seq(null, null),
        Seq(),
        Seq(0.0, 0.0, 0.0),
        Seq(0.0, -0.0),
        Seq(-0.0),
        Seq(Double.NaN, 1.0),
        Seq(1.0, Double.NaN, null),
        Seq(Double.PositiveInfinity, 1.0, -2.0),
        Seq(Double.NegativeInfinity, 3.0),
        Seq(Double.PositiveInfinity, Double.NegativeInfinity),
        Seq(tiny, -tiny, 0.0),
        Seq(tiny * 3, 1e-310, -2.5e-308),
        Seq(1e-300, 1.0),
        Seq(0.5, -0.25, 0.125, 1.0 / 254, -1.0 / 254),
        Seq(3.0, -3.0, 1.5, -1.5, 0.75)
      ),
      FloatType -> Seq(
        null,
        Seq(null, 0.0f),
        Seq(null, 2.0f),
        Seq(),
        Seq(0.0f, -0.0f),
        Seq(Float.NaN, 1.0f),
        Seq(Float.PositiveInfinity, -1.0f),
        Seq(Float.MinPositiveValue, -Float.MinPositiveValue, 1e-40f),
        Seq(Float.MaxValue, -Float.MaxValue, 1.0f),
        Seq(0.1f, -0.7f, 0.33f, 0.9999f)
      ),
      IntegerType -> Seq(null, Seq(null, 0), Seq(null, 5), Seq(), Seq(0, 0), Seq(Int.MaxValue, Int.MinValue, 1), Seq(3, -7, 11, 127)),
      LongType -> Seq(
        null,
        Seq(null, 0L),
        Seq(null, 9L),
        Seq(),
        Seq(0L, 0L),
        Seq(Long.MaxValue, Long.MinValue, 1L),
        Seq(Long.MaxValue - 1, 3L),
        Seq(3L, -7L, 11L, 1000000007L)
      )
    )
  }

  test("quantize_int8 kernel is bit-identical to the HOF on every edge of the formula (interpreted and codegen, ANSI on and off)") {
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi, "spark.sql.codegen.fallback" -> "false") {
      underBothCodegenPaths {
        for ((elem, vs) <- quantizeEdges) {
          val n = quantizeDiffs(vectors(elem, vs))
          assert(n == 0L, s"quantize_int8 != HOF on $n of ${vs.size} $elem edge vectors (ansi=$ansi)")
        }
      }
    }
    // spot values: the zero-scale guard covers null elements; a null
    // element under a nonzero scale stays null; NaN scale gives zeros
    val got = vectors(DoubleType, Seq(Seq(null, 0.0), Seq(null, 1.0, -0.5), Seq(Double.NaN, 1.0)))
      .orderBy("id")
      .select(Embeddings.quantizeInt8(col("v")))
      .collect()
      .map(_.getSeq[Any](0))
      .toSeq
    assert(got == Seq(Seq(0, 0), Seq(null, 127, -63), Seq(0, 0)), got)
  }

  test("quantize_int8 kernel raises the HOF's CAST_OVERFLOW under ANSI and wraps like it without") {
    val overflow = vectors(DoubleType, Seq(Seq(1e308, -1e308)))
    def condition(body: => Any): Option[String] =
      try { body; None }
      catch {
        case t: Throwable =>
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
            case e: org.apache.spark.SparkThrowable if e.getCondition != null => e.getCondition
          }
      }
    underBothCodegenPaths {
      withConf("spark.sql.ansi.enabled" -> "true", "spark.sql.codegen.fallback" -> "false") {
        val ker = condition(overflow.select(Embeddings.quantizeInt8(col("v"))).collect())
        val hof = condition(overflow.select(quantizeInt8Hof(col("v"))).collect())
        assert(hof.contains("CAST_OVERFLOW"), s"the HOF must overflow under ANSI, got $hof")
        assert(ker == hof, s"kernel error $ker != HOF error $hof")
      }
      withConf("spark.sql.ansi.enabled" -> "false", "spark.sql.codegen.fallback" -> "false") {
        assert(quantizeDiffs(overflow) == 0L)
        val got = overflow.select(Embeddings.quantizeInt8(col("v"))).head().getSeq[Int](0)
        assert(got == Seq(Long.MaxValue.toInt, Long.MinValue.toInt), got)
      }
    }
  }

  test("quantize_int8 kernel equals the HOF on random vectors at d = 64, 384, 768 and 1536 (interpreted and codegen, no fallback)") {
    withConf("spark.sql.codegen.fallback" -> "false") {
      for (d <- Seq(64, 384, 768, 1536)) {
        val vs = (0 until 12).map { i =>
          if (i == 0) Seq.fill(d)(0.0)
          else Seq.tabulate(d)(j => if (i == 1 && j == d / 2) Double.NaN else rnd.nextGaussian() * math.pow(10, i % 5 - 2))
        }
        val df = vectors(DoubleType, vs)
        val floats = vectors(FloatType, vs.map(_.map(_.toFloat)))
        underBothCodegenPaths {
          assert(quantizeDiffs(df) == 0L, s"quantize_int8 != HOF at d=$d (double)")
          assert(quantizeDiffs(floats) == 0L, s"quantize_int8 != HOF at d=$d (float)")
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // 8. ivfPqTopK (fit + probe) ≡ the fused self-probe it replaced
  // ------------------------------------------------------------------

  /** Sixty 8-dim vectors around three directions, only twelve of them
    * distinct — each repeated five times (ties in every cell and codeword
    * ranking) — plus one null vector.
    */
  private lazy val ivfPqCorpus: DataFrame = {
    val r = new Random(11)
    val distinct = (0 until 12).map(i => Seq.tabulate(8)(j => (if (j / 3 == i % 3) 5f else 0f) + r.nextFloat() * 0.1f))
    ((0 until 60).map(i => (i.toLong, distinct(i % 12))) :+ ((60L, null: Seq[Float]))).toDF("vec_id", "v").localCheckpoint(true)
  }

  test("ivfPqTopK returns the fused self-probe's rows (null vector, ties, empty cells, nprobe >= cells, rerank <= and > k)") {
    val c = ivfPqCorpus
    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sorted.toSeq
    // six cells over three directions: Lloyd's rounds empty some (the
    // null vector's null cell is not one of them)
    val fitted = Similarity
      .kmeansCentroids(c, "vec_id", "v", cells = 6, iters = 2, seed = 42L)
      .select("__cid")
      .collect()
      .map(r => Option(r.get(0)))
      .toSeq
    assert(fitted.count(_.nonEmpty) < 6, s"fixture must empty a cell at cells=6, kept $fitted")
    for ((cells, nprobe, rerank) <- Seq((3, 1, 0), (3, 2, 3), (3, 3, 10), (6, 2, 10), (6, 6, 0), (6, 8, 10))) {
      val at = s"cells=$cells nprobe=$nprobe rerank=$rerank"
      val got = rows(
        Similarity.ivfPqTopK(c, "vec_id", "v", k = 3, cells = cells, nprobe = nprobe, pqM = 2, pqKs = 4, rerank = rerank, dim = 8)
      )
      val ref = rows(
        ivfPqTopKFusedRef(c, "vec_id", "v", k = 3, cells = cells, nprobe = nprobe, pqM = 2, pqKs = 4, rerank = rerank, dim = 8)
      )
      assert(got.nonEmpty, at)
      assert(!got.exists(r => r._1 == 60L || r._2 == 60L), s"the null vector neither probes nor is found ($at)")
      assert(got == ref, s"ivfPqTopK != fused reference ($at)")
    }
  }
}

/** References the native kernels and [[Similarity.FitTables]] are pinned
  * against: the HOF formulations of the kernels, the join form that
  * attached a fit to every row before the fit moved to the driver (one
  * aggregate row of the fit tables, joined on a constant key), and the
  * fused IVF-PQ self-probe with its two-level encode.
  */
object KernelEquivalenceSpec {

  /** HOF reference of the `quantize_int8` kernel: the formula with its
    * max-abs scale re-evaluated inside the per-element lambda.
    */
  def quantizeInt8Hof(vec: Column): Column = {
    val scale = Embeddings.maxAbsScale(vec)
    transform(
      vec,
      x =>
        when(scale === 0.0, lit(0))
          .otherwise(floor((x.cast("double") * lit(127.0)) / scale + lit(0.5)).cast("int"))
    )
  }

  /** HOF reference of the `cellTopK` kernel: top-`upTo` centroid entries
    * by (cosine desc, cid asc), as array<struct<__csim, __ncid>>.
    */
  def topCellsHof(vec: Column, cents: Column, upTo: Int): Column =
    slice(
      sort_array(
        transform(
          cents,
          e => struct(Similarity.cosine(vec, e.getField("__cv")).as("__csim"), e.getField("__ncid").as("__ncid"))
        ),
        asc = false
      ),
      1,
      upTo
    )

  /** HOF reference of the `array_dot` kernel behind [[Similarity.dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)

  /** HOF reference of the `array_cosine` kernel behind [[Similarity.cosine]]. */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** HOF reference of the `array_l2sq` kernel. */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, v) => acc + v
    )

  /** Non-foldable always-0 join key derived from an attribute. A literal
    * key on either join side gets pushed down as a filter and the attach
    * join degrades to a nested loop; the aggregate-output `__one` of
    * [[centroidEntriesRow]] and [[codebookEntriesByM]] is the other side.
    */
  def oneKey(c: Column): Column = pmod(xxhash64(c), lit(1)).cast("int")

  /** All centroids as ONE broadcastable row: (`__cents`
    * array<struct<__ncid, __cv>> sorted, `__one` = 0).
    */
  def centroidEntriesRow(centroids: DataFrame): DataFrame =
    broadcast(
      centroids
        .groupBy()
        .agg(
          array_sort(
            collect_list(struct((-col("__cid")).cast("long").as("__ncid"), col("__cv").as("__cv")))
          ).as("__cents"),
          min(lit(0)).as("__one")
        )
    )

  /** The PQ codebooks as ONE broadcastable row: (`__cbm` map from
    * subspace id to its codeword entries array<struct<__cid, __cv>>
    * sorted by cid, `__one` = 0).
    */
  def codebookEntriesByM(cb: DataFrame): DataFrame =
    broadcast(
      cb.groupBy(col("__m"))
        .agg(array_sort(collect_list(struct(col("__cid").as("__cid"), col("__cv").as("__cv")))).as("__es"))
        .groupBy()
        .agg(
          map_from_entries(collect_list(struct(col("__m").as("k"), col("__es").as("v")))).as("__cbm"),
          min(lit(0)).as("__one")
        )
    )

  /** The two-level encode `Similarity.pqBestPerSubspace` had before it
    * became one `transform`: an outer `transform` materializing each
    * (subspace, slice) pair, an inner one taking the argmin codeword
    * struct<__cid, __cv> of each slice.
    */
  def pqBestPerSubspaceTwoLevel(vec: Column, m: Int, sub: Int, cbm: Column): Column =
    transform(
      transform(
        sequence(lit(0), lit(m - 1)),
        mm => struct(mm.as("__m"), slice(vec, mm * sub + 1, lit(sub)).as("__sv"))
      ),
      p =>
        graft.functions.native
          .codewordArgmin(p.getField("__sv"), element_at(cbm, p.getField("__m")))
    )

  /** The cell-rank pass the fused IVF-PQ top-k read: (`__id`, `__qv`,
    * `__cid`, `__crank`) for each of a vector's `upTo` nearest cells,
    * hash-partitioned on `__cid` like `Similarity.cellRanks`.
    */
  def cellRanksWithRank(base: DataFrame, fit: Similarity.FitTables, upTo: Int): DataFrame =
    base
      .select(col("__id"), col("__qv"), posexplode(graft.functions.native.cellTopK(col("__qv"), fit.centsCol, upTo)).as(Seq("__pos", "__tc")))
      .select(
        col("__id"),
        col("__qv"),
        (-col("__tc.__ncid")).cast(fit.cidType).as("__cid"),
        (col("__pos") + 1).as("__crank")
      )
      .repartition(Similarity.probeParallelism(base), col("__cid"))

  /** The fused IVF-PQ self-probe `Similarity.ivfPqTopK` ran before it
    * became `AnnIndex.fitIvfPq` + `AnnIndex.probeIvfPq`: one nprobe-deep
    * cell-rank pass, snapshotted, serves both sides — rank 1 files each
    * vector's codes in its home cell, ranks ≤ nprobe probe.
    */
  def ivfPqTopKFusedRef(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      cells: Int = 16,
      nprobe: Int = 2,
      iters: Int = 2,
      seed: Long = 42L,
      pqM: Int = 4,
      pqKs: Int = 8,
      pqIters: Int = 2,
      rerank: Int = 0,
      dim: Int = Similarity.AutoDim
  ): DataFrame = {
    val d = Similarity.resolveDim(df.select(col(idCol).as("__id"), col(vecCol).as("__v")), dim)
    val base = Similarity.quantizedBase(df, idCol, vecCol)
    val fit = Similarity.FitTables(
      Similarity.kmeansCentroids(df, idCol, vecCol, cells, iters, seed),
      Similarity.pqCodebooks(df, idCol, vecCol, d, pqM, pqKs, pqIters, seed),
      pqKs
    )
    val probed = cellRanksWithRank(base, fit, nprobe).localCheckpoint(true)
    val index = probed
      .filter(col("__crank") === 1)
      .select(
        col("__id").as("__nid"),
        col("__cid"),
        transform(pqBestPerSubspaceTwoLevel(col("__qv"), pqM, d / pqM, fit.cbmCol), s => s.getField("__cid")).as("__codes")
      )
    val vecs = df.select(col(idCol).as("__oid"), col(vecCol).as("__ov"))
    Similarity.pqAdcRank(
      probed.select(col("__id").as("__qid"), col("__qv"), col("__cid")),
      index,
      fit,
      pqM,
      pqKs,
      k,
      rerank,
      vecs,
      vecs,
      excludeSelf = true
    )
  }
}
