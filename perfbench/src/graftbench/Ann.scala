package graftbench

import graft.functions.NativeMath
import graft.llmops.{AnnIndex, Similarity}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Generated embeddings: `Clusters` centres fixed by the seed, vectors drawn
  * around them. `stream` separates independent draws (corpus, appends,
  * queries) of the same seed.
  */
object Vectors {
  val Dim = 64
  val Clusters = 32

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false), StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def clustered(seed: Long, stream: Long, idBase: Long, n: Int): Array[(Long, Array[Double])] = {
    val cr = new java.util.SplittableRandom(seed)
    val centres = Array.fill(Clusters, Dim)(cr.nextDouble() * 2 - 1)
    val r = new java.util.SplittableRandom(seed * 1000003L + stream)
    Array.tabulate(n) { i =>
      val c = centres(r.nextInt(Clusters))
      (idBase + i, Array.tabulate(Dim)(j => c(j) + 0.35 * r.nextGaussian()))
    }
  }

  def frame(spark: SparkSession, rows: Array[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v.toSeq) }.toSeq.asJava, schema)

  def write(spark: SparkSession, rows: Array[(Long, Array[Double])], path: Path, parts: Int): Unit =
    frame(spark, rows).repartition(parts).write.mode("overwrite").parquet(path.toString)

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-`k` corpus ids of `q` by (cosine desc, id asc). */
  def exactTopK(corpus: Array[(Long, Array[Double])], q: Array[Double], k: Int): Seq[Long] =
    corpus.map { case (id, v) => (-cosine(q, v), id) }.sorted.take(k).map(_._2).toSeq

  def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** Direct calls of the native kernels at d = 64 against 32 centroids or
  * codewords taken from the workload's vectors, in ns per call.
  */
object Kernels {
  def measure(h: Harness, vs: Array[Array[Double]]): Unit = {
    val arr = (v: Array[Double]) => UnsafeArrayData.fromPrimitiveArray(v)
    val vec = arr(vs(0))
    val cents = new GenericArrayData(vs.slice(1, 33).zipWithIndex.map { case (v, i) =>
      new GenericInternalRow(Array[Any](i.toLong, arr(v))): Any
    })
    val words = new GenericArrayData(vs.slice(1, 33).zipWithIndex.map { case (v, i) =>
      new GenericInternalRow(Array[Any](i, arr(v))): Any
    })
    val other = arr(vs(1))
    val D = NativeMath.TDouble
    h.extra("functions.cell_topk_ns") = Jvm.perCallNs(20000)(NativeMath.cellTopK(vec, cents, D, D, 4))
    h.extra("functions.codeword_argmin_ns") = Jvm.perCallNs(20000)(NativeMath.codewordArgmin(vec, words, D, D))
    h.extra("functions.l2sq_ns") = Jvm.perCallNs(400000)(NativeMath.l2sq(vec, other, D, D))
    // cellTopK reads the query vector and every centroid vector once
    h.extra("functions.bytes_per_call") = (Vectors.Dim + 32 * Vectors.Dim) * 8.0
  }
}

/** `ann_serving`: an index fitted, saved and loaded in set-up, then served.
  * Ops cycle through two `probe`s (a pruned probe of a query batch with an
  * exact rerank, batches from a fixed seeded list) and one `append` (a
  * batch of vectors from a fixed seeded list, against the frozen fit). The
  * probes hold the handle loaded in set-up, which stays pinned to the
  * layers committed at load time, so every probe of a batch must return the
  * same ids. After each append, outside its timing, the reloaded index must
  * hold corpus plus batch rows, and the index directory is restored to its
  * set-up state, so every append meets the same layers.
  */
final class AnnServing(h: Harness) extends Workload {
  import AnnServing._
  import h.{spark, tracer}

  private val seed = h.args.seed
  private val corpusPath = h.dir("ann_serving/corpus")
  private val indexPath = h.dir("ann_serving/index")
  private val indexDir = indexPath.toString
  private val snapshot = h.dir("ann_serving/index-setup")
  private var queries: IndexedSeq[Array[(Long, Array[Double])]] = IndexedSeq.empty
  private var batches: IndexedSeq[(DataFrame, Seq[Long])] = IndexedSeq.empty
  private var features: DataFrame = _
  private var index: AnnIndex.IvfPqIndex = _
  private var sample: Array[Array[Double]] = _
  private var appendRows: IndexedSeq[Array[(Long, Array[Double])]] = IndexedSeq.empty
  private var appendBatches: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var appends = 0L

  /** Generates the corpus, the query batches and the append batches and
    * computes the exact top-k of every query.
    */
  override def prepare(): Unit = {
    val corpus = Vectors.clustered(seed, 0, 0L, CorpusN)
    Vectors.write(spark, corpus, corpusPath, h.cores)
    queries = Vectors.clustered(seed, 1, QueryIdBase, Batches * BatchSize).grouped(BatchSize).toIndexedSeq
    h.extra("exact") = queries.map(_.map { case (_, v) => Vectors.exactTopK(corpus, v, K) }.toSeq)
    h.extra("batch_qids") = queries.map(_.map(_._1).toSeq)
    sample = corpus.take(33).map(_._2)
    appendRows = (0 until Batches).map(b => Vectors.clustered(seed, 2 + b, AppendIdBase + b.toLong * AppendN, AppendN))
  }

  /** A set-up costs seconds of Spark jobs; three keep the run short. */
  override def setupReps: Int = 3

  /** Fit, save and load the index; build the query and append batches and
    * the rerank feature table.
    */
  def setup(rep: Int): Unit = {
    h.deleteTree(indexPath)
    index = tracer.op(h.nextId(), "setup", traced = true) {
      val corpus = spark.read.parquet(corpusPath.toString)
      val fitted = tracer.span("llmops", "fitIvfPq") {
        AnnIndex.fitIvfPq(corpus, "id", "v", Cells, Iters, seed, PqM, PqKs, PqIters, Vectors.Dim)
      }
      tracer.span("llmops", "save")(AnnIndex.save(fitted, indexDir))
      tracer.span("llmops", "load")(AnnIndex.load(spark, indexDir))
    }
    batches = queries.map(q => (Vectors.frame(spark, q), q.map(_._1).toSeq))
    appendBatches = appendRows.map(Vectors.frame(spark, _))
    // the rerank fetches both candidate and query vectors by id: a feature
    // table holding the corpus and the query embeddings
    features = spark.read.parquet(corpusPath.toString).unionByName(Vectors.frame(spark, queries.flatten.toArray))
  }

  /** Probe latency keeps falling over the first few probes of a JVM, so
    * the warm-up probes more than once.
    */
  override def warm(): Unit = {
    copyTree(indexPath, snapshot)
    (0 until WarmProbes).foreach(b => probe(b, traced = false))
    append(traced = false)
  }

  /** Whole cycles, so every window has the same op mix. */
  def measure(): Unit = {
    var i = 0
    while (h.windowOpen) {
      cycle(i, h.traceOp(i))
      i += 1
    }
  }

  /** Two probes and one append: a probe costs less, and its median needs
    * the samples more.
    */
  private def cycle(i: Int, traced: Boolean): Unit = {
    probe(2 * i % Batches, traced)
    probe((2 * i + 1) % Batches, traced)
    append(traced)
  }

  private def probe(b: Int, traced: Boolean): Unit = {
    val (qs, qids) = batches(b)
    h.op("probe", traced, BatchSize) {
      tracer.span("llmops", "probeIvfPqPruned") {
        AnnIndex.probeIvfPqPruned(index, qs, "id", "v", K, NProbe, Rerank, Some(features)).collect()
      }
    }(
      rows => if (rows.length == BatchSize * K) None else Some(s"${rows.length} rows, expected ${BatchSize * K}"),
      rows => {
        val byQ = rows.groupBy(_.getAs[Long]("qid")).view.mapValues(_.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("nid")).toSeq)
        Map("batch" -> b, "ids" -> qids.map(q => byQ.getOrElse(q, Seq.empty)))
      }
    )
  }

  private def append(traced: Boolean): Unit = {
    val b = (appends % Batches).toInt
    appends += 1
    h.op("append", traced, 0) {
      tracer.span("llmops", "append")(AnnIndex.append(spark, indexDir, appendBatches(b), "id", "v", b.toLong))
    } { _ =>
      val n = AnnIndex.load(spark, indexDir).codes.count()
      val want = CorpusN + AppendN.toLong
      h.extra("index_bytes_per_vector") = Vectors.dirBytes(indexPath).toDouble / want
      h.deleteTree(indexPath)
      copyTree(snapshot, indexPath)
      if (n == want) None else Some(s"loaded index holds $n rows, expected $want")
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    h.deleteTree(to)
    Files.walk(from).iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
  }

  override def attribute(): Unit = {
    val corpus = spark.read.parquet(corpusPath.toString)
    tracer.op(h.nextId(), "attr_fit", traced = true) {
      tracer.span("llmops", "kmeansCentroids") {
        Similarity.kmeansCentroids(corpus, "id", "v", Cells, Iters, seed).localCheckpoint(true)
      }
      tracer.span("llmops", "pqCodebooks") {
        Similarity
          .pqCodebooks(corpus, "id", "v", Vectors.Dim, PqM, PqKs, PqIters, seed)
          .localCheckpoint(true)
      }
    }
    Kernels.measure(h, sample)
  }
}

object AnnServing {
  val CorpusN = 1500
  val Cells = 16
  val Iters = 1
  val PqM = 8
  val PqKs = 16
  val PqIters = 1
  val Batches = 4
  val BatchSize = 16
  val K = 10
  val NProbe = 4
  val Rerank = 50
  val AppendN = 250
  val WarmProbes = 4
  val QueryIdBase = 1000000000L
  val AppendIdBase = 2000000000L
}
