package graft.llmops

import graft.SparkTestSession
import graft.contracts.ContractViolation
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Unit coverage for the llmops operator family on hand-checkable corpora;
  * the driver-level DuckDB oracles (LlmQueries) cover the full testdata.
  */
class LlmOpsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "ab")                                           // shorter than shingle width
  ).toDF("doc_id", "text")

  test("dedupExact keeps the smallest id per identical text") {
    val out = Dedup
      .dedupExact(docs, Fingerprints.contentKeyMd5(col("text")), col("doc_id"))
      .select("doc_id")
      .as[Long]
      .collect()
      .sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 5L)) // 4 dropped (dup of 1)
  }

  test("ngramJaccardPairs computes the exact jaccard") {
    val pairs = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.5)
      .as[(Long, Long, Double)]
      .collect()
      .sortBy(p => (p._1, p._2))
    // docs 1,2,4: 7 shingles each; 1 vs 2 share 6 (last differs) -> 6/8
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val j12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(j12 == 6.0 / 8.0)
    val j14 = pairs.find(p => p._1 == 1L && p._2 == 4L).get._3
    assert(j14 == 1.0)
  }

  test("minhashNearDupPairs finds the planted near-dups and nothing else") {
    val pairs = Dedup
      .minhashNearDupPairs(docs, "doc_id", "text", k = 3, numHashes = 64, bands = 16, tau = 0.7)
      .as[(Long, Long, Double)]
      .collect()
      .map(p => (p._1, p._2))
      .sorted
    assert(pairs.toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("dropNearDuplicates keeps docs with no smaller similar neighbor") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 64, 16, 0.7)
    val kept = Dedup
      .dropNearDuplicates(docs, "doc_id", pairs)
      .select("doc_id")
      .as[Long]
      .collect()
      .sorted
    assert(kept.toSeq == Seq(1L, 3L, 5L))
  }

  test("simhash: native expression is bit-identical to the HOF reference") {
    val rows = docs
      .select(
        Fingerprints.simhash64(col("text")).as("native"),
        Fingerprints.simhash64Hof(col("text")).as("hof")
      )
      .as[(Long, Long)]
      .collect()
    rows.foreach { case (n, h) => assert(n == h) }
  }

  test("simhash of identical docs is identical; near-dups land within small hamming") {
    val pairs = Dedup
      .simhashNearDupPairs(docs, "doc_id", "text", bands = 4, maxHamming = 10)
      .as[(Long, Long, Long)]
      .collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 4L)) == 0)
    // (1,2) surfaces only if a band collides — when it does, hamming is small
    m.get((1L, 2L)).foreach(h => assert(h <= 10))
  }

  test("cosine: native expression is bit-identical to the HOF reference") {
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), 2L, Seq(-1.0f, 0.5f, 2.0f)),
      (2L, Seq(0.1f, -0.2f, 0.3f), 3L, Seq(0.4f, 0.5f, -0.6f))
    ).toDF("a", "va", "b", "vb")
    val rows = vecs
      .select(
        Similarity.cosine(col("va"), col("vb")).as("native"),
        KernelEquivalenceSpec.cosineHof(col("va"), col("vb")).as("hof")
      )
      .as[(Double, Double)]
      .collect()
    rows.foreach { case (n, h) => assert(n == h) }
  }

  test("l2sq: native expression is bit-identical to the HOF reference, incl. null on length mismatch") {
    val vecs = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(-1.0, 0.5, 2.0)),
      (2L, Seq(0.1, -0.2, 0.3), Seq(0.4, 0.5, -0.6)),
      (3L, Seq(7.0, 11.0, 13.0), Seq(7.0, 11.0, 13.0))
    ).toDF("a", "va", "vb")
    val rows = vecs
      .select(
        graft.functions.native.arrayL2Sq(col("va"), col("vb")).as("native"),
        KernelEquivalenceSpec.l2sqHof(col("va"), col("vb")).as("hof")
      )
      .as[(Double, Double)]
      .collect()
    rows.foreach { case (n, h) => assert(n == h) }
    // float element type widens to double identically on both paths
    val fvecs = Seq((1L, Seq(1.5f, -2.25f), Seq(0.5f, 4.0f))).toDF("a", "va", "vb")
    val frow = fvecs
      .select(
        graft.functions.native.arrayL2Sq(col("va"), col("vb")).as("native"),
        KernelEquivalenceSpec.l2sqHof(col("va"), col("vb")).as("hof")
      )
      .as[(Double, Double)]
      .head()
    assert(frow._1 == frow._2)
    // length mismatch is null on both paths (never a silent common-prefix sum)
    val mism = Seq((1L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "va", "vb")
    val mrow = mism
      .select(
        graft.functions.native.arrayL2Sq(col("va"), col("vb")).as("native"),
        KernelEquivalenceSpec.l2sqHof(col("va"), col("vb")).as("hof")
      )
      .collect()
      .head
    assert(mrow.isNullAt(0) && mrow.isNullAt(1))
  }

  test("bruteTopK ranks by cosine with deterministic ties") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top1 = Similarity
      .bruteTopK(vecs, "vec_id", "embedding", k = 1)
      .select("qid", "nid")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(top1(1L) == 2L)
    assert(top1(2L) == 1L)
    assert(top1(3L) == 2L) // cos(3,1)=0 < cos(3,2)>0
  }

  test("ivfTopK finds near neighbors within probed cells") {
    val vecs = (0L until 40L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 1.0f + i * 0.001f else 0.01f)))
      .toDF("vec_id", "embedding")
    val top1 = Similarity
      .ivfTopK(vecs, "vec_id", "embedding", k = 1, cells = 4, nprobe = 2)
      .select("qid", "nid")
      .as[(Long, Long)]
      .collect()
      .toMap
    // every vector finds a neighbor, and that neighbor shares its dominant axis
    assert(top1.size == 40)
    top1.foreach { case (q, n) => assert(q % 4 == n % 4, s"q=$q n=$n") }
  }

  test("kmeansCentroids: at most `cells` centroids, input dim preserved, axis clusters recovered") {
    val vecs = (0L until 40L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 1.0f + i * 0.001f else 0.01f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity
      .kmeansCentroids(vecs, "vec_id", "embedding", cells = 4, iters = 2)
      .as[(Int, Seq[Double])]
      .collect()
    assert(cents.length <= 4)
    cents.foreach { case (_, cv) => assert(cv.length == 8) }
    // each surviving centroid's dominant dimension is one of the 4 cluster axes
    cents.foreach { case (cid, cv) =>
      val dom = cv.indexOf(cv.max)
      assert(dom >= 0 && dom < 4, s"centroid $cid dominant dim $dom")
    }
  }

  test("ivfTopKKmeans finds in-cluster neighbors with fitted centroids") {
    val vecs = (0L until 40L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 1.0f + i * 0.001f else 0.01f)))
      .toDF("vec_id", "embedding")
    val top1 = Similarity
      .ivfTopKKmeans(vecs, "vec_id", "embedding", k = 1, cells = 4, nprobe = 2, iters = 2)
      .select("qid", "nid")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(top1.size == 40)
    top1.foreach { case (q, n) => assert(q % 4 == n % 4, s"q=$q n=$n") }
  }

  test("cosineNearDupAgainst: banded cross pairs are a subset of brute, find the planted dup") {
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(16)(rnd.nextGaussian().toFloat)
    val corpus = ((0L until 20L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat))) :+
      (20L, base.toSeq)).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, base.map(x => x * 1.01f).toSeq), // near-dup of corpus 20
      (101L, Seq.fill(16)(rnd.nextGaussian().toFloat))
    ).toDF("vec_id", "embedding")
    val banded = Similarity
      .cosineNearDupAgainst(batch, corpus, "vec_id", "embedding", tau = 0.9, tables = 4, planesPerTable = 2, probeBits = 2)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val brute = Similarity
      .cosineNearDupAgainst(batch, corpus, "vec_id", "embedding", tau = 0.9, tables = 0)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(banded.subsetOf(brute))           // precision exact
    assert(brute.contains((100L, 20L)))      // the planted pair exists
    assert(banded.contains((100L, 20L)))     // and the banded path finds it
    banded.foreach { case (a, b) => assert(a >= 100L && b <= 20L) } // cross-only
  }

  test("lshTopKAgainst retrieves corpus neighbors for a separate query table") {
    // corpus: 40 axis-clustered vectors; queries: 4 fresh vectors, one per
    // axis (ids disjoint from the corpus), plus one exact corpus copy
    val corpus = (0L until 40L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 1.0f + i * 0.001f else 0.01f)))
      .toDF("vec_id", "embedding")
    val queries = ((100L until 104L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 2.0f else 0.02f))) :+
      (200L, Seq.tabulate(8)(d => if (d == 3) 1.039f else 0.01f))) // copy of corpus id 39
      .toDF("vec_id", "embedding")
    val top = Similarity
      .lshTopKAgainst(queries, corpus, "vec_id", "embedding", k = 3, tables = 8, planesPerTable = 4, probeBits = 4, probeDepth = 2)
      .select("qid", "nid", "rank", "cos")
      .as[(Long, Long, Long, Double)]
      .collect()
    val byQ = top.groupBy(_._1)
    assert(byQ.keySet == Set(100L, 101L, 102L, 103L, 200L))
    // every retrieved neighbor comes from the corpus id space and shares
    // the query's dominant axis
    top.foreach { case (q, n, _, _) =>
      assert(n < 40L, s"nid $n not from corpus")
      // axis of query 100+i is i % 4; the planted copy (id 200) is axis 3
      val qAxis = if (q == 200L) 3L else q % 4
      assert(qAxis == n % 4, s"q=$q n=$n")
    }
    // the planted copy retrieves its corpus twin at rank 1, cosine ~ 1
    val first = byQ(200L).minBy(_._3)
    assert(first._2 == 39L && first._4 > 0.9999)
  }

  test("ivfTopKAgainst retrieves corpus neighbors for a separate query table") {
    val corpus = (0L until 40L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 1.0f + i * 0.001f else 0.01f)))
      .toDF("vec_id", "embedding")
    val queries = (100L until 104L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 2.0f else 0.02f)))
      .toDF("vec_id", "embedding")
    val top = Similarity
      .ivfTopKAgainst(queries, corpus, "vec_id", "embedding", k = 3, cells = 4, nprobe = 2)
      .select("qid", "nid")
      .as[(Long, Long)]
      .collect()
    assert(top.map(_._1).toSet == Set(100L, 101L, 102L, 103L))
    top.foreach { case (q, n) =>
      assert(n < 40L, s"nid $n not from corpus")
      assert(q % 4 == n % 4, s"q=$q n=$n")
    }
  }

  test("ivfTopKKmeans with a sampled fit (100 TB shape) still recovers in-cluster neighbors") {
    val vecs = (0L until 40L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 1.0f + i * 0.001f else 0.01f)))
      .toDF("vec_id", "embedding")
    // fit on a ~50% md5-bucket sample; assignment/probing still covers all 40
    val top1 = Similarity
      .ivfTopKKmeans(vecs, "vec_id", "embedding", k = 1, cells = 4, nprobe = 2, iters = 2, fitSamplePercent = 50)
      .select("qid", "nid")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(top1.size == 40) // every vector assigned and served, not just the sample
    top1.foreach { case (q, n) => assert(q % 4 == n % 4, s"q=$q n=$n") }
    // sampled fit must differ from the full fit's input: the sample is a strict subset
    val full = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", cells = 4, iters = 0)
    val samp = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", cells = 4, iters = 0, fitSamplePercent = 50)
    assert(full.count() == 4 && samp.count() == 4)
  }

  test("cosineNearDupPairs: LSH candidates are a subset of brute pairs and find the planted dup") {
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(16)(rnd.nextGaussian().toFloat)
    val planted = base.map(x => x + 0.01f) // near-dup of vec 0
    val vecs = ((0L, base) +: (1L, planted) +: (2L until 30L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    val brute = Similarity
      .cosineNearDupPairs(vecs, "vec_id", "embedding", tau = 0.9, tables = 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Similarity
      .cosineNearDupPairs(vecs, "vec_id", "embedding", tau = 0.9, tables = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(brute.contains((0L, 1L)))
    assert(lsh.subsetOf(brute)) // verification makes precision exact
    assert(lsh.contains((0L, 1L))) // near-identical vectors share buckets
  }

  test("interleaveBySource: stride scheduling keeps sources proportional and deterministic") {
    // one shard, weights 2:1 over 6+3 rows -> every prefix of the merged
    // order carries ~2x source a
    val df = ((0L until 6L).map(i => (i, "a")) ++ (10L until 13L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val out = Corpus
      .interleaveBySource(df, "doc_id", "source", Map("a" -> 2, "b" -> 1), seed = 5L, shards = 1)
      .select("pos", "source")
      .as[(Long, String)]
      .collect()
      .sortBy(_._1)
      .map(_._2)
    // ratio property: after any prefix of length 3k, exactly 2k a's
    assert(out.length == 9)
    assert(out.take(3).count(_ == "a") == 2)
    assert(out.take(6).count(_ == "a") == 4)
    assert(out.count(_ == "a") == 6)
    // determinism: same seed, same order
    val again = Corpus
      .interleaveBySource(df, "doc_id", "source", Map("a" -> 2, "b" -> 1), seed = 5L, shards = 1)
      .select("pos", "doc_id").as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    val once = Corpus
      .interleaveBySource(df, "doc_id", "source", Map("a" -> 2, "b" -> 1), seed = 5L, shards = 1)
      .select("pos", "doc_id").as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(again.toSeq == once.toSeq)
  }

  test("rarityScore: mean document frequency of token occurrences, exact") {
    val df = Seq(
      (1L, "a a b"), // a in docs {1,2} df=2; b in {1} df=1 -> (2+2+1)/3
      (2L, "a c") // c df=1 -> (2+1)/2
    ).toDF("doc_id", "text")
    val out = TextStats.rarityScore(df).as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 5.0 / 3.0, 3L), (2L, 1.5, 2L)))
  }

  test("dropRepeatedParagraphs: boilerplate removed everywhere, order kept, empty docs survive") {
    val df = Seq(
      (1L, "alpha\nfooter\nbeta"),
      (2L, "gamma\nfooter"),
      (3L, "footer\ndelta"),
      (4L, "footer") // only boilerplate -> empties out
    ).toDF("doc_id", "text")
    val out = Dedup
      .dropRepeatedParagraphs(df, "doc_id", "text", maxDocs = 2)
      .select("doc_id", "n_paragraphs", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)]
      .collect()
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "alpha\nbeta"),
      (2L, 2L, 1L, "gamma"),
      (3L, 2L, 1L, "delta"),
      (4L, 1L, 0L, "")
    ))
    // at maxDocs = 4 the footer is under the cap and everything survives
    val loose = Dedup
      .dropRepeatedParagraphs(df, "doc_id", "text", maxDocs = 4)
      .filter(col("clean_text") =!= col("text"))
      .count()
    assert(loose == 0L)
  }

  test("TokenWindows native expression is bit-identical to the HOF formulation") {
    val k = 3
    val rows = docs
      .select(
        graft.functions.native.tokenWindows(split(col("text"), " "), k).as("native"),
        expr(
          s"CASE WHEN size(split(text, ' ')) < $k THEN array() " +
            s"ELSE transform(sequence(0, size(split(text, ' ')) - $k), i -> concat_ws(' ', slice(split(text, ' '), i + 1, $k))) END"
        ).as("hof")
      )
      .as[(Seq[String], Seq[String])]
      .collect()
    rows.foreach { case (n, h) => assert(n == h) }
  }

  test("duplicateSpans: canonical occurrence survives, copies merge to maximal spans") {
    val df = Seq(
      (1L, "a b c d e f g h"), // canonical - no spans reported
      (2L, "x a b c d e f y"), // contains a 6-token copy of doc 1 at pos 1
      (3L, "a b c d e f g h") // full copy: every window duplicated, one span
    ).toDF("doc_id", "text")
    val spans = Dedup
      .duplicateSpans(df, "doc_id", "text", k = 4)
      .as[(Long, Long, Long, Long)]
      .collect()
      .sortBy(s => (s._1, s._2))
    // doc 2: windows at pos 1..3 hit doc 1's windows 0..2 -> one span [1, 6]
    // doc 3: windows 0..4 all duplicated -> one span [0, 7]
    assert(spans.toSeq == Seq((2L, 1L, 6L, 3L), (3L, 0L, 7L, 5L)))
  }

  test("removeDuplicateSpans: canonical copy survives, covered tokens cut, untouched docs pass through") {
    val df = Seq(
      (1L, "a b c d e f g h"), // canonical: untouched
      (2L, "x a b c d e f y"), // span [1,6] cut -> "x y"
      (3L, "a b c d e f g h"), // full copy -> emptied
      (4L, "p q r") // shorter than k: untouched
    ).toDF("doc_id", "text")
    val out = Dedup
      .removeDuplicateSpans(df, "doc_id", "text", k = 4)
      .select("doc_id", "n_kept_tokens", "clean_text")
      .as[(Long, Long, String)]
      .collect()
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 8L, "a b c d e f g h"),
      (2L, 2L, "x y"),
      (3L, 0L, ""),
      (4L, 3L, "p q r")
    ))
  }

  test("selectUnderTokenBudget: whole levels top-down, boundary level excluded") {
    val df = Seq(
      (1L, 0.9, 30L),
      (2L, 0.9, 30L),
      (3L, 0.5, 50L),
      (4L, 0.1, 100L)
    ).toDF("doc_id", "lvl", "n_tokens")
    // budget 110: level .9 (60) fits, +level .5 (50) = 110 fits, +.1 overflows
    val sel110 = Corpus.selectUnderTokenBudget(df, "lvl", "n_tokens", 110L)
      .select("doc_id").as[Long].collect().toSet
    assert(sel110 == Set(1L, 2L, 3L))
    // budget 100: level .5 would overflow (60+50=110) -> all-or-nothing excludes it
    val sel100 = Corpus.selectUnderTokenBudget(df, "lvl", "n_tokens", 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(sel100 == Set(1L, 2L))
    assert(Corpus.selectUnderTokenBudget(df, "lvl", "n_tokens", 0L).count() == 0L)
  }

  test("kmeans empty cells: cells > distinct-cluster-count shrinks the index deterministically") {
    // two orthogonal degenerate clusters; asking for 4 cells can keep at
    // most 2 after one Lloyd update (ties break to the min cid, so the
    // surviving set is deterministic)
    val vecs = ((0L until 6L).map(i => (i, Seq(1.0f, 0.0f))) ++ (6L until 12L).map(i => (i, Seq(0.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", cells = 4, iters = 2)
    val kept = cents.count()
    assert(kept < 4 && kept >= 1, s"expected empty cells to drop out, got $kept of 4")
    // the shrunken index still answers: every vector finds a same-cluster neighbor
    val top1 = Similarity
      .ivfTopKKmeans(vecs, "vec_id", "embedding", k = 1, cells = 4, nprobe = 1, iters = 2)
      .select("qid", "nid").as[(Long, Long)].collect()
    assert(top1.nonEmpty)
    top1.foreach { case (q, n) => assert((q < 6) == (n < 6), s"cross-cluster neighbor: q=$q n=$n") }
  }

  test("suggestedPlanes: integer ceil-log2 rule, boundaries exact") {
    // smallest p >= 1 with n <= targetBucket * 2^p
    assert(Similarity.suggestedPlanes(1L) == 1)
    assert(Similarity.suggestedPlanes(64L) == 1)
    assert(Similarity.suggestedPlanes(65L) == 2)
    assert(Similarity.suggestedPlanes(500L) == 4)
    assert(Similarity.suggestedPlanes(512L) == 4) // exact power-of-two boundary
    assert(Similarity.suggestedPlanes(513L) == 5)
    assert(Similarity.suggestedPlanes(5000L) == 8)
    assert(Similarity.suggestedPlanes(100L, targetBucket = 10L) == 4)
    intercept[IllegalArgumentException](Similarity.suggestedPlanes(0L))
  }

  test("suggestedCells: integer ceil-sqrt rule, boundaries exact") {
    assert(Similarity.suggestedCells(1L) == 1)
    assert(Similarity.suggestedCells(2L) == 2)
    assert(Similarity.suggestedCells(4L) == 2) // exact square boundary
    assert(Similarity.suggestedCells(5L) == 3)
    assert(Similarity.suggestedCells(500L) == 23)
    assert(Similarity.suggestedCells(2000L) == 45)
    assert(Similarity.suggestedCells(1L << 40) == (1L << 20).toInt)
    intercept[IllegalArgumentException](Similarity.suggestedCells(0L))
  }

  test("hyperplanes are prefix-consistent (the auto-LSH oracle's gating invariant)") {
    val full = Similarity.hyperplanes(10, 16, seed = 42L)
    val short = Similarity.hyperplanes(4, 16, seed = 42L)
    assert(full.take(4).map(_.toSeq).toSeq == short.map(_.toSeq).toSeq)
  }

  test("AutoPlanes path: lshTopK and lshTopKAgainst stay subsets of brute, find the planted dup") {
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(16)(rnd.nextGaussian().toFloat)
    val planted = base.map(x => x + 0.01f)
    val vecs = ((0L, base) +: (1L, planted) +: (2L until 40L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    // self-join shape, planesPerTable unset -> auto (n=40, target 32 -> 1 plane)
    val auto = Similarity
      .lshTopK(vecs, "vec_id", "embedding", k = 1, tables = 6, probeBits = 2)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    assert(auto.get(0L).contains(1L) && auto.get(1L).contains(0L))
    // cross-table shape: width sized from the corpus side
    val hits = Similarity
      .lshTopKAgainst(
        vecs.filter($"vec_id" === 1L),
        vecs.filter($"vec_id" =!= 1L),
        "vec_id",
        "embedding",
        k = 1,
        tables = 6,
        probeBits = 2
      )
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    assert(hits.get(1L).contains(0L))
  }

  test("chunkTokens: overlapping windows, short tail, stable ids") {
    val df = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val chunks = Corpus
      .chunkTokens(df, "text", chunkSize = 3, overlap = 1)
      .select("chunk_id", "chunk")
      .as[(Long, String)]
      .collect()
      .sortBy(_._1)
    assert(chunks.toSeq == Seq((0L, "a b c"), (1L, "c d e"), (2L, "e f g"), (3L, "g")))
  }

  test("splitByContentHash: deterministic and duplicate-stable") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other text")).toDF("doc_id", "text")
    val splits = df
      .select(col("doc_id"), Corpus.splitByContentHash(col("text"), 90).as("s"))
      .as[(Long, String)]
      .collect()
      .toMap
    assert(splits(1L) == splits(2L)) // exact duplicates share a split
    assert(Set("train", "valid").contains(splits(3L)))
    // stable across evaluations
    val again = df.select(Corpus.splitByContentHash(col("text"), 90)).as[String].collect()
    assert(again.toSeq == df.select(Corpus.splitByContentHash(col("text"), 90)).as[String].collect().toSeq)
  }

  test("textStats and langId") {
    val df = Seq((1L, "the cat is in the hat")).toDF("doc_id", "text")
    val r = TextStats
      .withStats(df)
      .select("n_chars_calc", "n_tokens", "n_distinct_tokens")
      .as[(Long, Long, Long)]
      .head()
    assert(r == ((21L, 6L, 5L)))
    val lang = df.select(TextStats.langId(col("text"))).as[String].head()
    assert(lang == "en")
    val de = Seq((1L, "der hund ist nicht da")).toDF("doc_id", "text")
    assert(de.select(TextStats.langId(col("text"))).as[String].head() == "de")
    // zero stopword hits in every language -> unknown, not a silent 'en'
    val num = Seq((1L, "12345 67890 xyzzy")).toDF("doc_id", "text")
    assert(num.select(TextStats.langId(col("text"))).as[String].head() == "und")
  }

  test("cosine of mismatched-length arrays is null (native matches HOF)") {
    val vecs = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("va", "vb")
    val row = vecs
      .select(
        Similarity.cosine(col("va"), col("vb")).as("native"),
        KernelEquivalenceSpec.cosineHof(col("va"), col("vb")).as("hof")
      )
      .head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("multimodal: binary payload + metadata pass the contract; stub features are deterministic") {
    val media = Multimodal.attachBinary(docs)
    val feats = Multimodal.extractFeaturesStub(media)
    val row = feats.filter(col("doc_id") === 1L).head()
    val expectBytes = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8").length
    assert(row.getAs[Long]("byte_len") == expectBytes)
    assert(row.getAs[String]("mime") == "text/plain")
    assert(row.getAs[Long]("fake_width") == expectBytes % 1024 + 1)
    // drifted producer (no payload/meta) must fail the contract pin
    intercept[ContractViolation] {
      graft.contracts.SchemaCheck.assertMatchesContract[Multimodal.MediaRow](docs)
    }
  }

  test("multimodal decodeBatched: per-partition codec handle, contract-shaped output") {
    import Multimodal.{MediaRow, MediaMeta}
    val media = Multimodal.attachBinary(docs).as[MediaRow]
    // fake "codec": decodes bytes to (id, first byte, length)
    val decoded = Multimodal
      .decodeBatched(media) { () =>
        // per-partition setup happens here (real impl: open codec/GPU ctx)
        (m: MediaRow) => (m.doc_id, m.payload.headOption.getOrElse(0: Byte).toInt, m.meta.byte_len)
      }
      .collect()
      .sortBy(_._1)
    assert(decoded.length == 5)
    assert(decoded.head == ((1L, 't'.toInt, 43L)))
    assert(decoded.find(_._1 == 2L).get._3 == 43L)
  }

  test("shingles: native expression matches the HOF reference exactly") {
    val rows = docs
      .select(
        Fingerprints.shingles(col("text"), 3).as("native"),
        Fingerprints.shinglesHof(col("text"), 3).as("hof")
      )
      .as[(Seq[String], Seq[String])]
      .collect()
    rows.foreach { case (n, h) => assert(n == h) }
  }

  test("shingles of docs shorter than k are empty (no crash, no pairs)") {
    val short = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(short, "doc_id", "text", 3, 0.1).count() == 0)
    assert(Dedup.minhashNearDupPairs(short, "doc_id", "text", 3, 16, 4, 0.5).count() == 0)
  }

  test("connectedComponents labels transitive clusters with the min reachable id") {
    val ids = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    // chain 1-2-3 (no direct 1-3 edge), pair 4-5, isolated 6, 7
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val comp = Dedup
      .connectedComponents(ids, "doc_id", pairs)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 7L))
  }

  test("auto-width LSH plans stay bucketed: no BroadcastNestedLoop, no Cartesian") {
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val plan = Similarity
      .lshTopK(vecs, "vec_id", "embedding", k = 2, tables = 4, probeBits = 2) // AutoPlanes default
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in auto-LSH plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"Cartesian in auto-LSH plan:\n$plan")
  }

  test("connectedComponents converges on a long chain (label must propagate end-to-end)") {
    val n = 200L
    val ids = (1L to n).map(Tuple1(_)).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponents(ids, "doc_id", pairs).as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(1L))
    // probe-cadence gate: convergence probes are driver round-trips; the
    // every-2nd-round schedule after round 4 must keep probes ≤ ⌈rounds/2⌉+2
    val stats = Dedup.lastCcStats
    assert(stats.iterations > 4, s"chain of 200 should need >4 pointer-jump rounds, got ${stats.iterations}")
    assert(
      stats.probes <= (stats.iterations + 1) / 2 + 2,
      s"probe cadence regressed: ${stats.probes} probes over ${stats.iterations} rounds"
    )
  }

  test("splitByComponent: near-dup pair members NEVER straddle the train/valid boundary") {
    val ids = (1L to 40L).map(Tuple1(_)).toDF("doc_id")
    // chains + pairs: transitive members must all inherit one split
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L)).toDF("a", "b")
    val split = Corpus.splitByComponent(ids, "doc_id", pairs, trainPercent = 50)
    val bySplit = split.select("doc_id", "split").as[(Long, String)].collect().toMap
    Seq(Seq(1L, 2L, 3L), Seq(10L, 11L), Seq(20L, 21L, 22L, 23L)).foreach { cluster =>
      assert(cluster.map(bySplit).distinct.size == 1, s"cluster $cluster straddles the split")
    }
    // at 50% both splits must be populated on 40 docs (sanity: not constant)
    assert(bySplit.values.toSet == Set("train", "valid"))
  }

  test("splitByComponent end-to-end: a planted paraphrase CHAIN rides the split as one unit") {
    // ten paraphrases, each differing from the previous by one token of
    // forty: adjacent Jaccard ≈ 0.85 (pair), ends ≈ 0.56 (no pair) — the
    // chain is connected only TRANSITIVELY, so cluster unity here proves
    // the CC stage, not just pair symmetry. This is the capstone-v3 split
    // rule (llm_corpus_pipeline_v3) on a fixture where doc-level hashing
    // demonstrably leaks.
    val base = (1 to 40).map(i => s"w$i")
    val chain = (0 until 10).map { i =>
      val toks = base.zipWithIndex.map { case (t, j) => if (j < i * 4 && j % 4 == 0) s"sub$j" else t }
      (100L + i, toks.mkString(" "))
    }
    val extra = (0 until 10).map(i => (500L + i, (1 to 40).map(j => s"other${i}_$j").mkString(" ")))
    val df = (chain ++ extra).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, "doc_id", "text", 3, 128, 32, 0.8)
    // the chain must be transitively connected but NOT a clique
    val ps = pairs.select("a", "b").as[(Long, Long)].collect().toSet
    assert(ps.contains((100L, 101L)) && !ps.contains((100L, 109L)), s"chain shape wrong: $ps")
    val split = Corpus
      .splitByComponent(df.select("doc_id"), "doc_id", pairs, trainPercent = 50)
      .select("doc_id", "split")
      .as[(Long, String)]
      .collect()
      .toMap
    assert(chain.map(c => split(c._1)).distinct.size == 1, "paraphrase chain straddles the split")
    // contrast: the doc-level content-hash split DOES scatter this chain
    // (that is the leakage channel the component split closes)
    val hashSplit = df
      .filter(col("doc_id") >= 100L && col("doc_id") < 110L)
      .select(Corpus.splitByContentHash(col("text"), 50))
      .as[String]
      .collect()
    assert(hashSplit.toSet.size == 2, "fixture too lucky: content-hash split didn't scatter the chain")
  }

  test("capPerKey: per-key counts capped, deterministic, seed-sensitive") {
    val df = (1L to 100L).map(i => (i, s"k${i % 3}")).toDF("doc_id", "key")
    val capped = Corpus.capPerKey(df, "doc_id", "key", cap = 5)
    val counts = capped.groupBy("key").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ == 5L), s"cap violated: $counts")
    // small keys keep everything
    val small = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "key")
    assert(Corpus.capPerKey(small, "doc_id", "key", cap = 5).count() == 3L)
    // deterministic: same seed → same set; different seed → different set
    val a = capped.select("doc_id").as[Long].collect().toSet
    val b = Corpus.capPerKey(df, "doc_id", "key", 5).select("doc_id").as[Long].collect().toSet
    val c = Corpus.capPerKey(df, "doc_id", "key", 5, seed = 99L).select("doc_id").as[Long].collect().toSet
    assert(a == b, "same seed must reproduce the same kept set")
    assert(a != c, "fixture too lucky: different seed picked the identical set")
  }

  test("pqEncode: codes in range, reconstruction is the codeword concat, exact dups share codes") {
    val vecs = (0 until 24).map { i =>
      val v = Array.tabulate(8)(j => ((i % 4) * 10 + j).toFloat)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "v")
    val cb = Similarity.pqCodebooks(df, "vec_id", "v", dim = 8, m = 2, ks = 4, iters = 2)
    val enc = Similarity
      .pqEncode(df, "vec_id", "v", cb, dim = 8, m = 2)
      .select("__id", "__codes", "__rv")
      .as[(Long, Seq[Int], Seq[Double])]
      .collect()
      .sortBy(_._1)
    assert(enc.length == 24)
    enc.foreach { case (_, codes, rv) =>
      assert(codes.length == 2 && codes.forall(c => c >= 0 && c < 4))
      assert(rv.length == 8)
    }
    // ids congruent mod 4 have IDENTICAL vectors -> identical codes + rv
    val byId = enc.map(e => e._1 -> (e._2, e._3)).toMap
    (0 until 4).foreach { r =>
      val group = (r until 24 by 4).map(i => byId(i.toLong)).distinct
      assert(group.size == 1, s"identical vectors in class $r got different codes")
    }
  }

  test("ivfPqTopK with rerank returns k exact-ranked rows per query from the ADC shortlist") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 60).map { i =>
      val center = i % 3
      val v = Array.tabulate(8)(j => (center * 5).toFloat + rnd.nextFloat() * 0.1f)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "v")
    val out = Similarity
      .ivfPqTopK(df, "vec_id", "v", k = 3, cells = 3, nprobe = 1, iters = 2, pqM = 2, pqKs = 4, rerank = 10, dim = 8)
      .select("qid", "nid", "rank")
      .as[(Long, Long, Long)]
      .collect()
    val perQ = out.groupBy(_._1)
    assert(perQ.values.forall(_.length == 3), "every query must return exactly k rows")
    perQ.values.foreach(rows => assert(rows.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L)))
  }

  test("AnnIndex: fit → save → load → probe round-trip is bit-identical to the fused ivfPqTopK") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map { i =>
      val center = i % 3
      val v = Array.tabulate(8)(j => (center * 5).toFloat + rnd.nextFloat() * 0.1f)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val fused = KernelEquivalenceSpec
      .ivfPqTopKFusedRef(df, "vec_id", "v", k = 3, cells = 3, nprobe = 2, iters = 2, pqM = 2, pqKs = 4, rerank = 10, dim = 8)
      .select("qid", "nid", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(r => (r._1, r._3))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    val idx = AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    AnnIndex.save(idx, dir)
    val loaded = AnnIndex.load(spark, dir)
    assert(loaded.dim == 8 && loaded.cells == 3 && loaded.pqM == 2 && loaded.pqKs == 4 && loaded.seed == 42L)
    val probed = AnnIndex
      .probeIvfPq(loaded, df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(r => (r._1, r._3))
    assert(probed.toSeq == fused.toSeq, "persisted-index probe must reproduce the fused operator exactly")
    // the on-disk codes live in a committed generation, fit rows under the
    // __batch=-1 layer, one directory per cell (the partition pruning unit)
    val gen = AnnIndex.currentCodesPath(spark, dir)
    assert(gen.getName == "codes_v1", s"fresh save must commit codes_v1, got $gen")
    val cellDirs = new java.io.File(gen.toUri.getPath, "__batch=-1")
      .listFiles()
      .filter(_.getName.startsWith("__cid="))
    assert(cellDirs.nonEmpty, "codes must be partitioned by cell id under the fit layer")

    // no fit stages on the query path: a probe of the LOADED index (no
    // rerank fetch) must read ONLY the index directory — every file scan
    // in its plan points under dir; the corpus vectors and any k-means/PQ
    // fit machinery are absent by construction
    val batch = Seq((1000L, Seq.fill(8)(1.0f))).toDF("vec_id", "v")
    val probePlan = AnnIndex
      .probeIvfPq(loaded, batch, "vec_id", "v", k = 3, nprobe = 2)
      .queryExecution
      .optimizedPlan
    val scans = probePlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq(s"non-file relation: ${r.relation.getClass.getName}")
        }
    }.flatten
    assert(scans.nonEmpty, "probe must scan the persisted index")
    assert(
      scans.forall(_.contains(dir)),
      s"probe plan must touch only the index dir; scanned: ${scans.mkString(", ")}"
    )

    // small-batch pruned probe: identical results, and the codes scan
    // carries a STATIC partition filter on the probed cell ids
    val smallBatch = df.filter($"vec_id" < 5).localCheckpoint(true)
    val viaJoin = AnnIndex
      .probeIvfPq(loaded, smallBatch, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    val (prunedDf, prunedRuns) = graft.SparkTestSession.executionsOf(spark)(
      AnnIndex
        .probeIvfPqPruned(loaded, smallBatch, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
    )
    val viaPruned = prunedDf
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    assert(viaPruned.toSeq == viaJoin.toSeq, "pruned probe must equal the join-form probe")
    val prunedPlan = graft.SparkTestSession.planNamed(prunedRuns, "probeIvfPqPruned.shortlist")
    assert(
      "PartitionFilters: \\[[^\\]]*__cid[^\\]]*IN".r.findFirstIn(prunedPlan).nonEmpty,
      s"expected a static __cid IN partition filter on the codes scan; plan:\n$prunedPlan"
    )
  }

  test("AnnIndex filtered probe: k fills from matching survivors, predicate rides the codes scan") {
    val rnd = new scala.util.Random(47)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annfiltered").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    val loaded = AnnIndex.load(spark, dir)
    val batch = df.filter($"vec_id" < 5).localCheckpoint(true)
    val pred = col("__nid") % 2 === 0
    def run(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      d.select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    val (filteredDf, filteredRuns) = graft.SparkTestSession.executionsOf(spark)(
      AnnIndex
        .probeIvfPqPruned(loaded, batch, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true, idFilter = Some(pred))
    )
    val filtered = run(filteredDf)
    // semantic contract: filtered probe ≡ probing an index that only ever
    // contained matching rows (k fills from survivors, NOT post-filtered)
    val survivorIdx = loaded.copy(codes = loaded.codes.filter(pred))
    val ref = run(AnnIndex.probeIvfPqPruned(survivorIdx, batch, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true))
    assert(filtered == ref, "filtered probe must equal probing a survivors-only index")
    assert(filtered.nonEmpty && filtered.forall(_._2 % 2 == 0), "every answer must match the predicate")
    assert(filtered.groupBy(_._1).forall(_._2.size == 3), "k must be FILLED from matching survivors")
    // join-form probe honors the same predicate
    val joinForm = run(AnnIndex.probeIvfPq(loaded, batch, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true, idFilter = Some(pred)))
    assert(joinForm == filtered, "join-form and pruned filtered probes must agree")
    // plan contract: the predicate composes with the probed-cell IN list
    // on the SAME codes scan — no join added, cell pruning intact
    val plan = graft.SparkTestSession.planNamed(filteredRuns, "probeIvfPqPruned.shortlist")
    assert(
      "PartitionFilters: \\[[^\\]]*__cid[^\\]]*IN".r.findFirstIn(plan).nonEmpty,
      s"cell pruning must survive the id filter; plan:\n$plan"
    )
    assert(
      "__nid#\\d+L?\\)? % 2".r.findFirstIn(plan).nonEmpty,
      s"the id predicate must ride the codes scan as a filter; plan:\n$plan"
    )
  }

  test("AnnIndex pruned probe equals the join-form probe in rows and schema on every fixture") {
    val rnd = new scala.util.Random(59)
    val vecs = (0 until 60).map(i => Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    val zeros = Seq.fill(8)(0f) // scores NaN against every cell and candidate
    val schema = (id: org.apache.spark.sql.types.DataType) =>
      org.apache.spark.sql.types.StructType
        .fromDDL(s"vec_id ${id.sql}, v ARRAY<FLOAT>")
    def frame(rows: Seq[(Any, Seq[Float])], id: org.apache.spark.sql.types.DataType) =
      spark.createDataFrame(rows.map { case (i, v) => org.apache.spark.sql.Row(i, v) }.asJava, schema(id))

    def same(
        at: String,
        idx: AnnIndex.IvfPqIndex,
        batch: org.apache.spark.sql.DataFrame,
        from: org.apache.spark.sql.DataFrame,
        k: Int = 3,
        nprobe: Int = 2,
        rerank: Int = 0,
        excludeSelf: Boolean = false,
        idFilter: Option[Column] = None
    ): Unit = {
      val join = AnnIndex.probeIvfPq(idx, batch, "vec_id", "v", k, nprobe, rerank, Some(from), excludeSelf, idFilter)
      val pruned = AnnIndex.probeIvfPqPruned(idx, batch, "vec_id", "v", k, nprobe, rerank, Some(from), excludeSelf, idFilter = idFilter)
      assert(pruned.schema == join.schema, s"schema ($at): ${pruned.schema} vs ${join.schema}")
      val (got, want) = (pruned.collect().map(_.toString).sorted.toSeq, join.collect().map(_.toString).sorted.toSeq)
      assert(got == want, s"rows ($at)")
      assert(want.nonEmpty == !batch.isEmpty, s"fixture must answer a non-empty batch ($at)")
    }

    // long ids, a saved and loaded index; the rerank source misses the
    // ids ≡ 2 (mod 5) and holds the multiples of 7 twice
    val longIds = org.apache.spark.sql.types.LongType
    val df = frame(vecs.indices.map(i => (i.toLong, vecs(i))), longIds).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annequiv").toString
    AnnIndex.save(AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8), dir)
    val loaded = AnnIndex.load(spark, dir)
    val from = df.filter($"vec_id" % 5 =!= 2).union(df.filter($"vec_id" % 7 === 0))
    // duplicate qids (one with equal vectors, one with two vectors), a null
    // vector, a NaN-scoring vector and an id absent from the rerank source
    val batch = frame(
      Seq(1L -> vecs(1), 1L -> vecs(1), 4L -> vecs(4), 4L -> vecs(7), 100L -> null, 101L -> zeros, 7L -> vecs(7), 12L -> vecs(12), 200L -> vecs(10)),
      longIds
    )
    val firstCell = loaded.codes.select(min("__cid")).head().getInt(0)
    val emptied = loaded.copy(codes = loaded.codes.filter($"__cid" =!= firstCell))
    val even = Some($"__nid" % 2 === 0)
    same("rerank 0", loaded, batch, from)
    same("rerank = k, excludeSelf", loaded, batch, from, rerank = 3, excludeSelf = true)
    same("rerank > k, excludeSelf, idFilter", loaded, batch, from, rerank = 10, excludeSelf = true, idFilter = even)
    same("nprobe > cells", loaded, batch, from, nprobe = 5, rerank = 10)
    same("emptied cell, rerank > k", emptied, batch, from, nprobe = 1, rerank = 10, excludeSelf = true)
    same("emptied cell, idFilter", emptied, batch, from, idFilter = even)
    same("empty batch", loaded, batch.limit(0), from, rerank = 10)

    // string ids, an in-memory index; a null qid answers without a rerank
    // and is dropped by the rerank's join on qid
    val strIds = org.apache.spark.sql.types.StringType
    val sdf = frame(vecs.indices.map(i => (s"s$i", vecs(i))), strIds).localCheckpoint(true)
    val sidx = AnnIndex.fitIvfPq(sdf, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val sfrom = sdf.filter(!$"vec_id".endsWith("2")).union(sdf.filter($"vec_id".endsWith("7")))
    val sbatch = frame(Seq((null, vecs(3)), "s5" -> vecs(5), "s5" -> vecs(5), "s9" -> null, "zz" -> zeros, "s17" -> vecs(17)), strIds)
    same("strings, rerank 0", sidx, sbatch, sfrom)
    same("strings, rerank > k, excludeSelf", sidx, sbatch, sfrom, rerank = 10, excludeSelf = true)
    same("strings, rerank > k, idFilter", sidx, sbatch, sfrom, nprobe = 3, rerank = 10, idFilter = Some($"__nid" =!= "s8"))
  }

  /** Spark jobs `body` launches, counted by [[graft.QueryMetrics]]. */
  private def jobsOf[A](what: String)(body: => A): (A, Int) = {
    val (out, m) = graft.QueryMetrics.measure(spark, what)(body)
    (out, m.jobs)
  }

  test("AnnIndex pruned probe serves from the handle: fit tables cached per handle, one job to build, generation-scoped") {
    val rnd = new scala.util.Random(53)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_anncache").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    val batch = df.filter($"vec_id" < 5).localCheckpoint(true)
    def pruned(idx: AnnIndex.IvfPqIndex): org.apache.spark.sql.DataFrame = AnnIndex
      .probeIvfPqPruned(idx, batch, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
    def run(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      d.select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq

    // (a) a second probe on the same handle plans no fit-table scan: the
    // centroid entries and codeword map come from the handle's FitTables
    val pinned = AnnIndex.load(spark, dir)
    val pinnedAnswers = run(pruned(pinned))
    val (second, secondRuns) = graft.SparkTestSession.executionsOf(spark)(pruned(pinned))
    assert(run(second) == pinnedAnswers, "a cached-table probe must answer like the first probe")
    val scanned = secondRuns.flatMap { case (_, qe) =>
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(qe.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
        }
        .flatten
    }
    assert(scanned.exists(_.contains("codes_v")), s"the probe must scan the codes; scanned: ${scanned.mkString(", ")}")
    assert(
      !scanned.exists(p => p.contains("/centroids") || p.contains("/codebooks")),
      s"a second probe must not scan centroids/ or codebooks/; scanned: ${scanned.mkString(", ")}"
    )

    // (b) building and collecting a pruned probe of a localCheckpoint
    // batch on a warm handle launches at most three jobs: the batch
    // collect, the shortlist and the rerank fetch
    val (built, buildJobs) = jobsOf("probe-build")(run(pruned(pinned)))
    assert(buildJobs <= 3, s"building and collecting a pruned probe launched $buildJobs jobs, expected at most 3")
    assert(built == pinnedAnswers)

    // (c) the cache is scoped to the handle: after a refit, a fresh load
    // probes like a newly fitted handle, and the pinned pre-refit handle
    // keeps answering from its own generation
    val survivors = df.filter($"vec_id" % 2 === 0)
    AnnIndex.refit(spark, dir, survivors, "vec_id", "v", cells = 4, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val reloaded = run(pruned(AnnIndex.load(spark, dir)))
    val fresh = AnnIndex.fitIvfPq(survivors, "vec_id", "v", cells = 4, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    assert(reloaded == run(pruned(fresh)), "a post-refit load must probe like a freshly fitted handle")
    assert(reloaded.nonEmpty && reloaded.forall(_._2 % 2 == 0), "the refit generation answers from survivors only")
    assert(pinnedAnswers.exists(_._2 % 2 == 1), "fixture: the pre-refit index must answer with some odd ids")
    assert(run(pruned(pinned)) == pinnedAnswers, "a pinned handle must keep its own generation's answers")
  }

  test("AnnIndex load launches no job; append of a local batch launches at most 2 and writes one file per touched cell") {
    val rnd = new scala.util.Random(71)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annjobs").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df.filter($"vec_id" < 48), "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    val (loaded, loadJobs) = jobsOf("load")(AnnIndex.load(spark, dir))
    assert(loadJobs == 0, s"load launched $loadJobs jobs, expected none (the fit tables are read on the driver)")
    // the first probe of a loaded handle runs without a fit job: the
    // batch collect, the shortlist and (with a rerank) the fetch
    val batch = df.filter($"vec_id" < 4).localCheckpoint(true)
    val (_, probeJobs) = jobsOf("probe-build") {
      AnnIndex.probeIvfPqPruned(loaded, batch, "vec_id", "v", k = 3, nprobe = 2).collect()
    }
    assert(probeJobs <= 3, s"building and collecting the first probe of a loaded handle launched $probeJobs jobs")
    // a local batch: its encode is a projection of a local relation
    val local = spark.createDataFrame(df.filter($"vec_id" >= 48).collect().toSeq.asJava, df.schema)
    val (_, appendJobs) = jobsOf("append")(AnnIndex.append(spark, dir, local, "vec_id", "v", batchId = 0L))
    assert(appendJobs <= 2, s"append launched $appendJobs jobs, expected at most 2 (the shuffle on __cid and the write)")
    val reloaded = AnnIndex.load(spark, dir)
    assert(reloaded.codes.count() == 60)
    // the append layer holds exactly one parquet file per touched cell
    val layer = new java.io.File(new java.io.File(AnnIndex.currentCodesPath(spark, dir).toUri.getPath), "__batch=0")
    val touched = reloaded.codes.filter($"__nid" >= 48).select($"__cid".cast("int")).distinct().as[Int].collect().toSet
    val filesByCell = layer.listFiles().filter(_.getName.startsWith("__cid=")).map { cell =>
      cell.getName.stripPrefix("__cid=").toInt -> cell.listFiles().count(_.getName.endsWith(".parquet"))
    }.toMap
    assert(filesByCell.keySet == touched, s"append layer cells ${filesByCell.keySet} != touched cells $touched")
    assert(filesByCell.values.forall(_ == 1), s"append wrote more than one file into a cell: $filesByCell")
  }

  test("AnnIndex.fitIvfPq launches a pinned number of jobs at iters = pqIters = 1 and 2") {
    val rnd = new scala.util.Random(83)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    // per fit (k-means, then PQ): the points snapshot, the init's exchange
    // and collect, and each round's exchange and collect
    for ((rounds, limit) <- Seq(1 -> 10, 2 -> 14)) {
      val (idx, jobs) = jobsOf(s"fit-$rounds") {
        AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = rounds, pqM = 2, pqKs = 4, pqIters = rounds, dim = 8)
      }
      assert(jobs <= limit, s"fitIvfPq at iters = pqIters = $rounds launched $jobs jobs, expected at most $limit")
      assert(idx.codes.count() == 60)
    }
  }

  test("AnnIndex.fitIvfPq runs its two fits at once: the caller's tag counts every job, rows unchanged, failures rethrown") {
    val rnd = new scala.util.Random(89)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] = d.collect().map(_.toString).sorted.toSeq
    val (idx, atOnce) = graft.QueryMetrics.measure(spark, "fit-at-once") {
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    }
    val (km, kmJobs) = jobsOf("kmeans")(Similarity.kmeansCentroids(df, "vec_id", "v", cells = 3, iters = 2))
    val (pq, pqJobs) = jobsOf("pq")(Similarity.pqCodebooks(df, "vec_id", "v", dim = 8, m = 2, ks = 4, iters = 2))
    assert(atOnce.jobs == kmJobs + pqJobs, s"fitIvfPq counted ${atOnce.jobs} jobs, the two fits alone $kmJobs + $pqJobs")
    assert(rows(idx.centroids) == rows(km) && rows(idx.codebooks) == rows(pq), "each fit must give its serial rows")

    def fitThreads: Int = Thread.getAllStackTraces.keySet.asScala.count(t => t.getName == "graft-fit" && t.isAlive)
    val small = df.filter($"vec_id" < 6)
    val both = intercept[IllegalArgumentException] {
      AnnIndex.fitIvfPq(small, "vec_id", "v", cells = 7, iters = 1, pqM = 2, pqKs = 7, pqIters = 1, dim = 8)
    }
    assert(both.getMessage.contains("kmeansCentroids: fit sample has only 6 rows but cells=7"), both.getMessage)
    assert(both.getSuppressed.exists(_.getMessage.contains("pqCodebooks: fit sample has only 6 rows but ks=7")))
    assert(fitThreads == 0, "a failed fit must leave no fit thread running")
    val pqOnly = intercept[IllegalArgumentException] {
      AnnIndex.fitIvfPq(small, "vec_id", "v", cells = 2, iters = 1, pqM = 2, pqKs = 7, pqIters = 1, dim = 8)
    }
    assert(pqOnly.getMessage.contains("pqCodebooks: fit sample has only 6 rows but ks=7"), pqOnly.getMessage)
    assert(fitThreads == 0, "a failed fit must leave no fit thread running")
  }

  test("kmeansCentroids and pqCodebooks fail loudly on a fit sample smaller than cells or ks") {
    val vecs = (0L until 6L).map(i => (i, Seq.tabulate(4)(d => (i * 3 + d).toFloat))).toDF("vec_id", "v")
    val km = intercept[IllegalArgumentException](Similarity.kmeansCentroids(vecs, "vec_id", "v", cells = 7, iters = 1))
    assert(km.getMessage.contains("kmeansCentroids: fit sample has only 6 rows but cells=7"), km.getMessage)
    val pq = intercept[IllegalArgumentException](Similarity.pqCodebooks(vecs, "vec_id", "v", dim = 4, m = 2, ks = 7, iters = 1))
    assert(pq.getMessage.contains("pqCodebooks: fit sample has only 6 rows but ks=7"), pq.getMessage)
    val sampled = intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(vecs, "vec_id", "v", dim = 4, m = 2, ks = 6, iters = 0, fitSamplePercent = 50)
    }
    assert(sampled.getMessage.contains("raise fitSamplePercent (=50) or lower ks"), sampled.getMessage)
    val empty = intercept[IllegalArgumentException](Similarity.kmeansCentroids(vecs.limit(0), "vec_id", "v", cells = 1, iters = 0))
    assert(empty.getMessage.contains("fit sample has only 0 rows"), empty.getMessage)
    // a sample of exactly cells / ks rows fits every cell and codeword
    assert(Similarity.kmeansCentroids(vecs, "vec_id", "v", cells = 6, iters = 0).count() == 6)
    assert(Similarity.pqCodebooks(vecs, "vec_id", "v", dim = 4, m = 2, ks = 6, iters = 0).count() == 12)
  }

  test("AnnIndex.append: frozen-fit encode grows the index in place, staleness ledger balances") {
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 60).map { i =>
      val center = i % 3
      val v = Array.tabulate(8)(j => (center * 5).toFloat + rnd.nextFloat() * 0.1f)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val corpus = df.filter($"vec_id" % 5 =!= 0) // 48 rows
    val batch = df.filter($"vec_id" % 5 === 0)  // 12 rows
    val dir = java.nio.file.Files.createTempDirectory("graft_annappend").toString
    val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    AnnIndex.save(idx, dir)
    AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
    val appended = AnnIndex.load(spark, dir)

    // append ≡ encode-under-frozen-fit: a row's (cell, codes) is a pure
    // function of (vector, frozen centroids, frozen codebooks), so the
    // appended index must equal encoding corpus ∪ batch in one pass
    def rows(codes: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Seq[Int])] =
      codes
        .select($"__cid".cast("int"), $"__nid".cast("long"), $"__codes".cast("array<int>"))
        .as[(Int, Long, Seq[Int])]
        .collect()
        .toSeq
        .sortBy(r => (r._1, r._2))
    assert(rows(appended.codes) == rows(AnnIndex.encodeAgainst(appended, df, "vec_id", "v")))

    // probing the appended index answers for BOTH slices (every id is a qid)
    val probed = AnnIndex
      .probeIvfPq(appended, df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
    assert(probed.select("qid").distinct().count() == 60)

    // staleness ledger balances: Σ fit_n = corpus, Σ now_n = union, Σ added = batch
    val led = AnnIndex.staleness(spark, dir).as[(Int, Long, Long, Long)].collect()
    assert(led.map(_._2).sum == 48 && led.map(_._3).sum == 60 && led.map(_._4).sum == 12)
    assert(led.forall(r => r._3 == r._2 + r._4))

    // disjoint-id misuse across DIFFERENT batches is visible, not silent:
    // appending an already-indexed id under a NEW batch id yields duplicate
    // index rows (documented caller contract)
    AnnIndex.append(spark, dir, batch.limit(1), "vec_id", "v", batchId = 1L)
    assert(AnnIndex.load(spark, dir).codes.count() == 61)

    // ... while a REPLAY of the same batch id is idempotent: the layer
    // overwrites itself, row count and probe results unchanged (the
    // at-least-once foreachBatch crash-replay scenario)
    AnnIndex.append(spark, dir, batch.limit(1), "vec_id", "v", batchId = 1L)
    assert(AnnIndex.load(spark, dir).codes.count() == 61)
    val probedAfterReplay = AnnIndex
      .probeIvfPq(AnnIndex.load(spark, dir), df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    AnnIndex.append(spark, dir, batch.limit(1), "vec_id", "v", batchId = 1L)
    val probedAfterReplay2 = AnnIndex
      .probeIvfPq(AnnIndex.load(spark, dir), df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    assert(probedAfterReplay2 == probedAfterReplay, "replayed append must not change probe results")

    // negative batch ids are reserved for the fit/compact layers
    intercept[IllegalArgumentException] {
      AnnIndex.append(spark, dir, batch.limit(1), "vec_id", "v", batchId = -1L)
    }
  }

  test("AnnIndex.compact: one file per cell, probe bit-identical, staleness invariant") {
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val corpus = df.filter($"vec_id" % 5 =!= 0)
    val batch = df.filter($"vec_id" % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_anncompact").toString
    val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    AnnIndex.save(idx, dir)
    (0 until 3).foreach(i => AnnIndex.append(spark, dir, batch.filter($"vec_id" % 3 === i), "vec_id", "v", batchId = i.toLong))

    // parquet files per cell in the CURRENT generation, summed across the
    // __batch ingest layers (fragmentation = total files a cell probe opens)
    def filesPerCell: Map[String, Int] = {
      val gen = new java.io.File(AnnIndex.currentCodesPath(spark, dir).toUri.getPath)
      gen.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__batch="))
        .flatMap(_.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__cid=")))
        .groupBy(_.getName)
        .map { case (cell, dirs) => cell -> dirs.map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum }
    }
    def probed: Seq[(Long, Long, Long)] = AnnIndex
      .probeIvfPq(AnnIndex.load(spark, dir), df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    def drift: Seq[(Int, Long, Long, Long)] =
      AnnIndex.staleness(spark, dir).as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq

    // three appends fragmented at least one cell beyond one file
    assert(filesPerCell.values.max > 1, s"appends did not fragment: $filesPerCell")
    val (probeBefore, driftBefore) = (probed, drift)
    // a reader loaded BEFORE the compact, pinned to the old generation
    val preCompactHandle = AnnIndex.load(spark, dir)
    AnnIndex.compact(spark, dir)
    // the swap is a new committed generation; the old one is retained for
    // open readers (no delete/rename anywhere in the sequence)
    assert(AnnIndex.currentCodesPath(spark, dir).getName == "codes_v2")
    assert(new java.io.File(s"$dir/codes_v1").exists(), "compact must retain the superseded generation")
    // physical: exactly one file per cell in one collapsed layer; logical: identity
    assert(filesPerCell.values.forall(_ == 1), s"compact left multi-file cells: $filesPerCell")
    assert(probed == probeBefore)
    assert(drift == driftBefore) // compaction is not a refit: ledger unchanged
    // the pre-compact handle keeps probing its pinned generation, and
    // agrees with a post-compact load (compaction is the identity)
    val viaOld = AnnIndex
      .probeIvfPq(preCompactHandle, df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    assert(viaOld == probeBefore, "a pre-compact reader must stay consistent across the swap")
    // vacuum reclaims the superseded generation once readers are done
    // (keepGenerations = 0: full reclaim, no serving retention window)
    AnnIndex.vacuum(spark, dir, keepGenerations = 0)
    assert(!new java.io.File(s"$dir/codes_v1").exists(), "vacuum must drop superseded generations")
    assert(new java.io.File(s"$dir/codes_v2").exists(), "vacuum must keep the current generation")
    assert(probed == probeBefore)
  }

  test("AnnIndex.delete: touched partitions rewritten, untouched files untouched, ledger goes negative") {
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val corpus = df.filter($"vec_id" % 5 =!= 0)
    val batch = df.filter($"vec_id" % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_anndelete").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)

    val genDir = new java.io.File(AnnIndex.currentCodesPath(spark, dir).toUri.getPath)
    def leafFiles(): Map[String, Set[String]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(genDir)
        .filter(_.getName.endsWith(".parquet"))
        .groupBy(f => f.getParentFile.getParentFile.getName + "/" + f.getParentFile.getName)
        .map { case (k, fs) => k -> fs.map(_.getName).toSet }
    }
    // choose victims from the index's OWN cell assignment: one whole cell
    // to empty (the dynamic-overwrite blind spot the FS unlink covers) and
    // two rows of another cell for the partial-rewrite path
    val byCell = AnnIndex.load(spark, dir).codes
      .select($"__nid".cast("long"), $"__cid".cast("int")).as[(Long, Int)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq.sorted).toMap
    val victimCell = byCell.keys.min
    val victims = byCell(victimCell)
    val otherCell = byCell.keys.filter(_ != victimCell).head
    assert(byCell(otherCell).size > 2, s"fixture drift: cell $otherCell too small to partial-delete from")
    val partialIds = byCell(otherCell).take(2)

    // PARTIAL delete: exercises the dynamic-partition-overwrite rewrite of
    // still-occupied partitions, and must leave the victim cell's
    // partitions' files untouched on disk
    val before = leafFiles()
    AnnIndex.delete(spark, dir, partialIds.toDF("vec_id"), "vec_id")
    assert(AnnIndex.load(spark, dir).codes.count() == 58)
    val afterPartial = leafFiles()
    val victimKeys = before.keySet.filter(_.endsWith(s"/__cid=$victimCell"))
    assert(victimKeys.nonEmpty)
    assert(victimKeys.forall(k => afterPartial.get(k) == before.get(k)),
      "a delete must not rewrite partitions holding none of its ids")
    assert(afterPartial.keySet == before.keySet, "partial delete must empty no partition here")

    // FULL delete of the victim cell's rows: empties its partitions in
    // every __batch layer
    AnnIndex.delete(spark, dir, victims.toDF("vec_id"), "vec_id")

    // logical: the deleted ids are gone from codes and from probe results
    val left = AnnIndex.load(spark, dir)
    val gone = (victims ++ partialIds).toSet
    assert(left.codes.filter($"__nid".isin(gone.toSeq: _*)).count() == 0)
    assert(left.codes.count() == 58 - victims.size)
    val probeLeft = AnnIndex
      .probeIvfPq(left, df, "vec_id", "v", k = 3, nprobe = 3, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("nid").distinct().as[Long].collect()
    assert(probeLeft.forall(!gone.contains(_)), "probe must never return deleted ids")
    // physical: the emptied cell's partitions are unlinked; untouched
    // cells' files are bit-for-bit the same directory entries
    val after = leafFiles()
    assert(victimKeys.forall(!after.contains(_)), "emptied partitions must be unlinked")
    assert(after == afterPartial -- victimKeys, "untouched partitions must not be rewritten")
    // ledger: deletions price as negative drift against the fit-time
    // snapshot of the 48 corpus rows (appends added 12, deletes removed
    // 2 + victims — net is negative because a whole cell went away)
    val led = AnnIndex.staleness(spark, dir).as[(Int, Long, Long, Long)].collect()
    assert(led.map(_._4).sum == (58L - victims.size) - 48L, "Σ added must net appends minus deletes")
    assert(led.exists(_._4 < 0), "a shrunk cell must show negative added")
    // idempotent: re-running the same delete is a no-op
    AnnIndex.delete(spark, dir, victims.toDF("vec_id"), "vec_id")
    assert(AnnIndex.load(spark, dir).codes.count() == 58 - victims.size)
  }

  test("AnnIndex v4 commit discipline: id reuse fails, partial layers invisible, compact hwm kills replays, delete-all refused") {
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val corpus = df.filter($"vec_id" % 5 =!= 0) // 48 rows
    val batch = df.filter($"vec_id" % 5 === 0)  // 12 rows
    val b0 = batch.filter($"vec_id" % 2 === 0)  // 6 rows
    val b1 = batch.filter($"vec_id" % 2 =!= 0)  // 6 rows
    val dir = java.nio.file.Files.createTempDirectory("graft_annv4").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L)
    assert(AnnIndex.load(spark, dir).codes.count() == 54)

    // (a) batch-id REUSE with DIFFERENT content fails loudly — the silent
    // alternative would replace b0's committed rows with b1's
    val reuse = intercept[IllegalStateException] {
      AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 0L)
    }
    assert(reuse.getMessage.contains("DIFFERENT content"))
    assert(AnnIndex.load(spark, dir).codes.count() == 54, "failed reuse must not mutate the index")
    // ... while an exact replay of the committed batch stays a no-op
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L)
    assert(AnnIndex.load(spark, dir).codes.count() == 54)

    // (b) a PARTIAL append layer (crash mid-write: no layer _SUCCESS) is
    // invisible to load AND staleness until the replay commits it
    AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 1L)
    assert(AnnIndex.load(spark, dir).codes.count() == 60)
    val gen = new java.io.File(AnnIndex.currentCodesPath(spark, dir).toUri.getPath)
    val layerCommit = new java.io.File(gen, "__batch=1/_SUCCESS")
    assert(layerCommit.exists, "an append layer must carry its own job-commit marker")
    assert(layerCommit.delete())
    assert(AnnIndex.load(spark, dir).codes.count() == 54, "uncommitted layer must be invisible to load")
    assert(
      AnnIndex.staleness(spark, dir).agg(sum($"now_n")).as[Long].head() == 54,
      "uncommitted layer must be invisible to staleness"
    )
    AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 1L) // replay lands + commits
    assert(AnnIndex.load(spark, dir).codes.count() == 60)

    def probed: Seq[(Long, Long, Long)] = AnnIndex
      .probeIvfPq(AnnIndex.load(spark, dir), df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    val beforeCompact = probed

    // (c) compact records the absorbed high-water mark: a streaming
    // restart replaying PRE-compact batches into the post-compact
    // generation no-ops instead of double-inserting (the r14 ADVICE gap)
    AnnIndex.compact(spark, dir)
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L)
    AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 1L)
    assert(AnnIndex.load(spark, dir).codes.count() == 60, "pre-compact replays must no-op on the hwm")
    assert(probed == beforeCompact, "absorbed replays must not change probe results")
    // a genuinely NEW batch id still appends past the hwm
    val extra = Seq((1000L, Seq.fill(8)(1.0f))).toDF("vec_id", "v")
    AnnIndex.append(spark, dir, extra, "vec_id", "v", batchId = 2L)
    assert(AnnIndex.load(spark, dir).codes.count() == 61)
    // the documented fresh-checkpoint hazard: NEW data arriving under an
    // ABSORBED batch id no-ops (detected and WARNed with the unseen-id
    // count, but not written — a delete since the compact makes throwing
    // unsafe); the contract is stable and spec-pinned here
    AnnIndex.append(spark, dir, Seq((2000L, Seq.fill(8)(2.0f))).toDF("vec_id", "v"), "vec_id", "v", batchId = 0L)
    assert(AnnIndex.load(spark, dir).codes.count() == 61, "below-hwm append must stay a no-op even for new data")

    // (d) a delete that would EMPTY the index is refused before any
    // mutation — an emptied generation is unreadable parquet and the
    // frozen fit describes nothing
    val everyId = AnnIndex.load(spark, dir).codes.select($"__nid".cast("long")).as[Long].collect().toSeq
    val emptied = intercept[IllegalStateException] {
      AnnIndex.delete(spark, dir, everyId.toDF("vec_id"), "vec_id")
    }
    assert(emptied.getMessage.contains("EVERY row"))
    assert(AnnIndex.load(spark, dir).codes.count() == 61, "refused delete must leave the index intact")
  }

  test("AnnIndex append replay-after-delete: a late replay of a partially deleted batch no-ops") {
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val corpus = df.filter($"vec_id" % 5 =!= 0) // 48 rows
    val batch = df.filter($"vec_id" % 5 === 0)  // 12 rows
    val b0 = batch.filter($"vec_id" % 2 === 0)  // ids 0,10,20,30,40,50
    val b1 = batch.filter($"vec_id" % 2 =!= 0)  // ids 5,15,...,55
    val dir = java.nio.file.Files.createTempDirectory("graft_annreplay").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L)
    assert(AnnIndex.load(spark, dir).codes.count() == 54)
    // delete removes HALF of b0's committed rows — the layer becomes a
    // strict subset of what the original batch re-delivers on replay
    AnnIndex.delete(spark, dir, Seq(0L, 10L, 20L).toDF("vec_id"), "vec_id")
    assert(AnnIndex.load(spark, dir).codes.count() == 51)
    // the at-least-once replay of batch 0 arrives AFTER the delete: the
    // r15 ADVICE hazard was a misleading 'batch ids must be stable' throw
    // (stalling the stream forever); now the subset shape is recognized
    // and the replay no-ops — re-writing would resurrect the deleted rows
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L)
    val after = AnnIndex.load(spark, dir).codes.select($"__nid".cast("long")).as[Long].collect().toSet
    assert(AnnIndex.load(spark, dir).codes.count() == 51, "post-delete replay must no-op")
    assert(!after.contains(0L) && !after.contains(10L) && !after.contains(20L), "deleted rows must stay deleted")
    // genuinely DIFFERENT data under the same id is still misuse, not a replay
    val reuse = intercept[IllegalStateException] {
      AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 0L)
    }
    assert(reuse.getMessage.contains("not a subset"))
    // id reuse with a SUPERSET payload is content-indistinguishable from a
    // replay-after-delete (the extra rows are absent from the whole index
    // either way), so it no-ops with a WARN instead of throwing — pinned:
    // the committed survivors stand, the superset's new rows are dropped
    AnnIndex.append(
      spark, dir,
      b0.unionByName(Seq((3000L, Seq.fill(8)(3.0f))).toDF("vec_id", "v")),
      "vec_id", "v", batchId = 0L
    )
    assert(AnnIndex.load(spark, dir).codes.count() == 51, "superset reuse must no-op, not resurrect or insert")
  }

  test("AnnIndex.refit: new-generation migration, pinned readers isolated, ledger re-anchored, hwm carried") {
    val rnd = new scala.util.Random(43)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val corpus = df.filter($"vec_id" % 5 =!= 0) // 48 rows
    val batch = df.filter($"vec_id" % 5 === 0)  // 12 rows
    val dir = java.nio.file.Files.createTempDirectory("graft_annrefit").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
    assert(AnnIndex.staleness(spark, dir).agg(sum($"added")).as[Long].head() == 12L, "pre-refit drift visible")

    def probeWith(idx: AnnIndex.IvfPqIndex): Seq[(Long, Long, Long)] = AnnIndex
      .probeIvfPq(idx, df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq

    val pinned = AnnIndex.load(spark, dir) // reader loaded BEFORE the refit
    val pinnedBefore = probeWith(pinned)

    // refit on the union with DIFFERENT knobs — the new fit must fully
    // replace the old one (cells 3 -> 4, seed 42 -> 7)
    AnnIndex.refit(spark, dir, df, "vec_id", "v", cells = 4, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)

    // (a) post-refit load+probe is bit-identical to a fresh fit at the same knobs
    val fresh = AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 4, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val loaded = AnnIndex.load(spark, dir)
    assert(loaded.cells == 4 && loaded.seed == 7L, "load must resolve the refit generation's fit layers")
    assert(probeWith(loaded) == probeWith(fresh), "post-refit probe must equal a fresh fit of the corpus")
    // (b) the pinned pre-refit reader is untouched (its generation and the
    // root fit layers were never mutated)
    assert(probeWith(pinned) == pinnedBefore, "refit must not disturb a pinned reader")
    // (c) the staleness ledger re-anchors to the new fit: zero drift
    assert(AnnIndex.staleness(spark, dir).agg(sum(abs($"added"))).as[Long].head() == 0L)
    // (d) the carried hwm makes pre-refit replays no-op...
    AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L)
    assert(AnnIndex.load(spark, dir).codes.count() == 60, "pre-refit replay must no-op on the carried hwm")
    // ...while genuinely new batches land, encoded under the NEW fit
    AnnIndex.append(spark, dir, Seq((1000L, Seq.fill(8)(1.0f))).toDF("vec_id", "v"), "vec_id", "v", batchId = 1L)
    assert(AnnIndex.load(spark, dir).codes.count() == 61)
    // (e) compact carries the refit fit layers into the generation it
    // writes, and vacuum of the old generations does not strand the fit
    val beforeCompact = probeWith(AnnIndex.load(spark, dir))
    AnnIndex.compact(spark, dir)
    AnnIndex.vacuum(spark, dir)
    val afterCompact = AnnIndex.load(spark, dir)
    assert(afterCompact.cells == 4 && afterCompact.seed == 7L, "compact must carry per-generation fit layers")
    assert(probeWith(afterCompact) == beforeCompact, "compact+vacuum after refit is the identity")
    assert(AnnIndex.staleness(spark, dir).agg(sum($"added")).as[Long].head() == 1L, "occupancy anchor carried")
    // (f) the refit generation keeps the PHYSICAL serving properties: the
    // fit layer is one file per cell (refit writes repartition(__cid)),
    // and the pruned probe still plans static __cid partition pruning
    // through the fit-subdirs-alongside-layers layout
    val gen = new java.io.File(AnnIndex.currentCodesPath(spark, dir).toUri.getPath)
    val fitLayer = new java.io.File(gen, s"__batch=${AnnIndex.FitBatchId}")
    fitLayer.listFiles().filter(_.getName.startsWith("__cid=")).foreach { cell =>
      assert(cell.listFiles().count(_.getName.endsWith(".parquet")) == 1, s"refit must write one file per cell: $cell")
    }
    val prunedPlan = graft.SparkTestSession.planNamed(
      graft.SparkTestSession.executionsOf(spark)(
        AnnIndex
          .probeIvfPqPruned(afterCompact, df.filter($"vec_id" < 5), "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      )._2,
      "probeIvfPqPruned.shortlist"
    )
    assert(
      "PartitionFilters: \\[[^\\]]*__cid[^\\]]*IN".r.findFirstIn(prunedPlan).nonEmpty,
      s"static cell pruning must survive the refit generation's layout; plan:\n$prunedPlan"
    )
    // (g) delete works against a generation that owns its fit layers:
    // the dynamic partition overwrite touches only __batch=/__cid= dirs,
    // never the generation's fit subdirs
    AnnIndex.delete(spark, dir, Seq(3L).toDF("vec_id"), "vec_id")
    val afterDelete = AnnIndex.load(spark, dir)
    assert(afterDelete.cells == 4 && afterDelete.seed == 7L, "fit subdirs must survive a delete's rewrite")
    assert(!probeWith(afterDelete).exists(_._2 == 3L), "deleted id must no longer answer")
  }

  test("AnnIndex.refit commit discipline: uncommitted refit invisible, re-run recovers, empty corpus refused") {
    val rnd = new scala.util.Random(53)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annrefitcrash").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    def probed: Seq[(Long, Long, Long)] = AnnIndex
      .probeIvfPq(AnnIndex.load(spark, dir), df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    val v1Probe = probed
    // (a) a refit whose commit marker never landed (crash after every
    // write but the last) must be INVISIBLE: load keeps resolving the
    // old generation, old fit, old answers
    AnnIndex.refit(spark, dir, df, "vec_id", "v", cells = 4, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val gen2 = new java.io.File(AnnIndex.currentCodesPath(spark, dir).toUri.getPath)
    assert(gen2.getName == "codes_v2")
    val v2Probe = probed
    assert(v2Probe != v1Probe, "the new fit must actually change answers on this fixture")
    val marker = gen2.listFiles().find(_.getName.matches("_ABSORBED_-?\\d+")).get // the numeric commit marker, not the _ABSORBED_BATCHES sidecar
    assert(marker.delete())
    assert(AnnIndex.currentCodesPath(spark, dir).getName == "codes_v1", "markerless refit must be uncommitted")
    assert(probed == v1Probe, "readers must keep the committed generation's fit AND codes")
    // (b) re-running the refit numbers PAST the crashed generation and
    // commits — the uncommitted leftover never blocks recovery
    AnnIndex.refit(spark, dir, df, "vec_id", "v", cells = 4, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    assert(AnnIndex.currentCodesPath(spark, dir).getName == "codes_v3")
    assert(probed == v2Probe, "the recovered refit must answer exactly like the first attempt")
    // ... and a full-reclaim vacuum removes both the superseded v1 and
    // the crashed (uncommitted) v2
    AnnIndex.vacuum(spark, dir, keepGenerations = 0)
    assert(AnnIndex.codesVersions(spark, dir).map(_._1) == Seq(3))
    assert(probed == v2Probe)
    // (c) refitting on an empty corpus is refused before any fit work
    val empty = intercept[IllegalArgumentException] {
      AnnIndex.refit(spark, dir, df.filter($"vec_id" < 0), "vec_id", "v", cells = 4, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    }
    assert(empty.getMessage.contains("EMPTY corpus"))
    assert(AnnIndex.currentCodesPath(spark, dir).getName == "codes_v3", "refused refit must not mutate")
  }

  test("AnnIndex maintenance lease: second maintainer refused before any write, stale lease recoverable by epoch takeover") {
    val rnd = new scala.util.Random(71)
    val vecs = (0 until 30).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annlease").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    // every op releases on return: nothing held after a clean save
    assert(AnnIndex.maintainerLease(spark, dir).isEmpty, "lease must be released after a committed save")
    assert(AnnIndex.lastGrantedEpoch(spark, dir) == 1L, "save must have held epoch 1")
    // a crashed maintainer leaves its lease behind (its writes are
    // uncommitted, so the index is intact) — simulate one at epoch 2
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_MAINTAINER"),
      "epoch=2 owner=crashed-compact".getBytes("UTF-8")
    )
    // (a) a second maintainer fails loudly BEFORE any write
    val held = intercept[IllegalStateException] { AnnIndex.compact(spark, dir) }
    assert(held.getMessage.contains("another maintainer holds the lease"))
    assert(held.getMessage.contains("crashed-compact"))
    assert(AnnIndex.codesVersions(spark, dir).map(_._1) == Seq(1), "a refused compact must not write anything")
    // same refusal for every mutation op
    val heldDelete = intercept[IllegalStateException] { AnnIndex.delete(spark, dir, Seq(0L).toDF("vec_id"), "vec_id") }
    assert(heldDelete.getMessage.contains("another maintainer"))
    val heldVacuum = intercept[IllegalStateException] { AnnIndex.vacuum(spark, dir) }
    assert(heldVacuum.getMessage.contains("another maintainer"))
    // (b) takeover with the WRONG epoch is refused (the lease must be
    // re-inspected, not force-broken)
    val wrong = intercept[IllegalStateException] { AnnIndex.compact(spark, dir, breakLeaseEpoch = Some(1L)) }
    assert(wrong.getMessage.contains("changed hands"))
    // (c) operator recovery: inspect the stale lease, confirm the holder
    // is dead out-of-band, retry with exactly its epoch
    assert(AnnIndex.maintainerLease(spark, dir).contains((2L, "crashed-compact")))
    AnnIndex.compact(spark, dir, breakLeaseEpoch = Some(2L))
    assert(AnnIndex.currentCodesPath(spark, dir).getName == "codes_v2", "the takeover compact must commit")
    assert(AnnIndex.maintainerLease(spark, dir).isEmpty, "lease released on commit")
    // epoch record: save granted 1; the three REFUSED acquirers above each
    // inflated the high-water record (2, 3, 4 — written before the
    // exclusive create, deliberately: the record must bound every epoch a
    // lease could ever carry, and skipping is harmless where regressing
    // is not); the takeover then granted max(4, broken 2) + 1 = 5
    assert(AnnIndex.lastGrantedEpoch(spark, dir) == 5L, "a takeover grant must exceed every earlier epoch")
    // (d) an IN-PROCESS failure releases the lease (only a process death
    // leaves one behind): refit's empty-corpus refusal must not wedge
    intercept[IllegalArgumentException] {
      AnnIndex.refit(spark, dir, df.filter($"vec_id" < 0), "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    }
    assert(AnnIndex.maintainerLease(spark, dir).isEmpty, "a failed op must release the lease")
    // and a fresh acquire still works after the failure
    AnnIndex.vacuum(spark, dir, keepGenerations = 0)
    assert(AnnIndex.codesVersions(spark, dir).map(_._1) == Seq(2))
    // (e) an owner tag that would corrupt the line-oriented lease record
    // is refused up front (a newline would make the holder's own release
    // see an unparseable lease and wedge the index)
    val badOwner = intercept[IllegalArgumentException] {
      AnnIndex.compact(spark, dir, leaseOwner = "team\nnode-3")
    }
    assert(badOwner.getMessage.contains("printable"))
    assert(AnnIndex.maintainerLease(spark, dir).isEmpty)
    // (f) maintenance ops against a nonexistent path fail BEFORE any
    // write — no junk directory, no lease bookkeeping left behind
    // (only save may create the directory)
    val ghost = s"$dir-TYPO-does-not-exist"
    val noDir = intercept[IllegalArgumentException] { AnnIndex.vacuum(spark, ghost) }
    assert(noDir.getMessage.contains("does not exist"))
    assert(!new java.io.File(ghost).exists(), "a refused op must not create the directory")
  }

  test("AnnIndex.vacuum retention window: a pre-compact reader survives the default vacuum, keepGenerations=0 is the full reclaim") {
    val rnd = new scala.util.Random(73)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annvacret").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    def probeWith(idx: AnnIndex.IvfPqIndex): Seq[(Long, Long, Long)] = AnnIndex
      .probeIvfPq(idx, df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(identity)
      .toSeq
    val pinned = AnnIndex.load(spark, dir) // the T12 serving pattern: load once, probe for a while
    val baseline = probeWith(pinned)
    AnnIndex.compact(spark, dir) // codes_v2 current; v1 superseded
    // the DEFAULT vacuum retains the most recent superseded generation:
    // the pinned reader's files are guaranteed one maintenance cycle
    AnnIndex.vacuum(spark, dir)
    assert(AnnIndex.codesVersions(spark, dir).map(_._1) == Seq(1, 2), "default vacuum must retain one superseded generation")
    assert(probeWith(pinned) == baseline, "a pre-compact reader must probe green through a retention-respecting vacuum")
    // next cycle: the window slides — v1 ages out, v2 is retained
    AnnIndex.compact(spark, dir)
    AnnIndex.vacuum(spark, dir)
    assert(AnnIndex.codesVersions(spark, dir).map(_._1) == Seq(2, 3), "the retention window must slide, not grow")
    // keepGenerations = 0 reproduces the pre-r17 full reclaim
    AnnIndex.vacuum(spark, dir, keepGenerations = 0)
    assert(AnnIndex.codesVersions(spark, dir).map(_._1) == Seq(3))
    assert(probeWith(AnnIndex.load(spark, dir)) == baseline, "vacuum never changes answers")
  }

  test("AnnIndex.save over a committed index is generational: marker-last commit, old index intact through a crash, hwm reset") {
    val rnd = new scala.util.Random(79)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annresave").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    def probed: Seq[(Long, Long, Long)] = AnnIndex
      .probeIvfPq(AnnIndex.load(spark, dir), df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(identity)
      .toSeq
    AnnIndex.append(spark, dir, Seq((1000L, Seq.fill(8)(1.0f))).toDF("vec_id", "v"), "vec_id", "v", batchId = 5L)
    assert(AnnIndex.load(spark, dir).codes.count() == 61)
    // (a) save over the live index: next generation with its own fit
    // layers, old generation untouched
    val idx2 = AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 4, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    AnnIndex.save(idx2, dir)
    val gen2 = AnnIndex.currentCodesPath(spark, dir)
    assert(gen2.getName == "codes_v2", "save over a committed index must write the next generation")
    assert(new java.io.File(s"$dir/codes_v1").exists(), "the replaced index must stay on disk until vacuumed")
    val loaded = AnnIndex.load(spark, dir)
    assert(loaded.cells == 4 && loaded.seed == 7L, "the new generation must resolve its own fit layers")
    assert(loaded.codes.count() == 60, "the overwrite replaces the corpus (the appended row belongs to the old index)")
    // answers = probing the supplied fit directly (save is refit with a
    // caller-supplied fit)
    val direct = AnnIndex
      .probeIvfPq(idx2, df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank")
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(identity)
      .toSeq
    val v2Probe = probed
    assert(v2Probe == direct, "a re-saved index must answer exactly like the supplied fit")
    // occupancy re-anchored: zero drift right after the overwrite
    assert(AnnIndex.staleness(spark, dir).agg(sum(abs($"added"))).as[Long].head() == 0L)
    // (b) hwm RESET: a re-save is a fresh index, so low batch ids are
    // usable again (the documented fresh-checkpoint remedy)
    AnnIndex.append(spark, dir, Seq((2000L, Seq.fill(8)(2.0f))).toDF("vec_id", "v"), "vec_id", "v", batchId = 0L)
    assert(AnnIndex.load(spark, dir).codes.count() == 61, "save must reset the append high-water mark")
    // (c) crash ordering: a save whose marker never landed is INVISIBLE —
    // the old index (including its append) keeps answering
    val withAppend = probed
    val idx3 = AnnIndex.fitIvfPq(df.filter($"vec_id" % 2 === 0), "vec_id", "v", cells = 3, iters = 2, seed = 11L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    AnnIndex.save(idx3, dir)
    val gen3 = new java.io.File(AnnIndex.currentCodesPath(spark, dir).toUri.getPath)
    assert(gen3.getName == "codes_v3")
    val marker = gen3.listFiles().find(_.getName.matches("_ABSORBED_-?\\d+")).get // the numeric commit marker, not the _ABSORBED_BATCHES sidecar
    assert(marker.delete())
    assert(AnnIndex.currentCodesPath(spark, dir).getName == "codes_v2", "a markerless save must be uncommitted")
    assert(probed == withAppend, "a crashed save must leave the working index answering exactly as before")
    // (d) recovery: re-running the save numbers past the crashed attempt
    AnnIndex.save(idx3, dir)
    assert(AnnIndex.currentCodesPath(spark, dir).getName == "codes_v4")
    assert(AnnIndex.load(spark, dir).codes.count() == 30)
    assert(AnnIndex.maintainerLease(spark, dir).isEmpty)
  }

  test("AnnIndex.append strictReplay + fingerprint sidecar: verified replays no-op cheaply, ambiguous no-ops throw") {
    val rnd = new scala.util.Random(83)
    val vecs = (0 until 54).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val b0 = (54 until 60).map(i => (i.toLong, Seq.fill(8)(0.5f))).toDF("vec_id", "v").localCheckpoint(true)
    val b1 = (60 until 66).map(i => (i.toLong, Seq.fill(8)(4.5f))).toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annstrict").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L)
    AnnIndex.compact(spark, dir) // folds b0; writes its replay fingerprint
    assert(new java.io.File(AnnIndex.currentCodesPath(spark, dir).toUri.getPath, AnnIndex.AbsorbedBatchesName).exists(),
      "compact must record absorbed-batch fingerprints")
    // (a) a TRUE replay of the absorbed batch is fingerprint-verified:
    // it no-ops even under strictReplay (no index scan needed)
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L, strictReplay = true)
    assert(AnnIndex.load(spark, dir).codes.count() == 60)
    // (b) NEW data under an absorbed batch id (fresh-checkpoint misuse):
    // strict throws, the default warns and no-ops
    val impostor = Seq((3000L, Seq.fill(8)(3.0f))).toDF("vec_id", "v")
    val strictHit = intercept[IllegalStateException] {
      AnnIndex.append(spark, dir, impostor, "vec_id", "v", batchId = 0L, strictReplay = true)
    }
    assert(strictHit.getMessage.contains("strictReplay"))
    AnnIndex.append(spark, dir, impostor, "vec_id", "v", batchId = 0L) // lenient: evidence-bearing WARN, no-op
    assert(AnnIndex.load(spark, dir).codes.count() == 60, "an absorbed-id append must never insert")
    // (c) the subset shape (replay of a partially deleted COMMITTED
    // layer): ambiguous, so strict throws and the default no-ops
    AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 1L)
    AnnIndex.delete(spark, dir, Seq(60L).toDF("vec_id"), "vec_id")
    assert(AnnIndex.load(spark, dir).codes.count() == 65)
    val subsetHit = intercept[IllegalStateException] {
      AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 1L, strictReplay = true)
    }
    assert(subsetHit.getMessage.contains("strict subset"))
    AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 1L)
    assert(AnnIndex.load(spark, dir).codes.count() == 65, "the lenient subset replay must not resurrect deleted rows")
    // (d) fingerprints are CARRIED across further compactions, and a
    // batch compacted after a partial delete records its surviving layer
    // — so a full replay of it mismatches and falls back to evidence
    AnnIndex.compact(spark, dir)
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L, strictReplay = true) // carried record still verifies
    assert(AnnIndex.load(spark, dir).codes.count() == 65)
    val postCompactReplay = intercept[IllegalStateException] {
      AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 1L, strictReplay = true)
    }
    assert(postCompactReplay.getMessage.contains("strictReplay"))
    AnnIndex.append(spark, dir, b1, "vec_id", "v", batchId = 1L) // default stays tolerant
    assert(AnnIndex.load(spark, dir).codes.count() == 65)
  }

  test("AnnIndex.maintenancePolicy empty-cell mass floor: a below-floor cell decides ok, growth rule never fires from a zero base") {
    val rnd = new scala.util.Random(89)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annfloor").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    def decisions(minMassNum: Int, minMassDen: Int): Map[Int, String] = AnnIndex
      .maintenancePolicy(spark, dir, minMassNum = minMassNum, minMassDen = minMassDen)
      .select($"cell", $"decision")
      .as[(Int, String)]
      .collect()
      .toMap
    // simulate a cell the fit never saw: drop one populated cell's row
    // from the occupancy anchor (fit_n reads 0, its rows still stand)
    val occPath = s"$dir/occupancy"
    val occ = spark.read.parquet(occPath).as[(Int, Long)].collect().sortBy(_._1).toSeq
    val victim = occ.head._1
    val victimNow = occ.head._2
    assert(victimNow > 1, "fixture must give the victim cell real mass")
    occ.filterNot(_._1 == victim).toDF("__cid", "fit_n")
      .coalesce(1).write.mode("overwrite").parquet(occPath)
    // above the floor (the victim holds real mass, floor = 1/20 of the
    // mean): the empty-cell rule flags refit
    assert(decisions(1, 20)(victim) == "refit", "an above-floor empty cell must flag refit")
    // below a floor of 100x the mean occupancy (unreachable for any cell
    // of a 3-cell index): the empty-cell rule is gated AND the growth
    // rule must not fire from fit_n = 0 (it would be vacuously true) —
    // single fit layer, so fragmentation says ok
    assert(decisions(100, 1)(victim) == "ok", "a below-floor empty cell must fall through to ok")
    // the other cells' decisions are floor-invariant
    occ.tail.foreach { case (c, _) => assert(decisions(1, 20)(c) == decisions(100, 1)(c)) }
  }

  test("AnnIndex.load accepts format v4 on read (no forced re-save of existing indexes)") {
    val rnd = new scala.util.Random(61)
    val vecs = (0 until 30).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annv4read").toString
    val idx = AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    AnnIndex.save(idx, dir)
    val v5 = AnnIndex
      .probeIvfPq(AnnIndex.load(spark, dir), df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    // rewrite meta as a v4 index: layout-identical (no per-generation fit
    // layers is exactly what v4 wrote), only the version literal differs
    val meta = spark.read.parquet(s"$dir/meta")
      .withColumn("version", lit(4))
      .localCheckpoint(true) // snapshot before the in-place overwrite
    meta.coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val loaded = AnnIndex.load(spark, dir) // must not throw
    val v4 = AnnIndex
      .probeIvfPq(loaded, df, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df), excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    assert(v4 == v5, "a v4 index must read and probe identically under the v5 resolution rules")
    // anything else is still refused loudly
    meta.withColumn("version", lit(3)).coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val bad = intercept[IllegalArgumentException] { AnnIndex.load(spark, dir) }
    assert(bad.getMessage.contains("unsupported AnnIndex format version 3"))
  }

  test("AnnIndex refit of a v4-root index tombstones the root meta so pre-v5 binaries fail loudly") {
    val rnd = new scala.util.Random(67)
    val vecs = (0 until 30).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annv4tomb").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    // age the root meta to v4 (layout-identical: no per-generation fit layers)
    val meta = spark.read.parquet(s"$dir/meta").withColumn("version", lit(4)).localCheckpoint(true)
    meta.coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    assert(spark.read.parquet(s"$dir/meta").head().getAs[Int]("version") == 4)
    // refit writes a self-contained generation: a v4 binary would pair the
    // STALE root fit with its codes — the root meta version must now trip it
    AnnIndex.refit(spark, dir, df, "vec_id", "v", cells = 3, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val root = spark.read.parquet(s"$dir/meta").head()
    assert(root.getAs[Int]("version") == 5, "refit over a v4 root must tombstone the root meta version")
    assert(root.getAs[Int]("cells") == 3, "tombstone must only touch the version field")
    // v5 readers resolve the refit generation's own fit layers as usual
    val loaded = AnnIndex.load(spark, dir)
    assert(loaded.seed == 7L && loaded.codes.count() == 30)
  }

  test("AnnIndex.maintenancePolicy: decisions clear after the maintenance they prescribe") {
    val rnd = new scala.util.Random(59)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val corpus = df.filter($"vec_id" % 5 =!= 0)
    val batch = df.filter($"vec_id" % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_annpolicy").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    (0 until 3).foreach { i =>
      AnnIndex.append(spark, dir, batch.filter($"vec_id" % 3 === i), "vec_id", "v", batchId = i.toLong)
    }
    def decisions: Map[String, Long] = AnnIndex
      .maintenancePolicy(spark, dir)
      .groupBy("decision").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val before = decisions
    assert(before.getOrElse("compact", 0L) + before.getOrElse("refit", 0L) > 0, s"fixture must demand maintenance: $before")
    // compact collapses every layer: no cell can still say 'compact'
    // (drift is untouched — refit decisions survive, by design)
    AnnIndex.compact(spark, dir)
    val afterCompact = decisions
    assert(afterCompact.getOrElse("compact", 0L) == 0L, s"compact must clear all compact decisions: $afterCompact")
    // refit re-anchors occupancy to the new fit: every cell reads 'ok'
    AnnIndex.refit(spark, dir, df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val afterRefit = decisions
    assert(afterRefit == Map("ok" -> afterRefit.values.sum), s"refit must clear every decision: $afterRefit")
  }

  test("softDedup weights each duplicate group to one document of mass") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y")).toDF("doc_id", "text")
    val out = Dedup
      .softDedup(df, md5(col("text")))
      .select("doc_id", "n_copies", "weight")
      .as[(Long, Long, Double)]
      .collect()
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 1.0 / 3), (2L, 3L, 1.0 / 3), (3L, 3L, 1.0 / 3), (4L, 1L, 1.0)))
  }

  test("connectedComponents with STRING ids converges correctly (join-based probe fallback)") {
    // string ids make the numeric label-sum probe cast to NULL; before the
    // fallback this silently 'converged' after one round with wrong labels.
    // Chain c01-c02-c03 needs >1 round for c01 to reach c03.
    val ids = Seq("c01", "c02", "c03", "c04", "c05").map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq(("c01", "c02"), ("c02", "c03"), ("c04", "c05")).toDF("a", "b")
    val comp = Dedup.connectedComponents(ids, "doc_id", pairs).as[(String, String)].collect().toMap
    assert(comp == Map("c01" -> "c01", "c02" -> "c01", "c03" -> "c01", "c04" -> "c04", "c05" -> "c04"))
  }

  test("simhash56Md5: native expression is bit-identical to the built-in-function reference") {
    val rows = docs
      .select(
        Fingerprints.simhash56Md5(col("text")).as("native"),
        Fingerprints.simhash56Md5Hof(col("text")).as("hof")
      )
      .as[(Long, Long)]
      .collect()
    rows.foreach { case (n, h) => assert(n == h) }
    // 56-bit: always non-negative on both engines
    rows.foreach { case (n, _) => assert(n >= 0L && n < (1L << 56)) }
  }

  test("simhash banding is exact: banded pairs equal brute all-pairs hamming") {
    val banded = Dedup
      .simhashNearDupPairs(docs, "doc_id", "text", bands = 4, maxHamming = 3,
        simFn = Fingerprints.simhash56Md5, simBits = 56)
      .as[(Long, Long, Long)]
      .collect()
      .map(p => (p._1, p._2, p._3))
      .sorted
    // brute-force reference: hamming over all pairs, no banding
    val sims = docs
      .select(col("doc_id"), Fingerprints.simhash56Md5(col("text")).as("s"))
      .as[(Long, Long)]
      .collect()
      .toMap
    val brute = (for {
      a <- sims.keys; b <- sims.keys if a < b
      h = java.lang.Long.bitCount(sims(a) ^ sims(b)) if h <= 3
    } yield (a, b, h.toLong)).toSeq.sorted
    assert(banded.toSeq == brute)
  }

  test("ngramJaccardPairs maxDf cap drops high-df shingles from the universe (unbiased)") {
    // 'the quick brown' family shingles appear in docs 1,2,4 (df=3); cap at 2
    // removes them from BOTH the intersection and the per-doc set sizes.
    val capped = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.01, maxDf = 2)
      .as[(Long, Long, Double)]
      .collect()
      .sortBy(p => (p._1, p._2))
    // docs 1 and 4 are identical: their (unique, df<=2... shared by both so df=2) shingles survive
    val j14 = capped.find(p => p._1 == 1L && p._2 == 4L)
    assert(j14.isDefined && j14.get._3 == 1.0)
    // 1 vs 2 shared shingles all have df=3 (present in 1,2,4) -> no pair survives the cap
    assert(!capped.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("similarity/dedup operators leave no session-level cache behind") {
    spark.catalog.clearCache()
    Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 64, 16, 0.7).count()
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.2f)),
      (2L, Seq(0.99f, 0.01f, 0.21f)),
      (3L, Seq(-0.5f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    Similarity.lshTopK(vecs, "vec_id", "embedding", k = 2, tables = 2, planesPerTable = 2).count()
    Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", tau = 0.9, tables = 2, planesPerTable = 2).count()
    // localCheckpoint blocks are RDD-scoped and GC-managed — nothing is
    // registered in the Dataset cache manager, so a library user never
    // needs spark.catalog.clearCache() after these calls.
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("cosineNearDupPairs LSH path plans bucketed joins: no BroadcastNestedLoop, no Window") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.2f)),
      (2L, Seq(0.99f, 0.01f, 0.21f)),
      (3L, Seq(-0.5f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val plan = Similarity
      .cosineNearDupPairs(vecs, "vec_id", "embedding", tau = 0.9, tables = 2, planesPerTable = 2)
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in LSH-path plan:\n$plan")
    assert(!plan.contains("Window"), s"needless Window sort in threshold path:\n$plan")
  }

  test("lshTopKAgainst candidate path is a bucketed equi-join: no BNLJ, no cartesian") {
    val mk = (ids: Seq[Long]) =>
      ids.map(i => (i, Seq.tabulate(4)(d => if (d == (i % 3).toInt) 1.0f else 0.05f))).toDF("vec_id", "embedding")
    val plan = Similarity
      .lshTopKAgainst(mk(100L until 104L), mk(0L until 24L), "vec_id", "embedding", k = 2, tables = 2, planesPerTable = 2, probeBits = 2)
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in cross-table plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in cross-table plan:\n$plan")
  }

  test("ivfTopKKmeans candidate path is a bucketed equi-join: no BNLJ, no cartesian past the probe snapshot") {
    val vecs = (0L until 24L)
      .map(i => (i, Seq.tabulate(4)(d => if (d == (i % 3).toInt) 1.0f else 0.05f)))
      .toDF("vec_id", "embedding")
    // the broadcast centroid-assignment cross joins live behind the eager
    // localCheckpoint; the plan that scales with n — probe → candidate
    // join → re-rank — must be a plain equi-join on the cell id
    val plan = Similarity
      .ivfTopKKmeans(vecs, "vec_id", "embedding", k = 2, cells = 3, nprobe = 2, iters = 1)
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in kmeans-IVF candidate plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in kmeans-IVF candidate plan:\n$plan")
  }

  test("redactPii replaces emails, IPs and phone runs with typed tags, in order") {
    val df = Seq(
      (1L, "contact bob.smith+x@mail.example.org or call +1 (415) 555-0199 now"),
      (2L, "server at 10.0.42.7 responded"),
      (3L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextStats.redactPii(col("text")).as("r")).as[(Long, String)].collect().toMap
    assert(out(1L) == "contact <EMAIL> or call <PHONE> now")
    assert(out(2L) == "server at <IP> responded")
    assert(out(3L) == "nothing sensitive here at all")
  }

  test("gopherRules measures and flags: short, symbol-heavy and repetitive docs rejected") {
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val df = Seq(
      (1L, good),                                     // 16 distinct clean tokens
      (2L, "too short"),
      (3L, ("spam " * 20).trim),                      // repetition 19/20
      (4L, (("@#$% " * 16).trim))                     // symbol-heavy
    ).toDF("doc_id", "text")
    val out = TextStats.gopherRules(df).select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L))
    assert(!out(2L) && !out(3L) && !out(4L))
    val rep = TextStats.gopherRules(df).filter(col("doc_id") === 3L).select("repetition").as[Double].head()
    assert(rep > 0.9)
  }

  test("stratifiedSampleByHash is deterministic, duplicate-stable and respects rates") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "de", s"doc number $i")).toDF("doc_id", "lang", "text")
    val once = Corpus.stratifiedSampleByHash(df, "lang", col("text"), Map("en" -> 0, "de" -> 100))
      .select("doc_id").as[Long].collect().sorted
    val twice = Corpus.stratifiedSampleByHash(df, "lang", col("text"), Map("en" -> 0, "de" -> 100))
      .select("doc_id").as[Long].collect().sorted
    assert(once.toSeq == twice.toSeq)
    assert(once.forall(_ % 2 == 1)) // every 'en' row dropped at rate 0
    assert(once.length == 100)      // every 'de' row kept at rate 100
    // duplicate-stable: identical content always sampled together
    val dup = Seq((1L, "x", "same words here"), (2L, "x", "same words here")).toDF("doc_id", "lang", "text")
    val kept = Corpus.stratifiedSampleByHash(dup, "lang", col("text"), Map("x" -> 50)).count()
    assert(kept == 0L || kept == 2L)
  }

  test("kmvDistinctEstimate: exact under k, within ~3/sqrt(k) above k") {
    val small = (1L to 100L).map(i => Tuple1(s"v$i")).toDF("t")
    val exactBranch = Sketches.kmvDistinctEstimate(small, "t", k = 256).as[Double].head()
    assert(exactBranch == 100.0) // fewer distinct than k -> exact count
    val big = (1L to 20000L).map(i => Tuple1(s"value$i")).toDF("t")
    val est = Sketches.kmvDistinctEstimate(big, "t", k = 256).as[Double].head()
    assert(math.abs(est - 20000.0) / 20000.0 < 3.0 / math.sqrt(256.0), s"est=$est")
  }

  test("quantizeInt8: symmetric bounds, zero-vector guard, scale round-trip") {
    val vecs = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = vecs
      .select(col("vec_id"), Embeddings.maxAbsScale(col("embedding")).as("s"),
        Embeddings.quantizeInt8(col("embedding")).as("q"))
      .as[(Long, Double, Seq[Int])]
      .collect()
      .map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out(1L)._1 == 2.0)
    assert(out(1L)._2 == Seq(64, -127, 32)) // floor(x*127/2 + 0.5)
    assert(out(2L)._2 == Seq(0, 0, 0))      // zero scale -> zeros, no div-by-zero
  }

  test("wav synthesize/decode round-trips format metadata and PCM checksum through javax.sound") {
    val ids = Seq(2L, 123L, 999L).toDF("doc_id")
    val out = Multimodal
      .decodeBatched(Multimodal.synthesizeWav(ids))(Multimodal.wavCodec((i, m, r, f, s) => (i, m, r, f, s)))
      .collect()
      .sortBy(_._1)
    out.foreach { case (id, mime, rate, frames, sum) =>
      assert(mime == "audio/wav")
      assert(rate == 8000 + (id % 5) * 4000)
      assert(frames == 100 + (id % 50) * 10)
      val v = (id % 1000) * 16
      assert(sum == frames * (v % 256 + v / 256), s"pcm checksum mismatch for doc $id")
    }
  }

  test("png synthesize/decode round-trips real dimensions and pixel sums through javax.imageio") {
    val ids = Seq(3L, 17L, 40L).toDF("doc_id")
    val media = Multimodal.synthesizePng(ids)
    final case class Out(doc_id: Long, mime: String, width: Long, height: Long, pixel_sum: Long)
    val out = Multimodal
      .decodeBatched(media)(Multimodal.imageIoCodec((i, m, w, h, s) => (i, m, w, h, s)))
      .collect()
      .sortBy(_._1)
    out.foreach { case (id, mime, w, h, sum) =>
      assert(mime == "image/png")
      assert(w == (id % 21 + 1) * 3)
      assert(h == (id % 13 + 1) * 4)
      val expected = w * h * ((id * 7) % 256 + (id * 13) % 256 + (id * 31) % 256)
      assert(sum == expected, s"pixel checksum mismatch for doc $id")
    }
  }

  test("gradient png + nearest-neighbor resize: sampled sum matches the coordinate-map arithmetic") {
    val ids = Seq(3L, 17L, 40L).toDF("doc_id")
    val media = Multimodal.synthesizePngGradient(ids)
    val out = Multimodal
      .decodeBatched(media)(
        Multimodal.resizeNearestCodec(8, 8)((i, sw, sh, ow, oh, s) => (i, sw, sh, ow, oh, s))
      )
      .collect()
      .sortBy(_._1)
    out.foreach { case (id, sw, sh, ow, oh, sum) =>
      assert(sw == (id % 21 + 1) * 3 && sh == (id % 13 + 1) * 4)
      assert(ow == 8L && oh == 8L)
      // independent plain-Scala replay of decode + NN sampling
      var expected = 0L
      for (dy <- 0 until 8; dx <- 0 until 8) {
        val sx = dx * sw / 8
        val sy = dy * sh / 8
        expected += (5 * sx + id) % 256
        expected += (7 * sy + 2 * id) % 256
        expected += (sx + sy + 3 * id) % 256
      }
      assert(sum == expected, s"resize sample sum mismatch for doc $id")
    }
    // non-vacuity: the gradient makes the digest sampling-dependent — a
    // wrong coordinate map (ceil instead of floor) must change the sum
    val id = 17L
    val sw = (id % 21 + 1) * 3
    val sh = (id % 13 + 1) * 4
    var wrong = 0L
    for (dy <- 0 until 8; dx <- 0 until 8) {
      val sx = math.min(sw - 1, (dx * sw + 7) / 8)
      val sy = math.min(sh - 1, (dy * sh + 7) / 8)
      wrong += (5 * sx + id) % 256
      wrong += (7 * sy + 2 * id) % 256
      wrong += (sx + sy + 3 * id) % 256
    }
    val right = out.find(_._1 == id).get._6
    assert(wrong != right, "gradient fixture failed to distinguish floor from ceil sampling")
  }

  test("mp4 synthesize/parse round-trips container metadata through a real box walk") {
    val ids = Seq(0L, 7L, 59L, 123L).toDF("doc_id")
    val media = Multimodal.synthesizeMp4(ids)
    final case class Out(doc_id: Long, mime: String, timescale: Long, duration: Long, n_tracks: Long)
    val out = Multimodal
      .decodeBatched(media)(Multimodal.mp4Codec((i, m, ts, d, nt) => (i, m, ts, d, nt)))
      .collect()
      .sortBy(_._1)
    out.foreach { case (id, mime, ts, dur, nt) =>
      assert(mime == "video/mp4")
      assert(ts == 600 + (id % 10) * 300)
      assert(dur == ts * (5 + id % 60))
      assert(nt == 1 + id % 3)
    }
  }

  test("mp4 parser rejects corrupt box lengths instead of misreading") {
    import Multimodal.{MediaMeta, MediaRow}
    val good = Multimodal.synthesizeMp4(Seq(1L).toDF("doc_id")).collect().head
    val corrupt = good.payload.clone()
    corrupt(0) = 0x7f.toByte // first box length now exceeds the payload
    val bad = spark.createDataset(Seq(MediaRow(1L, corrupt, MediaMeta(corrupt.length.toLong, "video/mp4"))))
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeBatched(bad)(Multimodal.mp4Codec((i, m, ts, d, nt) => (i, m, ts, d, nt))).collect()
    }
    assert(ex.getMessage.contains("corrupt box") || Option(ex.getCause).exists(_.getMessage.contains("corrupt box")))
  }

  test("packSequences assigns concat-and-chunk positions per shard in id order") {
    // one shard => a single deterministic stream; budget 512
    val toks = Seq((1L, 300L), (2L, 300L), (3L, 300L), (4L, 150L)).toDF("doc_id", "n_tokens")
    val out = Corpus
      .packSequences(toks, "doc_id", "n_tokens", budgetTokens = 512, shards = 1)
      .select("doc_id", "seq_id", "seq_offset", "n_seqs")
      .as[(Long, Long, Long, Long)]
      .collect()
      .sortBy(_._1)
    assert(
      out.toSeq == Seq(
        (1L, 0L, 0L, 1L),   // [0, 300)
        (2L, 0L, 300L, 2L), // [300, 600) straddles the 512 boundary
        (3L, 1L, 88L, 1L),  // [600, 900)
        (4L, 1L, 388L, 2L)  // [900, 1050) straddles 1024
      )
    )
  }

  test("packSequences shards are independent and cover all docs exactly once") {
    val toks = (1L to 100L).map(i => (i, 50L + i % 7)).toDF("doc_id", "n_tokens")
    val out = Corpus.packSequences(toks, "doc_id", "n_tokens", budgetTokens = 256, shards = 4)
    assert(out.count() == 100)
    assert(out.select("shard").distinct().count() == 4)
    // within each shard, offsets restate the running cumsum: no gaps, no
    // overlaps — (seq_id * budget + seq_offset) must equal the running sum
    // of preceding docs
    val rows = out
      .select("shard", "doc_id", "n_tokens", "seq_id", "seq_offset")
      .as[(Long, Long, Long, Long, Long)]
      .collect()
      .groupBy(_._1)
    rows.values.foreach { shardRows =>
      var cum = 0L
      shardRows.sortBy(_._2).foreach { case (_, _, n, seqId, off) =>
        assert(seqId * 256 + off == cum)
        cum += n
      }
    }
  }

  test("contaminationLedger counts distinct shared shingles; decontaminate drops flagged docs") {
    val corpus = Seq(
      (1L, "a b c d e f g"), // shares 2 of its 3 5-grams with heldout
      (2L, "h i j k l m n"),
      (3L, "o p q r s t u")
    ).toDF("doc_id", "text")
    val heldout = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val ledger = Dedup
      .contaminationLedger(corpus, heldout, "doc_id", "text", k = 5)
      .as[(Long, Long)]
      .collect()
      .toSeq
    assert(ledger == Seq((1L, 2L)))
    val kept2 = Dedup
      .decontaminate(corpus, heldout, "doc_id", "text", k = 5, minShared = 2)
      .select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq == Seq(2L, 3L))
    // threshold above the overlap: nothing is dropped
    val kept3 = Dedup
      .decontaminate(corpus, heldout, "doc_id", "text", k = 5, minShared = 3)
      .select("doc_id").as[Long].collect().sorted
    assert(kept3.toSeq == Seq(1L, 2L, 3L))
  }

  test("buildVocab ranks by frequency with deterministic ties and honors minCount") {
    val corpus = Seq(
      (1L, "b b b a a c"),
      (2L, "a d")
    ).toDF("doc_id", "text")
    val vocab = TextStats.buildVocab(corpus).as[(String, Long, Long)].collect().sortBy(_._3)
    // counts: a=3, b=3, c=1, d=1 → ties break alphabetically
    assert(vocab.toSeq == Seq(("a", 3L, 0L), ("b", 3L, 1L), ("c", 1L, 2L), ("d", 1L, 3L)))
    val pruned = TextStats.buildVocab(corpus, minCount = 2L).as[(String, Long, Long)].collect().sortBy(_._3)
    assert(pruned.toSeq == Seq(("a", 3L, 0L), ("b", 3L, 1L)))
  }

  test("distributedRank equals the single-partition global rank on a skewed hapax-tail table") {
    // Zipf-ish shape: a few hot tokens, a long count-1 tail — the web-text
    // shape that breaks a single global Window.orderBy at scale. The
    // distributed two-phase rank must assign EXACTLY the ids the global
    // window would, across many range buckets.
    val rng = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      val cnt = if (i < 10) 1000L - i else if (i < 100) 50L else 1L
      (f"tok_${rng.nextInt(1000000)}%07d_$i", cnt)
    }
    val df = rows.toDF("token", "cnt")
    val expected = df
      .withColumn(
        "token_id",
        (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("token"))
        ) - 1).cast("long")
      )
      .as[(String, Long, Long)]
      .collect()
      .sortBy(_._1)
    val got = TextStats
      .distributedRank(df, Seq(col("cnt").desc, col("token").asc), "token_id", numPartitions = 13)
      .as[(String, Long, Long)]
      .collect()
      .sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
    // and the ranked table really spans multiple range buckets
    val nparts = TextStats
      .distributedRank(df, Seq(col("cnt").desc, col("token").asc), "token_id", numPartitions = 13)
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct()
      .count()
    assert(nparts > 1L)
  }

  test("encodeWithVocab preserves token order and applies the OOV id deterministically") {
    val corpus = Seq(
      (1L, "a b c a"),
      (2L, "z a")
    ).toDF("doc_id", "text")
    // counts: a=3, b=1, c=1, z=1 → ids a:0, b:1, c:2, z:3; cap at 2 keeps {a, b}
    val vocab = TextStats.buildVocab(corpus).filter(col("token_id") < 2)
    val enc = TextStats
      .encodeWithVocab(corpus, vocab)
      .as[(Long, Seq[Long], Long, Long)]
      .collect()
      .sortBy(_._1)
    assert(enc.toSeq == Seq((1L, Seq(0L, 1L, -1L, 0L), 4L, 1L), (2L, Seq(-1L, 0L), 2L, 1L)))
  }

  test("semDedup equals an independent brute-force replay of the keep-least-central rule") {
    // two orthogonal tight clusters, each {a, a, b} with b slightly
    // off-center (cos(a,b) ~ 0.95 >= tau), plus one outlier. Expected
    // survivors are NOT hand-guessed (the 2-cell fit may group the data
    // any deterministic way): the spec replays assignment + the
    // (csim, id)-lexicographic survivor rule brute-force from the fitted
    // centroids and asserts the operator matches it exactly. Sanity floor:
    // some doc must drop (the identical pairs can never both survive).
    val data = Seq(
      1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      2L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      3L -> Seq(0.95f, 0.312f, 0.0f, 0.0f),
      4L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      5L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      6L -> Seq(0.0f, 0.312f, 0.95f, 0.0f),
      7L -> Seq(0.5f, -0.5f, 0.5f, -0.5f)
    )
    val rows = data.toDF("vec_id", "v")
    val surv = Similarity
      .semDedup(rows, "vec_id", "v", tau = 0.9, cells = 2, iters = 2, seed = 42L)
      .select("vec_id")
      .as[Long]
      .collect()
      .sorted
    // independent reference
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Seq[Double], b: Seq[Double]) = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def quant(v: Seq[Float]): Seq[Double] = {
      val s = v.map(x => math.abs(x.toDouble)).max
      if (s == 0) v.map(_ => 0.0) else v.map(x => math.floor(x.toDouble * 127.0 / s + 0.5))
    }
    val cents = Similarity
      .kmeansCentroids(rows, "vec_id", "v", cells = 2, iters = 2, seed = 42L)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val asg = data.map { case (id, v) =>
      val (cid, csim) = cents.map { case (c, cv) => (c, cos(quant(v), cv)) }.maxBy { case (c, s) => (s, -c) }
      (id, v.map(_.toDouble), cid, csim)
    }
    val expected = asg.collect {
      case (id, v, cid, csim) if !asg.exists { case (oid, ov, ocid, ocsim) =>
            oid != id && ocid == cid && cos(ov, v) >= 0.9 &&
            (ocsim < csim || (ocsim == csim && oid < id))
          } =>
        id
    }.sorted
    assert(surv.toSeq == expected, s"operator ${surv.mkString(",")} vs reference ${expected.mkString(",")}")
    assert(surv.length < data.length, "identical pairs can never both survive")
  }

  test("semDedup maxCell equals an independent brute-force replay of the BLOCKED survivor rule") {
    // 9 near-identical vectors (one cell, every pair over tau) + jitter so
    // centroid similarities are distinct and the (csim desc, id) rank is
    // exercised non-trivially; maxCell = 3 puts 3 blocks in the cell. The
    // expected survivors come from a plain-Scala replay of the full rule:
    // quantize, fit, rank-1 assign, rank per cell, block = (rank-1)/3,
    // drop iff a same-(cell, block) neighbor at cos >= tau is
    // (csim, id)-smaller.
    val data = (0L until 9L).map { i =>
      i -> Seq.tabulate(8)(j => 1.0f + ((i * 7 + j * 3) % 11).toFloat / 1000.0f)
    }
    val rows = data.toDF("vec_id", "v")
    val surv = Similarity
      .semDedup(rows, "vec_id", "v", tau = 0.999, cells = 1, iters = 1, seed = 42L, maxCell = 3)
      .select("vec_id").as[Long].collect().toSet

    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Seq[Double], b: Seq[Double]) = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def quant(v: Seq[Float]): Seq[Double] = {
      val s = v.map(x => math.abs(x.toDouble)).max
      if (s == 0) v.map(_ => 0.0) else v.map(x => math.floor(x.toDouble * 127.0 / s + 0.5))
    }
    val cents = Similarity
      .kmeansCentroids(rows, "vec_id", "v", cells = 1, iters = 1, seed = 42L)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val asg = data.map { case (id, v) =>
      val (cid, csim) = cents.map { case (c, cv) => (c, cos(quant(v), cv)) }.maxBy { case (c, s) => (s, -c) }
      (id, v.map(_.toDouble), cid, csim)
    }
    val blocked = asg
      .groupBy(_._3)
      .flatMap { case (_, members) =>
        members.sortBy { case (id, _, _, csim) => (-csim, id) }.zipWithIndex.map { case (m, rank) =>
          (m._1, m._2, m._3, m._4, rank / 3)
        }
      }
      .toSeq
    val expected = blocked.collect {
      case (id, v, cid, csim, blk) if !blocked.exists { case (oid, ov, ocid, ocsim, oblk) =>
            oid != id && ocid == cid && oblk == blk && cos(ov, v) >= 0.999 &&
            (ocsim < csim || (ocsim == csim && oid < id))
          } =>
        id
    }.toSet
    assert(surv == expected, s"operator ${surv.toSeq.sorted} vs reference ${expected.toSeq.sorted}")
    // non-vacuous: 3 blocks of identical-ish docs keep exactly 1 each
    assert(expected.size == 3 && surv.size < data.size)
  }

  test("semDedup skew cap: blocking only ever reduces drops, and degenerates predictably") {
    val data = Seq(
      1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      2L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      3L -> Seq(0.95f, 0.312f, 0.0f, 0.0f),
      4L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      5L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      6L -> Seq(0.0f, 0.312f, 0.95f, 0.0f),
      7L -> Seq(0.5f, -0.5f, 0.5f, -0.5f)
    )
    val rows = data.toDF("vec_id", "v")
    def surv(maxCell: Int): Set[Long] = Similarity
      .semDedup(rows, "vec_id", "v", tau = 0.9, cells = 2, iters = 2, seed = 42L, maxCell = maxCell)
      .select("vec_id").as[Long].collect().toSet
    val uncapped = surv(0)
    // a cap larger than any cell is a no-op
    assert(surv(1000) == uncapped)
    // capped pair universe is a subset of the uncapped one, so drops can
    // only shrink: uncapped survivors are always capped survivors
    assert(uncapped.subsetOf(surv(2)))
    // singleton blocks: no same-block pair exists, everything survives
    assert(surv(1) == data.map(_._1).toSet)
  }

  test("semDedup AutoMaxCell: 4×-mean integer rule, and the default equals the exact rule on balanced cells") {
    // the documented integer rule: 4 · ⌈n/cells⌉, ceiling exact at the
    // boundary (no floating point)
    assert(Similarity.autoMaxCell(500L, 8) == 252)   // ceil(500/8)=63
    assert(Similarity.autoMaxCell(64L, 8) == 32)     // exact division
    assert(Similarity.autoMaxCell(65L, 8) == 36)     // one row over → next block
    assert(Similarity.autoMaxCell(1L, 8) == 4)
    // DEFAULT knobs = auto cap: on a fixture whose cells stay within 4× of
    // balanced, every cell is one block → bit-identical to the exact rule
    val data = Seq(
      1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      2L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      3L -> Seq(0.95f, 0.312f, 0.0f, 0.0f),
      4L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      5L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      6L -> Seq(0.0f, 0.312f, 0.95f, 0.0f)
    )
    val rows = data.toDF("vec_id", "v")
    val byDefault = Similarity
      .semDedup(rows, "vec_id", "v", tau = 0.9, cells = 2, iters = 2, seed = 42L)
      .select("vec_id").as[Long].collect().toSet
    val exact = Similarity
      .semDedup(rows, "vec_id", "v", tau = 0.9, cells = 2, iters = 2, seed = 42L, maxCell = 0)
      .select("vec_id").as[Long].collect().toSet
    assert(byDefault == exact)
    assert(exact.size < data.size) // non-vacuous: the dedup dropped something
  }

  test("semDedup: a non-sentinel non-positive cells resolves as auto, even with an explicit maxCell") {
    // the r14 ADVICE edge: cells = -2 with explicit maxCell used to skip
    // the count (n = -1) and die in suggestedCells' unrelated
    // "needs a positive row count" require — now any cells <= 0 counts
    // and resolves via the auto rule, matching resolveCells' semantics
    val data = Seq(
      1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      2L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      3L -> Seq(0.95f, 0.312f, 0.0f, 0.0f),
      4L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      5L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      6L -> Seq(0.0f, 0.312f, 0.95f, 0.0f)
    )
    val rows = data.toDF("vec_id", "v")
    def survivors(cells: Int): Set[Long] = Similarity
      .semDedup(rows, "vec_id", "v", tau = 0.9, cells = cells, iters = 2, seed = 42L, maxCell = 50)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors(-2) == survivors(Similarity.AutoCells))
  }

  test("charNgrams n >= 4 filters tokens too short to carry one full gram (no count-down substrings)") {
    // the r14 ADVICE edge: a 1-char token's padded form is 3 chars, so at
    // n = 4 an unguarded sequence(1, len-3) gets stop < start, Spark
    // infers step -1, and substr positions count DOWN — bogus short grams
    val grams = Seq("a bc def ghij").toDF("text")
      .select(TextStats.charNgrams(TextStats.tokens($"text"), 4).as("g"))
      .as[Seq[String]].head()
    assert(grams.forall(_.length == 4), s"every 4-gram must be exactly 4 chars, got: $grams")
    assert(!grams.exists(_.contains("^a$")), "a 1-char token must be filtered at n = 4")
    assert(grams.contains("^bc$")) // 2-char token: exactly one padded gram
    assert(grams.contains("^def") && grams.contains("def$"))
    // the default n = 3 keeps its established behavior (empty-token filter)
    val g3 = Seq("a ").toDF("text")
      .select(TextStats.charNgrams(TextStats.tokens($"text"), 3).as("g"))
      .as[Seq[String]].head()
    assert(g3 == Seq("^a$"))
    // the r15 ADVICE edge: at n <= 2 the raw `len >= n - 2` bound would
    // admit EMPTY tokens (split on doubled/leading spaces) and emit a
    // bogus '^$' gram — the max(n-2, 1) floor keeps them out at every n
    for (n <- Seq(1, 2)) {
      val gs = Seq("a  b").toDF("text") // doubled space -> one empty token
        .select(TextStats.charNgrams(TextStats.tokens($"text"), n).as("g"))
        .as[Seq[String]].head()
      assert(gs.forall(_.length == n), s"n=$n grams must be exactly $n chars, got: $gs")
      assert(!gs.exists(g => g == "^$" || g.isEmpty), s"empty tokens must stay excluded at n=$n: $gs")
    }
  }

  test("tfidfTopTerms ranks rare-but-frequent terms first") {
    val corpus = Seq(
      (1L, "x x common"),
      (2L, "y common"),
      (3L, "z common")
    ).toDF("doc_id", "text")
    val top = TextStats
      .tfidfTopTerms(corpus, "doc_id", "text", k = 1)
      .select("doc_id", "token", "score")
      .as[(Long, String, Double)]
      .collect()
      .sortBy(_._1)
    // doc1: x tf=2 df=1 → 2*3/1=6 beats common 1*3/3=1
    assert(top.map(t => (t._1, t._2)).toSeq == Seq((1L, "x"), (2L, "y"), (3L, "z")))
    assert(top.head._3 == 6.0)
  }

  test("repetitionRatios flags looping phrases that token-distinct ratio misses") {
    val corpus = Seq(
      (1L, "a b a b a b a b"),      // 7 bigrams, 2 distinct → 5/7 dup
      (2L, "one two three four"),   // all bigrams distinct → 0
      (3L, "x")                     // shorter than any n-gram → 0 by guard
    ).toDF("doc_id", "text")
    val out = TextStats
      .repetitionRatios(corpus)
      .select("doc_id", "n_2grams", "dup_2gram_ratio", "dup_3gram_ratio")
      .as[(Long, Long, Double, Double)]
      .collect()
      .sortBy(_._1)
    // expectations written as the operator's expression (1 - distinct/total):
    // 4.0/6.0 differs from 1.0 - 2.0/6.0 in the last ulp
    assert(out(0) == ((1L, 7L, 1.0 - 2.0 / 7.0, 1.0 - 2.0 / 6.0)))
    assert(out(1) == ((2L, 3L, 0.0, 0.0)))
    assert(out(2) == ((3L, 0L, 0.0, 0.0)))
  }

  test("normalizeText canonicalizes case/punct/whitespace; dedup on it catches variants") {
    val variants = Seq(
      (1L, "The quick, brown FOX!"),
      (2L, "the   quick brown fox"), // normalized dup of 1
      (3L, "a different doc")
    ).toDF("doc_id", "text")
    val normed = variants.select(TextStats.normalizeText(col("text"))).as[String].collect()
    assert(normed(0) == "the quick brown fox" && normed(0) == normed(1))
    val kept = Dedup
      .dedupExact(variants, Fingerprints.contentKeyMd5(TextStats.normalizeText(col("text"))), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("c4CleanLines keeps punctuated >=minWords lines, flags boilerplate pages") {
    val pages = Seq(
      // 3 good lines -> kept page; short line and unpunctuated line dropped
      (1L, "one two three four five.\nsix seven eight nine ten!\na b c d e?\ntoo short.\nno terminal punct here at all"),
      // only 2 good lines -> dropped page (minKeptLines = 3)
      (2L, "one two three four five.\nsix seven eight nine ten."),
      // good lines but a javascript page flag -> dropped, lines still counted
      (3L, "one two three four five.\nsix seven eight nine ten.\na b c d e.\nEnable JavaScript to continue"),
      // curly brace page flag
      (4L, "one two three four five.\nsix seven eight nine ten.\na b c d e.\nif (x) { y(); }"),
      // lorem ipsum page flag
      (5L, "one two three four five.\nsix seven eight nine ten.\na b c d e.\nLorem Ipsum dolor sit amet.")
    ).toDF("doc_id", "text")
    val out = TextStats
      .c4CleanLines(pages)
      .select("doc_id", "n_lines", "n_kept", "keep", "clean_text")
      .as[(Long, Long, Long, Boolean, String)]
      .collect()
      .sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSeq == Seq(
      (1L, 5L, 3L, true),
      (2L, 2L, 2L, false),
      (3L, 4L, 3L, false),
      (4L, 4L, 3L, false),
      (5L, 4L, 4L, false) // 'Lorem Ipsum dolor sit amet.' is itself a valid line
    ))
    assert(out.head._5 == "one two three four five.\nsix seven eight nine ten!\na b c d e?")
  }

  test("shuffleOrder is a reproducible permutation: dense ranks per shard, seed changes order") {
    val ids = (1L to 200L).toDF("doc_id")
    val a = Corpus.shuffleOrder(ids, "doc_id", seed = 7L, shards = 4)
    val b = Corpus.shuffleOrder(ids, "doc_id", seed = 7L, shards = 4)
    val c = Corpus.shuffleOrder(ids, "doc_id", seed = 8L, shards = 4)
    val rows = a.select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    // every row assigned; positions are dense 0..n-1 within each shard
    assert(rows.length == 200)
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.length).toSeq)
    }
    // same seed -> identical assignment across runs
    assert(b.select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect().sortBy(_._1).toSeq ==
      rows.sortBy(_._1).toSeq)
    // different seed -> a different permutation (some doc moves)
    assert(c.select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect().sortBy(_._1).toSeq !=
      rows.sortBy(_._1).toSeq)
    // the shuffle is not the identity order: within some shard, doc_ids
    // are not monotone in pos
    val byShard = rows.groupBy(_._2).values
    assert(byShard.exists(g => g.sortBy(_._3).map(_._1).toSeq != g.map(_._1).sorted.toSeq))
  }

  test("sourceMixture token shares sum to 1 and count per cell") {
    val corpus = Seq(
      (1L, "a b c", "s1", "en"),
      (2L, "d e", "s1", "en"),
      (3L, "f g h i j", "s2", "de")
    ).toDF("doc_id", "text", "source", "lang")
    val mix = Corpus
      .sourceMixture(corpus, "source", "lang", "text")
      .select("source", "lang", "n_docs", "n_tokens", "token_share")
      .as[(String, String, Long, Long, Double)]
      .collect()
      .sortBy(_._1)
    assert(mix.toSeq == Seq(("s1", "en", 2L, 5L, 0.5), ("s2", "de", 1L, 5L, 0.5)))
  }

  test("minhashNearDupAgainst finds batch-vs-corpus near-dups, never within-side pairs") {
    // corpus: docs 1 and 4 are identical to each other (a within-corpus
    // pair that must NOT be reported); batch doc 100 near-dups corpus doc
    // 1, batch doc 101 is fresh, batch docs 100/102 are identical to each
    // other (a within-batch pair that must NOT be reported either)
    val corpus = docs // ids 1..5
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "nothing like anything stored before at all"),
      (102L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .minhashNearDupAgainst(batch, corpus, "doc_id", "text", k = 3, numHashes = 64, bands = 16, tau = 0.8)
      .as[(Long, Long, Double)]
      .collect()
      .sortBy(p => (p._1, p._2))
    // every reported pair crosses the tables: a from batch, b from corpus
    pairs.foreach { case (a, b, _) => assert(a >= 100L && b < 100L, s"pair ($a,$b)") }
    // both identical batch docs hit both identical corpus docs at jaccard 1
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((100L, 1L), (100L, 4L), (102L, 1L), (102L, 4L)))
    assert(pairs.forall(_._3 == 1.0))
  }

  test("simhashNearDupAgainst equals the brute cross-pair Hamming set") {
    val corpus = docs // ids 1..5
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // = corpus 1/4
      (101L, "completely different words entirely here now"), // = corpus 3
      (102L, "unrelated fresh content with no stored match")
    ).toDF("doc_id", "text")
    val banded = Dedup
      .simhashNearDupAgainst(batch, corpus, "doc_id", "text", bands = 4, maxHamming = 3)
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(p => (p._1, p._2))
    // brute reference: every (batch, corpus) pair within Hamming 3
    val simOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), Fingerprints.simhash64(col("text"))).as[(Long, Long)].collect().toMap
    val (bs, cs) = (simOf(batch), simOf(corpus))
    val brute = (for {
      (a, sa) <- bs.toSeq; (b, sb) <- cs.toSeq
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).sortBy(p => (p._1, p._2))
    assert(banded.toSeq == brute)
    assert(brute.exists(p => p._1 == 100L && (p._2 == 1L || p._2 == 4L))) // non-vacuous
    banded.foreach { case (a, b, _) => assert(a >= 100L && b < 100L) }    // cross-only
  }

  test("dedupIncremental drops index hits and within-batch dups, keeps the rest") {
    // index covers doc 1/4's content; batch has an index dup (4), a
    // within-batch dup pair (2 repeated as 6), and fresh content (3, 5)
    val batch = docs.filter(col("doc_id") >= 2L).union(
      Seq((6L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    )
    val index = docs
      .filter(col("doc_id") === 1L)
      .select(Fingerprints.contentKeyMd5(col("text")).as("ck"))
    val kept = Dedup
      .dedupIncremental(batch, index, "ck", Fingerprints.contentKeyMd5(col("text")), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L, 5L)) // 4 = index dup, 6 = batch dup of 2
  }

  test("hashSampledQuantiles: deterministic sample, exact ledger matches full data") {
    val events = (1L to 1000L).map(i => (i, "a", i.toDouble)).toDF("event_id", "event_type", "value")
    val out = Sketches
      .hashSampledQuantiles(events, "event_type", "value", "event_id", samplePercent = 20, qs = Seq(0.5))
    val row = out.collect().head
    val nSample = row.getAs[Long]("n_sample")
    assert(nSample > 100 && nSample < 300) // ~20% of 1000, hash-spread
    assert(row.getAs[Long]("n_total") == 1000L)
    // exact side is the true R-7 median of 1..1000
    assert(row.getAs[Double]("exact_p50") == 500.5)
    // determinism: the same call returns the identical sample and estimate
    val again = Sketches
      .hashSampledQuantiles(events, "event_type", "value", "event_id", samplePercent = 20, qs = Seq(0.5))
      .collect().head
    assert(again.getAs[Long]("n_sample") == nSample)
    assert(again.getAs[Double]("est_p50") == row.getAs[Double]("est_p50"))
  }

  test("contaminationLedger maxDf drops boilerplate shingles from the signal") {
    // "x y z w v" appears in 3 corpus docs (boilerplate) AND in heldout;
    // with maxDf=2 it stops counting as contamination signal
    val corpus = Seq(
      (1L, "x y z w v a"),
      (2L, "x y z w v b"),
      (3L, "x y z w v c")
    ).toDF("doc_id", "text")
    val heldout = Seq((100L, "x y z w v")).toDF("doc_id", "text")
    val uncapped = Dedup
      .contaminationLedger(corpus, heldout, "doc_id", "text", k = 5)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(uncapped == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    val capped = Dedup
      .contaminationLedger(corpus, heldout, "doc_id", "text", k = 5, maxDf = 2)
      .count()
    assert(capped == 0L)
  }

  test("cmsSketch/cmsEstimate: never underestimates, exact when width avoids collisions") {
    val values = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val df = values.toDF("v")
    val sketch = Sketches.cmsSketch(df, "v", depth = 3, width = 1024)
    // sketch has at most depth * distinct rows, counters sum to depth * n per row
    val perRow = sketch.groupBy("row_j").agg(sum("cnt").as("s")).select("s").as[Long].collect()
    assert(perRow.toSeq == Seq(9L, 9L, 9L))
    val est = Sketches
      .cmsEstimate(sketch, df.distinct(), "v", depth = 3, width = 1024)
      .as[(String, Long)].collect().toMap
    // width 1024 >> 3 distinct values: no collisions, estimates exact
    assert(est == Map("a" -> 5L, "b" -> 3L, "c" -> 1L))
    // width 2 forces collisions: estimates only ever >= truth
    val tight = Sketches.cmsSketch(df, "v", depth = 2, width = 2)
    val estT = Sketches
      .cmsEstimate(tight, df.distinct(), "v", depth = 2, width = 2)
      .as[(String, Long)].collect().toMap
    assert(estT("a") >= 5L && estT("b") >= 3L && estT("c") >= 1L)
    assert(estT.values.sum > 9L) // at least one collision actually fired
  }

  test("hllRegisters/hllDistinctEstimate: deterministic, within 3 sigma, merge = union") {
    val big = (1 to 20000).map(i => s"tok_$i").toDF("v")
    val est = Sketches.hllDistinctEstimate(big, "v", p = 6).as[Double].head()
    // raw-branch estimate: std error 1.04/sqrt(64) = 13%; allow 3 sigma
    assert(math.abs(est - 20000.0) / 20000.0 < 0.39, s"estimate $est too far from 20000")
    // determinism: identical on re-run
    val again = Sketches.hllDistinctEstimate(big, "v", p = 6).as[Double].head()
    assert(est == again)
    // mergeability: per-half registers max-merged == whole-data registers
    val h1 = (1 to 10000).map(i => s"tok_$i").toDF("v")
    val h2 = (10001 to 20000).map(i => s"tok_$i").toDF("v")
    val merged = Sketches
      .hllRegisters(h1, "v", p = 6)
      .union(Sketches.hllRegisters(h2, "v", p = 6))
      .groupBy("bucket").agg(max("m_j").as("m_j"))
      .as[(Long, Long)].collect().toMap
    val whole = Sketches.hllRegisters(big, "v", p = 6).as[(Long, Long)].collect().toMap
    assert(merged == whole)
  }

  test("cmsSketchBy/cmsMerge and hllRegistersBy/hllMerge: shard-then-merge == one-shot") {
    val values = ((1 to 500).map(i => s"tok_${i % 97}")).toDF("v")
    val sharded = values.withColumn(
      "shard",
      pmod(Sketches.hash56(concat(lit("sh:"), col("v"))), lit(3L))
    )
    val cmsMerged = Sketches
      .cmsMerge(Sketches.cmsSketchBy(sharded, "v", "shard", depth = 2, width = 8).drop("shard"))
      .as[(Long, Long, Long)].collect().toSet
    val cmsWhole = Sketches.cmsSketch(values, "v", depth = 2, width = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(cmsMerged == cmsWhole)
    val hllMerged = Sketches
      .hllMerge(Sketches.hllRegistersBy(sharded, "v", "shard", p = 4).drop("shard"))
    val hllWhole = Sketches.hllRegisters(values, "v", p = 4)
    assert(
      hllMerged.as[(Long, Long)].collect().toMap == hllWhole.as[(Long, Long)].collect().toMap
    )
    // estimate-from-registers is the lookup half of the one-shot estimate
    val estM = Sketches.hllEstimateFromRegisters(hllMerged, p = 4).as[Double].head()
    val estW = Sketches.hllDistinctEstimate(values, "v", p = 4).as[Double].head()
    assert(estM == estW)
  }

  test("winnowFingerprints: guarantee (shared >= w+k-1 run shares a fingerprint), density, edges") {
    // docs 1 and 2 share the 7-token run "p q r s t u v" >= w+k-1 = 6
    val df = Seq(
      (1L, "a b p q r s t u v c d e f g h"),
      (2L, "x y z p q r s t u v w"),
      (3L, "m n"),        // shorter than k: no fingerprints
      (4L, "m n o p")     // 2 grams < w: exactly one (global-min) fingerprint
    ).toDF("doc_id", "text")
    val fps = Fingerprints
      .winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long)]
      .collect()
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert(!fps.contains(3L))
    assert(fps(4L).size == 1)
    // density: far fewer fingerprints than grams (13 grams in doc 1)
    assert(fps(1L).size < 13)
    // determinism + the selected values are actual gram hashes
    val again = Fingerprints
      .winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long)].collect().toSet
    assert(again == Fingerprints.winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long)].collect().toSet)
  }

  test("blocklistFilter: occurrence counts (not distinct), ratio threshold") {
    val df = Seq(
      (1L, "bad bad ok ok"),     // 2/4 = 0.5
      (2L, "ok ok ok ok"),       // 0
      (3L, "bad ok")             // 0.5
    ).toDF("doc_id", "text")
    val out = TextStats
      .blocklistFilter(df, "text", Seq("bad"), maxBadRatio = 0.4)
      .select("doc_id", "n_bad", "bad_ratio", "keep")
      .as[(Long, Long, Double, Boolean)]
      .collect()
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, 0.5, false), (2L, 0L, 0.0, true), (3L, 1L, 0.5, false)))
  }

  test("ngramContainmentPairs: snippet containment fires where jaccard stays low") {
    val df = Seq(
      (1L, "a b c d e f g h i j"), // 8 shingles at k=3
      (2L, "a b c d"),             // 2 shingles, both in doc 1 -> C(2->1)=1.0
      (3L, "z y x w v")            // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .ngramContainmentPairs(df, "doc_id", "text", k = 3, tau = 0.9)
      .as[(Long, Long, Double)]
      .collect()
      .toSeq
    assert(pairs == Seq((2L, 1L, 1.0))) // directed: only snippet->source
    // jaccard on the same pair is 2/8 = 0.25 — below any dedup tau
    val j = Dedup
      .ngramJaccardPairs(df, "doc_id", "text", k = 3, tau = 0.2)
      .as[(Long, Long, Double)]
      .collect()
      .toSeq
    assert(j == Seq((1L, 2L, 0.25)))
  }

  test("bigramSurprisal: integer floor-log2 conditionals, hand-checked") {
    val df = Seq(
      (1L, "a b a b"), // bigrams: ab, ba, ab
      (2L, "a b c"),   // ab, bc
      (3L, "x")        // no bigrams
    ).toDF("doc_id", "text")
    // occurrence counts: prev a:3 (ab,ab,ab), b:2 (ba,bc); pairs ab:3, ba:1, bc:1
    // flog2: c(a)=3->1, c(b)=2->1, ab=3->1, ba=1->0, bc=1->0
    // doc1: (1-1)+(1-0)+(1-1) = 1 over 3; doc2: (1-1)+(1-0) = 1 over 2
    val out = TextStats
      .bigramSurprisal(df)
      .as[(Long, Long, Long, Option[Double])]
      .collect()
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, Some(1.0 / 3.0)),
      (2L, 2L, 1L, Some(0.5)),
      (3L, 0L, 0L, None)
    ))
  }

  test("surprisalBands: corpus-relative head/middle/tail, hand-checked") {
    // d1/d2: "the a" loops — every bigram's pair count equals its prev
    // count (sv = 0, maximally predictable). d3: "the" followed by four
    // distinct continuations — sv(the,x) = flog2(12) − flog2(1) = 3.
    // Totals: ss = 12, nb = 21 ⇒ m1000 = 12000 div 21 = 571.
    // d1: 0 < 998·571·7 → head; d3: 12e6 > 1002·571·7 → tail;
    // d4 has no bigrams (0-vs-0 comparisons false) → middle, kept.
    val df = Seq(
      (1L, "the a the a the a the a"),
      (2L, "the a the a the a the a"),
      (3L, "the b the c the d the e"),
      (4L, "solo")
    ).toDF("doc_id", "text")
    val out = TextStats
      .surprisalBands(df)
      .select("doc_id", "band", "keep")
      .as[(Long, String, Boolean)]
      .collect()
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "head", true),
      (2L, "head", true),
      (3L, "tail", false),
      (4L, "middle", true)
    ))
  }

  test("surprisalBands: all-short-doc corpus (zero bigrams everywhere) bands middle, no ANSI error") {
    // every doc has < 2 tokens ⇒ Σ n_bigrams = 0: the corpus-mean division
    // must be guarded (ANSI `div` by zero would throw), and the documented
    // zero-bigram banding (middle, kept) must apply to every row
    val df = Seq((1L, "solo"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val out = TextStats
      .surprisalBands(df)
      .select("doc_id", "band", "keep")
      .as[(Long, String, Boolean)]
      .collect()
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, "middle", true), (2L, "middle", true), (3L, "middle", true)))
  }

  test("corpusReport: per-source counters, hand-checked") {
    val long = "the quick brown fox jumps over the lazy dog and then some more filler words here"
    val docs = Seq(
      (1L, "srcA", "en", long), // 16 tokens, gopher-keep
      (2L, "srcA", "en", long), // exact dup of 1
      (3L, "srcA", "de", "kurz"), // 1 token: fails gopher min
      (4L, "srcB", "en", "mail me at a@b.com please thanks") // PII, 6 tokens
    ).toDF("doc_id", "source", "lang", "text")
    val got = Corpus
      .corpusReport(docs)
      .select("source", "n_docs", "n_tokens", "n_dup_docs", "n_pii_docs", "n_gopher_keep", "n_langs")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6, r._7))
      .toMap
    assert(got("srcA") == ((3L, 33L, 2L, 0L, 2L, 2L)))
    assert(got("srcB") == ((1L, 6L, 0L, 1L, 0L, 1L)))
  }

  test("curriculumOrder: stage thresholds, stage-major order, shuffle within stage") {
    val df = Seq(
      (1L, 0.1), (2L, 0.9), (3L, 0.4), (4L, 0.95), (5L, 0.2), (6L, 0.55)
    ).toDF("doc_id", "score")
    val out = Corpus
      .curriculumOrder(df, "doc_id", "score", Seq(0.3, 0.5), seed = 3L, shards = 1, descendingStages = true)
      .select("doc_id", "stage", "pos")
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(_._3)
    // stages: <0.3 -> 0 (ids 1,5); [0.3,0.5) -> 1 (id 3); >=0.5 -> 2 (ids 2,4,6)
    val stageOf = out.map(r => r._1 -> r._2).toMap
    assert(stageOf == Map(1L -> 0L, 5L -> 0L, 3L -> 1L, 2L -> 2L, 4L -> 2L, 6L -> 2L))
    // descending stages: all stage-2 docs train before stage-1 before stage-0
    assert(out.map(_._2).toSeq == Seq(2L, 2L, 2L, 1L, 0L, 0L))
    // ascending flips it
    val asc = Corpus
      .curriculumOrder(df, "doc_id", "score", Seq(0.3, 0.5), seed = 3L, shards = 1)
      .select("stage", "pos").as[(Long, Long)].collect().sortBy(_._2).map(_._1)
    assert(asc.toSeq == Seq(0L, 0L, 1L, 2L, 2L, 2L))
    // determinism
    val again = Corpus
      .curriculumOrder(df, "doc_id", "score", Seq(0.3, 0.5), seed = 3L, shards = 1, descendingStages = true)
      .select("doc_id", "pos").as[(Long, Long)].collect().toSet
    assert(again == out.map(r => (r._1, r._3)).toSet)
  }

  test("signMatrix/randomProject: md5-derived signs, exact integer projection") {
    val m = Embeddings.signMatrix(4, 3, seed = 7L)
    assert(m.length == 4 && m.forall(_.length == 3))
    assert(m.flatten.forall(s => s == 1 || s == -1))
    // derivation check against Spark's own md5 of the same strings
    val sparkSigns = spark
      .range(4)
      .selectExpr(
        "id AS j",
        "explode(sequence(0, 2)) AS i"
      )
      .selectExpr(
        "j",
        "i",
        "CASE WHEN conv(substring(md5(concat('rp:7:', j, ':', i)), 1, 8), 16, 10) % 2 = 0 THEN 1 ELSE -1 END AS s"
      )
      .as[(Long, Long, Int)]
      .collect()
    sparkSigns.foreach { case (j, i, s) => assert(m(j.toInt)(i.toInt) == s, s"sign ($j,$i)") }
    // projection = exact integer matrix-vector product
    val df = Seq((1L, Seq(2, -3, 5))).toDF("id", "q")
    val out = df
      .select(Embeddings.randomProject(col("q"), m).as("p"))
      .as[Seq[Long]]
      .head()
    val expected = m.map(row => row(0) * 2L + row(1) * -3L + row(2) * 5L).toSeq
    assert(out == expected)
  }

  test("bloomContaminationLedger equals the exact ledger, prefilter is sound") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "alpha beta gamma delta epsilon eta"),
      (4L, "nothing shared with heldout at all here")
    ).toDF("doc_id", "text")
    val heldout = Seq((100L, "alpha beta gamma delta epsilon zeta theta")).toDF("doc_id", "text")
    for (mBits <- Seq(64, 4096)) {
      val bloom = Dedup
        .bloomContaminationLedger(corpus, heldout, "doc_id", "text", k = 5, mBits = mBits, kHashes = 2)
        .as[(Long, Long)].collect().toSeq.sorted
      val exact = Dedup
        .contaminationLedger(corpus, heldout, "doc_id", "text", k = 5)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(bloom == exact, s"mBits=$mBits")
    }
    // bit table is bounded by mBits
    val bits = Dedup.bloomBits(heldout.select(explode(Fingerprints.shingles(col("text"), 5)).as("s")), "s", mBits = 8, kHashes = 4)
    assert(bits.count() <= 8L)
  }

  test("packBinsNextFit: NFD semantics per shard, oversized doc gets its own bin") {
    // single shard so the fold order is the full (n_tokens desc, id asc) order
    val docs = Seq((1L, 60L), (2L, 50L), (3L, 40L), (4L, 30L), (5L, 120L), (6L, 10L))
      .toDF("doc_id", "n_tokens")
    val out = Corpus
      .packBinsNextFit(docs, "doc_id", "n_tokens", capacity = 100, shards = 1)
      .select("doc_id", "bin")
      .as[(Long, Long)].collect().toMap
    // order: 5(120) 1(60) 2(50) 3(40) 4(30) 6(10)
    // bin0: 5 (oversized, rem clamps 0); bin1: 1(60)+3(40)? NFD: 1 fits new bin rem 40,
    // 2(50) doesn't fit rem 40 -> bin2 rem 50, 3(40) fits -> rem 10, 4(30) -> bin3 rem 70, 6(10) fits
    assert(out == Map(5L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L, 6L -> 3L))
    // no bin exceeds capacity except single-doc oversized bins
    val fill = Corpus
      .packBinsNextFit(docs, "doc_id", "n_tokens", capacity = 100, shards = 1)
      .join(docs, "doc_id")
      .groupBy("bin").agg(sum("n_tokens").as("t"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect()
    fill.foreach { case (bin, t, n) => assert(t <= 100 || n == 1, s"bin $bin overfull with $n docs") }
    // determinism across shard counts: every doc keeps one assignment
    val sharded = Corpus.packBinsNextFit(docs, "doc_id", "n_tokens", capacity = 100, shards = 4)
    assert(sharded.count() == 6L)
  }

  test("temperatureMixture: sqrt-rebalanced weights, low-resource source upweighted") {
    val df = Seq(
      (1L, "big", "a b c d e f g h i"), // 9 tokens
      (2L, "small", "a"),               // 1 token
      (3L, "mid", "a b c d")            // 4 tokens
    ).toDF("doc_id", "source", "text")
    val out = Corpus
      .temperatureMixture(df, "source", "text")
      .select("source", "n_docs", "n_tokens", "nat_share", "w_rel_max", "temp_weight")
      .as[(String, Long, Long, Double, Double, Double)]
      .collect()
      .map(r => r._1 -> r)
      .toMap
    // sqrt counts: 3, 1, 2; denom fold order = source ascending: big, mid, small
    val denom = 0.0 + 3.0 + 2.0 + 1.0
    assert(out("big") == (("big", 1L, 9L, 9.0 / 14.0, 1.0, 3.0 / denom)))
    assert(out("small") == (("small", 1L, 1L, 1.0 / 14.0, 1.0 / 3.0, 1.0 / denom)))
    assert(out("mid") == (("mid", 1L, 4L, 4.0 / 14.0, 2.0 / 3.0, 2.0 / denom)))
    // temperature flattening: small's weight share (1/6) beats its natural share (1/14)
    assert(out("small")._6 > out("small")._4)
  }

  test("uniMaxAllocation: waterfilling saturates small sources, splits the rest evenly") {
    // token counts 2 / 10 / 10, maxEpochs 2 -> caps 4 / 20 / 20; budget 24:
    // tiny saturates at 4 (4*3 <= 24), the rest split (24-4)/2 = 10 each
    val df = Seq(
      (1L, "tiny", "a b"),
      (2L, "ma", "a b c d e f g h i j"),
      (3L, "mb", "a b c d e f g h i j")
    ).toDF("doc_id", "source", "text")
    val out = Corpus
      .uniMaxAllocation(df, "source", "text", budgetTokens = 24L, maxEpochs = 2)
      .select("source", "n_tokens", "cap_tokens", "saturated", "alloc_tokens", "epochs")
      .as[(String, Long, Long, Boolean, Double, Double)]
      .collect()
      .map(r => r._1 -> r)
      .toMap
    assert(out("tiny") == (("tiny", 2L, 4L, true, 4.0, 2.0)))
    assert(out("ma") == (("ma", 10L, 20L, false, 10.0, 1.0)))
    assert(out("mb") == (("mb", 10L, 20L, false, 10.0, 1.0)))
    // invariant: sum alloc == min(budget, total cap); epochs <= maxEpochs
    assert(out.values.map(_._5).sum == 24.0)
    assert(out.values.forall(_._6 <= 2.0))
    // budget above total capacity: everyone saturated at cap
    val all = Corpus
      .uniMaxAllocation(df, "source", "text", budgetTokens = 1000L, maxEpochs = 2)
      .select("saturated", "alloc_tokens", "cap_tokens")
      .as[(Boolean, Double, Long)]
      .collect()
    assert(all.forall(r => r._1 && r._2 == r._3.toDouble))
    // permille form: 980 permille of cap 44 -> budget 43: tiny saturated (4*3 <= 43),
    // rest split 19.5 each
    val pm = Corpus
      .uniMaxAllocationPermille(df, "source", "text", budgetPermille = 980, maxEpochs = 2)
      .select("source", "alloc_tokens")
      .as[(String, Double)]
      .collect()
      .toMap
    assert(pm("tiny") == 4.0 && pm("ma") == 19.5 && pm("mb") == 19.5)
  }
}
