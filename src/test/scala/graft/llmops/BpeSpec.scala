package graft.llmops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import scala.math.Ordering.Implicits.seqOrdering

/** BPE learning/encoding against an independent plain-Scala reference
  * implementation of Sennrich et al. 2016 (code-point symbols, greedy
  * leftmost fold, count desc / left asc / right asc tie-break in
  * code-point order) — the same semantics the DuckDB oracle replays, but
  * derived here a third way so a shared bug in the two engines'
  * replication can't hide.
  */
class BpeSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val Eow = "</w>"

  // ---- plain-Scala reference BPE ------------------------------------

  private def codePoints(s: String): Seq[Int] = s.codePoints().toArray.toSeq

  private def refSymbols(word: String): Vector[String] =
    codePoints(word).map(cp => new String(Array(cp), 0, 1)).toVector :+ Eow

  /** Greedy leftmost non-overlapping single-scan merge. */
  private def refApply(syms: Vector[String], l: String, r: String): Vector[String] =
    syms.tail.foldLeft(Vector(syms.head)) { (acc, x) =>
      if (acc.last == l && x == r) acc.init :+ (l + r) else acc :+ x
    }

  private def refLearn(
      corpus: Seq[String],
      numMerges: Int
  ): (Seq[(Int, String, String)], Map[String, Vector[String]]) = {
    val freqs = corpus
      .flatMap(_.split(" ").filter(_.nonEmpty))
      .groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    var words: Map[String, (Long, Vector[String])] =
      freqs.map { case (w, f) => w -> (f, refSymbols(w)) }
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String)]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.values.foreach { case (f, syms) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _         => ()
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), _) = counts.toSeq.minBy { case ((a, b), c) => (-c, codePoints(a), codePoints(b)) }
        merges += ((step + 1, l, r))
        words = words.map { case (w, (f, syms)) => w -> (f, refApply(syms, l, r)) }
        step += 1
      }
    }
    (merges.toSeq, words.map { case (w, (_, syms)) => w -> syms })
  }

  // ---- fixtures ------------------------------------------------------

  /** Edge-case-dense corpus: identical-symbol runs (odd + even), an
    * immediately-repeated pair (abab), tie candidates, single-char words,
    * and enough repetition for stable frequency ordering.
    */
  private val corpus = Seq(
    "aaaaa abab the the the cat",
    "aaaa abab the cat sat on a mat",
    "low lower lowest the a a",
    "newest newest widest the cat"
  )

  /** Runs of identical symbols under a merge of that symbol with itself
    * (`aaaaa` → `[aa, aa, a, </w>]`, never `[aa, a, aa, </w>]`), an
    * immediately repeated pair, and a one-symbol word.
    */
  private val runs = Seq("aaaaa abab x")

  /** Text outside the BMP: an emoji word, and a count tie between pairs
    * led by U+E000 and by U+1F600 — code-point order (Spark's and DuckDB's
    * string order) merges the U+E000 pair first, UTF-16 order the other.
    */
  private val nonBmp = Seq("\uE000x \uD83D\uDE00x a\uD83D\uDE00b", "\uD83D\uDE00x \uE000x a\uD83D\uDE00b")

  private def docs(texts: Seq[String]) = texts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }
    .toDF("doc_id", "text")

  private lazy val docsDF = docs(corpus)

  private def learnedMerges(model: Bpe.Model): Seq[(Int, String, String)] =
    model.merges
      .orderBy("rank")
      .select("rank", "l", "r")
      .as[(Long, String, String)]
      .collect()
      .map { case (k, l, r) => (k.toInt, l, r) }
      .toSeq

  private def learnedPieces(model: Bpe.Model): Map[String, Vector[String]] =
    model.wordPieces
      .select("word", "syms")
      .as[(String, Seq[String])]
      .collect()
      .map { case (w, s) => w -> s.toVector }
      .toMap

  test("learn reproduces the reference merge sequence (ties included)") {
    for (texts <- Seq(corpus, runs)) {
      val (expected, _) = refLearn(texts, numMerges = 20)
      assert(learnedMerges(Bpe.learn(docs(texts), numMerges = 20)) == expected, texts)
    }
  }

  test("learned wordPieces match the reference segmentation of every word") {
    for (texts <- Seq(corpus, runs)) {
      val (_, refPieces) = refLearn(texts, numMerges = 20)
      assert(learnedPieces(Bpe.learn(docs(texts), numMerges = 20)) == refPieces, texts)
    }
    assert(learnedPieces(Bpe.learn(docs(runs), numMerges = 1))("aaaaa") == Vector("aa", "aa", "a", Eow))
  }

  test("learn splits and orders text outside the BMP by code point, as the reference does") {
    val (expected, refPieces) = refLearn(nonBmp, numMerges = 20)
    val model = Bpe.learn(docs(nonBmp), numMerges = 20)
    val merges = learnedMerges(model)
    assert(merges == expected)
    assert(learnedPieces(model) == refPieces)
    // no symbol holds half of a surrogate pair
    val loneSurrogate = (s: String) => codePoints(s).exists(cp => cp >= 0xd800 && cp <= 0xdfff)
    assert(!merges.exists { case (_, l, r) => loneSurrogate(l) || loneSurrogate(r) }, merges)
    def rankOf(l: String): Int = merges.collectFirst { case (k, `l`, r) if r == "x" + Eow => k }.get
    assert(rankOf("\uE000") < rankOf("\uD83D\uDE00"), merges)
    val encoded = Bpe.encode(docs(nonBmp), model).select("doc_id", "pieces_str").as[(Long, String)].collect().toMap
    nonBmp.zipWithIndex.foreach { case (text, i) =>
      assert(encoded(i.toLong) == text.split(" ").toSeq.flatMap(refPieces).mkString(" "), s"doc $i")
    }
  }

  test("encode flattens per-doc pieces in word order and counts them") {
    val model = Bpe.learn(docsDF, numMerges = 20)
    val (_, refPieces) = refLearn(corpus, numMerges = 20)
    val got = Bpe
      .encode(docsDF, model)
      .select("doc_id", "n_pieces", "pieces_str")
      .as[(Long, Long, String)]
      .collect()
      .map(t => t._1 -> (t._2, t._3))
      .toMap
    corpus.zipWithIndex.foreach { case (text, i) =>
      val pieces = text.split(" ").filter(_.nonEmpty).toSeq.flatMap(refPieces)
      assert(got(i.toLong) == (pieces.size.toLong, pieces.mkString(" ")), s"doc $i")
    }
  }

  test("encode falls back to char+eow symbols for out-of-model words") {
    val model = Bpe.learn(docsDF, numMerges = 4)
    val oov = Seq((99L, "zq the")).toDF("doc_id", "text")
    val row = Bpe.encode(oov, model).select("n_pieces", "pieces_str").as[(Long, String)].head()
    // "zq" is not in the corpus: chars z, q, </w>; "the" is in-model
    assert(row._2.startsWith("z q </w> "))
  }

  test("encodeIds maps pieces through the frequency-ranked vocab in order") {
    val model = Bpe.learn(docsDF, numMerges = 20)
    val idOf = Bpe.vocab(model).select("piece", "piece_id").as[(String, Long)].collect().toMap
    val (_, refPieces) = refLearn(corpus, numMerges = 20)
    val got = Bpe
      .encodeIds(docsDF, model)
      .select("doc_id", "ids_str", "n_oov")
      .as[(Long, String, Long)]
      .collect()
      .map(t => t._1 -> (t._2, t._3))
      .toMap
    corpus.zipWithIndex.foreach { case (text, i) =>
      val pieces = text.split(" ").filter(_.nonEmpty).toSeq.flatMap(refPieces)
      val expected = pieces.map(idOf).mkString(" ")
      assert(got(i.toLong) == (expected, 0L), s"doc $i")
    }
    // vocab ids are dense 0..n-1 with rank-0 = most frequent symbol
    val ids = idOf.values.toSeq.sorted
    assert(ids == (0L until ids.length).toSeq)
  }

  test("learn stops early when no pairs remain") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val model = Bpe.learn(tiny, numMerges = 50)
    // "ab" -> [a,b,</w>]: merges (a,b),(ab,</w>) then nothing mergeable
    assert(model.merges.count() == 2L)
  }
}
