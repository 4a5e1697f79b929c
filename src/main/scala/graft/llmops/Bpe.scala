package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer learning and encoding (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units"):
  * the merge-based subword vocabulary that `TextStats.bpeishTokenCount`
  * only approximates with a regex.
  *
  * Semantics (kept deliberately canonical so a cross-engine oracle can
  * replay them):
  *   - a word is its sequence of Unicode code points plus a terminal
  *     end-of-word symbol (`</w>` by default), so word-final subwords are
  *     distinct from word-internal ones — Spark's `split(word, "")` and
  *     DuckDB's `word[i]` split the same way;
  *   - each learning step counts adjacent symbol pairs across the
  *     DISTINCT-word table weighted by word frequency, then merges the
  *     most frequent pair everywhere; ties break deterministically
  *     (count desc, left asc, right asc — code-point order, which is the
  *     binary string order of Spark and DuckDB);
  *   - merge application within a word is the greedy leftmost
  *     non-overlapping left-to-right fold (Sennrich's single scan):
  *     `[a,a,a,a,a]` under merge (a,a) becomes `[aa,aa,a]`, never
  *     `[aa,a,aa]`.
  *
  * Scale shape: the corpus is touched ONCE (word-frequency aggregation —
  * two-phase hash agg, map-side partial counts). Everything after runs on
  * the distinct-word table, which is vocab-sized (10⁵–10⁷ rows, tens of
  * MB) regardless of corpus bytes — the same reason single-node tokenizer
  * trainers (HuggingFace `tokenizers`) get away with in-memory training
  * at 100 TB corpus scale. [[learn]] collects that table and runs the
  * merge loop on the driver. Encoding broadcasts the word→pieces table and
  * never shuffles the corpus on the (hot, skewed) word key.
  */
object Bpe {

  /** Learned model: `merges` is the ranked rule table
    * (rank, l, r, merged); `wordPieces` is the final (word, freq, syms)
    * segmentation of every in-vocab word after all merges.
    */
  final case class Model(merges: DataFrame, wordPieces: DataFrame)

  /** Code-point symbols of a non-empty word plus the end-of-word marker. */
  private def wordSymbols(word: Column, eow: String): Column =
    concat(split(word, ""), array(lit(eow)))

  /** `a < b` in code-point order. Scala's `<` compares UTF-16 code units,
    * which puts U+E000–U+FFFF after every supplementary character; moving
    * surrogates above the rest of the BMP at the first differing unit
    * restores code-point order.
    */
  private def codePointLess(a: String, b: String): Boolean = {
    def rank(c: Char): Int = if (c >= '\uE000') c - 0x800 else if (c >= '\uD800') c + 0x2000 else c
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) a.length < b.length else rank(a.charAt(i)) < rank(b.charAt(i))
  }

  /** Learn `numMerges` merge rules over the corpus' whitespace words, with
    * the merge LOOP on the driver — the production trainer shape
    * (HuggingFace `tokenizers`, SentencePiece BPE): the corpus is touched
    * exactly once by the distributed word-frequency aggregation, the
    * vocab-sized (word, freq) table is collected (tens of MB at 10⁵–10⁷
    * distinct words — a MODEL-side collect, bounded regardless of corpus
    * bytes, the same class as broadcasting it), and the merge loop runs
    * in-process with INCREMENTAL pair-count maintenance: each step touches
    * only the words containing the merged pair, so a 32k-merge production
    * schedule is seconds of driver CPU instead of `2·numMerges` scheduled
    * Spark jobs (bench_results/round12_bpe_merges.md measured an engine
    * loop at 200 merges: 16.63 s against 2.19 s for this one).
    *
    * `minWordCount` prunes the hapax tail of the word table before
    * learning (at scale you always prune; the registered oracle query
    * keeps 1 so encode has no OOV and DuckDB replays bit-for-bit).
    * Learning stops early if no adjacent pair is left (tiny corpora).
    */
  def learn(
      df: DataFrame,
      textCol: String = "text",
      numMerges: Int = 100,
      minWordCount: Long = 1L,
      eow: String = "</w>"
  ): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    // the ONE distributed pass: corpus → (distinct word, freq)
    val freqs: Array[(String, Long)] = df
      .select(explode(TextStats.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minWordCount)
      .as[(String, Long)]
      .collect()

    val wordFreq = freqs.map(_._2)
    val syms = freqs.map { case (w, _) =>
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toVector :+ eow
    }

    // pair → (count, set of word indexes containing it)
    val pairCount = scala.collection.mutable.Map.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.Map.empty[(String, String), scala.collection.mutable.Set[Int]]
    def addWordPairs(i: Int, sign: Long): Unit = {
      val s = syms(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = pairCount.getOrElse(p, 0L) + sign * wordFreq(i)
        if (c == 0L) { pairCount.remove(p); () }
        else pairCount.update(p, c)
        if (sign > 0) pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += i
        j += 1
      }
    }
    syms.indices.foreach(addWordPairs(_, 1L))

    def applyLocal(s: Vector[String], l: String, r: String): Vector[String] =
      if (s.length < 2) s
      else
        s.tail.foldLeft(Vector(s.head)) { (acc, x) =>
          if (acc.last == l && x == r) acc.init :+ (l + r) else acc :+ x
        }

    val found = scala.collection.mutable.ListBuffer.empty[(Int, String, String)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      if (pairCount.isEmpty) exhausted = true
      else {
        // argmax with the tie-break: count desc, left asc, right asc
        var best: ((String, String), Long) = null
        pairCount.foreach { e =>
          if (
            best == null || e._2 > best._2 ||
            (e._2 == best._2 && (codePointLess(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && codePointLess(e._1._2, best._1._2))))
          ) best = e
        }
        val (l, r) = best._1
        found += ((step + 1, l, r))
        // touch ONLY the words containing the merged pair
        val affected = pairWords.getOrElse((l, r), scala.collection.mutable.Set.empty).toArray
        affected.foreach { i =>
          addWordPairs(i, -1L)
          syms(i) = applyLocal(syms(i), l, r)
          addWordPairs(i, 1L)
        }
        pairWords.remove((l, r))
        step += 1
      }
    }

    val merges = found.toSeq
      .toDF("rank", "l", "r")
      .select(
        col("rank").cast("long").as("rank"),
        col("l"),
        col("r"),
        concat(col("l"), col("r")).as("merged")
      )
    val pieces = freqs.indices
      .map(i => (freqs(i)._1, freqs(i)._2, syms(i)))
      .toDF("word", "freq", "syms")
    Model(merges, pieces)
  }

  /** Frequency-ranked subword vocabulary of a learned model: one id per
    * distinct final symbol, ranked by corpus occurrence count (each
    * word's symbols weighted by the word's frequency), ties broken by
    * symbol — the same id-assignment discipline as
    * [[TextStats.buildVocab]], at the subword level. The single-partition
    * rank window is vocab-sized (distinct symbols), never corpus-sized.
    */
  def vocab(model: Model): DataFrame =
    model.wordPieces
      .select(col("freq"), explode(col("syms")).as("piece"))
      .groupBy("piece")
      .agg(sum("freq").as("cnt"))
      .withColumn(
        "piece_id",
        (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("piece"))
        ) - 1).cast("long")
      )

  /** Encode a corpus to subword-ID arrays — the storage form a training
    * pipeline keeps. Same join shape as [[encode]] (broadcast word→pieces,
    * per-doc regroup only) plus a broadcast piece→id lookup; pieces
    * outside the vocab (possible only for out-of-model words under the
    * code-point+eow fallback) map to `oovId` with a per-doc `n_oov` count.
    */
  def encodeIds(
      df: DataFrame,
      model: Model,
      idCol: String = "doc_id",
      textCol: String = "text",
      eow: String = "</w>",
      oovId: Long = -1L
  ): DataFrame = {
    val v = vocab(model).select(col("piece"), col("piece_id"))
    df.select(col(idCol), posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .join(broadcast(model.wordPieces.select(col("word"), col("syms"))), Seq("word"), "left")
      .withColumn("syms", coalesce(col("syms"), wordSymbols(col("word"), eow)))
      .select(col(idCol), col("pos"), posexplode(col("syms")).as(Seq("pp", "piece")))
      .join(broadcast(v), Seq("piece"), "left")
      .groupBy(idCol)
      .agg(
        transform(
          array_sort(
            collect_list(struct(col("pos"), col("pp"), coalesce(col("piece_id"), lit(oovId)).as("pid")))
          ),
          s => s.getField("pid")
        ).as("ids"),
        sum(when(col("piece_id").isNull, 1L).otherwise(0L)).as("n_oov")
      )
      .select(
        col(idCol),
        size(col("ids")).cast("long").as("n_pieces"),
        array_join(transform(col("ids"), i => i.cast("string")), " ").as("ids_str"),
        col("n_oov")
      )
  }

  /** Encode a corpus under a learned model: text → ordered subword pieces.
    *
    * The corpus explodes to (doc, pos, word) and joins the word→pieces
    * table BROADCAST (vocab-sized); the only shuffle is the per-doc
    * regroup, and reassembly sorts within each doc's group only. Words
    * absent from the model (possible when it was learned with
    * `minWordCount` > 1 or on another corpus) fall back deterministically
    * to their code-point+eow symbols — the standard robustness fallback;
    * replay [[Model.merges]] over such words first if rule-faithful OOV
    * segmentation is needed.
    */
  def encode(
      df: DataFrame,
      model: Model,
      idCol: String = "doc_id",
      textCol: String = "text",
      eow: String = "</w>"
  ): DataFrame =
    df.select(col(idCol), posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .join(broadcast(model.wordPieces.select(col("word"), col("syms"))), Seq("word"), "left")
      .withColumn("syms", coalesce(col("syms"), wordSymbols(col("word"), eow)))
      .groupBy(idCol)
      .agg(
        flatten(
          transform(
            array_sort(collect_list(struct(col("pos"), col("syms").as("s")))),
            x => x.getField("s")
          )
        ).as("pieces")
      )
      .select(
        col(idCol),
        size(col("pieces")).cast("long").as("n_pieces"),
        array_join(col("pieces"), " ").as("pieces_str")
      )
}
