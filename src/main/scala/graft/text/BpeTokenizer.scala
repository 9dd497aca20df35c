package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** From-scratch BPE subword tokenizer — real token counts for the
  * token-budget operators (sequence packing q62, mixture resampling q63,
  * budget planning q69 all budget WHITESPACE tokens; a training run
  * budgets SUBWORDS, and the two diverge exactly on the unseen/compound
  * words a mixture re-weights).
  *
  * Training is classic BPE (Sennrich et al. 2016) over a word-frequency
  * table: start from characters, repeatedly merge the most frequent
  * adjacent symbol pair. Ties break deterministically (count desc, then
  * pair lexicographic), so the same corpus slice always yields the same
  * merge list on any engine or executor count. Inference is
  * greedy-longest-prefix over the derived vocabulary (the WordPiece
  * "maximal matching" scheme) with a single-character fallback for
  * unseen characters — total, deterministic, and exactly replayable in
  * SQL by a recursive longest-`starts_with` strip (the q80 oracle).
  *
  * Scale shape: training state is the distinct-WORD frequency table of a
  * deterministic corpus slice — the trainCentroids discipline (collect a
  * bounded model input to the driver, never the corpus; for an
  * open-vocabulary corpus cap it with `maxWords`, which keeps the top
  * frequencies — the only ones BPE merges ever fire on). Scoring ships
  * the vocabulary to executors and runs one scan-local UDF per row; the
  * text column never shuffles.
  */
object BpeTokenizer {

  /** Distinct-word frequencies of `textCol`, descending — the bounded
    * driver-side training input. */
  def wordFreqs(docs: DataFrame, textCol: String,
      maxWords: Int = 65536): Seq[(String, Long)] =
    docs.where(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Classic BPE training: `numMerges` (left, right) symbol merges in
    * application order. Stops early when no pair repeats. */
  def trainMerges(freqs: Seq[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    var words: Vector[(Vector[String], Long)] =
      freqs.map { case (w, c) => (w.map(_.toString).toVector, c) }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(v => Some(v.getOrElse(0L) + c))
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (best._2 < 2L) done = true // nothing repeats: merging is noise
        else {
          val (a, b) = best._1
          merges += ((a, b))
          words = words.map { case (syms, c) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                out += a + b; i += 2 // left-to-right, non-overlapping
              } else { out += syms(i); i += 1 }
            }
            (out.result(), c)
          }
          k += 1
        }
      }
    }
    merges.result()
  }

  /** Vocabulary = every training character + every merge product,
    * deduplicated, sorted (order is irrelevant to greedy matching —
    * longest wins and equal-length prefixes of one string are equal). */
  def vocab(freqs: Seq[(String, Long)],
      merges: Seq[(String, String)]): Seq[String] =
    (freqs.flatMap(_._1.map(_.toString)) ++ merges.map { case (a, b) => a + b })
      .distinct.sorted

  /** Greedy strip with the max vocab-token length precomputed — the inner
    * kernel of [[tokenize]] and [[TokenMemo]]. The naive form recomputed
    * `max(vocab token length)` — an O(|vocab|) scan — on EVERY word call,
    * which dominated the scoring UDF (measured r9: see OPTIMIZATION_r09). */
  private def tokenizeWith(word: String, vocabSet: Set[String],
      maxVocabLen: Int): Array[String] = {
    if (word.isEmpty) return Array.empty
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      var l = math.min(maxVocabLen, word.length - i)
      while (l > 1 && !vocabSet.contains(word.substring(i, i + l))) l -= 1
      // l == 1 is always taken: vocab char or the single-char fallback
      out += word.substring(i, i + l)
      i += l
    }
    out.result()
  }

  /** Greedy longest-prefix tokenization; unseen characters fall back to
    * single-character tokens, so every word tokenizes. */
  def tokenize(word: String, vocabSet: Set[String]): Seq[String] = {
    val maxLen = if (vocabSet.isEmpty) 1 else vocabSet.iterator.map(_.length).max
    tokenizeWith(word, vocabSet, maxLen).toSeq
  }

  /** Per-task tokenization kernel: the vocab max-length is computed once
    * per instance (not per word), and per-WORD results are memoized —
    * corpus words repeat Zipf-style, so each distinct word tokenizes once
    * per task instead of once per occurrence (the "memoized distinct-word
    * variant" the round-8 scaladoc named, realized WITHOUT the
    * (id, word) shuffle a distinct-word join variant pays — measured
    * comparison in OPTIMIZATION_r09.md). The cache is `@transient lazy`,
    * so each deserialized task closure builds its own bounded map; past
    * `MaxEntries` (an open-vocabulary guard) words tokenize uncached. */
  private final class TokenMemo(vocabSet: Set[String]) extends Serializable {
    private val maxLen =
      if (vocabSet.isEmpty) 1 else vocabSet.iterator.map(_.length).max
    private val MaxEntries = 1 << 20
    @transient private lazy val cache =
      new java.util.HashMap[String, Array[String]](1 << 12)
    def tokens(word: String): Array[String] = {
      val hit = cache.get(word)
      if (hit != null) hit
      else {
        val t = tokenizeWith(word, vocabSet, maxLen)
        if (cache.size < MaxEntries) cache.put(word, t)
        t
      }
    }
  }

  /** The exploded subword token stream: one `(idCol, token)` row per
    * subword occurrence — the input shape for token-level censuses
    * (heavy hitters, vocabulary coverage). Same scan-local UDF as
    * [[subwordCounts]]; only (id, token) pairs leave the scan. */
  def subwordTokens(docs: DataFrame, idCol: String, textCol: String,
      vocabulary: Seq[String]): DataFrame = {
    val memo = new TokenMemo(vocabulary.toSet)
    val toksUdf = udf { text: String =>
      if (text == null) Array.empty[String]
      else text.split(" ", -1).flatMap(w => memo.tokens(w))
    }
    docs.select(col(idCol), explode(toksUdf(col(textCol))).as("token"))
  }

  /** Per-doc subword token counts: `(idCol, subword_tokens)` — one
    * scan-local UDF, nothing but the id and a long leave the scan. */
  def subwordCounts(docs: DataFrame, idCol: String, textCol: String,
      vocabulary: Seq[String]): DataFrame = {
    val memo = new TokenMemo(vocabulary.toSet)
    val countUdf = udf { text: String =>
      if (text == null) 0L
      else {
        var s = 0L
        val ws = text.split(" ", -1)
        var i = 0
        while (i < ws.length) { s += memo.tokens(ws(i)).length; i += 1 }
        s
      }
    }
    docs.select(col(idCol), countUdf(col(textCol)).as("subword_tokens"))
  }
}
