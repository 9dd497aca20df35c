package graft.text

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The BPE tokenizer: the classic merge order on the published worked
  * example, deterministic tie-breaks, greedy longest-prefix inference
  * with char fallback, the total round-trip property, Spark↔pure-Scala
  * count agreement, and the committed q80 vocab constants staying honest
  * (live re-training equals them at every scale). */
class BpeTokenizerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("merge order on the classic corpus (Sennrich et al. worked example)") {
    val freqs = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = BpeTokenizer.trainMerges(freqs, 4)
    // pair counts: (e,s)=9 ties (s,t)=9 → lexicographic pair wins; after
    // "es", (es,t)=9; then (l,o)=7 ties (o,w)=7 → (l,o); then (lo,w)=7
    assert(merges === Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
  }

  test("training stops when nothing repeats") {
    val merges = BpeTokenizer.trainMerges(Seq(("abcdef", 1L)), 100)
    assert(merges.isEmpty) // every pair occurs once: merging is noise
  }

  test("greedy longest-prefix inference with single-char fallback") {
    val v = Set("ab", "abc", "a", "b", "c")
    assert(BpeTokenizer.tokenize("abc", v) === Seq("abc"))
    assert(BpeTokenizer.tokenize("abcab", v) === Seq("abc", "ab"))
    assert(BpeTokenizer.tokenize("axb", Set("a", "b")) === Seq("a", "x", "b"))
    assert(BpeTokenizer.tokenize("", v) === Nil)
    assert(BpeTokenizer.tokenize("zzz", Set.empty[String])
      === Seq("z", "z", "z"))
  }

  test("round-trip: tokens always reassemble the word exactly") {
    val freqs = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val voc = BpeTokenizer.vocab(freqs, BpeTokenizer.trainMerges(freqs, 8)).toSet
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 500) {
      val w = (0 until rnd.nextInt(12)).map(_ =>
        "lowenstwid?7".charAt(rnd.nextInt(12))).mkString
      assert(BpeTokenizer.tokenize(w, voc).mkString("") === w, w)
    }
  }

  test("subwordCounts (Spark UDF) agrees with pure-Scala tokenization") {
    import spark.implicits._
    val freqs = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val voc = BpeTokenizer.vocab(freqs, BpeTokenizer.trainMerges(freqs, 8))
    val docs = Seq(
      (1L, "low lower lowest"), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "a  b"), (5L, "newestwidest")).toDF("doc_id", "text")
    val got = BpeTokenizer.subwordCounts(docs, "doc_id", "text", voc)
      .as[(Long, Long)].collect().toMap
    val vs = voc.toSet
    def expected(t: String, v: Set[String] = vs): Long =
      if (t == null) 0L
      else t.split(" ", -1).iterator
        .map(w => BpeTokenizer.tokenize(w, v).length.toLong).sum
    assert(got(1L) === expected("low lower lowest") && got(1L) > 3L)
    assert(got(2L) === 0L && got(3L) === 0L)
    assert(got(4L) === expected("a  b"))
    assert(got(5L) === expected("newestwidest") && got(5L) >= 2L)
    // corpus scale: every sf0.01 doc under a vocabulary trained on it
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val cfreqs = BpeTokenizer.wordFreqs(corpus.where(col("doc_id") % 4 < 3),
      "text")
    val cvoc = BpeTokenizer.vocab(cfreqs,
      BpeTokenizer.trainMerges(cfreqs, numMerges = 60))
    val cvs = cvoc.toSet
    val corpusGot = BpeTokenizer.subwordCounts(corpus, "doc_id", "text", cvoc)
      .as[(Long, Long)].collect().toMap
    val corpusExpected = corpus.as[(Long, String)].collect()
      .map { case (id, t) => id -> expected(t, cvs) }.toMap
    assert(corpusGot.size > 0 && corpusGot === corpusExpected)
  }

  test("committed q80 vocabularies equal live re-training at every scale") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1"))
      assert(BpeTrainHarness.trainedVocab(sf) === graft.SparkEntry.bpeVocabFor(sf),
        sf)
  }

  test("q80 plant: subword budget diverges from the whitespace budget") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text").where(col("text").isNotNull)
    val voc = graft.SparkEntry.bpeVocabFor("/root/testdata/sf0.01")
    val planted = docs.withColumn("text",
      when(col("doc_id") % 31 === 9,
        concat(col("text"), lit(" tablescan mergejoin fastsort")))
        .otherwise(col("text")))
    val joined = BpeTokenizer.subwordCounts(planted, "doc_id", "text", voc)
      .join(planted.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens")), "doc_id")
      .where(col("doc_id") % 31 === 9)
    // each compound plant word splits into ≥ 2 subwords: +3 whitespace
    // tokens but ≥ +6 subword tokens on every planted doc
    val rows = joined.select("subword_tokens", "ws_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    rows.foreach { case (sw, ws) => assert(sw >= ws + 3, (sw, ws)) }
  }
}
