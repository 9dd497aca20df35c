package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-quality operators for a training-data pipeline over the `documents`
  * table — language ID, quality scoring, token counting, fingerprinting.
  * All pure `functions._` compositions: codegen'd, no UDFs, scan-projection
  * only (zero shuffle), so they run at full parquet read speed at 100 TB.
  * (The reference library is schema-only and has no text ops; these are the
  * pipeline extensions the task mandates.) */
object TextAnalysis {

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(c: Column): Column = split(c, " ")

  def tokenCount(c: Column): Column = size(tokens(c))

  def charCount(c: Column): Column = length(c)

  /** Ratio of alphabetic chars (strip spaces first). */
  def alphaRatio(c: Column): Column = {
    val noSpace = regexp_replace(c, " ", "")
    when(length(noSpace) === 0, 0.0)
      .otherwise(length(regexp_replace(noSpace, "[^a-zA-Z]", "")).cast("double")
        / length(noSpace))
  }

  /** Punctuation density per character. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, 0.0)
      .otherwise(length(regexp_replace(c, "[^.,;:!?]", "")).cast("double") / length(c))

  /** Stopword ratio against a fixed English stopword set. */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as")
  def stopwordRatio(c: Column): Column = {
    val stops = filter(tokens(c), t => t.isInCollection(EnStopwords))
    when(tokenCount(c) === 0, 0.0)
      .otherwise(size(stops).cast("double") / tokenCount(c))
  }

  /** Integer 0..3 quality score (length + token-count + stopword presence) —
    * deliberately integer-valued & SQL-expressible for oracle checking. */
  def qualityScore(c: Column): Column =
    when(length(c) >= 200, 1).otherwise(0) +
      when(tokenCount(c) >= 40, 1).otherwise(0) +
      when(c.contains("the"), 1).otherwise(0)

  /** BPE-ish subword count estimate: whitespace tokens + extra splits at
    * case/digit boundaries (a cheap stand-in for a real tokenizer's token
    * count, linear-time regex only). */
  def subwordCountEstimate(c: Column): Column =
    size(split(regexp_replace(c,
      "([a-z])([A-Z])|([A-Za-z])([0-9])|([0-9])([A-Za-z])", "$1$3$5 $2$4$6"),
      "[ \\t]+"))

  /** Language-ID heuristic: CJK script detection, else argmax of
    * language-marker stopword hits; "und" when nothing matches. N-gram/
    * stopword profiling is the standard cheap langid approach (cf. Cavnar &
    * Trenkle's n-gram categorization); implemented as pure array ops. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est", "dans", "qui", "pas"),
    "es" -> Seq("el", "los", "las", "una", "que", "por", "con", "para", "es", "del"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
  )
  def langId(c: Column): Column = {
    val toks = transform(tokens(lower(c)), t => regexp_replace(t, "[^\\p{L}]", ""))
    val scores = Markers.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isInCollection(words))).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(c.rlike("[\\p{script=Han}\\p{script=Hiragana}\\p{script=Katakana}]"), "zh")
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise("und")
  }

  // ---------------------------------------------- repetition signals

  /** Newline-split lines (a document with no newline is one line). */
  def lines(c: Column): Column = split(c, "\n")

  def lineCount(c: Column): Column = size(lines(c))

  def distinctLineCount(c: Column): Column = size(array_distinct(lines(c)))

  /** Duplicate-line fraction — the Gopher-style repetition signal (papers
    * measure the fraction of lines/chars occupied by duplicate lines; this
    * is the line-count form, which keeps the statistic pure integer
    * arithmetic so an external SQL engine reproduces it exactly). A
    * boilerplate page whose nav/footer lines repeat scores high; normal
    * prose scores 0. Row-local scan-only projection. Prefer phrasing rule
    * THRESHOLDS in integers — e.g. "fraction >= 0.5" as
    * `(lineCount - distinctLineCount) * 2 >= lineCount` — so the oracle
    * compare can never hinge on double rounding. */
  def duplicateLineFraction(c: Column): Column =
    when(lineCount(c) === 0, 0.0)
      .otherwise((lineCount(c) - distinctLineCount(c)).cast("double")
        / lineCount(c))

  /** Occurrence count of the most frequent element of an ARRAY column —
    * over word n-grams (project them with [[graft.dedup.Dedup.shingles]],
    * the native multiset expression; duplicates are the signal) this is
    * the top-n-gram repetition mass numerator (Gopher's "fraction of
    * characters in the most common n-gram", in count form for exact
    * integer arithmetic). Row-local O(k²) per row (k = array length —
    * bounded by doc token count, never by table size).
    *
    * Takes a COLUMN REFERENCE to a previously-projected array, not a text
    * column: the array appears in both lambda levels below, and Catalyst
    * does not CSE across higher-order-function lambdas — an inline
    * shingles expression here would rebuild the whole array once per
    * outer element (O(k² · shingling), the q14 round-2 lesson at
    * `Dedup.minhashSignatureColumnForm`). Materialize the array with
    * `.withColumn("_ng", Dedup.shingles(...))` first, then pass
    * `col("_ng")`. */
  def topCount(arr: Column): Column =
    array_max(transform(arr, x => size(filter(arr, y => y === x))))

  /** Content fingerprint: md5 of whitespace-normalized lowercase text
    * (the exact-dedup key). */
  def fingerprint(c: Column): Column =
    md5(lower(trim(regexp_replace(c, "\\s+", " "))))

  /** Composed-column rolling hash — parity baseline for the native
    * [[RollingHash]] expression (TextAnalysisSpec pins bit-equality). */
  private[text] def rollingHashColumnForm(c: Column): Column =
    aggregate(tokens(c), lit(RollingHashSeed),
      (acc, t) => xxhash64(acc, t))

  private[text] val RollingHashSeed = 1469598103934665603L

  /** 64-bit rolling hash over tokens — an order-sensitive document
    * fingerprint (same word multiset in a different order hashes
    * differently, unlike minhash). Chained xxhash64(acc, token) instead of
    * polynomial mul/add: equally order-sensitive, and safe under ANSI mode
    * (a raw `acc * prime` long multiply throws ARITHMETIC_OVERFLOW). Runs
    * on the native codegen expression [[RollingHash]] — same chained
    * values, primitive loop. */
  def rollingHash(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      RollingHash(ColumnBridge.expression(tokens(c)), RollingHashSeed))
  }

  /** Order-sensitive chained-md5 fingerprint: fold md5(acc || token) over
    * the token list. Same order-sensitivity as [[rollingHash]] but built
    * from md5 — an engine-portable hash, so an external SQL engine (the
    * driver's DuckDB oracle: `list_reduce(... md5(acc||t))`) can reproduce
    * it byte-for-byte. Prefer [[rollingHash]] (xxhash64) in hot paths. */
  def chainedFingerprint(c: Column): Column =
    aggregate(tokens(c), lit(""), (acc, t) => md5(concat(acc, t)))

  /** 60-bit engine-portable token hash: the first 15 hex chars of md5,
    * parsed as an unsigned integer (fits a signed 64-bit long). Both Spark
    * (`conv(...,16,10)`) and DuckDB (`CAST('0x'||substr(md5(t),1,15) AS
    * BIGINT)`) compute the identical value — the hash family that makes
    * simhash oracle-checkable. ~10× the cost of xxhash64; use only where
    * cross-engine reproducibility matters. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
}
