package graft.validate

import graft.TestSpark
import graft.io.ClipsGenerator
import graft.sketch.TDigest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused one-scan suite must agree exactly with the individual
  * checks it replaces. */
class ValidationSuiteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val N = 10000L
  lazy val dirty = ClipsGenerator.clips(spark, N, numPartitions = 8,
    withErrors = true).toDF().cache()
  lazy val cat = ClipsGenerator.catalog(spark, N).cache()

  test("fused suite agrees with the individual checks") {
    val ref = DriftCheck.digest(dirty, "dur_ms")
    val suite = ValidationSuite.run(dirty, cat, ClipsGenerator.spec,
      ValidationSuite.Config(sampleEvery = 1, maxSynthMs = 50,
        referenceDigest = Some(ref.toBytes))).cache()

    // one row per codec
    assert(suite.count() === 5)

    // row-constraint counts, per-constraint counters and rates match
    // RowValidator.summary per codec
    val shared = Seq("total_rows", "error_rows", "violations_by_constraint",
      "valid_rows", "error_rate", "success_rate")
    def byCodec(df: org.apache.spark.sql.DataFrame) =
      df.select(("codec" +: shared).map(col): _*).collect()
        .map(r => r.getString(0) -> shared.indices.map(i => r.get(i + 1)))
        .toMap
    val rvSummary = byCodec(RowValidator.validate(dirty, ClipsGenerator.spec)
      .summary)
    val suiteSummary = byCodec(suite)
    assert(suiteSummary.keySet === rvSummary.keySet)
    suiteSummary.foreach { case (codec, v) =>
      assert(v === rvSummary(codec), codec)
    }

    // referential orphan totals match the anti-join
    val orphanTotal = suite.agg(sum("orphan_rows")).head().getLong(0)
    assert(orphanTotal ===
      ReferentialCheck.orphans(dirty, cat, Seq("clip_id")).count())

    // audio invariant counts match the standalone check (sampleEvery=1)
    val inv = AudioInvariantCheck.check(dirty, cat, sampleEvery = 1)
    assert(suite.agg(sum("snr_failures")).head().getLong(0) ===
      inv.where(!$"snr_ok").count())
    assert(suite.agg(sum("transcript_failures")).head().getLong(0) ===
      inv.where(!coalesce($"transcript_ok", lit(false))).count())

    // drift columns present and self-comparison per codec is not drifted
    assert(suite.where($"drifted").count() === 0)
    assert(suite.where($"ks" > 0.1).count() === 0)

    // digests round-trip and are per-codec plausible
    val d = TDigest.fromBytes(
      suite.where($"codec" === "pcm_s16le").head().getAs[Array[Byte]]("drift_digest"))
    assert(d.count > 0)
    assert(d.quantile(0.5) > 200 && d.quantile(0.5) < 10000)
    suite.unpersist()
  }

  test("violations_by_constraint counters survive the fused pass") {
    val suite = ValidationSuite.run(dirty, cat, ClipsGenerator.spec,
      ValidationSuite.Config(sampleEvery = 100))
    val m = suite.select(
      explode(col("violations_by_constraint"))).groupBy("key")
      .agg(sum("value").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("transcript.not_null") === 10) // i%1000==7 nulls
    assert(m("sr_hz.maximum") === 2) // i%5000==13
  }

  test("orphan clip with a NULL transcript: the standalone check counts it, the suite does not") {
    // AudioInvariantCheck compares with `=` (a NULL comparison is a
    // failure, as the q25 oracle's IS NOT TRUE), the suite with the
    // NULL-safe `<=>` (q26's IS DISTINCT FROM): the two agree on every
    // row except an orphan whose own transcript is NULL
    // the catalog drops i%1000==3, so clip 3 is the one orphan of 20 rows
    val orphan = ClipsGenerator.clipId(3)
    val clips = ClipsGenerator.clips(spark, 20, numPartitions = 1,
      withErrors = false).toDF()
      .withColumn("transcript", when($"clip_id" === orphan,
        lit(null).cast("string")).otherwise($"transcript"))
    val catalog = ClipsGenerator.catalog(spark, 20, numPartitions = 1)
    val standalone = AudioInvariantCheck.summary(clips, catalog, sampleEvery = 1)
    assert(standalone.agg(sum("transcript_failures")).head().getLong(0) === 1L)
    val suite = ValidationSuite.run(clips, catalog, ClipsGenerator.spec,
      ValidationSuite.Config(sampleEvery = 1))
    val totals = suite.agg(sum("orphan_rows"), sum("transcript_failures"))
      .head()
    assert(totals.getLong(0) === 1L)
    assert(totals.getLong(1) === 0L)
  }
}
