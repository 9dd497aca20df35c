package graft.layerbench

import graft.io.ClipsGenerator
import graft.schema.SchemaValidator
import graft.sketch.TDigest
import graft.validate.{AudioInvariantCheck, DriftCheck, RowValidator, UniquenessCheck, ValidationSuite}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `clips_decode`: the fused validation suite with every row decoded
  * (`sampleEvery = 1`) plus the keys-only uniqueness check, over a
  * codec-partitioned parquet clips table and its transcript catalog. */
final class ClipsWorkload(spark: SparkSession, work: String, seed: Long,
    n: Long) extends Workload {

  private val spec = ClipsGenerator.spec
  private val window = Gen.clipWindow(seed, n)
  private var clips: DataFrame = _
  private var catalog: DataFrame = _

  def sizes: String = s"$n clips (indices ${window.lo}..${window.hi - 1}), every row decoded"

  def prepare(): Unit = {
    import spark.implicits._
    val dir = s"$work/clips"
    val w = window
    spark.range(w.lo, w.hi, 1, 8).as[Long].map(i => Gen.clipRow(i))
      .write.partitionBy("codec").parquet(s"$dir/clips")
    spark.range(w.lo, w.hi, 1, 4).as[Long].filter(i => Gen.inCatalog(i))
      .map(i => Gen.catalogRow(i)).toDF("clip_id", "transcript")
      .write.parquet(s"$dir/catalog")
    clips = spark.read.parquet(s"$dir/clips")
    catalog = spark.read.parquet(s"$dir/catalog")
  }

  private val cfg = ValidationSuite.Config(sampleEvery = 1)

  def op(t: Tracing): Outcome = {
    val summary = t.span("validate.suite") {
      ValidationSuite.run(clips, catalog, spec, cfg).collect()
    }
    val dups = t.span("validate.unique") {
      UniquenessCheck.duplicateKeys(clips, Seq("clip_id")).collect()
    }
    Outcome(n, () => {
      val (found, planted) = recallCounts(summary, dups)
      Checked(found.toDouble / planted, check(summary, dups))
    })
  }

  def layers(t: Tracer): Map[String, Double] = {
    val schemaErrors = t.span("schema.validate") {
      SchemaValidator.validateSchema(spec, clips.schema)
    }
    require(schemaErrors.isEmpty, s"schema errors: $schemaErrors")
    t.span("validate.suite") { ValidationSuite.run(clips, catalog, spec, cfg).collect() }
    t.span("validate.rows") { RowValidator.validate(clips, spec).summary.collect() }
    t.span("validate.unique") {
      UniquenessCheck.duplicateKeys(clips, Seq("clip_id")).collect()
    }
    t.span("sketch.digest") {
      DriftCheck.digestPerGroup(clips, "dur_ms", Seq("codec")).collect()
    }
    val audio = t.span("audio.invariant") {
      AudioInvariantCheck.summary(clips, catalog, sampleEvery = 1).collect()
    }
    Map("audio.invariant.decoded_rows" ->
      audio.map(_.getAs[Long]("sampled_rows")).sum.toDouble)
  }

  // ------------------------------------------------------------ checks

  import ClipsWorkload.Expect

  private lazy val (expected: Map[String, Expect], expectedDups: Set[String]) = {
    val acc = scala.collection.mutable.Map.empty[String, Expect]
    val dups = Set.newBuilder[String]
    window.indices.foreach { i =>
      val codec = ClipsGenerator.codec(i)
      val dupRow = i % 5000 == 11 && i > 0
      val k = if (dupRow) i - 1 else i // the id the row carries
      val key = ClipsGenerator.clipId(k)
      if (dupRow) dups += key
      val transcript =
        if (i % 1000 == 7) null
        else if (i % 5000 == 19) ClipsGenerator.transcript(i) + " corrupted"
        else ClipsGenerator.transcript(i)
      val ref = if (Gen.inCatalog(k)) ClipsGenerator.transcript(k) else null
      // a duplicate-id payload is a different tone than its id claims, and
      // fails every floor but adpcm_ima's (AudioInvariantCheck's notes)
      val snrFail = i % 5000 == 17 || (dupRow && codec != "adpcm_ima")
      val e = acc.getOrElse(codec, Expect())
      def b(x: Boolean) = if (x) 1L else 0L
      acc(codec) = e.copy(
        total = e.total + 1,
        errors = e.errors + b(i % 1000 == 7 || i % 5000 == 13),
        orphans = e.orphans + b(ref == null),
        sampled = e.sampled + 1,
        snrFailures = e.snrFailures + b(snrFail),
        transcriptFailures = e.transcriptFailures + b(transcript != ref),
        digestCount = e.digestCount + 1)
    }
    (acc.toMap, dups.result())
  }

  private def recallCounts(summary: Array[Row], dups: Array[Row]): (Long, Long) = {
    val got = summary.map(r => r.getAs[String]("codec") -> r).toMap
    var found = 0L
    var planted = 0L
    expected.foreach { case (codec, e) =>
      val r = got.get(codec)
      def f(col: String, want: Long): Unit = {
        planted += want
        found += math.min(want, r.map(_.getAs[Long](col)).getOrElse(0L))
      }
      f("error_rows", e.errors)
      f("orphan_rows", e.orphans)
      f("snr_failures", e.snrFailures)
      f("transcript_failures", e.transcriptFailures)
    }
    val gotDups = dups.map(_.getAs[String]("clip_id")).toSet
    planted += expectedDups.size
    found += gotDups.count(expectedDups)
    (found, math.max(planted, 1L))
  }

  private def check(summary: Array[Row], dups: Array[Row]): Seq[String] = {
    val got = summary.map(r => r.getAs[String]("codec") -> r).toMap
    val codecErrors =
      if (got.keySet != expected.keySet)
        Seq(s"codecs ${got.keySet.toSeq.sorted} != ${expected.keySet.toSeq.sorted}")
      else expected.toSeq.flatMap { case (codec, e) =>
        val r = got(codec)
        val digest = TDigest.fromBytes(r.getAs[Array[Byte]]("drift_digest"))
        Seq("total_rows" -> e.total, "error_rows" -> e.errors,
          "orphan_rows" -> e.orphans, "sampled_rows" -> e.sampled,
          "snr_failures" -> e.snrFailures,
          "transcript_failures" -> e.transcriptFailures).collect {
          case (c, want) if r.getAs[Long](c) != want =>
            s"$codec.$c = ${r.getAs[Long](c)}, expected $want"
        } ++ (if (digest.count != e.digestCount)
          Seq(s"$codec drift digest holds ${digest.count} values, expected ${e.digestCount}")
        else Nil)
      }
    val gotDups = dups.map(r => r.getAs[String]("clip_id") -> r.getAs[Long]("dup_count")).toMap
    val dupErrors =
      if (gotDups.keySet != expectedDups || gotDups.values.exists(_ != 2L))
        Seq(s"duplicate keys: ${gotDups.size} reported, ${expectedDups.size} planted")
      else Nil
    codecErrors ++ dupErrors
  }
}

object ClipsWorkload {

  /** What the suite must report for one codec, derived from the injection
    * rules alone (ClipsGenerator.injectErrors and the catalog's drop rule). */
  private final case class Expect(total: Long = 0, errors: Long = 0,
      orphans: Long = 0, sampled: Long = 0, snrFailures: Long = 0,
      transcriptFailures: Long = 0, digestCount: Long = 0)
}
