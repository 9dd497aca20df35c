package graft.layerbench

import graft.cast.CastPlanner
import graft.checkpoint.ManifestCheckpoint
import graft.io.ClipsGenerator
import graft.spec.TableSpec
import graft.streaming.StreamingValidator
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import java.io.File

/** `clips_ingest`: a closed loop of rounds with one client. Each round
  * lands one raw batch, which (1) a running stream casts and validates,
  * writing clean rows and violations, (2) replaces one of `days`
  * `ingest_day` partitions of a constant-size table, and (3) a resumable
  * checkpoint run re-validates, appending the changed partition to the
  * manifest. Landing the file is the client's work and is not timed. */
final class IngestWorkload(spark: SparkSession, work: String, seed: Long,
    batch: Int, days: Int) extends Workload {

  private val streamSpec = ClipsGenerator.spec
  private val tableSpec = TableSpec("clips_ingest", ClipsGenerator.spec.columns,
    keyCols = Seq("clip_id"), partitionCols = Seq("ingest_day"))
  private val rawSchema = Encoders.product[Gen.RawClip].schema

  private val dir = s"$work/ingest"
  private var query: StreamingQuery = _
  private var round = days // next ingest round; rounds 0 until days seed the table
  private var batchesStreamed = 0
  private var landedBytes = 0L
  private var writtenBytes = 0L

  def sizes: String = s"$batch-row batches into a ${days * batch}-row table of " +
    s"$days ingest_day partitions"

  private def landing = s"$dir/landing"
  private def table = s"$dir/table"
  private def manifest = s"$dir/manifest"
  private def checkpointOut = s"$dir/checkpoint-out"
  private def streamOut = s"$dir/stream-out"
  private def streamCheckpoint = s"$dir/stream-checkpoint"

  private def rawRows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1, 4).as[Long].map(i => Gen.rawRow(i)).toDF()
  }

  def prepare(): Unit = {
    (0 until days).map { d =>
      val w = Gen.ingestWindow(seed, d, batch)
      CastPlanner.apply(rawRows(w.lo, w.hi), streamSpec).withColumn("ingest_day", lit(d))
    }.reduce(_ union _).write.partitionBy("ingest_day").parquet(table)
    ManifestCheckpoint.runResumable(spark, spark.read.parquet(table), tableSpec,
      manifest, checkpointOut)
    new File(landing).mkdirs()
    query = StreamingValidator.start(
      CastPlanner.apply(spark.readStream.schema(rawSchema).parquet(landing), streamSpec),
      streamSpec, streamOut, streamCheckpoint)
  }

  /** Writes round `r`'s raw batch and moves it into the landing directory
    * in one rename, so the stream never sees a partial file. */
  private def land(r: Int): (Gen.Window, String, Long) = {
    val w = Gen.ingestWindow(seed, r, batch)
    val staging = s"$dir/staging-$r"
    rawRows(w.lo, w.hi).coalesce(1).write.parquet(staging)
    val part = new File(staging).listFiles.find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val target = new File(s"$landing/batch-$r.parquet")
    require(part.renameTo(target), s"cannot land $part")
    Dirs.deleteTree(staging)
    (w, target.getPath, target.length)
  }

  private def replace(file: String, day: Int): Unit =
    CastPlanner.apply(spark.read.parquet(file), streamSpec)
      .withColumn("ingest_day", lit(day))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_day").parquet(table)

  private def outputs = Seq(streamOut, streamCheckpoint, table, checkpointOut, manifest)
  private def listing() = outputs.map(Dirs.listing).reduce(_ ++ _)

  /** The round's landed batch and the output listing taken before it. */
  private var next: (Int, Gen.Window, String, Long, Map[String, (Long, Long)]) = _

  override def beforeOp(): Unit = {
    val r = round
    round += 1
    val (w, file, bytes) = land(r)
    next = (r, w, file, bytes, listing())
  }

  def op(t: Tracing): Outcome = {
    val (r, w, file, bytes, before) = next
    val day = r % days
    t.span("streaming.batch") { query.processAllAvailable() }
    replace(file, day)
    val pending = t.span("checkpoint.resume") {
      ManifestCheckpoint.runResumable(spark, spark.read.parquet(table), tableSpec,
        manifest, checkpointOut)
    }
    val batchId = batchesStreamed
    batchesStreamed += 1
    Outcome(batch, () => {
      landedBytes += bytes
      writtenBytes += Dirs.written(before, listing())
      check(w, batchId, day, pending)
    })
  }

  override def writeAmp: Double =
    if (landedBytes == 0) 0.0 else writtenBytes.toDouble / landedBytes

  def layers(t: Tracer): Map[String, Double] = {
    val r = round
    round += 1
    val day = r % days
    val (_, file, _) = land(r)
    t.span("cast.apply") {
      CastPlanner.apply(spark.read.parquet(file), streamSpec)
        .write.format("noop").mode("overwrite").save()
    }
    t.span("streaming.batch") { query.processAllAvailable() }
    batchesStreamed += 1
    replace(file, day)
    val changedBytes = Dirs.size(s"$table/ingest_day=$day")
    t.span("checkpoint.fingerprint") {
      ManifestCheckpoint.fingerprints(spark.read.parquet(table), "ingest_day").collect()
    }
    val pending = t.span("checkpoint.resume") {
      ManifestCheckpoint.runResumable(spark, spark.read.parquet(table), tableSpec,
        manifest, checkpointOut)
    }
    val read = t.isolated("checkpoint.fingerprint").map(_.stats.scanBytes).getOrElse(0L)
    val commit = t.isolated("streaming.batch").map(_.stats.commitMs.sum).getOrElse(0L)
    Map(
      "checkpoint.resume.pending_ratio" -> pending.size.toDouble / days,
      "checkpoint.fingerprint.read_amp" -> read.toDouble / math.max(1L, changedBytes),
      "streaming.batch.commit_ms" -> commit.toDouble)
  }

  // ------------------------------------------------------------ checks

  private def check(w: Gen.Window, batchId: Int, day: Int, pending: Seq[String]): Checked = {
    val errs = Seq.newBuilder[String]
    val expErrors = w.indices.count(Gen.ingestError).toLong
    if (pending != Seq(day.toString))
      errs += s"resume re-validated ${pending.mkString(",")}, expected $day"
    val entry = spark.read.parquet(manifest).where(col("partition_value") === day.toString)
      .orderBy(col("completed_at_ms").desc).limit(1).collect()
    entry.headOption match {
      case None => errs += s"no manifest entry for day $day"
      case Some(e) =>
        Seq("content_rows" -> batch.toLong, "total_rows" -> batch.toLong,
          "error_rows" -> expErrors, "valid_rows" -> (batch - expErrors)).foreach {
          case (c, want) if e.getAs[Long](c) != want =>
            errs += s"manifest $c for day $day = ${e.getAs[Long](c)}, expected $want"
          case _ =>
        }
    }
    val clean = spark.read.parquet(s"$streamOut/clean/batch_id=$batchId").count()
    if (clean != batch - expErrors)
      errs += s"stream batch $batchId wrote $clean clean rows, expected ${batch - expErrors}"
    val flagged = spark.read.parquet(s"$streamOut/violations/batch_id=$batchId")
      .select("clip_id").distinct().count()
    if (flagged != expErrors)
      errs += s"stream batch $batchId flagged $flagged rows, expected $expErrors"
    Checked(math.min(flagged, expErrors).toDouble / math.max(1L, expErrors), errs.result())
  }

  override def close(): Unit =
    if (query != null) {
      query.stop()
      query.awaitTermination()
      query = null
    }
}
