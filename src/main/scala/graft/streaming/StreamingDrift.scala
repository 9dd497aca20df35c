package graft.streaming

import graft.sketch.TDigest
import graft.validate.DriftCheck
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming distribution-drift monitor: per event-time window (× optional
  * group columns), sketch a numeric column with the same merging t-digest
  * the batch path uses and compare it against a FIXED reference digest with
  * KS/PSI at spec'd thresholds — the ingest-time extension of
  * [[graft.validate.DriftCheck]] (the reference library has neither
  * streaming nor drift; SURVEY.md §2.6).
  *
  * Design notes for scale:
  *  - The windowed aggregation is a standard watermarked streaming agg: the
  *    t-digest [[graft.validate.TDigestAgg]] Aggregator plugs into Spark's
  *    streaming ObjectHashAggregate, so state per key is ONE bounded sketch
  *    (~compression centroids), not the window's rows, and partial sketches
  *    merge map-side exactly as in batch.
  *  - State is bounded by (windows inside the watermark horizon × groups);
  *    closed windows emit once in Append mode and their state is dropped.
  *  - The reference digest is a driver-side constant broadcast inside the
  *    verdict UDF (a few KB) — at 10^12 rows the reference is trained once
  *    by the batch path ([[DriftCheck.digest]]) and shipped to the monitor.
  */
object StreamingDrift {

  /** (window, groupCols..., ks, psi, drifted) per closed event-time window.
    * Run with Append output mode: a window's verdict emits exactly once,
    * after the watermark passes its end. */
  def monitor(stream: DataFrame, tsCol: String, valueCol: String,
      groupCols: Seq[String], reference: TDigest,
      windowDuration: String, watermarkDelay: String,
      ksThreshold: Double = 0.1, psiThreshold: Double = 0.2,
      compression: Double = 100.0): DataFrame = {
    val agg = DriftCheck.digestUdaf(compression)(
      DriftCheck.digestInput(col(valueCol))).as("digest")
    val windowed = stream
      // watermarks require TIMESTAMP (with tz); parquet/memory event times
      // are often TIMESTAMP_NTZ — cast under the session (UTC) zone
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration) +: groupCols.map(col): _*)
      .agg(agg)
    DriftCheck.withVerdict(windowed, "digest", reference.toBytes,
      ksThreshold, psiThreshold)
      .select((("window" +: groupCols) ++ Seq("ks", "psi", "drifted")).map(col): _*)
  }
}
