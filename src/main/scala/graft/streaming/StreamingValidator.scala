package graft.streaming

import graft.spec.TableSpec
import graft.validate.{RowValidator, ValidationRun}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming front-end for the validation engine: the same
  * declarative constraint suite applied to a continuous source.
  *
  * The reference library is batch-only (SURVEY.md §2.6 "Streaming: none");
  * this is the ingest-time extension a training-data pipeline needs: reject
  * bad rows before they land, and expose a watermarked violation-rate
  * monitor stream.
  *
  * Design notes for scale:
  *  - The violation array ([[RowValidator.validate]]) is a stateless
  *    per-row projection — no streaming state, so throughput is identical
  *    to the batch scan path (codegen'd) and any trigger interval works.
  *  - [[start]] uses foreachBatch + batch_id-PARTITIONED dynamic-overwrite
  *    sinks: foreachBatch is only at-least-once (a batch replayed after a
  *    mid-batch crash runs again), so idempotence must come from the write —
  *    a replayed batch overwrites exactly its own `batch_id=<n>` partition
  *    instead of appending duplicates. Violations and clean rows are split
  *    WITHIN one micro-batch scan (the annotated frame is persisted per
  *    batch, so the source is read once per batch, not twice).
  *  - [[violationRateByWindow]] is a watermarked windowed aggregation —
  *    state is bounded by (windows in watermark horizon × partitions).
  */
object StreamingValidator {

  /** Run the full split per micro-batch: violations → `outDir/violations/
    * batch_id=<n>`, clean rows → `outDir/clean/batch_id=<n>` (parquet,
    * batch-partitioned dynamic overwrite — replay-idempotent). */
  def start(stream: DataFrame, spec: TableSpec, outDir: String,
      checkpointDir: String): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val run0 = RowValidator.validate(batch, spec)
        val run = run0.copy(annotated = run0.annotated.persist())
        def idempotent(df: DataFrame, path: String): Unit =
          df.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        try {
          idempotent(run.violations, s"$outDir/violations")
          idempotent(run.clean, s"$outDir/clean")
        } finally { run.annotated.unpersist(); () }
      }
      .start()
  }

  /** Streaming referential monitor: rows arriving on the stream whose key
    * has no match in the (static) catalog — the ingest-time form of
    * `ReferentialCheck.orphans` (north rule: referential checks against the
    * transcript catalog). Stream-static left-anti is STATELESS in
    * Structured Streaming (each micro-batch probes the catalog; no
    * watermark, no state store growth) — the right shape for a
    * slowly-changing reference table. Set `broadcastCatalog` only when the
    * catalog is dimension-sized (the suite's never-broadcast caveat for
    * fact-sized catalogs applies here too). */
  def orphanStream(stream: DataFrame, catalog: DataFrame, keyCols: Seq[String],
      broadcastCatalog: Boolean = false): DataFrame = {
    val cat = if (broadcastCatalog) broadcast(catalog) else catalog
    stream.join(cat.select(keyCols.map(col): _*), keyCols, "left_anti")
  }

  /** Watermarked violation-rate monitor: one row per (event-time window ×
    * partition cols) with total/error counts. */
  def violationRateByWindow(stream: DataFrame, spec: TableSpec, tsCol: String,
      windowDuration: String, watermarkDelay: String): DataFrame = {
    val run = RowValidator.validate(stream, spec)
    run.annotated
      // watermarks require TIMESTAMP (with tz); parquet event times are
      // often TIMESTAMP_NTZ — cast under the session (UTC) zone
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration) +:
        spec.partitionCols.map(col): _*)
      .agg(run.outcomeCounts.head, run.outcomeCounts.tail: _*)
      .withColumn("error_rate", ValidationRun.errorRate)
  }
}
