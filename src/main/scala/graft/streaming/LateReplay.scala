package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Multi-batch, out-of-order streaming replay with late-data accounting —
  * the gate the single-batch `AvailableNow` monitors (q35-q37, q43, q61,
  * q70) cannot provide: those process everything in one micro-batch, so
  * watermark semantics (late-row drops, window finalization across
  * batches) are never exercised at the driver gate. This operator replays
  * a corpus as an EXACT micro-batch sequence (one file per batch via
  * `maxFilesPerTrigger=1`, batch order pinned by ascending file mtimes)
  * and reports BOTH the finalized per-window counts and the number of
  * rows the watermark dropped.
  *
  * Measured Spark 4.1 semantics this encodes (pinned by
  * `LateReplaySpec`, derived empirically — see the q81 oracle):
  *  - the watermark at the START of batch n is
  *    `max(event time over batches < n) − delay`, monotonic;
  *  - the LATE-ROW FILTER in batch b uses the watermark from the start
  *    of batch b−1 (`watermarkForLateEvents` lags one batch): a row is
  *    dropped iff its window END ≤ that lagged watermark;
  *  - EVICTION (append-mode emission) at batch n uses the start-of-n
  *    watermark, so everything evicted through batch b−1 is exactly what
  *    batch b's filter rejects — no duplicate emissions are possible;
  *  - `numRowsDroppedByWatermark` on an AGGREGATION counts dropped
  *    state-operator input rows, which are the post-shuffle PARTIAL
  *    AGGREGATES — i.e. distinct late (window, key) GROUPS per batch,
  *    not raw input rows (measured: 60 groups at two corpus sizes 10×
  *    apart whose raw late-row counts differ 10×). Deterministic — one
  *    merged partial per group reaches the state store regardless of
  *    partition layout — and the raw-row truth is already encoded in
  *    the emitted window counts (a dropped row is absent from them).
  *
  * Scale shape: state is one count per live (window, key) inside the
  * watermark horizon; the replay input is written once per batch and
  * read in place; the only driver copies are the summary-sized sink
  * (guarded) and O(batches) progress records.
  *
  * The replay ends in the same [[Drain.availableNow]] as the single-batch
  * monitors (checkpoint, state store, state partitions, sink guard and
  * cleanup); this operator adds only the batch layout and the drop count
  * read from the drain's progress.
  */
object LateReplay {

  /** Write each distinct `batchCol` value of `rows` as ONE parquet file
    * under `dir/b<i>`, with ascending mtimes in batch order, so a
    * `maxFilesPerTrigger=1` file source replays exactly one batch per
    * micro-batch. Batch values replay in SORTED order. Returns the
    * batch count.
    *
    * ONE pass over the input (round 9): the previous per-batch
    * `where(batch === b).coalesce(1)` loop re-derived and re-scanned the
    * whole input once PER batch — 8 scans for the q81 layout. Now a
    * single hash-repartition by batch + `partitionBy` write puts every
    * batch's rows in exactly one task (so exactly one file per batch
    * dir), and the dirs are renamed into the `b<i>` layout afterwards —
    * same bytes-on-disk contract, one scan. */
  def writeBatches(rows: DataFrame, batchCol: String, keyCol: String,
      tsCol: String, dir: String): Int = {
    val batches = rows.select(col(batchCol).cast("long")).distinct()
      .orderBy(batchCol).collect().map(_.getLong(0)) // O(batches) driver
    val t0 = 1700000000000L
    val tmp = s"$dir/_staging"
    rows.select(col(batchCol).cast("long").as("_b"),
        col(keyCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"))
      // explicit partition count: a user-numbered repartition is never
      // AQE-coalesced, so each batch stays whole in one task and its
      // partition dir gets exactly one file
      .repartition(math.max(batches.length, 1), col("_b"))
      // 0 = unlimited, whatever the session's maxRecordsPerFile says: a
      // batch split over several files would replay as several batches
      .write.mode("overwrite").option("maxRecordsPerFile", 0L)
      .partitionBy("_b").parquet(tmp)
    batches.zipWithIndex.foreach { case (b, i) =>
      val src = new java.io.File(tmp, s"_b=$b")
      val dst = new java.io.File(dir, s"b$i")
      require(src.isDirectory, s"missing staged batch dir $src")
      // a re-run on a reused dir replaces the previous batch files
      if (dst.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dst)
      require(src.renameTo(dst), s"cannot move $src to $dst")
      val files = dst.listFiles().filter(_.getName.endsWith(".parquet"))
      require(files.length == 1,
        s"batch $b staged ${files.length} parquet files, expected 1")
      require(files.head.setLastModified(t0 + i * 10000L),
        s"cannot pin mtime on ${files.head}")
    }
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    catch { case _: Exception => () }
    batches.length
  }

  /** Replay `dir` (written by [[writeBatches]]) through a windowed
    * count with `delay` watermarking. Returns
    * `(kind, k, window_start, n_rows)`: one `window` row per finalized
    * (window, key), plus one `late_dropped_groups` meta row — the total
    * late (window, key) groups the watermark dropped (summed over
    * micro-batch progress; see the metric note above).
    * Windows still open when the replay ends are NOT emitted (append
    * mode) — writers append trailing flush batches to finalize.
    *
    * `statePartitions` is [[Drain.availableNow]]'s: replay-gate state is
    * one count per live (window, key), bounded by the watermark horizon,
    * so [[Drain.BoundedMonitorStateParts]] fits it. The emitted counts and
    * the drop metric are partition-layout-invariant (one merged partial
    * per group, see the object doc). */
  def windowCounts(spark: SparkSession, dir: String, windowDuration: String,
      delay: String, maxRows: Long = Drain.MaxStreamingSinkRows,
      statePartitions: Int = 0): DataFrame = {
    val agg = spark.readStream
      .schema("k STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowDuration), col("k"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("k"),
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_rows"))
    val drained = Drain.availableNow(agg, "latereplay", "append", maxRows,
      statePartitions)
    val dropped = drained.progress.iterator
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val rows = drained.result.collect().map(r =>
      Row("window", r.getString(0), r.getString(1), r.getLong(2))) :+
      Row("late_dropped_groups", null, null, dropped)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("kind", StringType, nullable = false),
        StructField("k", StringType, nullable = true),
        StructField("window_start", StringType, nullable = true),
        StructField("n_rows", LongType, nullable = false))))
  }
}
