package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins the measured Spark 4.1 multi-batch watermark semantics the q81
  * oracle replays, through the actual operator on a handcrafted 5-batch
  * layout: one file per micro-batch in mtime order, the one-batch-LAGGED
  * late filter (a row whose window closed only one batch ago is still
  * accepted; two batches ago is dropped), the watermark-boundary edge
  * (window end one second past the lagged watermark survives), dropped
  * accounting, and append-mode finalization via flush batches. */
class LateReplaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("lagged late filter, drop accounting, and finalization") {
    import spark.implicits._
    val dir = Files.createTempDirectory("late-replay-spec").toString
    val base = 1767268800L // 2026-01-01 12:00:00 UTC
    def ts(min: Int, sec: Int = 30) =
      new java.sql.Timestamp((base + min * 60 + sec) * 1000L)
    val rows = Seq(
      // batch 0: on-time minutes 0-9 (max 09:59)
      (0L, "a", ts(0)), (0L, "a", ts(5)), (0L, "a", ts(9, 59)),
      // batch 1: on-time 10-19; min 2 is ONE batch stale (no watermark
      // existed at batch 0's start → kept); min 6 inside the horizon
      (1L, "a", ts(10)), (1L, "a", ts(19, 59)),
      (1L, "late2", ts(2)), (1L, "near6", ts(6)),
      // batch 2: on-time 20-29; min 2 again — now TWO batches stale
      // (lagged WM = 09:59 − 5 min = 04:59; window end 3:00 ≤ it →
      // DROPPED); min 4 ends 5:00, one second past 4:59 → kept
      (2L, "a", ts(20)), (2L, "a", ts(29, 59)),
      (2L, "late2b", ts(2, 40)), (2L, "edge4b", ts(4, 40)),
      // batch 3: another two-batch-stale row (end 13:00 ≤ 14:59 → drop)
      (3L, "flush", ts(120)), (3L, "late12b", ts(12, 40)),
      // batch 4: second flush finalizes everything real
      (4L, "flush", ts(125))
    ).toDF("batch", "k", "ts")
    assert(LateReplay.writeBatches(rows, "batch", "k", "ts", dir) === 5)
    val out = LateReplay.windowCounts(spark, dir, "1 minute", "5 minutes")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    val dropped = out.filter(_._1 == "late_dropped_groups")
    assert(dropped.length === 1 && dropped.head._4 === 2L,
      out.mkString("; ")) // exactly late2b + late12b
    val wins = out.filter(_._1 == "window")
      .map(t => (t._2, t._3.substring(11, 16), t._4)).toSet
    // the one-batch-stale row survives; its window emits once with it
    assert(wins.contains(("late2", "12:02", 1L)))
    // the boundary row one second past the lagged watermark survives
    assert(wins.contains(("edge4b", "12:04", 1L)))
    // the two-batch-stale rows never surface as windows
    assert(!wins.exists(_._1 == "late2b") && !wins.exists(_._1 == "late12b"))
    // every on-time window finalized by the flush batches, exactly once
    for (m <- Seq("12:00", "12:05", "12:09", "12:10", "12:19", "12:20",
      "12:29"))
      assert(wins.count { case (k, w, _) => k == "a" && w == m } === 1,
        s"$m: ${wins.mkString("; ")}")
    // flush windows themselves never finalize (append mode, stream ends)
    assert(!wins.exists(_._1 == "flush"))
  }

  test("writeBatches re-run on a reused dir rewrites the same batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("late-replay-rerun").toString
    val rows = (0 until 25).map(i =>
      (i % 5L, s"k$i", new java.sql.Timestamp(1767268800000L + i * 1000L)))
      .toDF("batch", "k", "ts")
    // (parquet files, rows, mtime) per batch dir b0..b4
    def layout(): Seq[(Int, Long, Long)] = (0 until 5).map { i =>
      val files = new java.io.File(dir, s"b$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      (files.length, spark.read.parquet(files.head.getPath).count(),
        files.head.lastModified())
    }
    assert(LateReplay.writeBatches(rows, "batch", "k", "ts", dir) === 5)
    val first = layout()
    assert(first.map(t => (t._1, t._2)) === Seq.fill(5)((1, 5L)))
    assert(LateReplay.writeBatches(rows, "batch", "k", "ts", dir) === 5)
    assert(layout() === first)
    assert(spark.read.parquet(s"$dir/b*").count() === 25L)
  }

  test("writeBatches keeps one file per batch under a session maxRecordsPerFile") {
    import spark.implicits._
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try {
      val dir = Files.createTempDirectory("late-replay-maxrec").toString
      val rows = (0 until 25).map(i =>
        (i % 5L, s"k$i", new java.sql.Timestamp(1767268800000L + i * 1000L)))
        .toDF("batch", "k", "ts")
      assert(LateReplay.writeBatches(rows, "batch", "k", "ts", dir) === 5)
      for (i <- 0 until 5) {
        val files = new java.io.File(dir, s"b$i").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        assert(files.length === 1, s"b$i")
        assert(spark.read.parquet(files.head.getPath).count() === 5L)
      }
    } finally spark.conf.set(key, prev)
  }
}
