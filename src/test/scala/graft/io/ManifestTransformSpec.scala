package graft.io

import graft.TestSpark
import graft.checkpoint.ManifestCheckpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The resumable transform-write: interrupted/resume/no-op act structure,
  * row-dropping transforms accounted as error_rows, edit-requeue replacing
  * exactly the edited partition's files, and the _part contract. */
class ManifestTransformSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkBase(): (String, String) = {
    val b = Files.createTempDirectory("graft-xform").toString
    (s"$b/manifest", s"$b/out")
  }

  // keep even ids, double their value — shape AND count change
  private def xf(slice: DataFrame): DataFrame =
    slice.where(col("id") % 2 === 0)
      .select(col("id"), (col("v") * 2).as("v2"), col("_part"))

  private def frame(edit: Boolean = false) = {
    import spark.implicits._
    (0L until 40L).map(i => (i, if (edit && i % 4 == 1) i + 1000 else i,
      s"p${i % 4}")).toDF("id", "v", "part")
  }

  test("acts: interrupted, resume, no-op; drops counted as error_rows") {
    val (manifestDir, outDir) = mkBase()
    val df = frame()
    val run1 = ManifestCheckpoint.runResumableTransform(spark,
      df.where(col("part").isin("p0", "p1")), "part", manifestDir, outDir)(xf)
    assert(run1.toSet === Set("p0", "p1"))
    val run2 = ManifestCheckpoint.runResumableTransform(spark, df, "part",
      manifestDir, outDir)(xf)
    assert(run2.toSet === Set("p2", "p3"))
    val run3 = ManifestCheckpoint.runResumableTransform(spark, df, "part",
      manifestDir, outDir)(xf)
    assert(run3.isEmpty)
    val entries = ManifestCheckpoint.latestEntries(
      spark.read.parquet(manifestDir))
      .select("partition_value", "total_rows", "error_rows", "valid_rows")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // each part has 10 rows; p0/p2 hold even ids (10 kept... ids i%4==0
    // are all even → 10 kept), p1/p3 odd ids → 0 kept
    assert(entries("p0") === ((10L, 0L, 10L)))
    assert(entries("p2") === ((10L, 0L, 10L)))
    assert(entries("p1") === ((10L, 10L, 0L)))
    assert(entries("p3") === ((10L, 10L, 0L)))
    val written = spark.read.parquet(s"$outDir/data")
    assert(written.count() === 20L)
    assert(written.columns.toSet === Set("id", "v2", "partition_value"))
  }

  test("edit re-queues exactly the edited partition and replaces its files") {
    val (manifestDir, outDir) = mkBase()
    ManifestCheckpoint.runResumableTransform(spark, frame(), "part",
      manifestDir, outDir)(xf)
    val run2 = ManifestCheckpoint.runResumableTransform(spark,
      frame(edit = true), "part", manifestDir, outDir)(xf)
    assert(run2 === Seq("p1")) // i%4==1 rows edited — only p1 re-queues
    // p1 keeps zero rows (all odd ids), so its dir must now be EMPTY even
    // though dynamic overwrite alone wouldn't have touched it
    val written = spark.read.parquet(s"$outDir/data")
    assert(written.where(col("partition_value") === "p1").count() === 0L)
    assert(written.count() === 20L)
  }

  test("non-canonical numeric partition values round-trip as strings") {
    // '007' and '1.50' would come back from partition-type inference as
    // 7 and 1.5, miss the pending filter and record valid_rows=0
    import spark.implicits._
    val (manifestDir, outDir) = mkBase()
    val df = (0L until 20L).map(i => (i, i, if (i % 2 == 0) "007" else "1.50"))
      .toDF("id", "v", "part")
    val run = ManifestCheckpoint.runResumableTransform(spark, df, "part",
      manifestDir, outDir)(s => s.select(col("id"), col("v"), col("_part")))
    assert(run.toSet === Set("007", "1.50"))
    val entries = ManifestCheckpoint.latestEntries(
      spark.read.parquet(manifestDir))
      .select("partition_value", "total_rows", "error_rows", "valid_rows")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(entries("007") === ((10L, 0L, 10L)))
    assert(entries("1.50") === ((10L, 0L, 10L)))
  }

  test("a transform that drops _part fails loudly") {
    val (manifestDir, outDir) = mkBase()
    val e = intercept[IllegalArgumentException] {
      ManifestCheckpoint.runResumableTransform(spark, frame(), "part",
        manifestDir, outDir)(s => s.select("id"))
    }
    assert(e.getMessage.contains("_part"))
  }
}
