package graft.validate

import graft.result.ValidationError
import graft.spec.{AliasType, TableSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-shaped validation result with 0-based row indices — field-for-
  * field parity with `ValidationResult`
  * (`/root/reference/src/fastdataframe/core/validation.py:20-56`). */
final case class IndexedValidationResult(
    errors: Seq[ValidationError],
    cleanData: DataFrame,
    errorRowIndices: Seq[Long],
    totalRows: Long,
    validRows: Long,
) {
  def hasErrors: Boolean = errors.nonEmpty
  /** 0 rows ⇒ 0.0 (`core/validation.py:41-48`). */
  def errorRate: Double =
    if (totalRows == 0) 0.0 else errorRowIndices.size.toDouble / totalRows
  def successRate: Double = 1.0 - errorRate
}

/** The small-scale index-parity path: reproduces the reference's
  * `validate_data` output (`polars/model.py:351-466`) INCLUDING positional
  * 0-based row indices and input-order-preserving clean data.
  *
  * Row indices are assigned with RDD `zipWithIndex` (deterministic for a
  * given partitioning). This is deliberately NOT the scale path — global
  * row numbers don't distribute meaningfully at 10^12 rows (SURVEY.md §7.4
  * risk 3); production validation keys violations on business keys via
  * [[RowValidator]]/[[ValidationSuite]]. This path exists to byte-match the
  * ported reference test suite and for small-frame debugging.
  */
object IndexedValidation {

  private val IdxCol = "_graft_row_idx"

  def validate(df: DataFrame, spec: TableSpec,
      alias: AliasType = AliasType.Serialization): IndexedValidationResult = {
    val spark = df.sparkSession
    val withIdxSchema = StructType(df.schema.fields :+
      StructField(IdxCol, LongType, nullable = false))
    val indexed = spark.createDataFrame(
      df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      withIdxSchema)
    val run = RowValidator.validate(indexed, spec, alias)
    val totalRows = indexed.count()

    // per-check failing indices, one column-pruned pass
    val n = run.checkKeys.size
    val perCheckIdx: Seq[(Int, Seq[Long])] =
      if (n == 0 || totalRows == 0) Seq.tabulate(n)(i => i -> Seq.empty[Long])
      else {
        val collected = run.annotated.select(
          col(IdxCol) +: run.checkFailed.zipWithIndex.map { case (f, i) =>
            f.as(s"c$i") }: _*)
          .collect()
        (0 until n).map { i =>
          i -> collected.filter(_.getBoolean(i + 1)).map(_.getLong(0)).sorted.toSeq
        }
      }
    val idxByCheck = perCheckIdx.toMap

    // error list in reference order/taxonomy (`polars/model.py:411-437`):
    // per required field present: null_in_required_field with row indices;
    // per required field absent: missing_required_column over ALL rows —
    // except on an empty frame, where no errors are emitted
    // (`tests/polars/test_validate.py:228-254`)
    val errors = run.checkKeys.zipWithIndex.flatMap { case ((colName, cid), i) =>
      val rows = idxByCheck(i)
      cid match {
        case "not_null" if rows.nonEmpty =>
          Some(ValidationError(colName, "null_in_required_field",
            s"Required field '$colName' contains null values", Some(rows)))
        case "missing_required_column" if totalRows > 0 =>
          Some(ValidationError(colName, "missing_required_column",
            s"Required column '$colName' is missing from DataFrame",
            Some(0L until totalRows)))
        case other if other != "not_null" && other != "missing_required_column"
          && rows.nonEmpty =>
          Some(ValidationError(colName, other,
            s"Field '$colName' violates constraint '$other'", Some(rows)))
        case _ => None
      }
    }

    val errorRowIndices = errors.flatMap(_.errorRows.getOrElse(Nil))
      .distinct.sorted
    // clean data preserves input order (`polars/model.py:439-456` keeps
    // slice order) — here one distributed filter + sort instead of the
    // reference's O(n·k) per-row concat loop
    val clean = run.clean.orderBy(col(IdxCol)).drop(IdxCol)
    IndexedValidationResult(errors, clean, errorRowIndices,
      totalRows, totalRows - errorRowIndices.size)
  }
}
