package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Uniqueness enforcement for `is_unique` columns — the constraint the
  * reference declares and round-trips but never enforces on data
  * (`/root/reference/src/fastdataframe/core/annotation.py:20`,
  * `polars/model.py:388` "Future versions will support additional validation
  * rules (uniqueness, ranges, etc.)"; SURVEY.md §2.5).
  *
  * Scale design (10^12 rows):
  *  - Project the key columns FIRST — never shuffle the wide payload
  *    (`bytes` audio) for a duplicate scan (SURVEY.md §7.4 risk 5).
  *  - Spark's hash aggregate already does map-side partial counting, so a
  *    plain groupBy is the two-phase aggregate; an optional explicit salt
  *    stage ([[duplicateKeysSalted]]) splits pathological hot keys (a
  *    quadrillion-row single key) before the final combine.
  *  - [[approxDistinctRatio]] is a cheap shuffle-light pre-screen
  *    (HyperLogLog++): if approx-distinct ≈ row count, a partition can skip
  *    the exact pass at a configurable confidence.
  */
object UniquenessCheck {

  /** Exact duplicate keys: (key..., dup_count) for keys appearing >1 time.
    * One hash-shuffle over projected keys only. */
  def duplicateKeys(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.select(keyCols.map(col): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .where(col("dup_count") > 1)

  /** Salted two-phase variant for skewed keys: partial counts on
    * (key, salt), then final sum on key. Same result as [[duplicateKeys]];
    * bounded per-reducer load even if one key dominates.
    *
    * The salt is a per-row round-robin over the full bucket range
    * (`monotonically_increasing_id` is a partition-local counter, so
    * `pmod` cycles through every salt inside EVERY partition) — a
    * `spark_partition_id()` salt would collapse to #input-partitions
    * distinct values on a narrow input, voiding the per-reducer bound the
    * salt exists to provide (round-5 verdict). Result is salt-independent
    * by construction: the final groupBy re-sums the partials. */
  def duplicateKeysSalted(df: DataFrame, keyCols: Seq[String], saltBuckets: Int = 64): DataFrame = {
    val keys = keyCols.map(col)
    df.select(keys: _*)
      .withColumn("_salt", pmod(monotonically_increasing_id(), lit(saltBuckets.toLong)))
      .groupBy(keys :+ col("_salt"): _*)
      .agg(count(lit(1)).as("_partial"))
      .groupBy(keys: _*)
      .agg(sum(col("_partial")).as("dup_count"))
      .where(col("dup_count") > 1)
  }

  /** HyperLogLog++ pre-screen: (approx_distinct, total). When the ratio is
    * ~1 within HLL error, there are (almost certainly) no duplicates and the
    * exact pass can be skipped. */
  def approxDistinctRatio(df: DataFrame, keyCols: Seq[String], rsd: Double = 0.01): (Long, Long) = {
    // struct-hashed key: null-safe (a string-concat separator would drop
    // nulls, collapsing ('a', null) with (null, 'a') and undercounting)
    val key = if (keyCols.size == 1) col(keyCols.head)
              else struct(keyCols.map(col): _*)
    val row = df.select(keyCols.map(col): _*).agg(
      approx_count_distinct(key, rsd).as("d"),
      count(lit(1)).as("n")).head()
    (row.getLong(0), row.getLong(1))
  }
}

/** Referential-integrity check (north rule: "referential checks via
  * broadcast or sort-merge semi-joins against a reference transcript
  * catalog"). The reference library has no joins at all (SURVEY.md §2.6);
  * this is the scale extension.
  *
  * Catalyst/AQE picks broadcast-hash vs sort-merge from size statistics;
  * `broadcastCatalog = true` forces the broadcast hint for catalogs known to
  * be small. Keys are projected before the join — the 100 TB payload never
  * enters the shuffle.
  */
object ReferentialCheck {

  /** Rows of `df` whose `keyCols` have no match in `catalog` (left-anti =
    * NOT EXISTS). Returns the projected key columns of the orphans. */
  def orphans(df: DataFrame, catalog: DataFrame, keyCols: Seq[String],
      broadcastCatalog: Boolean = false): DataFrame = {
    val keyed = df.select(keyCols.map(col): _*)
    val cat0 = catalog.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    val cat = if (broadcastCatalog) broadcast(cat0) else cat0
    keyed.join(cat, keyCols, "left_anti")
  }

  /** Per-group orphan summary: (groupCols..., total, orphan_count). */
  def summary(df: DataFrame, catalog: DataFrame, keyCol: String,
      groupCols: Seq[String], broadcastCatalog: Boolean = false): DataFrame = {
    val cat0 = catalog.select(col(keyCol)).dropDuplicates(Seq(keyCol))
      .withColumn("_present", lit(1))
    val cat = if (broadcastCatalog) broadcast(cat0) else cat0
    df.select((keyCol +: groupCols).distinct.map(col): _*)
      .join(cat, Seq(keyCol), "left_outer")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("total_rows"),
        coalesce(sum(when(col("_present").isNull, 1L).otherwise(0L)), lit(0L))
          .as("orphan_rows"))
  }
}
