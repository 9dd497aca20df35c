package graft.validate

import graft.sketch.TDigest
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed UDAF building a t-digest per group: partial digests per task,
  * merged associatively at the reducer — the two-level
  * partial/final-aggregate shape the north rule asks for ("per-partition
  * t-digest sketches ... merged with treeAggregate"); on DataFrames,
  * Spark's ObjectHashAggregate IS that two-level merge, without collecting
  * anything to the driver. No custom Catalyst Rule/Strategy is needed
  * (SURVEY.md §4.2/§7.3): an `Aggregator` registered via `functions.udaf`
  * plugs into codegen'd aggregation natively. */
class TDigestAgg(compression: Double) extends Aggregator[Double, TDigest, Array[Byte]] {
  def zero: TDigest = TDigest(compression)
  // NaN is the null marker: a primitive-Double input encoder cannot see SQL
  // NULLs (they would silently decode as 0.0 and shift the CDF mass), so
  // call sites coalesce NULL -> NaN and the sketch skips it. Genuine NaN
  // data is un-sketchable anyway (no place on the CDF).
  def reduce(b: TDigest, a: Double): TDigest =
    if (a.isNaN) b else { b.add(a); b }
  def merge(b1: TDigest, b2: TDigest): TDigest = b1.merge(b2)
  def finish(r: TDigest): Array[Byte] = r.toBytes
  def bufferEncoder: Encoder[TDigest] = Encoders.kryo[TDigest]
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Distribution-drift detection (north rule): sketch a numeric column per
  * partition, merge, and compare current vs reference distributions with
  * Kolmogorov–Smirnov and Population-Stability-Index statistics against
  * spec'd thresholds. The reference library has nothing comparable
  * (SURVEY.md §2.6 "Aggregations: none"). */
object DriftCheck {

  final case class DriftReport(ks: Double, psi: Double, ksThreshold: Double,
      psiThreshold: Double) {
    def drifted: Boolean = ks > ksThreshold || psi > psiThreshold
  }

  def digestUdaf(compression: Double = 100.0): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new TDigestAgg(compression), Encoders.scalaDouble)

  /** NULL-safe input for the digest UDAF: NULL → NaN, which the sketch
    * skips (see TDigestAgg.reduce). */
  def digestInput(c: Column): Column = coalesce(c.cast("double"), lit(Double.NaN))

  /** (groupCols..., digest: binary) — one digest per group, one shuffle of
    * pre-aggregated sketches (bytes, not rows). NULLs in the value column
    * are skipped, matching every other operator's explicit null handling. */
  def digestPerGroup(df: DataFrame, valueCol: String, groupCols: Seq[String],
      compression: Double = 100.0): DataFrame = {
    val agg = digestUdaf(compression)(digestInput(col(valueCol))).as("digest")
    if (groupCols.isEmpty) df.agg(agg)
    else df.groupBy(groupCols.map(col): _*).agg(agg)
  }

  /** Global digest of a column (driver receives one small sketch). */
  def digest(df: DataFrame, valueCol: String, compression: Double = 100.0): TDigest =
    TDigest.fromBytes(
      digestPerGroup(df, valueCol, Nil, compression).head().getAs[Array[Byte]](0))

  /** Two-sample KS statistic: sup |F1 − F2| evaluated at both digests'
    * centroid means and extremes. */
  def ks(a: TDigest, b: TDigest): Double = {
    val xs = (a.centroidMeans ++ b.centroidMeans ++
      Array(a.minValue, a.maxValue, b.minValue, b.maxValue))
      .filter(x => !x.isNaN && !x.isInfinite).distinct
    if (xs.isEmpty) return 0.0
    xs.map(x => math.abs(a.cdf(x) - b.cdf(x))).max
  }

  /** PSI over `bins` equal-mass bins of the REFERENCE digest:
    * Σ (p_cur − p_ref) · ln(p_cur / p_ref), with ε-floored proportions. */
  def psi(reference: TDigest, current: TDigest, bins: Int = 10): Double = {
    val eps = 1e-6
    val edges = (1 until bins).map(i => reference.quantile(i.toDouble / bins))
    val cuts = (Double.NegativeInfinity +: edges :+ Double.PositiveInfinity)
    (0 until bins).map { i =>
      def mass(d: TDigest, lo: Double, hi: Double): Double = {
        val hiCdf = if (hi.isPosInfinity) 1.0 else d.cdf(hi)
        val loCdf = if (lo.isNegInfinity) 0.0 else d.cdf(lo)
        math.max(eps, hiCdf - loCdf)
      }
      val pRef = mass(reference, cuts(i), cuts(i + 1))
      val pCur = mass(current, cuts(i), cuts(i + 1))
      (pCur - pRef) * math.log(pCur / pRef)
    }.sum
  }

  def compare(reference: TDigest, current: TDigest,
      ksThreshold: Double = 0.1, psiThreshold: Double = 0.2,
      psiBins: Int = 10): DriftReport =
    DriftReport(ks(reference, current), psi(reference, current, psiBins),
      ksThreshold, psiThreshold)

  /** Appends the drift verdict `ks`, `psi`, `drifted` of a serialized
    * digest column against a reference digest. One definition serves
    * [[compareGroups]], the fused [[ValidationSuite]] and the streaming
    * monitor so their verdicts cannot diverge. The UDF result lands in one
    * struct column first, so it runs once per row, not once per field. */
  def withVerdict(df: DataFrame, digestCol: String, refBytes: Array[Byte],
      ksThreshold: Double, psiThreshold: Double): DataFrame = {
    val eval = udf { (digestBytes: Array[Byte]) =>
      val cur = TDigest.fromBytes(digestBytes)
      val ref = TDigest.fromBytes(refBytes)
      val r = compare(ref, cur, ksThreshold, psiThreshold)
      (r.ks, r.psi, r.drifted)
    }
    df.withColumn("_drift", eval(col(digestCol)))
      .withColumn("ks", col("_drift._1"))
      .withColumn("psi", col("_drift._2"))
      .withColumn("drifted", col("_drift._3"))
      .drop("_drift")
  }

  /** EXACT two-sample KS over fixed-width value bins — the two-pass exact
    * alternative the t-digest sketch approximates, and the oracle anchor
    * that pins the digest verdict (q34). The statistic is the KS of the
    * BINNED distributions: sup over bin edges of |CDF_cur − CDF_ref|; with
    * binWidth small vs the value range it equals unbinned KS to within one
    * bin's mass. Scale shape: one counting groupBy per side (bins, not
    * rows, enter the exchanges), then an O(groups × bins) grid — entirely
    * distributed, exact integer counts, no transcendentals (engine-portable
    * for the DuckDB oracle). NULLs are skipped, like the digest path.
    * Returns (groupCols..., ks_exact). */
  def exactKsPerGroup(reference: DataFrame, current: DataFrame,
      valueCol: String, groupCols: Seq[String], binWidth: Double): DataFrame =
    exactGrid(reference, current, valueCol, groupCols, binWidth)
      .groupBy(groupCols.map(col): _*)
      .agg(max(abs(col("_cdf_cur") - col("_cdf_ref"))).as("ks_exact"))

  /** EXACT PSI over the same fixed-width bins — Σ (p_cur − p_ref) ·
    * ln(p_cur / p_ref) with ε-floored per-bin proportions. The exact twin
    * of the digest PSI (equal-mass bins there, fixed-width here); NOT
    * DuckDB-oracled because `ln` is engine-specific in its last ulps —
    * pinned instead against the digest path in ExactKsSpec. */
  def exactPsiPerGroup(reference: DataFrame, current: DataFrame,
      valueCol: String, groupCols: Seq[String], binWidth: Double,
      eps: Double = 1e-6): DataFrame = {
    val grid = exactGrid(reference, current, valueCol, groupCols, binWidth)
    def p(cdf: Column): Column = {
      val prev = lag(cdf, 1, 0.0).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*).orderBy(col("_bin")))
      greatest(cdf - prev, lit(eps))
    }
    grid
      .select(groupCols.map(col) :+
        ((p(col("_cdf_cur")) - p(col("_cdf_ref"))) *
          log(p(col("_cdf_cur")) / p(col("_cdf_ref")))).as("_term"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("_term")).as("psi_exact"))
  }

  /** Shared (group × bin) CDF grid for the exact drift statistics: both
    * step-function CDFs evaluated at the union of observed bins (a missing
    * bin carries the running cumulative forward). One counting groupBy per
    * side — bins, not rows, enter the exchanges; the grid is
    * O(groups × bins). NULLs are skipped, like the digest path. With no
    * group columns a constant group is synthesized (global comparison). */
  private def exactGrid(reference: DataFrame, current: DataFrame,
      valueCol: String, groupCols: Seq[String], binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    import org.apache.spark.sql.expressions.Window
    val gCols = if (groupCols.nonEmpty) groupCols else Seq("_global")
    def binned(df: DataFrame) = {
      val b = df.where(col(valueCol).isNotNull)
        .withColumn("_bin",
          floor(col(valueCol).cast("double") / binWidth).cast("long"))
      if (groupCols.nonEmpty) b else b.withColumn("_global", lit("all"))
    }
    val refHist = binned(reference).groupBy(col("_bin"))
      .agg(count(lit(1)).as("_ref_n"))
    val curHist = binned(current)
      .groupBy(gCols.map(col) :+ col("_bin"): _*)
      .agg(count(lit(1)).as("_cur_n"))
    val grid = curHist.select(gCols.map(col): _*).distinct()
      .crossJoin(refHist.select("_bin")
        .union(curHist.select("_bin")).distinct())
      .join(curHist, gCols :+ "_bin", "left_outer")
      .join(refHist, Seq("_bin"), "left_outer")
    val wCum = Window.partitionBy(gCols.map(col): _*).orderBy(col("_bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(gCols.map(col): _*)
    def cdf(cnt: Column): Column =
      sum(coalesce(cnt, lit(0L))).over(wCum).cast("double") /
        sum(coalesce(cnt, lit(0L))).over(wTot).cast("double")
    grid.withColumn("_cdf_cur", cdf(col("_cur_n")))
      .withColumn("_cdf_ref", cdf(col("_ref_n")))
  }

  /** CATEGORICAL-distribution drift (round-5 verdict #5): numeric drift
    * watches a value's CDF; a training-data pipeline equally needs to watch
    * categorical MIXES — codec share, language share, source share — where
    * a CDF is meaningless. Statistic: the maximum per-category absolute
    * share shift, `max_c |p_cur(c) − p_ref(c)|` (total-variation distance's
    * sup form). Chosen over categorical PSI deliberately: same drift
    * ordering on planted shifts, but every term is one division and one
    * subtraction of integer counts and the reduction is `max` — both
    * IEEE-deterministic and ORDER-INDEPENDENT, so an external SQL engine
    * reproduces the double bit-for-bit (the q34 lesson; PSI's `ln` is
    * engine-specific in its last ulps and its sum is order-sensitive).
    *
    * Categories are the UNION of both sides per group (a category present
    * on one side only counts as share 0 on the other — appearing and
    * disappearing categories are exactly what the monitor must catch; a
    * NULL category is its own category for the same reason). Returns one
    * row per group:
    * `(groupCols..., n_categories, max_share_shift, top_shift_category,
    * drifted)` where `top_shift_category` is the category attaining the
    * max (smallest category string on exact ties — deterministic).
    *
    * Scale shape: one counting groupBy per side (categories × groups enter
    * the exchanges, never rows), a full-outer join on the category grid,
    * and an O(groups × categories) window ranking. The reference side is
    * grouped by the same groupCols — compare a fixed baseline table or a
    * previous snapshot of the same table. */
  def categoricalCompare(reference: DataFrame, current: DataFrame,
      catCol: String, groupCols: Seq[String],
      maxShiftThreshold: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gCols = if (groupCols.nonEmpty) groupCols else Seq("_global")
    def counts(df: DataFrame, n: String) = {
      val base = if (groupCols.nonEmpty) df else df.withColumn("_global", lit("all"))
      base.groupBy((gCols.map(col) :+ col(catCol).as("_cat")): _*)
        .agg(count(lit(1)).as(n))
    }
    val wTot = Window.partitionBy(gCols.map(col): _*)
    // NULL-SAFE join keys: a plain equi-join never matches NULL = NULL, so
    // a NULL category (or group value) present on BOTH sides would split
    // into a ref-only and a cur-only grid row — inflating the shift and
    // double-counting the category, the opposite of the documented "a NULL
    // category is its own category" contract
    // keys renamed per side (index-suffixed) rather than dataframe-
    // qualified: reference and current may be the SAME Dataset (self-
    // comparison), where qualified refs are ambiguous
    val keys = gCols :+ "_cat"
    val ki = keys.zipWithIndex
    val refC = counts(reference, "_ref_n")
      .select(ki.map { case (k, i) => col(k).as(s"_rk$i") } :+ col("_ref_n"): _*)
    val curC = counts(current, "_cur_n")
      .select(ki.map { case (k, i) => col(k).as(s"_ck$i") } :+ col("_cur_n"): _*)
    val joined = refC
      .join(curC,
        ki.map { case (_, i) => col(s"_rk$i") <=> col(s"_ck$i") }
          .reduce(_ && _),
        "full_outer")
      .select(ki.map { case (k, i) =>
        coalesce(col(s"_rk$i"), col(s"_ck$i")).as(k) } ++
        Seq(col("_ref_n"), col("_cur_n")): _*)
    val grid = joined
      .withColumn("_p_ref",
        coalesce(col("_ref_n"), lit(0L)).cast("double") /
          sum(coalesce(col("_ref_n"), lit(0L))).over(wTot).cast("double"))
      .withColumn("_p_cur",
        coalesce(col("_cur_n"), lit(0L)).cast("double") /
          sum(coalesce(col("_cur_n"), lit(0L))).over(wTot).cast("double"))
      .withColumn("_shift", abs(col("_p_cur") - col("_p_ref")))
    val wRank = Window.partitionBy(gCols.map(col): _*)
      .orderBy(col("_shift").desc, col("_cat").asc_nulls_last)
    grid
      .withColumn("_rn", row_number().over(wRank))
      .withColumn("_n_cat", count(lit(1)).over(wTot))
      .where(col("_rn") === 1)
      .select(gCols.map(col) ++ Seq(
        col("_n_cat").as("n_categories"),
        col("_shift").as("max_share_shift"),
        col("_cat").as("top_shift_category"),
        (col("_shift") > maxShiftThreshold).as("drifted")): _*)
  }

  /** Per-group drift vs a shared reference digest, fully distributed until
    * the final O(groups) rows: (groupCols..., ks, psi, drifted). */
  def compareGroups(df: DataFrame, valueCol: String, groupCols: Seq[String],
      reference: TDigest, ksThreshold: Double = 0.1, psiThreshold: Double = 0.2,
      compression: Double = 100.0): DataFrame = {
    withVerdict(digestPerGroup(df, valueCol, groupCols, compression),
      "digest", reference.toBytes, ksThreshold, psiThreshold)
      .select((groupCols ++ Seq("ks", "psi", "drifted")).map(col): _*)
  }
}
