package graft.tjk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-analysis surface of the reference family (SURVEY.md §0.3: the
  * tianjikit pipeline follows feature computation with missing-rate / KS /
  * IV / PSI reports before modeling). The MODELING half stays out of scope
  * (north_star scopes to the feature pipeline), but these reports are plain
  * data-processing aggregations a user of the reference runs on every
  * feature batch, so the engine exposes them as first-class, scale-shaped
  * operators:
  *
  *  - every statistic reduces to grouped integer counts FIRST (one
  *    map-side-combinable shuffle over the full data), with the
  *    floating-point combination applied to the tiny aggregate — no global
  *    sort or driver collect over raw rows anywhere;
  *  - exact KS exploits the bounded/discretized value domain: per-value
  *    counts (cardinality ≤ domain size) then a cumulative window over the
  *    SMALL aggregate. For unbounded continuous features, bin first (the
  *    same discipline every large-scale KS takes);
  *  - moments of 2-decimal features fold EXACT integer cents
  *    (CoreQueries.sumCents convention) so cross-engine results are
  *    bit-identical, not merely allclose.
  */
object FeatureStats {

  /** Cardinality cap for the exact per-value paths ([[ks]],
    * [[outlierReport]]): their cumulative windows run over the per-VALUE
    * aggregate in a single task BY DESIGN (the aggregate is domain-sized,
    * not data-sized), which is only safe while that domain is genuinely
    * bounded. 2M rows of (value, count) sort in well under a second; an
    * unbounded continuous feature would funnel ~n distinct values through
    * one task with no warning until it stalls — so the operators now COUNT
    * the aggregate first and fail loudly past this cap (VERDICT r4 #4).
    */
  val MaxExactDomain: Long = 2000000L

  /** Laplace smoothing added to every bin COUNT by [[psi]] and [[iv]]. */
  val Smoothing = 0.5

  /** Tukey fence multiplier of [[outlierReport]] and [[outlierBoundsApprox]]. */
  val TukeyK = 1.5

  private def requireBoundedDomain(
      nDistinct: Long, maxDomain: Long, op: String, col: String): Unit =
    require(nDistinct <= maxDomain,
      s"$op('$col'): per-value cardinality $nDistinct exceeds maxDomain " +
        s"$maxDomain — the exact path sorts the per-value aggregate in one " +
        "task. Discretize the feature first (widthBin / a bounded-decimals " +
        "NumFeature), use outlierBoundsApprox for a continuous domain, or " +
        "raise maxDomain only if you accept that sort.")

  /** One numeric feature to profile: `expr` must yield a value with at most
    * `decimals` decimal places (2 for currency-like, 0 for integer-valued) —
    * that is what makes the integer-scaled moments EXACT.
    */
  case class NumFeature(name: String, expr: Column, decimals: Int) {
    def scale: Long = math.pow(10, decimals.toDouble).toLong
  }

  /** Numeric profile: (feature, n, n_missing, missing_rate, mean, std) —
    * one long-format row. Population std, derived from exact integer sums:
    * sqrt(sumsq/n − (sum/n)²) — both engines compute it from identical
    * integers, so the doubles agree bit-for-bit. Profile several features
    * by unioning these rows ([[profileMissing]] for categoricals): each is
    * one map-side-combinable aggregation, but union BRANCHES do not share a
    * scan — persist the source once when profiling many features.
    */
  def profileNumeric(df: DataFrame, f: NumFeature): DataFrame = {
    val vi = round(f.expr.cast("double") * f.scale).cast("long")
    df.agg(
        count(lit(1)).as("n"),
        sum(when(f.expr.isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(vi).as("sum_i"),
        sum(vi * vi).as("sumsq_i"))
      .select(
        lit(f.name).as("feature"),
        col("n"), col("n_missing"),
        round(col("n_missing").cast("double") / col("n"), 6).as("missing_rate"),
        round(col("sum_i") / lit(f.scale.toDouble) /
          (col("n") - col("n_missing")), 6).as("mean"),
        // greatest(…, 0): for a (near-)constant feature the two analytically
        // equal terms are rounded independently as doubles and the variance
        // can land one ulp NEGATIVE — sqrt would report NaN (and poison
        // outlierBoundsSigma). The outer when(): an ALL-MISSING feature has
        // no variance to report — without it greatest(NULL, 0.0) skips the
        // null and the row would claim a MEASURED zero-variance feature
        // next to mean = null. The oracle SQL guards identically.
        when(col("n") === col("n_missing"), lit(null).cast("double"))
          .otherwise(round(sqrt(greatest(
            col("sumsq_i") / lit((f.scale * f.scale).toDouble) / (col("n") - col("n_missing")) -
              pow(col("sum_i") / lit(f.scale.toDouble) / (col("n") - col("n_missing")), 2),
            lit(0.0))), 6)).as("std"))
  }

  /** Missingness of a (categorical) column, same long shape, null moments. */
  def profileMissing(df: DataFrame, c: String): DataFrame =
    df.agg(
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_missing"))
      .select(lit(c).as("feature"), col("n"), col("n_missing"),
        round(col("n_missing").cast("double") / col("n"), 6).as("missing_rate"),
        lit(null).cast("double").as("mean"),
        lit(null).cast("double").as("std"))

  /** Fixed-width bin index 0..nBins-1, clamping at BOTH edges (values below
    * 0 land in bin 0, values past the range in the top bin) — out-of-range
    * rows must shift the distribution's edge mass, never silently vanish
    * from the counts. Deterministic and oracle-replicable, unlike quantile
    * bins (approx_percentile is approximate and engine-specific).
    */
  def widthBin(c: Column, binWidth: Double, nBins: Int): Column =
    // clamp in LONG before the int cast: an extreme outlier (|v|/binWidth
    // past Int.MaxValue) would otherwise throw CAST_OVERFLOW under Spark
    // 4's default ANSI mode — the exact row the edge-clamping contract
    // exists to absorb
    greatest(least(floor(c / binWidth), lit((nBins - 1).toLong)), lit(0L))
      .cast("int")

  /** Population Stability Index between populations `a` (expected) and `b`
    * (actual) over fixed-width bins of `valueCol`: [[psiTagged]] over the
    * union of the two value columns, `a`'s rows tagged.
    */
  def psi(
      a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Double, nBins: Int): DataFrame =
    psiTagged(tagged(a, b, valueCol), valueCol, col(SideTag), binWidth, nBins)

  /** PSI between the rows of `df` where `isA` holds (expected) and the rest
    * (actual), over fixed-width bins of `valueCol`, with Laplace smoothing
    * [[Smoothing]] on the COUNTS (so empty bins are defined on both sides):
    * PSI = Σ_bins (p_b − p_a) · ln(p_b / p_a). One binned count shuffle
    * counts both sides; the Σ runs over ≤ nBins rows.
    */
  private[graft] def psiTagged(
      df: DataFrame, valueCol: String, isA: Column,
      binWidth: Double, nBins: Int): DataFrame = {
    val eps = Smoothing
    val binned = df
      .where(col(valueCol).isNotNull)
      .groupBy(widthBin(col(valueCol), binWidth, nBins).as("bin"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(isA, 0L).otherwise(1L)).as("n_b"))
    val bins = df.sparkSession.range(nBins.toLong)
      .select(col("id").cast("int").as("bin"))
    bins.join(binned, Seq("bin"), "left").na.fill(0L, Seq("n_a", "n_b"))
      .withColumn("ta", sum(col("n_a")).over(Window.partitionBy()))
      .withColumn("tb", sum(col("n_b")).over(Window.partitionBy()))
      .select(((col("n_b") + eps) / (col("tb") + eps * nBins) -
          (col("n_a") + eps) / (col("ta") + eps * nBins)).as("dp"),
        log(((col("n_b") + eps) / (col("tb") + eps * nBins)) /
          ((col("n_a") + eps) / (col("ta") + eps * nBins))).as("lr"))
      .agg(round(sum(col("dp") * col("lr")), 6).as("psi"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between `a` and `b` over
    * a bounded-domain numeric column: [[ksTagged]] over the union of the
    * two value columns, `a`'s rows tagged.
    */
  def ks(
      a: DataFrame, b: DataFrame, valueCol: String,
      maxDomain: Long = MaxExactDomain): DataFrame =
    ksTagged(tagged(a, b, valueCol), valueCol, col(SideTag), maxDomain)

  private val SideTag = "_is_a"

  /** `a`'s `valueCol` tagged [[SideTag]] = true, unioned with `b`'s tagged
    * false — the one-frame input of the tagged kernels.
    */
  private def tagged(a: DataFrame, b: DataFrame, valueCol: String): DataFrame =
    a.select(col(valueCol), lit(true).as(SideTag))
      .unionByName(b.select(col(valueCol), lit(false).as(SideTag)))

  /** Exact two-sample KS statistic between the rows of `df` where `isA`
    * holds and the rest: max over observed values of |F_a − F_b|. Both
    * sides' per-value counts (cardinality ≤ the value domain) come from a
    * single grouped aggregation (guide §2.3 "aggregate before you
    * shuffle"), and the cumulative window runs over that SMALL aggregate
    * only. Values identical to the oracle's two per-side counts re-merged
    * by a full join: its zero-filled pair IS this form's conditional-count
    * pair for every value present on either side.
    *
    * EAGER: persist the per-value aggregate, count it (the cardinality
    * guard — same grouped shuffle the window pass needs, run once), and
    * collect the 1-row result so the persist can be released before
    * returning. An unbounded continuous feature fails loudly instead of
    * stalling the single-task sort.
    */
  private[graft] def ksTagged(
      df: DataFrame, valueCol: String, isA: Column,
      maxDomain: Long = MaxExactDomain): DataFrame = CacheScope.using { scope =>
    val merged = scope.persist(df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(isA, 0L).otherwise(1L)).as("n_b")))
    requireBoundedDomain(merged.count(), maxDomain, "ks", valueCol)
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0L)
    localized(merged
      .withColumn("ca", sum(col("n_a")).over(w))
      .withColumn("cb", sum(col("n_b")).over(w))
      .withColumn("ta", sum(col("n_a")).over(Window.partitionBy()))
      .withColumn("tb", sum(col("n_b")).over(Window.partitionBy()))
      // nullif: an empty (or all-null) side makes its total 0 — the KS of a
      // degenerate pair is undefined and must come back NULL, not throw
      // DIVIDE_BY_ZERO under ANSI
      .agg(round(max(abs(col("ca") / nullif(col("ta"), lit(0L)) -
        col("cb") / nullif(col("tb"), lit(0L)))), 6).as("ks")))
  }

  /** Outlier bounds + clamp report for a bounded-decimal feature — the last
    * item of the reference pipeline's analysis stage (SURVEY.md §0.3
    * "outlier handling"). Tukey fences from EXACT type-1 quartiles:
    * q1/q3 = the smallest value whose cumulative count reaches ceil(p·n)
    * (deterministic and oracle-replicable, never approx_percentile),
    * lo/hi = q1 − k·IQR / q3 + k·IQR with k = [[TukeyK]].
    *
    * Scale shape: one grouped integer-count shuffle over the data
    * (cardinality ≤ the value domain), quartiles via a cumulative window
    * over that SMALL aggregate, then ONE more pass computing
    * below/above counts and the clamped sum against the broadcast 1-row
    * bounds — no driver collect, no global sort of raw rows. With k = 1.5
    * and integer-cents quartiles, lo/hi are exact multiples of half a
    * cent, so the clamped sum folds exact integer HALF-cents and the
    * report is bit-identical cross-engine and across partitionings.
    */
  def outlierReport(
      df: DataFrame, f: NumFeature,
      maxDomain: Long = MaxExactDomain): DataFrame = {
    val vi = round(f.expr.cast("double") * f.scale).cast("long")
    val data = df.select(vi.as("vi")).where(col("vi").isNotNull)
    // Persist the per-value counts, guard their cardinality (the declared
    // `decimals` bound is a CLAIM — a mis-declared feature must fail here,
    // not stall the quartile window's single task), and LOCALIZE the 1-row
    // bounds so the clamp pass below no longer references the persisted
    // frame and it can be released before returning.
    val bounds = CacheScope.using { scope =>
      val counts = scope.persist(data.groupBy("vi").agg(count(lit(1)).as("cnt")))
      requireBoundedDomain(counts.count(), maxDomain, "outlierReport", f.name)
      val cum = counts
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy("vi").rowsBetween(Window.unboundedPreceding, 0L)))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      localized(cum
        .agg(
          max(col("n")).as("n"),
          min(when(col("cum") >= ceil(col("n") * 0.25), col("vi"))).as("q1c"),
          min(when(col("cum") >= ceil(col("n") * 0.75), col("vi"))).as("q3c"))
        .select(col("n"), col("q1c"), col("q3c"),
          (col("q1c") - lit(TukeyK) * (col("q3c") - col("q1c"))).as("loc"),
          (col("q3c") + lit(TukeyK) * (col("q3c") - col("q1c"))).as("hic")))
    }
    data.crossJoin(broadcast(bounds))
      .groupBy("n", "q1c", "q3c", "loc", "hic")
      .agg(
        sum(when(col("vi") < col("loc"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("vi") > col("hic"), 1L).otherwise(0L)).as("n_above"),
        sum(round(greatest(least(col("vi").cast("double"), col("hic")), col("loc")) * 2)
          .cast("long")).as("s2"))
      .select(
        lit(f.name).as("feature"), col("n"),
        round(col("q1c") / f.scale.toDouble, 6).as("q1"),
        round(col("q3c") / f.scale.toDouble, 6).as("q3"),
        round(col("loc") / f.scale.toDouble, 6).as("lo"),
        round(col("hic") / f.scale.toDouble, 6).as("hi"),
        col("n_below"), col("n_above"),
        round(col("s2") / 2.0 / f.scale.toDouble, 6).as("sum_clamped"))
  }

  /** Approximate Tukey fences for UNBOUNDED / continuous features — the
    * scale path past [[MaxExactDomain]] (the exact per-value path's guard
    * points here). Quartiles come from `approx_percentile` (Greenwald–
    * Khanna sketch): mergeable partial aggregates, ONE map-side-combinable
    * pass over the data, no per-value shuffle and no single-task sort — the
    * cumulative window of [[outlierReport]] never exists, so no domain
    * guard is needed. Guarantee: each returned quartile is an actual data
    * value whose exact rank is within n/accuracy of the target rank (q51's
    * in-query law re-derives the ranks and enforces exactly this).
    * Output head matches [[outlierReport]]: (feature, n, q1, q3, lo, hi);
    * below/above counts and clamped sums need the bounds first and cost one
    * more pass either way — compose with [[clampOutliers]].
    */
  def outlierBoundsApprox(
      df: DataFrame, c: Column, name: String,
      accuracy: Int = 10000): DataFrame =
    df.where(c.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(c.cast("double"), array(lit(0.25), lit(0.75)),
          lit(accuracy)).as("q"))
      .select(
        lit(name).as("feature"), col("n"),
        round(col("q").getItem(0), 6).as("q1"),
        round(col("q").getItem(1), 6).as("q3"),
        round(col("q").getItem(0) -
          lit(TukeyK) * (col("q").getItem(1) - col("q").getItem(0)), 6).as("lo"),
        round(col("q").getItem(1) +
          lit(TukeyK) * (col("q").getItem(1) - col("q").getItem(0)), 6).as("hi"))

  /** Moment-based (k·σ) bounds from the exact integer moments — the cheap
    * single-aggregation alternative when quartiles aren't needed. Same
    * 1-row (feature, n, lo, hi) shape contract as the IQR fences.
    */
  def outlierBoundsSigma(df: DataFrame, f: NumFeature, k: Double = 3.0): DataFrame =
    profileNumeric(df, f).select(col("feature"), col("n"),
      round(col("mean") - lit(k) * col("std"), 6).as("lo"),
      round(col("mean") + lit(k) * col("std"), 6).as("hi"))

  /** Column-level clamp + flag: `<c>_clamped` (winsorized to [lo, hi]) and
    * `<c>_outlier` (true outside the fences; null value ⇒ null/ false-free
    * row is preserved as null). Composes with any bounds source.
    */
  def clampOutliers(df: DataFrame, c: String, lo: Double, hi: Double): DataFrame =
    df
      // least/greatest IGNORE nulls (they return the extreme non-null
      // operand), so a null value must be passed through explicitly — a
      // missing measurement is not an in-range one
      .withColumn(s"${c}_clamped",
        when(col(c).isNull, lit(null).cast("double"))
          .otherwise(greatest(least(col(c), lit(hi)), lit(lo))))
      .withColumn(s"${c}_outlier", col(c) < lo || col(c) > hi)

  /** Information Value of a binned numeric feature against a binary label,
    * Laplace-smoothed: IV = Σ_bins (g_i − b_i) · ln(g_i / b_i) with
    * g_i/b_i the smoothed shares of positive/negative rows in bin i — the
    * [[psiTagged]] sum with the negatives as side `a` and the positives as
    * side `b`.
    */
  def iv(
      df: DataFrame, valueCol: String, labelCol: Column,
      binWidth: Double, nBins: Int): DataFrame =
    // a NULL label is unknown, not negative: unfiltered, `!labelCol` is
    // NULL and every unlabeled row would silently count as a positive,
    // skewing WoE/IV with no warning
    psiTagged(df.where(labelCol.isNotNull), valueCol, !labelCol, binWidth, nBins)
      .withColumnRenamed("psi", "iv")
}
