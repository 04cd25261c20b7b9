package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.tjk._
import graft.tjk.FeatureStats.NumFeature

/** Hand-computed fixtures for the feature-analysis ops — independent of the
  * DuckDB oracle (SURVEY.md §5 layer 1).
  */
class FeatureStatsSuite extends SparkTestBase {

  private lazy val df = {
    val spark2 = spark
    import spark2.implicits._
    // values chosen 2-decimal; one null; label = flag
    Seq(
      (1.00, "a", true), (2.00, null, false), (3.00, "b", true),
      (4.00, null, false), (Double.NaN, null, false) // NaN row replaced below
    ).toDF("value", "tool", "flag")
      .withColumn("value",
        when(isnan(col("value")), lit(null).cast("double"))
          .otherwise(col("value")))
  }

  /** `a`'s `valueCol` tagged `is_a` = true, unioned with `b`'s tagged false:
    * the one frame that the tagged `psi`/`ks` read.
    */
  private def sides(a: DataFrame, b: DataFrame, valueCol: String): DataFrame =
    a.select(col(valueCol), lit(true).as("is_a"))
      .unionByName(b.select(col(valueCol), lit(false).as("is_a")))

  private def psiAB(a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Double, nBins: Int): DataFrame =
    FeatureStats.psi(sides(a, b, valueCol), valueCol, col("is_a"), binWidth, nBins)

  private def ksAB(a: DataFrame, b: DataFrame, valueCol: String,
      maxDomain: Long = FeatureStats.MaxExactDomain): DataFrame =
    FeatureStats.ks(sides(a, b, valueCol), valueCol, col("is_a"), maxDomain)

  test("profileNumeric: exact moments with a null present") {
    val r = FeatureStats.profileNumeric(df, NumFeature("value", col("value"), 2))
      .collect()(0)
    assert(r.getString(0) == "value")
    assert(r.getLong(1) == 5 && r.getLong(2) == 1)
    assert(r.getDouble(3) == 0.2) // 1/5
    assert(r.getDouble(4) == 2.5) // mean of 1..4
    // population std of {1,2,3,4} = sqrt(1.25)
    assert(math.abs(r.getDouble(5) - math.sqrt(1.25)) < 1e-6)
  }

  test("profileMissing: categorical missingness") {
    val r = FeatureStats.profileMissing(df, "tool").collect()(0)
    assert(r.getString(0) == "tool" && r.getLong(1) == 5 && r.getLong(2) == 3)
    assert(r.getDouble(3) == 0.6)
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("ks: exact two-sample statistic on a known pair") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("value")
    val b = Seq(3.0, 4.0, 5.0, 6.0).toDF("value")
    // F_a - F_b maximal at v=2: |2/4 - 0/4| = 0.5
    val stat = ksAB(a, b, "value").collect()(0).getDouble(0)
    assert(stat == 0.5, s"ks=$stat")
  }

  test("psi: identical populations give ~0; shifted give > 0") {
    val spark2 = spark
    import spark2.implicits._
    val a = (1 to 100).map(i => (i % 10) * 10.0 + 1).toDF("value")
    val zero = psiAB(a, a, "value", 10.0, 10)
      .collect()(0).getDouble(0)
    assert(zero == 0.0, s"psi(identical)=$zero")
    val b = (1 to 100).map(i => (i % 5) * 10.0 + 1).toDF("value")
    val drift = psiAB(a, b, "value", 10.0, 10)
      .collect()(0).getDouble(0)
    assert(drift > 0.5, s"psi(shifted)=$drift")
  }

  test("reports are partition-invariant (the integer-first discipline holds)") {
    // The whole design claim of FeatureStats: floating-point combination
    // happens only on the tiny aggregate of exact integer counts, so the
    // parallelism/partitioning of the raw data cannot move the result even
    // in the last bit (no round-tolerance needed).
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 5000).map { i =>
      (math.floor(rnd.nextDouble() * 49000) / 100.0, rnd.nextBoolean())
    }
    val df = rows.toDF("value", "y")
    def all(d: org.apache.spark.sql.DataFrame): Seq[Any] = {
      val half = d.where(col("y"))
      val other = d.where(!col("y"))
      Seq(
        FeatureStats.profileNumeric(d, NumFeature("value", col("value"), 2)).collect()(0).toSeq,
        psiAB(half, other, "value", 50.0, 10).collect()(0).toSeq,
        ksAB(half, other, "value").collect()(0).toSeq,
        FeatureStats.iv(d, "value", col("y"), 50.0, 10).collect()(0).toSeq)
    }
    assert(all(df.repartition(1)) == all(df.repartition(13)))
  }

  test("edge hardening: extreme bins, empty-side KS, null labels, constant std") {
    val spark2 = spark
    import spark2.implicits._
    // widthBin: an outlier past Int.MaxValue/binWidth must land in the top
    // bin, not throw CAST_OVERFLOW under ANSI
    val extreme = Seq(5.0e7, 1.0, 2.0).toDF("value")
    val stat = psiAB(extreme, extreme, "value", 0.01, 10)
      .collect()(0).getDouble(0)
    assert(stat == 0.0, s"identical populations with an extreme row: psi=$stat")
    // ks: an empty side yields NULL, not DIVIDE_BY_ZERO
    val a = Seq(1.0, 2.0).toDF("value")
    val empty = Seq.empty[Double].toDF("value")
    assert(ksAB(a, empty, "value").collect()(0).isNullAt(0))
    // iv: a NULL label is excluded, not silently counted as negative
    val lab = Seq((5.0, Some(true)), (5.0, Some(false)), (5.0, None))
      .toDF("value", "y")
    val ivNull = FeatureStats.iv(lab, "value", col("y"), 10.0, 10)
      .collect()(0).getDouble(0)
    val ivClean = FeatureStats.iv(lab.where(col("y").isNotNull), "value",
      col("y"), 10.0, 10).collect()(0).getDouble(0)
    assert(ivNull == ivClean)
    // profileNumeric: a constant large-valued feature reports std 0, never
    // NaN from one-ulp-negative variance
    val const = Seq.fill(100)(10000.01).toDF("value")
    val std = FeatureStats.profileNumeric(const,
      NumFeature("value", col("value"), 2)).collect()(0).getDouble(5)
    assert(std == 0.0, s"constant-feature std=$std")
  }

  test("outlierReport: hand-computed Tukey fences, counts and winsorized sum") {
    val spark2 = spark
    import spark2.implicits._
    // values: 8 inliers 1..8, one low outlier -100, one high outlier 100,
    // one null (ignored). n=10 non-null.
    val vals = Seq(-100.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0)
    val d = (vals.map(Option(_)) :+ None).toDF("value")
    val r = FeatureStats.outlierReport(d, NumFeature("value", col("value"), 2))
      .collect()(0)
    // type-1 quartiles over the 10 sorted values: q1 = 3rd (ceil(2.5)) = 2,
    // q3 = 8th (ceil(7.5)) = 7; IQR = 5 → fences [-5.5, 14.5]
    assert(r.getString(0) == "value" && r.getLong(1) == 10L)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 7.0)
    assert(r.getDouble(4) == -5.5 && r.getDouble(5) == 14.5)
    assert(r.getLong(6) == 1L && r.getLong(7) == 1L) // one below, one above
    // winsorized sum: (-5.5) + (1+…+8=36) + 14.5 = 45.0
    assert(r.getDouble(8) == 45.0, s"sum_clamped=${r.getDouble(8)}")
  }

  test("outlierReport is partition-invariant bit-for-bit") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 5000).map(_ => math.floor(rnd.nextGaussian() * 10000) / 100.0)
    val d = rows.toDF("value")
    def rep(p: Int) = FeatureStats.outlierReport(
      d.repartition(p), NumFeature("value", col("value"), 2)).collect()(0).toSeq
    assert(rep(1) == rep(13))
  }

  test("outlierReport matches a naive in-memory oracle on random data, every seed") {
    val spark2 = spark
    import spark2.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      // heavy-tailed 2-decimal values + nulls; occasional negative
      val vals: Seq[Option[Double]] = (1 to 400).map { _ =>
        if (rnd.nextDouble() < 0.1) None
        else {
          val base = rnd.nextGaussian() * 50
          val v = if (rnd.nextDouble() < 0.05) base * 100 else base
          Some(math.round(v * 100) / 100.0)
        }
      }
      val r = FeatureStats.outlierReport(vals.toDF("value"),
        NumFeature("value", col("value"), 2)).collect()(0)
      // naive oracle in exact integer cents
      val cents = vals.flatten.map(v => math.round(v * 100)).sorted
      val n = cents.length
      def q(p: Double) = cents(math.ceil(p * n).toInt - 1)
      val (q1c, q3c) = (q(0.25), q(0.75))
      val (lo, hi) = (q1c - 1.5 * (q3c - q1c), q3c + 1.5 * (q3c - q1c))
      val below = cents.count(_ < lo)
      val above = cents.count(_ > hi)
      val s2 = cents.map(c => math.round(math.max(math.min(c.toDouble, hi), lo) * 2)).sum
      assert(r.getLong(1) == n.toLong, s"n seed=$seed")
      assert(r.getDouble(2) == q1c / 100.0 && r.getDouble(3) == q3c / 100.0, s"quartiles seed=$seed")
      assert(r.getLong(6) == below.toLong && r.getLong(7) == above.toLong, s"counts seed=$seed")
      val expSum = BigDecimal(s2 / 2.0 / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(8) == expSum, s"sum_clamped seed=$seed: ${r.getDouble(8)} vs $expSum")
    }
  }

  test("outlierReport: zero-IQR degenerate input clips nothing") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq.fill(20)(7.25).toDF("value")
    val r = FeatureStats.outlierReport(d, NumFeature("value", col("value"), 2))
      .collect()(0)
    assert(r.getDouble(2) == 7.25 && r.getDouble(3) == 7.25)
    assert(r.getDouble(4) == 7.25 && r.getDouble(5) == 7.25)
    assert(r.getLong(6) == 0L && r.getLong(7) == 0L)
    assert(r.getDouble(8) == 145.0) // 20 × 7.25
  }

  test("cardinality guard: ks and outlierReport fail loudly past maxDomain") {
    val spark2 = spark
    import spark2.implicits._
    // a "continuous" feature: 200 distinct values — past a declared cap of
    // 100, the exact per-value paths must refuse (the single-task cumulative
    // sort is only safe on a bounded domain), not stall.
    val cont = (1 to 200).map(_ * 0.01).toDF("value")
    val exKs = intercept[IllegalArgumentException] {
      ksAB(cont, cont, "value", maxDomain = 100L)
    }
    assert(exKs.getMessage.contains("maxDomain"), exKs.getMessage)
    val exOr = intercept[IllegalArgumentException] {
      FeatureStats.outlierReport(cont,
        NumFeature("value", col("value"), 2), maxDomain = 100L)
    }
    assert(exOr.getMessage.contains("maxDomain"), exOr.getMessage)
    // at or under the cap both still work, values unchanged, and the guard
    // path leaks no cached frame
    spark.sharedState.cacheManager.clearCache()
    assert(ksAB(cont, cont, "value", maxDomain = 200L)
      .collect()(0).getDouble(0) == 0.0)
    FeatureStats.outlierReport(cont,
      NumFeature("value", col("value"), 2), maxDomain = 200L).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "guarded paths must unpersist their per-value aggregate")
  }

  test("outlierBoundsApprox: agrees with the exact fences on a bounded domain") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(11L)
    val df = rng.shuffle((1 to 1000).map(_ * 0.01).toList).toDF("value")
    // exact: q1 = rank-250 value = 2.50, q3 = 7.50, lo = -5.0, hi = 15.0
    val ex = FeatureStats.outlierReport(df, NumFeature("value", col("value"), 2))
      .collect()(0)
    val ap = FeatureStats.outlierBoundsApprox(df, col("value"), "value",
      accuracy = 100000).collect()(0)
    assert(ap.getString(0) == "value" && ap.getAs[Long]("n") == 1000L)
    // accuracy 1e5 on 1000 rows ⇒ rank error < 1 ⇒ within one 0.01 grid step
    assert(math.abs(ap.getAs[Double]("q1") - ex.getAs[Double]("q1")) <= 0.01)
    assert(math.abs(ap.getAs[Double]("q3") - ex.getAs[Double]("q3")) <= 0.01)
    assert(math.abs(ap.getAs[Double]("lo") - ex.getAs[Double]("lo")) <= 0.05)
    assert(math.abs(ap.getAs[Double]("hi") - ex.getAs[Double]("hi")) <= 0.05)
  }

  test("outlierBoundsApprox: the continuous-domain path past the exact guard") {
    val spark2 = spark
    import spark2.implicits._
    // the exact shape the guard rejects: per-value cardinality == row count
    val cont = (1 to 20000).map(i => math.sqrt(i.toDouble)).toDF("value")
    val ex = intercept[IllegalArgumentException] {
      FeatureStats.outlierReport(cont,
        NumFeature("value", col("value"), 6), maxDomain = 1000L)
    }
    assert(ex.getMessage.contains("outlierBoundsApprox"),
      s"guard must point to the approx path: ${ex.getMessage}")
    val bounds = FeatureStats.outlierBoundsApprox(
      cont, col("value"), "sqrt", accuracy = 1000)
    val r = bounds.collect()(0)
    assert(r.getAs[Long]("n") == 20000L)
    // GK guarantee: each quartile's true rank within n/accuracy = 20 of the
    // target. values are sqrt(i) ⇒ rank(v) = floor(v²); +2 slack for the
    // 6-dp output rounding.
    def rank(v: Double): Long = math.floor(v * v + 1e-9).toLong
    assert(math.abs(rank(r.getAs[Double]("q1")) - 5000L) <= 22,
      s"q1 rank ${rank(r.getAs[Double]("q1"))}")
    assert(math.abs(rank(r.getAs[Double]("q3")) - 15000L) <= 22,
      s"q3 rank ${rank(r.getAs[Double]("q3"))}")
    // scale shape: ONE mergeable aggregation — partial (map-side) sketch
    // present, no per-value shuffle, no cumulative window, no range sort
    val plan = bounds.queryExecution.executedPlan.toString
    assert(plan.contains("partial_percentile_approx"), plan.take(2000))
    assert(!plan.contains("Window") && !plan.contains("Exchange rangepartitioning"),
      plan.take(2000))
  }

  test("iv: informative feature scores higher than a non-informative one") {
    val spark2 = spark
    import spark2.implicits._
    // label perfectly separated by value bin vs label independent of value
    val sep = (1 to 200).map(i => (if (i <= 100) 5.0 else 95.0, i <= 100))
      .toDF("value", "y")
    val ivSep = FeatureStats.iv(sep, "value", col("y"), 10.0, 10)
      .collect()(0).getDouble(0)
    val indep = (1 to 200).map(i => (if (i % 2 == 0) 5.0 else 95.0, i <= 100))
      .toDF("value", "y")
    val ivIndep = FeatureStats.iv(indep, "value", col("y"), 10.0, 10)
      .collect()(0).getDouble(0)
    assert(ivSep > 5.0, s"separated IV=$ivSep") // near-perfect separation
    assert(ivIndep < 0.01, s"independent IV=$ivIndep")
    assert(ivSep > ivIndep * 100)
  }
}
