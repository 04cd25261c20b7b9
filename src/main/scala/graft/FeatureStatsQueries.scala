package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tjk._
import graft.tjk.FeatureStats.NumFeature

/** Driver entries for the feature-analysis surface (missing rate / moments,
  * PSI / KS drift between the OOT halves, IV against a binary label) —
  * the reference family's standard post-compute feature reports, here as
  * scale-shaped grouped aggregations with exact DuckDB oracles.
  */
object FeatureStatsQueries {

  private val Boundary = "2024-01-16 00:00:00" // q39's OOT boundary
  private val BinW = 50.0
  private val NBins = 10

  // ---- shared oracle SQL fragments (q45/q47/q49) -------------------------
  // One source of truth for the binned-PSI / per-value-KS / binned-IV CTE
  // blocks: the r4 `role IS NOT NULL` fix had to be hand-applied to two
  // copies, which is exactly how oracle halves drift apart. The bin
  // expression clamps in the WIDE type BEFORE the INTEGER cast, mirroring
  // the Spark-side widthBin hardening (an extreme value must land in the
  // edge bin on BOTH engines, not Conversion-Error on one).

  private def binSql(valueExpr: String, width: String): String =
    s"CAST(greatest(least(floor($valueExpr / $width), ${NBins - 1}), 0) AS INTEGER)"

  private val binsCteSql: String =
    s"bins AS (SELECT CAST(b.x AS INTEGER) AS bin FROM UNNEST(generate_series(0, ${NBins - 1})) AS b(x))"

  /** PSI + KS CTE chain over CTEs named `tr`/`te` (column `value`);
    * terminal CTEs: `psi(stat)`, `ks(stat)`. Requires [[binsCteSql]].
    */
  private val psiKsCtesSql: String =
    s"""pa AS (SELECT ${binSql("value", BinW.toString)} AS bin, count(*) AS na FROM tr GROUP BY 1),
       |pb AS (SELECT ${binSql("value", BinW.toString)} AS bin, count(*) AS nb FROM te GROUP BY 1),
       |pj AS (SELECT bins.bin, coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
       |       FROM bins LEFT JOIN pa USING (bin) LEFT JOIN pb USING (bin)),
       |pt AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM pj),
       |psi AS (SELECT round(sum(((nb+0.5)/(tb+5.0) - (na+0.5)/(ta+5.0)) *
       |                        ln(((nb+0.5)/(tb+5.0)) / ((na+0.5)/(ta+5.0)))), 6) AS stat
       |        FROM pj, pt),
       |ka AS (SELECT CAST(value AS DOUBLE) AS v, count(*) AS na FROM tr GROUP BY 1),
       |kb AS (SELECT CAST(value AS DOUBLE) AS v, count(*) AS nb FROM te GROUP BY 1),
       |km AS (SELECT coalesce(ka.v, kb.v) AS v, coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
       |       FROM ka FULL JOIN kb ON ka.v = kb.v),
       |kc AS (SELECT sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
       |              sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
       |              (SELECT sum(na) FROM km) AS ta, (SELECT sum(nb) FROM km) AS tb
       |       FROM km),
       |ks AS (SELECT round(max(abs(CAST(ca AS DOUBLE)/ta - CAST(cb AS DOUBLE)/tb)), 6) AS stat FROM kc)""".stripMargin

  /** Binned-IV CTE chain over a CTE named `lab` (columns `value`, `y`);
    * terminal CTE: `iv(stat)`. Requires [[binsCteSql]].
    */
  private def ivCtesSql(width: String): String =
    s"""ig AS (SELECT ${binSql("value", width)} AS bin,
       |              sum(y) AS np, sum(1-y) AS nn FROM lab GROUP BY 1),
       |ij AS (SELECT bins.bin, coalesce(np, 0) AS np, coalesce(nn, 0) AS nn
       |       FROM bins LEFT JOIN ig USING (bin)),
       |it AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM ij),
       |iv AS (SELECT round(sum(((np+0.5)/(tp+5.0) - (nn+0.5)/(tn+5.0)) *
       |                       ln(((np+0.5)/(tp+5.0)) / ((nn+0.5)/(tn+5.0)))), 6) AS stat
       |       FROM ij, it)""".stripMargin

  /** q44 — per-feature profile: exact-integer moments for the 2-decimal
    * `value` and the integer `len_text`, missingness for `tool`.
    */
  def featureProfile(spark: SparkSession, dir: String): DataFrame =
    CacheScope.using { scope =>
      // the three profile branches are independent aggregations under a
      // union — persist the view once instead of scanning+re-windowing it 3x
      val base = scope.persist(Tables.transcripts(spark, dir)
        .select("value", "text", "tool")) // only what the 3 branches read
      val report = FeatureStats
        .profileNumeric(base, NumFeature("value", col("value"), 2))
        .unionByName(FeatureStats.profileNumeric(
          base, NumFeature("len_text", length(col("text")), 0)))
        .unionByName(FeatureStats.profileMissing(base, "tool"))
        .orderBy("feature")
      localized(report).orderBy("feature")
    }

  val featureProfileSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |v AS (SELECT count(*) n,
       |             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) nm,
       |             sum(CAST(round(value*100) AS BIGINT)) si,
       |             sum(CAST(round(value*100) AS BIGINT)*CAST(round(value*100) AS BIGINT)) sq
       |      FROM t),
       |l AS (SELECT count(*) n,
       |             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) nm,
       |             sum(CAST(length(text) AS BIGINT)) si,
       |             sum(CAST(length(text) AS BIGINT)*CAST(length(text) AS BIGINT)) sq
       |      FROM t),
       |m AS (SELECT count(*) n,
       |             CAST(sum(CASE WHEN tool IS NULL THEN 1 ELSE 0 END) AS BIGINT) nm FROM t)
       |SELECT 'len_text' AS feature, n, nm AS n_missing,
       |  round(CAST(nm AS DOUBLE)/n, 6) AS missing_rate,
       |  round(si/1.0/(n-nm), 6) AS mean,
       |  CASE WHEN n = nm THEN NULL
       |       ELSE round(sqrt(greatest(sq/1.0/(n-nm) - pow(si/1.0/(n-nm), 2), 0.0)), 6) END AS std
       |FROM l
       |UNION ALL
       |SELECT 'tool', n, nm, round(CAST(nm AS DOUBLE)/n, 6),
       |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
       |FROM m
       |UNION ALL
       |SELECT 'value', n, nm, round(CAST(nm AS DOUBLE)/n, 6),
       |  round(si/100.0/(n-nm), 6),
       |  CASE WHEN n = nm THEN NULL
       |       ELSE round(sqrt(greatest(sq/10000.0/(n-nm) - pow(si/100.0/(n-nm), 2), 0.0)), 6) END
       |FROM v
       |ORDER BY feature""".stripMargin

  /** q45 — drift + predictive-power report: PSI and exact KS of `value`
    * between the OOT train/test halves, and IV of binned `value` against
    * the is-purchase label. Fixed-width bins (deterministic + replicable,
    * unlike approximate quantiles), Laplace smoothing on counts.
    */
  def driftReport(spark: SparkSession, dir: String): DataFrame =
    CacheScope.using { scope =>
      // ONE scan of the (window-bearing) transcript view: iv/ks/psi each
      // consume it 1-2x (5 subtrees total) — persist the labeled view once
      // (spills at scale), same branch-point discipline as the similarity
      // pipelines.
      val split = scope.persist(
        Split.timeSplit(Tables.transcripts(spark, dir), "ts", Boundary))
      // single-pass tagged KS/PSI (FeatureStats.ksTagged/psiTagged): one
      // grouped count over the persisted split instead of a per-side count
      // + re-merge join per statistic — values identical, half the shuffles
      val isTrain = col("split") === "train"
      val report = FeatureStats
        .iv(split, "value", col("role") === "purchase", BinW, NBins)
        .select(lit("iv_value").as("metric"), col("iv").as("stat"))
        .unionByName(FeatureStats.ksTagged(split, "value", isTrain)
          .select(lit("ks_value").as("metric"), col("ks").as("stat")))
        .unionByName(FeatureStats.psiTagged(split, "value", isTrain, BinW, NBins)
          .select(lit("psi_value").as("metric"), col("psi").as("stat")))
        .orderBy("metric")
      localized(report).orderBy("metric")
    }

  /** q47 — the composition the whole engine exists for: a feature COMPUTED
    * by the pipeline (trailing 1h count from [[Rolling.rollingAgg]], the
    * q01 operator) fed straight into the analysis surface (IV against the
    * is-purchase label). The oracle replicates both halves — window SQL
    * into the binned-IV SQL — so the check spans operator + report
    * end-to-end. Bin width 1 over 0..9: the feature is a small count.
    */
  def featureIv(spark: SparkSession, dir: String): DataFrame = {
    val feats = Rolling.rollingAgg(Tables.transcripts(spark, dir),
      "conv_id", "ts", Seq(RollingSpec("value", Agg.Count, java.time.Duration.ofHours(1))))
    FeatureStats.iv(feats, "count_value_3600s",
        col("role") === "purchase", binWidth = 1.0, nBins = NBins)
      .select(lit("iv_count_1h").as("metric"), col("iv").as("stat"))
  }

  val featureIvSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |f AS (
       |  SELECT role, count(value) OVER w AS cnt
       |  FROM t
       |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts
       |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
       |),
       |$binsCteSql,
       |lab AS (SELECT cnt AS value, CASE WHEN role = 'purchase' THEN 1 ELSE 0 END AS y
       |        FROM f WHERE cnt IS NOT NULL AND role IS NOT NULL),
       |${ivCtesSql("1.0")}
       |SELECT 'iv_count_1h' AS metric, stat FROM iv""".stripMargin

  /** q48 — outlier handling (the last §0.3 analysis-stage item): Tukey
    * fences over `value` from exact integer-cents quartiles, plus the
    * below/above counts and the winsorized exact-half-cents sum — all in
    * the scale shape of [[FeatureStats.outlierReport]] (grouped counts →
    * tiny cumulative window → one clamp pass against broadcast bounds).
    */
  def outlierReport(spark: SparkSession, dir: String): DataFrame =
    FeatureStats.outlierReport(Tables.transcripts(spark, dir),
      NumFeature("value", col("value"), 2))

  /** Every integer SUM that reaches a SELECT is CAST to BIGINT: DuckDB
    * widens them to HUGEINT, which the driver's typed hasher sees as
    * float64 vs Spark's int64 (the q41/q44 r3 lesson).
    */
  val outlierReportSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |d AS (SELECT CAST(round(value*100) AS BIGINT) AS vi FROM t WHERE value IS NOT NULL),
       |c AS (SELECT vi, count(*) AS cnt FROM d GROUP BY vi),
       |cc AS (SELECT vi, cnt,
       |         sum(cnt) OVER (ORDER BY vi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         sum(cnt) OVER () AS n
       |       FROM c),
       |q AS (SELECT CAST(max(n) AS BIGINT) AS n,
       |        min(CASE WHEN cum >= ceil(n * 0.25) THEN vi END) AS q1c,
       |        min(CASE WHEN cum >= ceil(n * 0.75) THEN vi END) AS q3c
       |      FROM cc),
       |b AS (SELECT n, q1c, q3c,
       |        q1c - 1.5 * (q3c - q1c) AS loc,
       |        q3c + 1.5 * (q3c - q1c) AS hic
       |      FROM q),
       |r AS (SELECT b.n, b.q1c, b.q3c, b.loc, b.hic,
       |        CAST(sum(CASE WHEN vi < loc THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       |        CAST(sum(CASE WHEN vi > hic THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       |        sum(CAST(round(greatest(least(CAST(vi AS DOUBLE), hic), loc) * 2) AS BIGINT)) AS s2
       |      FROM d, b GROUP BY 1, 2, 3, 4, 5)
       |SELECT 'value' AS feature, n,
       |  round(q1c / 100.0, 6) AS q1, round(q3c / 100.0, 6) AS q3,
       |  round(loc / 100.0, 6) AS lo, round(hic / 100.0, 6) AS hi,
       |  n_below, n_above,
       |  round(s2 / 2.0 / 100.0, 6) AS sum_clamped
       |FROM r""".stripMargin

  /** q49 — operator→report composition across the OTHER core join (the q47
    * pattern for as-of): the point-in-time purchase value attached by
    * [[graft.tjk.AsOf.asofJoin]] (the q06 operator) is fed into the drift
    * surface — PSI and exact KS between the OOT halves of the SPINE's
    * timeline. The oracle replicates both halves: DuckDB ASOF JOIN into the
    * binned-PSI / per-value-KS SQL, so the check spans join + report
    * end-to-end.
    */
  def asofDrift(spark: SparkSession, dir: String): DataFrame = {
    val spine = Tables.transcripts(spark, dir)
      .where(pmod(col("turn_idx"), lit(5)) === 0)
      .select("conv_id", "turn_idx", "ts")
    val joined = graft.tjk.AsOf.asofJoin(spine,
        CoreQueries.purchases(spark, dir), "conv_id", "ts", "ev_ts", Seq("pv"))
    CacheScope.using { scope =>
      val split = scope.persist(Split.timeSplit(joined, "ts", Boundary))
      // single-pass tagged KS/PSI — same rationale as driftReport
      val isTrain = col("split") === "train"
      val report = FeatureStats.ksTagged(split, "pv", isTrain)
        .select(lit("ks_asof_pv").as("metric"), col("ks").as("stat"))
        .unionByName(FeatureStats.psiTagged(split, "pv", isTrain, BinW, NBins)
          .select(lit("psi_asof_pv").as("metric"), col("psi").as("stat")))
        .orderBy("metric")
      localized(report).orderBy("metric")
    }
  }

  /** q51 — outlier bounds for a CONTINUOUS feature (per-turn-normalized
    * spend, `value / (turn_idx + 1)`): per-value cardinality ~ the row
    * count, which the exact path's domain guard REJECTS by design — this
    * is the operator the guard's message points to
    * ([[FeatureStats.outlierBoundsApprox]]). One mergeable GK-sketch
    * aggregation: no per-value shuffle, no single-task cumulative window.
    * Rows-only at the driver (a merge-order-dependent sketch is not
    * DuckDB-replicable), so the accuracy claim is enforced IN-QUERY (the
    * q23/q42/q24 pattern): a second exact aggregation derives each
    * reported quartile's true rank range over the same persisted feature
    * and requires it to intersect [p·n − n/accuracy, p·n + n/accuracy]
    * (+2 rows slack for the 6-dp output rounding) — a sketch regression
    * fails the driver sweep loudly instead of passing as `no_oracle`.
    */
  def outlierApprox(spark: SparkSession, dir: String): DataFrame =
    CacheScope.using { scope =>
      val acc = 10000
      val data = scope.persist(Tables.transcripts(spark, dir)
        .select((col("value") / (col("turn_idx") + 1)).as("f"))
        .where(col("f").isNotNull))
      val rep = FeatureStats.outlierBoundsApprox(
        data, col("f"), "value_per_turn", accuracy = acc)
      val local = localized(rep)
      val r = local.head()
      val n = r.getAs[Long]("n")
      if (n > 0) { // empty input: nothing for the sketch to be wrong about
        val q1 = r.getAs[Double]("q1")
        val q3 = r.getAs[Double]("q3")
        val k = data.agg(
          sum(when(col("f") < q1, 1L).otherwise(0L)),
          sum(when(col("f") <= q1, 1L).otherwise(0L)),
          sum(when(col("f") < q3, 1L).otherwise(0L)),
          sum(when(col("f") <= q3, 1L).otherwise(0L))).collect()(0)
        val eps = n.toDouble / acc + 2
        def check(lt: Long, le: Long, p: Double, which: String, v: Double): Unit =
          require(lt + 1 <= p * n + eps && le >= p * n - eps,
            f"q51 law: $which=$v rank range [${lt + 1}, $le] misses target " +
              f"${p * n}%.1f ± $eps%.1f (the GK n/accuracy guarantee)")
        check(k.getLong(0), k.getLong(1), 0.25, "q1", q1)
        check(k.getLong(2), k.getLong(3), 0.75, "q3", q3)
      }
      local
    }

  val asofDriftSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |${CoreQueries.purchasesSqlCte},
       |spine AS (SELECT conv_id, turn_idx, ts FROM t WHERE turn_idx % 5 = 0),
       |j AS (SELECT s.ts, e.pv
       |      FROM spine s ASOF LEFT JOIN ev e
       |        ON s.conv_id = e.conv_id AND s.ts >= e.ev_ts),
       |tr AS (SELECT pv AS value FROM j WHERE ts < TIMESTAMP '$Boundary' AND pv IS NOT NULL),
       |te AS (SELECT pv AS value FROM j
       |       WHERE (ts >= TIMESTAMP '$Boundary' OR ts IS NULL) AND pv IS NOT NULL),
       |$binsCteSql,
       |$psiKsCtesSql
       |SELECT 'ks_asof_pv' AS metric, stat FROM ks
       |UNION ALL SELECT 'psi_asof_pv', stat FROM psi
       |ORDER BY metric""".stripMargin
  // (te's `OR ts IS NULL` replicates Split.timeSplit's null routing: the
  // engine's when(ts < b, train).otherwise(test) sends a null ts to TEST)

  val driftReportSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |tr AS (SELECT value FROM t WHERE ts < TIMESTAMP '$Boundary' AND value IS NOT NULL),
       |te AS (SELECT value FROM t
       |       WHERE (ts >= TIMESTAMP '$Boundary' OR ts IS NULL) AND value IS NOT NULL),
       |$binsCteSql,
       |$psiKsCtesSql,
       |lab AS (SELECT value, CASE WHEN role = 'purchase' THEN 1 ELSE 0 END AS y
       |        FROM t WHERE value IS NOT NULL AND role IS NOT NULL),
       |${ivCtesSql(BinW.toString)}
       |SELECT 'iv_value' AS metric, stat FROM iv
       |UNION ALL SELECT 'ks_value', stat FROM ks
       |UNION ALL SELECT 'psi_value', stat FROM psi
       |ORDER BY metric""".stripMargin
}
