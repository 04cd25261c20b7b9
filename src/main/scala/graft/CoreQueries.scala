package graft

import java.time.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tjk._

/** Core-engine query catalog (SURVEY.md §2.1 operators O1–O11), each paired
  * with DuckDB oracle SQL over the same parquet. The events table is viewed
  * as transcripts identically on both sides (Tables.transcriptsSqlCte /
  * Tables.transcripts — FIXTURES.md §3).
  *
  * Convention: every aggregate/computed column is aliased to the SAME name in
  * Spark and SQL; floating accumulations are rounded on both sides (window
  * sums → 6 dp, whole-table sums → 0 dp) so cross-engine summation-order
  * differences can't flip the driver's hash compare; every query ends in a
  * deterministic total ORDER BY.
  */
object CoreQueries {

  private val H1 = Duration.ofHours(1)
  private val D1 = Duration.ofHours(24)
  private val GAP = Duration.ofMinutes(30)

  private def t(spark: SparkSession, dir: String): DataFrame =
    Tables.transcripts(spark, dir)

  // ---------------------------------------------------------------- O2: time frames

  /** NOTE on mean columns throughout: both engines derive the mean from the
    * ALREADY-ROUNDED sum (`round(round(sum,4)/count, 6)`). Raw cross-engine
    * sums can differ in the last bit, and 2-decimal inputs divided by round
    * counts sit exactly on half-ties at the 6th decimal — rounding a raw avg
    * is therefore not reproducible, but rounding a bit-identical quotient is.
    */
  def rollingTime(spark: SparkSession, dir: String): DataFrame =
    Rolling.rollingAgg(t(spark, dir), "conv_id", "ts", Seq(
        RollingSpec("value", Agg.Count, H1),
        RollingSpec("value", Agg.Sum, H1),
        RollingSpec("value", Agg.Count, D1),
        RollingSpec("value", Agg.Sum, D1),
        RollingSpec("value", Agg.Min, D1),
        RollingSpec("value", Agg.Max, D1)))
      .select(col("conv_id"), col("turn_idx"),
        col("count_value_3600s"),
        round(col("sum_value_3600s"), 6).as("sum_value_3600s"),
        round(round(col("sum_value_86400s"), 4) /
          nullif(col("count_value_86400s"), lit(0L)), 6).as("mean_value_86400s"),
        col("min_value_86400s"), col("max_value_86400s"))
      .orderBy("conv_id", "turn_idx")

  val rollingTimeSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, turn_idx,
       |  count(value) OVER w1 AS count_value_3600s,
       |  round(sum(value) OVER w1, 6) AS sum_value_3600s,
       |  round(round(sum(value) OVER w2, 4) / nullif(count(value) OVER w2, 0), 6) AS mean_value_86400s,
       |  min(value) OVER w2 AS min_value_86400s,
       |  max(value) OVER w2 AS max_value_86400s
       |FROM t
       |WINDOW
       |  w1 AS (PARTITION BY conv_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
       |  w2 AS (PARTITION BY conv_id ORDER BY ts RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
       |ORDER BY conv_id, turn_idx""".stripMargin

  // ------------------------------------------------- O2 strict-past (leakage-free exact)

  def rollingStrict(spark: SparkSession, dir: String): DataFrame =
    Rolling.rollingAgg(t(spark, dir), "conv_id", "ts", Seq(
        RollingSpec("value", Agg.Count, H1, strict = true),
        RollingSpec("value", Agg.Sum, H1, strict = true)))
      .select(col("conv_id"), col("turn_idx"),
        col("count_value_3600s_strict"),
        round(col("sum_value_3600s_strict"), 6).as("sum_value_3600s_strict"))
      .orderBy("conv_id", "turn_idx")

  val rollingStrictSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, turn_idx,
       |  count(value) OVER w AS count_value_3600s_strict,
       |  round(sum(value) OVER w, 6) AS sum_value_3600s_strict
       |FROM t
       |WINDOW w AS (PARTITION BY conv_id ORDER BY ts
       |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND INTERVAL 1 MICROSECOND PRECEDING)
       |ORDER BY conv_id, turn_idx""".stripMargin

  // ---------------------------------------------------------------- O2: row frames

  def rollingRows(spark: SparkSession, dir: String): DataFrame =
    Rolling.rowsAgg(t(spark, dir), "conv_id", "ts", "turn_idx", Seq(
        RowsSpec("value", Agg.Sum, 5),
        RowsSpec("value", Agg.Max, 5),
        RowsSpec("value", Agg.NUnique, 5)))
      .select(col("conv_id"), col("turn_idx"),
        round(col("sum_value_r5"), 6).as("sum_value_r5"),
        col("max_value_r5"), col("nunique_value_r5"))
      .orderBy("conv_id", "turn_idx")

  val rollingRowsSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, turn_idx,
       |  round(sum(value) OVER w, 6) AS sum_value_r5,
       |  max(value) OVER w AS max_value_r5,
       |  CAST(count(DISTINCT value) OVER w AS BIGINT) AS nunique_value_r5
       |FROM t
       |WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
       |  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
       |ORDER BY conv_id, turn_idx""".stripMargin

  // ---------------------------------------------------------------- O3: windowed nunique

  def rollingNunique(spark: SparkSession, dir: String): DataFrame =
    Rolling.rollingAgg(t(spark, dir), "conv_id", "ts", Seq(
        RollingSpec("role", Agg.NUnique, H1),
        RollingSpec("tool", Agg.NUnique, D1)))
      .select(col("conv_id"), col("turn_idx"),
        col("nunique_role_3600s"), col("nunique_tool_86400s"))
      .orderBy("conv_id", "turn_idx")

  val rollingNuniqueSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, turn_idx,
       |  CAST(count(DISTINCT role) OVER w1 AS BIGINT) AS nunique_role_3600s,
       |  CAST(count(DISTINCT tool) OVER w2 AS BIGINT) AS nunique_tool_86400s
       |FROM t
       |WINDOW
       |  w1 AS (PARTITION BY conv_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
       |  w2 AS (PARTITION BY conv_id ORDER BY ts RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
       |ORDER BY conv_id, turn_idx""".stripMargin

  // ------------------------------------------- O3 approx: HLL windowed nunique

  /** q42 — the HLL fast path for O3 ([[Rolling.approxRollingNunique]]).
    * Approximate by design ⇒ rows-only driver check (no DuckDB HLL++ with
    * matching seeds exists), so the plan shape is require()d IN-QUERY: the
    * frame must actually evaluate `approx_count_distinct` (a silent fallback
    * to an exact plan would invalidate the "bounded sketch state" claim),
    * and the suite separately pins approx-vs-exact tolerance (SkewSuite).
    */
  def approxNunique(spark: SparkSession, dir: String): DataFrame = {
    val out = Rolling.approxRollingNunique(t(spark, dir), "conv_id", "ts", "tool", D1)
      .select("conv_id", "turn_idx", "approx_nunique_tool_86400s")
      .orderBy("conv_id", "turn_idx")
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("approx_count_distinct"),
      s"q42 must plan approx_count_distinct over the frame; got:\n$plan")
    // In-query error-bound law (VERDICT r3 item 4): the driver's harness has
    // no rows-only mode, so the accuracy claim must fail HERE, inside the
    // sweep, not silently. On an md5-derived slice (predicate matches hex
    // chars '3' and 'c' ⇒ ≈1/8 of conversations) the HLL estimate must
    // track the exact WindowNUnique within 3·rsd of the exact value
    // (rsd = 0.05 default ⇒ 15%, floor 1 — the same bound SkewSuite pins).
    // 3·rsd is a STATISTICAL bound, not a guarantee — a correct HLL leaves
    // ~0.3% of estimates outside 3σ once frames hold enough distincts to
    // exit exact linear-counting range — so the law tolerates up to 0.5% of
    // slice rows (floor 5) beyond it instead of hard-failing on the tail of
    // a healthy estimator. One plan computes both columns: the two window
    // aggs share the (conv_id, ts) partitioning, so this costs one narrow
    // slice job.
    val slice = t(spark, dir)
      .where(md5Bucket(col("conv_id"), 16) === 3)
    val both = Rolling.rollingAgg(
      Rolling.approxRollingNunique(slice, "conv_id", "ts", "tool", D1),
      "conv_id", "ts", Seq(RollingSpec("tool", Agg.NUnique, D1)),
      SkewPolicy.WindowOnly)
    val law = both.agg(
        count(lit(1)).as("n"),
        // coalesce: sum over ZERO rows is null — an empty slice must read
        // as a vacuous pass (0 violations), not an NPE on getLong
        coalesce(sum(when(
          abs(col("approx_nunique_tool_86400s") - col("nunique_tool_86400s")) >
            greatest(lit(1L), ceil(col("nunique_tool_86400s") * 0.15).cast("long")),
          1L).otherwise(0L)), lit(0L)).as("viol"))
      .collect()(0)
    val (n, viol) = (law.getLong(0), law.getLong(1))
    require(viol <= math.max(5L, n / 200L),
      s"q42 law: $viol of $n slice rows have the HLL estimate > 3·rsd from exact " +
        "(tolerance: 0.5%)")
    out
  }

  // ---------------------------------------------------------------- O4/O6: lag + ffill

  def lagFfill(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir)
    val lagged = Offsets.lags(base, "conv_id", Seq("turn_idx", "ts"),
      Seq(("value", 1), ("value", 3)))
    Offsets.ffill(lagged, "conv_id", Seq("ts", "turn_idx"), Seq("tool"))
      .select("conv_id", "turn_idx", "lag_value_1", "lag_value_3", "ffill_tool")
      .orderBy("conv_id", "turn_idx")
  }

  val lagFfillSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, turn_idx,
       |  lag(value, 1) OVER wo AS lag_value_1,
       |  lag(value, 3) OVER wo AS lag_value_3,
       |  last_value(tool IGNORE NULLS) OVER wf AS ffill_tool
       |FROM t
       |WINDOW
       |  wo AS (PARTITION BY conv_id ORDER BY turn_idx, ts),
       |  wf AS (PARTITION BY conv_id ORDER BY ts, turn_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY conv_id, turn_idx""".stripMargin

  // ---------------------------------------------------------------- O1: as-of join

  /** Right side: purchase events, deduped to unique (conv_id, ts) by greatest
    * event_id so the DuckDB ASOF oracle is tie-free.
    */
  private[graft] def purchases(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "events")
      .where(col("event_type") === "purchase")
      .select(col("user_id").cast("string").as("conv_id"),
        col("ts").as("ev_ts"), col("value"), col("event_id"))
      // partition by conv_id BEFORE the (conv_id, ev_ts) dedup: the groupBy
      // reuses this exchange (hash(conv_id) clusters every (conv_id, ev_ts)
      // group), and every consumer joining/windowing on conv_id — q29's
      // session join in particular — reuses it too instead of adding its
      // own hash(conv_id) exchange after a hash(conv_id, ev_ts) one
      // (guide §2.4; net exchange count unchanged for the as-of consumers)
      .repartition(col("conv_id"))
      .groupBy(col("conv_id"), col("ev_ts"))
      .agg(max_by(col("value"), col("event_id")).as("pv"))

  private[graft] val purchasesSqlCte: String =
    """ev AS (
      |  SELECT CAST(user_id AS VARCHAR) AS conv_id, ts AS ev_ts,
      |         arg_max(value, event_id) AS pv
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |)""".stripMargin

  def asofBackward(spark: SparkSession, dir: String): DataFrame = {
    val spine = t(spark, dir).where(pmod(col("turn_idx"), lit(5)) === 0)
      .select("conv_id", "turn_idx", "ts")
    AsOf.asofJoin(spine, purchases(spark, dir), "conv_id", "ts", "ev_ts", Seq("pv"))
      .select("conv_id", "turn_idx", "pv")
      .orderBy("conv_id", "turn_idx")
  }

  val asofBackwardSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |spine AS (SELECT conv_id, turn_idx, ts FROM t WHERE turn_idx % 5 = 0),
       |$purchasesSqlCte
       |SELECT s.conv_id, s.turn_idx, e.pv
       |FROM spine s ASOF LEFT JOIN ev e
       |  ON s.conv_id = e.conv_id AND s.ts >= e.ev_ts
       |ORDER BY s.conv_id, s.turn_idx""".stripMargin

  def asofStrictTol(spark: SparkSession, dir: String): DataFrame = {
    val spine = t(spark, dir).where(pmod(col("turn_idx"), lit(5)) === 0)
      .select("conv_id", "turn_idx", "ts")
    AsOf.asofJoin(spine, purchases(spark, dir), "conv_id", "ts", "ev_ts", Seq("pv"),
        tolerance = Some(Duration.ofHours(1)), strict = true)
      .select("conv_id", "turn_idx", "pv")
      .orderBy("conv_id", "turn_idx")
  }

  val asofStrictTolSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |spine AS (SELECT conv_id, turn_idx, ts FROM t WHERE turn_idx % 5 = 0),
       |$purchasesSqlCte
       |SELECT s.conv_id, s.turn_idx,
       |  CASE WHEN s.ts - e.ev_ts <= INTERVAL 1 HOUR THEN e.pv END AS pv
       |FROM spine s ASOF LEFT JOIN ev e
       |  ON s.conv_id = e.conv_id AND s.ts > e.ev_ts
       |ORDER BY s.conv_id, s.turn_idx""".stripMargin

  /** Same semantics through the mandated sort-merge mapPartitions fallback —
    * oracle-checked against the identical ASOF SQL as the primary path.
    */
  def asofMerge(spark: SparkSession, dir: String): DataFrame = {
    val spine = t(spark, dir).where(pmod(col("turn_idx"), lit(5)) === 0)
      .select("conv_id", "turn_idx", "ts")
    AsOf.asofJoinMerge(spine, purchases(spark, dir), "conv_id", "ts", "ev_ts", Seq("pv"))
      .select("conv_id", "turn_idx", "pv")
      .orderBy("conv_id", "turn_idx")
  }

  // ---------------------------------------------------------------- O7: sessionize

  def sessionizeRows(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionize(t(spark, dir), "conv_id", "ts", "turn_idx", GAP)
      .select("conv_id", "turn_idx", "session_seq", "session_id")
      .orderBy("conv_id", "turn_idx")

  private val sessionSeqCte: String =
    s"""f AS (
       |  SELECT conv_id, turn_idx, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |         THEN 1 ELSE 0 END AS flag
       |  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
       |),
       |s AS (
       |  SELECT conv_id, turn_idx, ts, value,
       |    CAST(sum(flag) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM f
       |)""".stripMargin

  val sessionizeRowsSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |$sessionSeqCte
       |SELECT conv_id, turn_idx, session_seq,
       |  conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id
       |FROM s
       |ORDER BY conv_id, turn_idx""".stripMargin

  def sessionAgg(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionAgg(t(spark, dir), "conv_id", "ts", "turn_idx", GAP)
      .orderBy("conv_id", "session_id")

  val sessionAggSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |$sessionSeqCte
       |SELECT conv_id,
       |  conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id,
       |  min(ts) AS session_start, max(ts) AS session_end,
       |  count(*) AS n_turns
       |FROM s GROUP BY conv_id, session_seq
       |ORDER BY conv_id, session_id""".stripMargin

  // ------------------------------------------------- O5: flagship backfill composition

  def backfillFlagship(spark: SparkSession, dir: String): DataFrame = {
    val spec = FeatureSpec(
      rolling = Seq(
        RollingSpec("value", Agg.Count, H1),
        RollingSpec("value", Agg.Sum, D1),
        RollingSpec("role", Agg.NUnique, H1)),
      lags = Seq(("value", 1)),
      sessionGap = Some(GAP))
    Pipeline.backfill(t(spark, dir), spec)
      .groupBy("conv_id", "session_id")
      .agg(
        count(lit(1)).as("n_turns"),
        max("count_value_3600s").as("max_cnt_1h"),
        // exact-cents fold (sumCents doctrine): each summand is a sum of
        // 2-decimal values, so its cent count is exact; a raw-double
        // round(sum,0) sits one summation-order bit from flipping on a
        // true .50 half-tie (the q40 incident class)
        round(sum(round(col("sum_value_86400s") * 100).cast("long")) / 100.0, 0)
          .as("sum_sum_24h"),
        round(round(sum(col("lag_value_1")), 4) /
          nullif(count(col("lag_value_1")), lit(0L)), 6).as("avg_lag1"),
        max("nunique_role_3600s").as("max_nuniq_role_1h"))
      .orderBy("conv_id", "session_id")
  }

  val backfillFlagshipSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |feat AS (
       |  SELECT conv_id, turn_idx, ts, value,
       |    count(value) OVER w1 AS count_value_3600s,
       |    sum(value) OVER w2 AS sum_value_86400s,
       |    CAST(count(DISTINCT role) OVER w1 AS BIGINT) AS nunique_role_3600s,
       |    lag(value, 1) OVER wo AS lag_value_1,
       |    CASE WHEN lag(ts) OVER wo IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER wo) > 1800000000
       |         THEN 1 ELSE 0 END AS flag
       |  FROM t
       |  WINDOW
       |    w1 AS (PARTITION BY conv_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
       |    w2 AS (PARTITION BY conv_id ORDER BY ts RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW),
       |    wo AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
       |),
       |sess AS (
       |  SELECT *, CAST(sum(flag) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM feat
       |)
       |SELECT conv_id,
       |  conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id,
       |  count(*) AS n_turns,
       |  max(count_value_3600s) AS max_cnt_1h,
       |  round(sum(CAST(round(sum_value_86400s * 100) AS BIGINT)) / 100.0, 0) AS sum_sum_24h,
       |  round(round(sum(lag_value_1), 4) / nullif(count(lag_value_1), 0), 6) AS avg_lag1,
       |  max(nunique_role_3600s) AS max_nuniq_role_1h
       |FROM sess GROUP BY conv_id, session_seq
       |ORDER BY conv_id, session_id""".stripMargin

  // ---------------------------------------------------------------- O8: salted agg

  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(t(spark, dir), "conv_id", "value", Agg.all, salt = 8, saltBy = "turn_idx")
      .select(col("conv_id"),
        col("count_value"),
        round(col("sum_value"), 4).as("sum_value"),
        round(round(col("sum_value"), 4) /
          nullif(col("count_value"), lit(0L)), 6).as("mean_value"),
        col("min_value"), col("max_value"), col("nunique_value"))
      .orderBy("conv_id")

  val saltedAggSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id,
       |  count(value) AS count_value,
       |  round(sum(value), 4) AS sum_value,
       |  round(round(sum(value), 4) / nullif(count(value), 0), 6) AS mean_value,
       |  min(value) AS min_value,
       |  max(value) AS max_value,
       |  CAST(count(DISTINCT value) AS BIGINT) AS nunique_value
       |FROM t GROUP BY conv_id ORDER BY conv_id""".stripMargin

  // ------------------------------------------------- joins / ranking / JSON parity

  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  val topkPerGroupSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      |FROM orders
      |QUALIFY rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  def joinAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(spark, dir, "orders")
    val c = Tables.read(spark, dir, "customer")
    val n = Tables.read(spark, dir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"),
        // exact-cents fold: o_totalprice is 2-decimal (q40-class half-tie
        // hazard under a raw-double 0 dp round)
        round(sum(round(col("o_totalprice") * 100).cast("long")) / 100.0, 0)
          .as("revenue"))
      .orderBy("n_name")
  }

  val joinAggSql: String =
    """SELECT n_name, count(*) AS n_orders,
      |  round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 0) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------------- O8: chunked rolling (skew path)

  /** The overlap-chunked rolling window (Skew.chunkedRollingAgg) — the skew
    * mechanism for hot entities — against the SAME window SQL shape as q01:
    * chunking is result-invariant, so the plain window oracle is the
    * strongest possible check of the chunk/context/owner machinery. The span
    * is the router's (`Rolling.MaxChunkWindows` × 24 h), so rows
    * outside the 24 h context band take the owner-only branch.
    */
  def chunkedRolling(spark: SparkSession, dir: String): DataFrame =
    Skew.chunkedRollingAgg(t(spark, dir), "conv_id", "ts", Seq(
        RollingSpec("value", Agg.Count, H1),
        RollingSpec("value", Agg.Sum, H1),
        RollingSpec("value", Agg.Min, D1),
        RollingSpec("value", Agg.Max, D1)),
      chunkSpanMicros = Rolling.MaxChunkWindows * micros(D1))
      .select(col("conv_id"), col("turn_idx"),
        col("count_value_3600s"),
        round(col("sum_value_3600s"), 6).as("sum_value_3600s"),
        col("min_value_86400s"), col("max_value_86400s"))
      .orderBy("conv_id", "turn_idx")

  val chunkedRollingSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, turn_idx,
       |  count(value) OVER w1 AS count_value_3600s,
       |  round(sum(value) OVER w1, 6) AS sum_value_3600s,
       |  min(value) OVER w2 AS min_value_86400s,
       |  max(value) OVER w2 AS max_value_86400s
       |FROM t
       |WINDOW
       |  w1 AS (PARTITION BY conv_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
       |  w2 AS (PARTITION BY conv_id ORDER BY ts RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
       |ORDER BY conv_id, turn_idx""".stripMargin

  /** O3 exact windowed nunique through the bounded-memory chunked path
    * (incremental multiset state, O(distinct-in-frame) per task instead of
    * collect_set's per-row frame heap) — same oracle as q04. Same span as
    * q26, so both the band and the owner-only branch run.
    */
  def chunkedNunique(spark: SparkSession, dir: String): DataFrame =
    Skew.chunkedRollingAgg(t(spark, dir), "conv_id", "ts", Seq(
        RollingSpec("role", Agg.NUnique, H1),
        RollingSpec("tool", Agg.NUnique, D1)),
      chunkSpanMicros = Rolling.MaxChunkWindows * micros(D1))
      .select(col("conv_id"), col("turn_idx"),
        col("nunique_role_3600s"), col("nunique_tool_86400s"))
      .orderBy("conv_id", "turn_idx")

  // ---------------------------------------------------------------- O4: lead

  /** lead() offsets (label/target building; leaky-by-design and therefore
    * prefixed __leaky_ by Offsets.leads — unprefixed only at the output
    * boundary of this labels query).
    */
  def leadOffsets(spark: SparkSession, dir: String): DataFrame =
    Offsets.leads(t(spark, dir), "conv_id", Seq("turn_idx", "ts"),
        Seq(("value", 1), ("value", 3)))
      .select(col("conv_id"), col("turn_idx"),
        col("__leaky_lead_value_1").as("lead_value_1"),
        col("__leaky_lead_value_3").as("lead_value_3"))
      .orderBy("conv_id", "turn_idx")

  val leadOffsetsSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, turn_idx,
       |  lead(value, 1) OVER wo AS lead_value_1,
       |  lead(value, 3) OVER wo AS lead_value_3
       |FROM t
       |WINDOW wo AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
       |ORDER BY conv_id, turn_idx""".stripMargin

  // ------------------------------------------------- 2.4: range/interval join

  /** Session-membership lookup: each purchase event lands in the one session
    * interval that contains it (equi on conv_id + ts BETWEEN bounds — the
    * equi key keeps this a hash/sort-merge join with a range residual, never
    * a nested-loop; pinned in PlanShapeSuite).
    */
  def rangeJoinSessions(spark: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.sessionAgg(t(spark, dir), "conv_id", "ts", "turn_idx", GAP)
      .select(col("conv_id").as("s_conv"), col("session_id"),
        col("session_start"), col("session_end"))
    val p = purchases(spark, dir)
    p.join(sess, p("conv_id") === sess("s_conv") &&
        p("ev_ts").between(col("session_start"), col("session_end")))
      .groupBy(col("conv_id"), col("session_id"))
      .agg(count(lit(1)).as("n_purch"), round(sum(col("pv")), 4).as("sum_pv"))
      .orderBy("conv_id", "session_id")
  }

  val rangeJoinSessionsSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |$sessionSeqCte,
       |sess AS (
       |  SELECT conv_id, conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id,
       |         min(ts) AS session_start, max(ts) AS session_end
       |  FROM s GROUP BY conv_id, session_seq
       |),
       |$purchasesSqlCte
       |SELECT e.conv_id, sess.session_id,
       |  count(*) AS n_purch, round(sum(e.pv), 4) AS sum_pv
       |FROM ev e JOIN sess
       |  ON e.conv_id = sess.conv_id
       | AND e.ev_ts BETWEEN sess.session_start AND sess.session_end
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- 2.4: semi / anti joins

  /** Spine hygiene (anti): conversations with no high-value purchase turn
    * (value > 95 — selective on this corpus, so the anti side is non-trivial
    * in both directions: some conversations match, some don't).
    */
  def antiJoinNoPurchase(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir)
    val conv = base.groupBy("conv_id").agg(count(lit(1)).as("n_turns"))
    val purch = base.where(col("role") === "purchase" && col("value") > 95)
      .select("conv_id")
    conv.join(purch, Seq("conv_id"), "left_anti").orderBy("conv_id")
  }

  val antiJoinNoPurchaseSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, count(*) AS n_turns
       |FROM t
       |WHERE NOT EXISTS (SELECT 1 FROM t p
       |                  WHERE p.conv_id = t.conv_id
       |                    AND p.role = 'purchase' AND p.value > 95)
       |GROUP BY conv_id ORDER BY conv_id""".stripMargin

  /** Spine filter (semi): per-conversation turn counts, kept only where the
    * conversation has at least one high-value purchase turn (complement of
    * the anti query above).
    */
  def semiJoinPurchase(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir)
    val conv = base.groupBy("conv_id").agg(count(lit(1)).as("n_turns"))
    val purch = base.where(col("role") === "purchase" && col("value") > 95)
      .select("conv_id")
    conv.join(purch, Seq("conv_id"), "left_semi").orderBy("conv_id")
  }

  val semiJoinPurchaseSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT conv_id, count(*) AS n_turns
       |FROM t
       |WHERE EXISTS (SELECT 1 FROM t p
       |              WHERE p.conv_id = t.conv_id
       |                AND p.role = 'purchase' AND p.value > 95)
       |GROUP BY conv_id ORDER BY conv_id""".stripMargin

  // ------------------------------------------------- 2.6: set operations

  /** INTERSECT / EXCEPT over conversation key sets (high-value purchasers vs
    * high-value signups — both sets and both differences are non-trivial on
    * this corpus), tagged and stacked so one deterministic output exercises
    * both operators.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir)
    val purch = base.where(col("role") === "purchase" && col("value") > 95)
      .select("conv_id")
    val signup = base.where(col("role") === "signup" && col("value") > 95)
      .select("conv_id")
    purch.intersect(signup).withColumn("op", lit("both"))
      .unionByName(purch.except(signup).withColumn("op", lit("purchase_only")))
      .orderBy("op", "conv_id")
  }

  val setOpsSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |p AS (SELECT conv_id FROM t WHERE role = 'purchase' AND value > 95),
       |s AS (SELECT conv_id FROM t WHERE role = 'signup' AND value > 95)
       |SELECT conv_id, 'both' AS op FROM (SELECT * FROM p INTERSECT SELECT * FROM s)
       |UNION ALL
       |SELECT conv_id, 'purchase_only' AS op FROM (SELECT * FROM p EXCEPT SELECT * FROM s)
       |ORDER BY op, conv_id""".stripMargin

  // ------------------------------------------------- 2.5: rollup / grouping sets

  /** Whole-table value sums in q34/q40 are EXACT-CENTS sums: `value` is a
    * 2-decimal quantity, so `sum(round(value·100) as long)` is an exact
    * integer on both engines, and the final /100 + round is computed from
    * the IDENTICAL double on both sides. A raw double `round(sum(value),0)`
    * is order-dependent in its last bits, and at sf0.1 one cube cell's true
    * sum lands exactly on a .5 half-tie (998497.50), where the engines'
    * summation orders rounded to opposite integers.
    */
  private val sumCents: org.apache.spark.sql.Column =
    round(sum(round(col("value") * 100).cast("long")) / 100.0, 0)
  private val sumCentsSql: String =
    "round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 0)"

  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir)
      .rollup("role", "tool")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sumCents.as("sum_value"))
      .select("role", "tool", "gid", "n", "sum_value")
      .orderBy("gid", "role", "tool")

  val rollupAggSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT role, tool,
       |  CAST(grouping(role) * 2 + grouping(tool) AS BIGINT) AS gid,
       |  count(*) AS n, $sumCentsSql AS sum_value
       |FROM t GROUP BY ROLLUP (role, tool)
       |ORDER BY gid, role, tool""".stripMargin

  // ------------------------------------------------- O10/O11: lineage + resume

  /** Bucket-granular checkpoint/resume driven end-to-end: run a per-bucket
    * aggregation job twice into the same directory — the second run must
    * skip every bucket off its manifest and reproduce identical counts and
    * content hashes. Output is the per-bucket manifest row count, which the
    * DuckDB oracle recomputes independently (the bucket function is
    * md5-derived so both engines agree); the resume/skip/hash invariants are
    * require()d in-query, so a violation fails the driver run loudly.
    */
  def lineageResume(spark: SparkSession, dir: String): DataFrame = {
    val outDir = java.nio.file.Files.createTempDirectory("tjk_q33_lineage")
      .toFile.getAbsolutePath
    // One-pass runBucketed reads the input exactly once per run (and the
    // resumed second run reads it zero times), so no persist is needed.
    val input = t(spark, dir)
    // md5-derived bucket (last hex char mod 8) — DuckDB-replicable, unlike
    // the xxhash64 default.
    val bucketOf = md5Bucket(col("conv_id"), 8)
    val job = (d: DataFrame) => d.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"), round(sum(col("value")), 4).as("sum_value"))
    val r1 =
      try {
        val first = Resume.runBucketed(spark, input, "conv_id", outDir, 8, Some(bucketOf))(job)
        val second = Resume.runBucketed(spark, input, "conv_id", outDir, 8, Some(bucketOf))(job)
        require(first.forall(!_.skipped), "first run must compute every bucket")
        require(second.forall(_.skipped), "second run must resume-skip every bucket")
        require(
          first.map(r => (r.bucket, r.rowCount, r.contentHash)) ==
            second.map(r => (r.bucket, r.rowCount, r.contentHash)),
          "resumed manifests diverged from the originals")
        first
      } finally {
        // scratch demonstration output — reclaim it (Verify/Bench would
        // otherwise each leave an 8-bucket dump under /tmp per call)
        deleteRec(new java.io.File(outDir))
      }
    import spark.implicits._
    r1.map(r => (r.bucket, r.rowCount)).toDF("bucket", "row_count")
      .orderBy("bucket")
  }

  /** LEFT JOIN against the full bucket domain: runBucketed emits a manifest
    * row (count 0) for a bucket no conv_id hashes into, so the oracle must
    * too — count(DISTINCT NULL) = 0 on the unmatched side.
    */
  val lineageResumeSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT CAST(b.x AS INTEGER) AS bucket,
       |       count(DISTINCT t.conv_id) AS row_count
       |FROM UNNEST(generate_series(0, 7)) AS b(x)
       |LEFT JOIN t ON ${md5BucketSql("t.conv_id", 8)} = b.x
       |GROUP BY 1 ORDER BY bucket""".stripMargin

  // ------------------------------------------------- joins / ranking / JSON parity

  /** TPC-H Q1-flavor pricing summary over lineitem (the fact table no other
    * query touches) — the canonical partial+final hash-agg parity check,
    * with the repo's cross-engine rounding conventions.
    */
  def lineitemPricing(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.read(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        // exact integer folds (sumCents doctrine): quantity/price are
        // ≤2-decimal and the discounted price is exactly 4-decimal, so the
        // scaled long sums are exact on both engines; raw-double 0 dp
        // rounds of multi-row sums are the q40-class half-tie hazard
        round(sum(round(col("l_quantity") * 100).cast("long")) / 100.0, 0)
          .as("sum_qty"),
        round(sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0, 0)
          .as("sum_base_price"),
        round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")) / 10000.0, 0).as("sum_disc_price"),
        round(round(sum(col("l_discount")), 4) /
          nullif(count(lit(1)), lit(0L)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val lineitemPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 0) AS sum_qty,
      |  round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 0) AS sum_base_price,
      |  round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0, 0) AS sum_disc_price,
      |  round(round(sum(l_discount), 4) / nullif(count(*), 0), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Fact × two broadcast dimensions (part via lineitem, supplier → nation):
    * exercises the remaining untouched tables with the standard
    * broadcast-dim join shape.
    */
  def partSupplierRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.read(spark, dir, "lineitem")
    val p = Tables.read(spark, dir, "part")
    val s = Tables.read(spark, dir, "supplier")
    val n = Tables.read(spark, dir, "nation")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy("p_brand", "n_name")
      .agg(count(lit(1)).as("n_items"),
        // 4-decimal-exact fold, same rationale as q36's sum_disc_price
        round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")) / 10000.0, 0).as("revenue"))
      .orderBy("p_brand", "n_name")
  }

  val partSupplierRevenueSql: String =
    """SELECT p_brand, n_name, count(*) AS n_items,
      |  round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0, 0) AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY p_brand, n_name ORDER BY p_brand, n_name""".stripMargin

  /** supplier → nation → region rollout: the last untouched dimension chain
    * (region), counted per region.
    */
  def supplierByRegion(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.read(spark, dir, "supplier")
    val n = Tables.read(spark, dir, "nation")
    val r = Tables.read(spark, dir, "region")
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_suppliers"),
        round(sum(col("s_acctbal")), 4).as("sum_acctbal"))
      .orderBy("r_name")
  }

  val supplierByRegionSql: String =
    """SELECT r_name, count(*) AS n_suppliers,
      |  round(sum(s_acctbal), 4) AS sum_acctbal
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir)
      .cube("role", "tool")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sumCents.as("sum_value"))
      .select("role", "tool", "gid", "n", "sum_value")
      .orderBy("gid", "role", "tool")

  val cubeAggSql: String =
    s"""WITH ${Tables.transcriptsSqlCte}
       |SELECT role, tool,
       |  CAST(grouping(role) * 2 + grouping(tool) AS BIGINT) AS gid,
       |  count(*) AS n, $sumCentsSql AS sum_value
       |FROM t GROUP BY CUBE (role, tool)
       |ORDER BY gid, role, tool""".stripMargin

  // ------------------------------------------------- train/test splits

  /** Both split kinds over the transcript table, stacked: the out-of-time
    * split at the corpus midpoint and a 25% whole-entity holdout — per
    * (kind, split): row count, distinct entities, value sum. The
    * entity-level no-straddle law is pinned separately in LeakageSuite.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame = {
    // Both operators label the SAME single pass (renamed between them), then
    // one explode stacks the two (kind, split) labelings — a union of two
    // branches would scan events and run the transcripts window twice for a
    // per-row label difference.
    val labeled = Split.entityHoldout(
        Split.timeSplit(t(spark, dir), "ts", "2024-01-16 00:00:00")
          .withColumnRenamed("split", "oot_split"),
        "conv_id", testFraction = 0.25)
      .withColumnRenamed("split", "ent_split")
    labeled.select(col("conv_id"), col("value"), explode(array(
        struct(lit("oot").as("kind"), col("oot_split").as("split")),
        struct(lit("entity_holdout").as("kind"), col("ent_split").as("split"))
      )).as("ks"))
      .select(col("ks.kind").as("kind"), col("ks.split").as("split"),
        col("conv_id"), col("value"))
      .groupBy("kind", "split")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("conv_id")).as("n_convs"),
        // exact-cents sum (see sumCents): a raw-double 0 dp round sits one
        // summation-order bit away from flipping on .5 half-ties
        sumCents.as("sum_value"))
      .orderBy("kind", "split")
  }

  val trainTestSplitSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |tagged AS (
       |  SELECT 'oot' AS kind,
       |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'train' ELSE 'test' END AS split,
       |    conv_id, value
       |  FROM t
       |  UNION ALL
       |  SELECT 'entity_holdout' AS kind,
       |    CASE WHEN CAST(strpos('0123456789abcdef', substring(md5(conv_id), 31, 1)) - 1 AS INTEGER) * 16
       |           + CAST(strpos('0123456789abcdef', substring(md5(conv_id), 32, 1)) - 1 AS INTEGER) < 64
       |         THEN 'test' ELSE 'train' END AS split,
       |    conv_id, value
       |  FROM t
       |)
       |SELECT kind, split, count(*) AS n_rows,
       |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       |  $sumCentsSql AS sum_value
       |FROM tagged GROUP BY kind, split ORDER BY kind, split""".stripMargin

  def jsonAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  val jsonAggSql: String =
    """SELECT event_type,
      |  count(k) AS n_k, CAST(sum(k) AS BIGINT) AS sum_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin
}
