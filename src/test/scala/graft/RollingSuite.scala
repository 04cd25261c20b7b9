package graft

import org.apache.spark.sql.Row
import graft.tjk._

class RollingSuite extends SparkTestBase {

  test("WindowNUnique as a GROUPED aggregate == count_distinct (serialize/merge path)") {
    // Window frames never serialize the typed-imperative buffer; a grouped
    // aggregation's partial/final exchange does — pin that whole path
    // (update → serialize → exchange → deserialize → merge → eval) against
    // the builtin, across partitions and with nulls present.
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    graft.tjk.expressions.NativeFunctions.register(spark)
    val df = (0 until 1000)
      .map(i => (s"g${i % 7}", if (i % 11 == 0) null else s"v${i % 37}"))
      .toDF("g", "v").repartition(9)
    val got = df.groupBy("g")
      .agg(call_function("tjk_window_nunique", col("v")).as("nu"),
        count_distinct(col("v")).as("cd"))
      .collect()
    assert(got.length == 7)
    got.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"group ${r.getString(0)}: ${r.getLong(1)} vs ${r.getLong(2)}"))
  }

  private val H1 = java.time.Duration.ofHours(1)
  private val W = micros(H1)

  private def opt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  for (seed <- Seq(42L, 43L, 44L)) {
    test(s"rolling time-window aggs match the naive oracle (seed=$seed)") {
      val turns = Gen.turnsSeq(seed, 8, 40)
      val df = turnsDf(turns)
      val specs = Seq(
        RollingSpec("value", Agg.Count, H1),
        RollingSpec("value", Agg.Sum, H1),
        RollingSpec("value", Agg.Mean, H1),
        RollingSpec("value", Agg.Min, H1),
        RollingSpec("value", Agg.Max, H1),
        RollingSpec("tool", Agg.NUnique, H1),
        RollingSpec("value", Agg.Count, H1, strict = true),
        RollingSpec("value", Agg.Sum, H1, strict = true),
        RollingSpec("tool", Agg.NUnique, H1, strict = true))
      val out = Rolling.rollingAgg(df, "conv_id", "ts", specs)
        .select("conv_id", "turn_idx",
          "count_value_3600s", "sum_value_3600s", "mean_value_3600s",
          "min_value_3600s", "max_value_3600s", "nunique_tool_3600s",
          "count_value_3600s_strict", "sum_value_3600s_strict",
          "nunique_tool_3600s_strict")
        .collect()
      assert(out.length == turns.length)

      val num = (t: Turn) => Some(t.text.length.toDouble)
      val dis = (t: Turn) => Option(t.tool)
      val oracle = NaiveOracle.rolling(turns, num, dis, W, strict = false)
      val oracleS = NaiveOracle.rolling(turns, num, dis, W, strict = true)

      out.foreach { r =>
        val key = (r.getString(0), r.getInt(1))
        val o = oracle(key)
        val os = oracleS(key)
        assert(r.getLong(2) == o.count, s"count at $key")
        assert(NaiveOracle.allclose(opt(r, 3), o.sum), s"sum at $key")
        assert(NaiveOracle.allclose(opt(r, 4), o.mean), s"mean at $key")
        assert(NaiveOracle.allclose(opt(r, 5), o.min), s"min at $key")
        assert(NaiveOracle.allclose(opt(r, 6), o.max), s"max at $key")
        assert(r.getLong(7) == o.nunique, s"nunique at $key")
        assert(r.getLong(8) == os.count, s"strict count at $key")
        assert(NaiveOracle.allclose(opt(r, 9), os.sum), s"strict sum at $key")
        assert(r.getLong(10) == os.nunique, s"strict nunique at $key")
      }
    }
  }

  test("row-frame aggs: trailing 2 rows with ts ties broken by turn_idx") {
    // conv c: 4 turns, turns 1 and 2 share ts — row frame must use turn_idx
    // as tie-breaker, not frame peers (unlike range frames).
    val base = 1767225600000L
    def t(idx: Int, tsMs: Long, len: Int) =
      Turn("c", idx, "user", "x" * len, null, new java.sql.Timestamp(tsMs))
    val turns = Seq(t(0, base, 1), t(1, base + 1000, 2), t(2, base + 1000, 3), t(3, base + 9000, 4))
    val out = Rolling.rowsAgg(turnsDf(turns), "conv_id", "ts", "turn_idx",
        Seq(RowsSpec("value", Agg.Sum, 1)))
      .select("turn_idx", "sum_value_r1").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out == Map(0 -> 1.0, 1 -> 3.0, 2 -> 5.0, 3 -> 7.0))
  }

  test("a 500 µs window over turns 300 µs apart keeps its sub-millisecond width") {
    import org.apache.spark.sql.functions._
    val w = java.time.Duration.ofNanos(500000L)
    val df = spark.range(4L).select(lit("c").as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      timestamp_micros(lit(1767225600000000L) + col("id") * 300L).as("ts"),
      (col("id") + 1).cast("double").as("value"))
    val out = Rolling.rollingAgg(df, "conv_id", "ts", Seq(
        RollingSpec("value", Agg.Count, w),
        RollingSpec("value", Agg.Sum, w),
        RollingSpec("value", Agg.Sum, w, strict = true)))
      .select("turn_idx", "count_value_500us", "sum_value_500us",
        "sum_value_500us_strict")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    // turns at 0, 300, 600, 900 µs with values 1..4: [ts − 500, ts] holds
    // the turn itself and the one before it (except the first)
    assert(out == Map(
      0 -> ((1L, 1.0, None)), 1 -> ((2L, 3.0, Some(1.0))),
      2 -> ((2L, 5.0, Some(2.0))), 3 -> ((2L, 7.0, Some(3.0)))))
  }

  test("windows that differ below a second get distinct output names") {
    import java.time.Duration
    val specs = Seq(Duration.ZERO, Duration.ofNanos(500000L),
      Duration.ofSeconds(1), Duration.ofMillis(1500))
      .map(RollingSpec("value", Agg.Count, _))
    val out = Rolling.rollingAgg(turnsDf(Seq(Turn("c", 0, "user", "x", null,
      new java.sql.Timestamp(1767225600000L)))), "conv_id", "ts", specs)
    val names = specs.map(_.outName)
    assert(names == Seq("count_value_0s", "count_value_500us",
      "count_value_1s", "count_value_1500000us"))
    assert(out.columns.count(names.contains) == 4)
  }

  test("range frame includes equal-ts peers; strict frame excludes them") {
    val base = 1767225600000L
    def t(idx: Int, tsMs: Long, len: Int) =
      Turn("c", idx, "user", "x" * len, null, new java.sql.Timestamp(tsMs))
    val turns = Seq(t(0, base, 1), t(1, base + 1000, 2), t(2, base + 1000, 4))
    val out = Rolling.rollingAgg(turnsDf(turns), "conv_id", "ts", Seq(
        RollingSpec("value", Agg.Sum, H1),
        RollingSpec("value", Agg.Sum, H1, strict = true)))
      .select("turn_idx", "sum_value_3600s", "sum_value_3600s_strict")
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2)))).toMap
    // non-strict at turn 1 and 2: both peers at base+1s included → 1+2+4
    val m = out
    assert(m(0) == (1.0, -1.0)) // strict empty → null (encoded -1)
    assert(m(1) == (7.0, 1.0))
    assert(m(2) == (7.0, 1.0))
  }
}
