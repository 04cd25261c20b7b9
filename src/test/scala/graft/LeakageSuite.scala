package graft

import java.time.Duration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, Literal, SpecifiedWindowFrame}
import graft.tjk._

/** BASELINE.json:6 zero-temporal-leakage: structurally (plan inspection — no
  * feature frame's upper bound may exceed CurrentRow) and empirically
  * (delete-the-future property: a row's features are unchanged when all rows
  * after it are removed).
  */
class LeakageSuite extends SparkTestBase {

  private val H1 = Duration.ofHours(1)
  private val specs = Seq(
    RollingSpec("value", Agg.Count, H1),
    RollingSpec("value", Agg.Sum, H1),
    RollingSpec("tool", Agg.NUnique, H1),
    RollingSpec("value", Agg.Mean, H1, strict = true))

  test("plan inspection: every feature window frame upper bound <= CurrentRow") {
    val df = Rolling.rollingAgg(turnsDf(Gen.turnsSeq(42L, 3, 20)), "conv_id", "ts", specs)
    val frames = df.queryExecution.analyzed
      .collect { case w: LWindow => w }
      .flatMap(_.windowExpressions)
      .flatMap(_.collect { case f: SpecifiedWindowFrame => f })
    assert(frames.nonEmpty, "expected window frames in the plan")
    frames.foreach { f =>
      val ok = f.upper match {
        case CurrentRow => true
        case Literal(v: Long, _) => v <= 0L
        case Literal(v: Int, _) => v <= 0
        case other => false
      }
      assert(ok, s"leaky frame upper bound: ${f.upper}")
    }
  }

  test("delete-the-future: features at (conv, turn) unchanged when later rows removed") {
    val turns = Gen.turnsSeq(46L, 4, 40)
    val outCols = specs.map(_.outName)
    def features(ts: Seq[Turn]): Map[(String, Int), Seq[Any]] =
      Rolling.rollingAgg(turnsDf(ts), "conv_id", "ts", specs)
        .select((Seq("conv_id", "turn_idx") ++ outCols).map(col): _*)
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          outCols.indices.map(i => r.get(i + 2)))
        .toMap
    val full = features(turns)
    // Sample a handful of cut points; keep rows with ts <= cut (peers stay —
    // range frames include equal-ts peers by definition).
    val samples = turns.sortBy(t => (t.conv_id, t.turn_idx))
      .grouped(math.max(1, turns.size / 5)).map(_.head).toSeq
    samples.foreach { cut =>
      val cutM = NaiveOracle.micros(cut.ts)
      val prefix = turns.filter(t => NaiveOracle.micros(t.ts) <= cutM)
      val pf = features(prefix)
      val key = (cut.conv_id, cut.turn_idx)
      assert(pf(key) == full(key), s"leak at $key")
    }
  }

  test("delete-the-future: backfill lags never read a later ts when ts runs backwards") {
    // turn_idx and ts disagree: turn 1 happened BEFORE turn 0. A lag over
    // (turn_idx, ts) would hand turn 1 the value of turn 0, a row from its
    // future; over (ts, turn_idx) it sees only earlier-ts rows.
    val spark2 = spark
    import spark2.implicits._
    val t0 = 1700000000000L
    val rows = Seq((0, 600), (1, 0), (2, 900), (3, 300), (4, 1200))
      .map { case (i, sec) => ("c0", i, new java.sql.Timestamp(t0 + sec * 1000L), (10 + i).toDouble) }
    val spec = FeatureSpec(lags = Seq(("value", 1), ("value", 2)),
      sessionGap = Some(Duration.ofMinutes(30)))
    def features(rs: Seq[(String, Int, java.sql.Timestamp, Double)]) =
      Pipeline.backfill(rs.toDF("conv_id", "turn_idx", "ts", "value"), spec)
        .select("turn_idx", "lag_value_1", "lag_value_2").collect()
        .map(r => r.getInt(0) -> Seq(r.get(1), r.get(2))).toMap
    val full = features(rows)
    rows.foreach { case (_, i, ts, _) =>
      val prefix = rows.filter(_._3.getTime <= ts.getTime)
      assert(features(prefix)(i) == full(i), s"leak at turn $i")
    }
  }

  test("text passes through the full backfill byte-for-byte (BASELINE.json:15)") {
    val turns = Gen.turnsSeq(47L, 5, 30)
    val spec = FeatureSpec(
      rolling = Seq(RollingSpec("value", Agg.Sum, H1)),
      lags = Seq(("value", 1)),
      ffillCols = Seq("tool"),
      sessionGap = Some(Duration.ofMinutes(30)))
    val out = Pipeline.backfill(turnsDf(turns), spec)
      .select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(out.size == turns.size)
    turns.foreach { t =>
      assert(out((t.conv_id, t.turn_idx)) == t.text, s"text mutated at ${t.conv_id}:${t.turn_idx}")
    }
  }

  test("lead is quarantined behind the __leaky_ prefix") {
    val df = Offsets.leads(turnsDf(Gen.turnsSeq(42L, 2, 10)), "conv_id",
      Seq("turn_idx", "ts"), Seq(("value", 1)))
    assert(df.columns.contains("__leaky_lead_value_1"))
  }

  test("negative offsets are refused: a -1 'lag' is a lead in disguise") {
    // Spark's lag(col, -1) == lead(col, 1): unchecked it would smuggle
    // FUTURE data into a feature set under a lag_ name, bypassing the
    // __leaky_ refusal mechanism — the leakage boundary validates offsets.
    val base = turnsDf(Gen.turnsSeq(42L, 2, 10))
    intercept[IllegalArgumentException] {
      Offsets.lags(base, "conv_id", Seq("turn_idx", "ts"), Seq(("value", -1)))
    }
    intercept[IllegalArgumentException] {
      Offsets.leads(base, "conv_id", Seq("turn_idx", "ts"), Seq(("value", -1)))
    }
  }

  test("entity holdout never straddles: a conversation lands wholly in one split") {
    val turns = turnsDf(Gen.turnsSeq(44L, 40, 15))
    val split = Split.entityHoldout(turns, "conv_id", testFraction = 0.3)
    val straddlers = split.groupBy("conv_id")
      .agg(countDistinct(col("split")).as("k"))
      .where(col("k") > 1).count()
    assert(straddlers == 0, "an entity's history crossed the train/test boundary")
    // the realized entity-level test share sits near the requested fraction
    val byConv = split.select("conv_id", "split").distinct()
    val frac = byConv.where(col("split") === "test").count().toDouble /
      byConv.count()
    assert(frac > 0.1 && frac < 0.5, s"holdout fraction $frac far from 0.3")
    // deterministic: same input → identical assignment
    val again = Split.entityHoldout(turns, "conv_id", testFraction = 0.3)
      .select("conv_id", "split").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val first = byConv.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(first == again)
  }
}
