package graft

import java.sql.Timestamp
import java.time.Duration
import graft.tjk._

class SessionizeSuite extends SparkTestBase {

  private val GAP = Duration.ofMinutes(30)
  private val base = 1767225600000L

  private def t(idx: Int, offSec: Long) =
    Turn("c", idx, "user", s"t$idx", null, new Timestamp(base + offSec * 1000))

  test("gap exactly == threshold stays in session; gap+1s splits (window form)") {
    val turns = Seq(t(0, 0), t(1, 1800), t(2, 1800 + 1801), t(3, 1800 + 1801 + 10))
    val got = Sessionize.sessionize(turnsDf(turns), "conv_id", "ts", "turn_idx", GAP)
      .select("turn_idx", "session_seq", "session_id").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == Map(
      0 -> ((1L, "c#1")), 1 -> ((1L, "c#1")),
      2 -> ((2L, "c#2")), 3 -> ((2L, "c#2"))))
  }

  test("a 500 µs gap: turns 300 µs apart stay in session, 600 µs apart split") {
    import org.apache.spark.sql.functions._
    val offsets = Seq(0L, 300L, 600L, 1200L, 1500L)
    val df = spark.createDataFrame(offsets.zipWithIndex.map { case (m, i) => (i, m) })
      .toDF("turn_idx", "m")
      .select(lit("c").as("conv_id"), col("turn_idx"),
        timestamp_micros(lit(base * 1000L) + col("m")).as("ts"))
    val got = Sessionize.sessionize(df, "conv_id", "ts", "turn_idx", Duration.ofNanos(500000L))
      .orderBy("turn_idx").select("session_seq").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 1L, 1L, 2L, 2L))
  }

  test("session_window form agrees with window form at the gap boundary (probed)") {
    // Probed on Spark 4.1.2: a turn at exactly prev+gap MERGES into the
    // session; only gap > threshold splits — identical to the window form.
    val turns = Seq(t(0, 0), t(1, 1800), t(2, 1800 + 1801))
    val n = Sessionize.sessionWindowAgg(turnsDf(turns), "conv_id", "ts", "30 minutes")
      .count()
    assert(n == 2L)
  }

  for (seed <- Seq(42L, 43L, 44L)) {
    test(s"window-form sessionize matches naive oracle (seed=$seed)") {
      val turns = Gen.turnsSeq(seed, 8, 60)
      val got = Sessionize.sessionize(turnsDf(turns), "conv_id", "ts", "turn_idx", GAP)
        .select("conv_id", "turn_idx", "session_seq").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val want = NaiveOracle.sessionSeq(turns, micros(GAP))
      assert(got == want)
    }
  }

  test("sessionAgg keeps a NULL entity's sessions distinct (no concat collapse)") {
    // session_id = concat(entity, '#', seq) is null for every null-entity
    // row; grouping by that string would collapse ALL of the entity's
    // sessions into one row. Grouping is by session_seq instead.
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(0L, 1L, 7200L, 7201L, 14400L).zipWithIndex.map {
      case (s, i) => (null: String, i, new java.sql.Timestamp(1700000000000L + s * 1000L))
    }
    val df = rows.toDF("conv_id", "turn_idx", "ts")
    val out = Sessionize.sessionAgg(df, "conv_id", "ts", "turn_idx",
      java.time.Duration.ofMinutes(30)).orderBy("session_start").collect()
    assert(out.length == 3, s"expected 3 sessions, got ${out.length}")
    assert(out.map(_.getLong(4)).toSeq == Seq(2L, 2L, 1L))
    assert(out.forall(_.isNullAt(1))) // session_id stays null for null entity
  }

  test("sessionAgg bounds: gaps within session <= gap, session count matches") {
    val turns = Gen.turnsSeq(45L, 5, 60)
    val aggs = Sessionize.sessionAgg(turnsDf(turns), "conv_id", "ts", "turn_idx", GAP)
      .collect()
    val bySession = NaiveOracle.sessionSeq(turns, micros(GAP))
      .groupBy { case ((cid, _), seq) => (cid, seq) }
    assert(aggs.length == bySession.size)
    aggs.foreach { r =>
      val start = r.getAs[Timestamp]("session_start")
      val end = r.getAs[Timestamp]("session_end")
      assert(!start.after(end))
    }
  }
}
