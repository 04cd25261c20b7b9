package graft

import java.sql.Timestamp
import java.time.Duration
import org.apache.spark.sql.DataFrame
import graft.tjk._

class AsOfSuite extends SparkTestBase {
  import spark.implicits._

  private val base = 1767225600000L // ms
  private def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)

  // events: (entity, ev_ts, tie, pv)
  private val events = Seq(
    ("a", ts(0), 1L, 1.0),     // 10:00:00-ish baseline
    ("a", ts(0), 2L, 2.0),     // tie on ts → greater tie wins
    ("a", ts(3600), 1L, 3.0),  // +1h
    ("b", ts(100), 1L, 9.0))
  // spine: (entity, turn_idx, ts)
  private val spine = Seq(
    ("a", 0, ts(-1)),     // before anything
    ("a", 1, ts(0)),      // exact match
    ("a", 2, ts(1800)),   // between
    ("a", 3, ts(3600)),   // exact on second event
    ("a", 4, ts(3600 + 7200)), // 2h after last event
    ("b", 5, ts(99)),     // strict vs non-strict boundary is elsewhere
    ("c", 6, ts(500)))    // entity with no events

  private def spineDf: DataFrame = spine.toDF("conv_id", "turn_idx", "ts")
  private def eventsDf: DataFrame = events.toDF("conv_id", "ev_ts", "tie", "pv")

  private def run(
      f: (DataFrame, DataFrame, String, String, String, Seq[String],
          Option[String], Option[Duration], Boolean) => DataFrame,
      strict: Boolean, tol: Option[Duration]): Map[Int, Option[Double]] =
    f(spineDf, eventsDf, "conv_id", "ts", "ev_ts", Seq("pv"), Some("tie"), tol, strict)
      .select("turn_idx", "pv").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap

  private val primary = (s: DataFrame, e: DataFrame, en: String, st: String,
      et: String, p: Seq[String], tie: Option[String], tol: Option[Duration],
      strict: Boolean) => AsOf.asofJoin(s, e, en, st, et, p, tie, tol, strict)
  private val merge = (s: DataFrame, e: DataFrame, en: String, st: String,
      et: String, p: Seq[String], tie: Option[String], tol: Option[Duration],
      strict: Boolean) => AsOf.asofJoinMerge(s, e, en, st, et, p, tie, tol, strict)

  private def naive(strict: Boolean, tol: Option[Duration]): Map[Int, Option[Double]] = {
    val sp = spine.map { case (e, _, t) => (e, t.getTime * 1000L) }
    val ev = events.map { case (e, t, tie, v) => (e, t.getTime * 1000L, tie, v) }
    val res = NaiveOracle.asof(sp, ev, strict, tol.map(micros))
    spine.map(_._2).zip(res).toMap
  }

  for ((name, f) <- Seq("window-primary" -> primary,
      "sort-merge-fallback" -> merge)) {
    test(s"$name: backward, ties by greatest tie, exact matches included") {
      val got = run(f, strict = false, tol = None)
      assert(got == Map(0 -> None, 1 -> Some(2.0), 2 -> Some(2.0),
        3 -> Some(3.0), 4 -> Some(3.0), 5 -> None, 6 -> None))
      assert(got == naive(strict = false, None))
    }
    test(s"$name: strict excludes exact matches") {
      val got = run(f, strict = true, tol = None)
      assert(got == Map(0 -> None, 1 -> None, 2 -> Some(2.0),
        3 -> Some(2.0), 4 -> Some(3.0), 5 -> None, 6 -> None))
      assert(got == naive(strict = true, None))
    }
    test(s"$name: tolerance boundary — exactly at tol kept, beyond nulled") {
      val got = run(f, strict = false, tol = Some(Duration.ofHours(2)))
      // turn 4: asof − match = 2h == tol → kept
      assert(got(4) == Some(3.0))
      val got2 = run(f, strict = false, tol = Some(Duration.ofMinutes(119)))
      assert(got2(4) == None)
      assert(got == naive(strict = false, Some(Duration.ofHours(2))))
      assert(got2 == naive(strict = false, Some(Duration.ofMinutes(119))))
    }
  }

  test("null spine ts, null event ts and null entities: every spine row once, unmatched ⇒ null") {
    val ev = Seq[(String, Timestamp, Long, Double)](
      ("a", ts(0), 1L, 1.0),
      ("a", null, 2L, 2.0),    // null event ts: never a match
      (null, ts(0), 3L, 3.0),  // null event entity: never a match
      ("b", ts(100), 4L, 4.0)).toDF("conv_id", "ev_ts", "tie", "pv")
    val sp = Seq[(String, Int, Timestamp)](
      ("a", 0, ts(10)),        // matches the one valid "a" event
      ("a", 1, null),          // null spine ts: nothing precedes it
      ("a", 2, ts(-10)),       // before every valid "a" event
      (null, 3, ts(10)),       // null spine entity: no entity to match
      (null, 4, null),
      ("b", 5, null),
      ("b", 6, ts(200))).toDF("conv_id", "turn_idx", "ts")
    val want = Map(0 -> Some(1.0), 1 -> None, 2 -> None, 3 -> None,
      4 -> None, 5 -> None, 6 -> Some(4.0))
    for (strict <- Seq(false, true); tol <- Seq(None, Some(Duration.ofHours(1)))) {
      val got = Seq(primary, merge).map { f =>
        val rows = f(sp, ev, "conv_id", "ts", "ev_ts", Seq("pv"), Some("tie"), tol, strict)
          .select("turn_idx", "pv").collect()
        val ids = rows.map(_.getInt(0))
        assert(ids.sorted.toSeq == (0 to 6), s"spine rows lost or duplicated: ${ids.sorted.toSeq}")
        rows.map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      }
      assert(got.head == want, s"strict=$strict tol=$tol")
      assert(got(1) == got.head, s"primary vs merge strict=$strict tol=$tol")
    }
  }

  for (seed <- Seq(42L, 43L)) {
    test(s"primary == fallback == naive on generated data (seed=$seed)") {
      val turns = Gen.turnsSeq(seed, 6, 50)
      // spine = all turns; events = tool turns, payload = text length
      val sp = turns.map(t => (t.conv_id, t.turn_idx, t.ts)).toDF("conv_id", "turn_idx", "ts")
      val evSeq = turns.filter(_.tool != null)
      val ev = evSeq.map(t => (t.conv_id, t.ts, t.turn_idx.toLong, t.text.length.toDouble))
        .toDF("conv_id", "ev_ts", "tie", "pv")
      for (strict <- Seq(false, true); tol <- Seq(None, Some(Duration.ofMinutes(30)))) {
        val a = AsOf.asofJoin(sp, ev, "conv_id", "ts", "ev_ts", Seq("pv"), Some("tie"), tol, strict)
          .select("conv_id", "turn_idx", "pv").collect()
          .map(r => (r.getString(0), r.getInt(1)) ->
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
        val b = AsOf.asofJoinMerge(sp, ev, "conv_id", "ts", "ev_ts", Seq("pv"), Some("tie"), tol, strict)
          .select("conv_id", "turn_idx", "pv").collect()
          .map(r => (r.getString(0), r.getInt(1)) ->
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
        assert(a == b, s"primary vs fallback strict=$strict tol=$tol")
        val nsp = turns.map(t => (t.conv_id, NaiveOracle.micros(t.ts)))
        val nev = evSeq.map(t => (t.conv_id, NaiveOracle.micros(t.ts), t.turn_idx.toLong, t.text.length.toDouble))
        val n = turns.map(t => (t.conv_id, t.turn_idx))
          .zip(NaiveOracle.asof(nsp, nev, strict, tol.map(micros))).toMap
        assert(a == n, s"engine vs naive strict=$strict tol=$tol")
      }
    }
  }
}
