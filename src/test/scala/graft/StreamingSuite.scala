package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.tjk._

/** Batch/stream parity: the streaming session pipeline over an incremental
  * feed must produce exactly the batch sessionWindowAgg result — one
  * expression, two execution modes (SURVEY.md §2.8).
  */
class StreamingSuite extends SparkTestBase {
  import spark.implicits._

  test("streaming session aggregates == batch session_window aggregates") {
    implicit val sc = spark.sqlContext
    val turns = Gen.turnsSeq(42L, 6, 40)
    val stream = MemoryStream[Turn]
    val q = Streaming.sessionAggStream(stream.toDF(), "conv_id", "ts",
        "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete").start()
    // feed in two increments to exercise state merge across micro-batches
    val (a, b) = turns.splitAt(turns.size / 2)
    stream.addData(a); q.processAllAvailable()
    stream.addData(b); q.processAllAvailable()
    val streamed = spark.table("sess_stream")
      .select(col("conv_id"), col("session_bounds.start").as("ws"),
        col("session_start"), col("session_end"), col("n_turns"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
    q.stop()
    val batch = Sessionize.sessionWindowAgg(
        spark.createDataset(turns).toDF(), "conv_id", "ts", "30 minutes")
      .select(col("conv_id"), col("session_bounds.start").as("ws"),
        col("session_start"), col("session_end"), col("n_turns"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming rolling features (flatMapGroupsWithState) == batch window rolling") {
    implicit val sc = spark.sqlContext
    val turns = Gen.turnsSeq(43L, 5, 30).sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
    val withValue = (t: Turn) => Streaming.RollingEvent(
      t.conv_id, t.turn_idx, t.ts, t.text.length.toDouble)
    val stream = MemoryStream[Streaming.RollingEvent]
    val q = Streaming.rollingStream(stream.toDF(),
        windowMicros = 3600L * 1000000, watermark = "10 minutes")
      .writeStream.format("memory").queryName("roll_stream")
      .outputMode("append").start()
    val evs = turns.map(withValue)
    // Adversarial feed: split in three, then HOLD BACK the last 9 minutes of
    // increment A and deliver them in increment B — late, out of event-time
    // order, but inside the 10-minute watermark, so they must be admitted
    // AND produce exactly the batch result (watermark-delayed finalization).
    val (a0, rest) = evs.splitAt(evs.size / 3)
    val (b0, c0) = rest.splitAt(rest.size / 2)
    val aMax = a0.map(_.ts.getTime).max
    val (lateRows, a) = a0.partition(e => e.ts.getTime > aMax - 9 * 60 * 1000L)
    assert(lateRows.nonEmpty, "fixture must actually exercise late arrival")
    stream.addData(a); q.processAllAvailable()
    stream.addData(lateRows ++ b0); q.processAllAvailable()
    stream.addData(c0); q.processAllAvailable()
    // sentinel far in the future for a throwaway entity: advances the global
    // watermark past every real row so all buffered rows finalize
    val maxTs = evs.map(_.ts.getTime).max
    stream.addData(Seq(Streaming.RollingEvent("zzz_flush", 0,
      new Timestamp(maxTs + 3600L * 1000), 0.0)))
    q.processAllAvailable()
    // one more empty-ish batch so timeout-driven flushes run
    stream.addData(Seq(Streaming.RollingEvent("zzz_flush", 1,
      new Timestamp(maxTs + 7200L * 1000), 0.0)))
    q.processAllAvailable()
    val streamed = spark.table("roll_stream")
      .where(col("conv_id") =!= "zzz_flush")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    q.stop()
    val batch = Rolling.rollingAgg(
        turnsDf(turns), "conv_id", "ts",
        Seq(RollingSpec("value", Agg.Count, java.time.Duration.ofHours(1)),
          RollingSpec("value", Agg.Sum, java.time.Duration.ofHours(1))))
      .select("conv_id", "turn_idx", "count_value_3600s", "sum_value_3600s")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k, (bc, bs)) =>
      val (sc2, ss) = streamed(k)
      assert(sc2 == bc, s"count mismatch at $k")
      assert(NaiveOracle.allclose(Some(ss), Some(bs)), s"sum mismatch at $k: $ss vs $bs")
    }
  }

  test("streaming dedup drops duplicates within the watermark") {
    implicit val sc = spark.sqlContext
    val t0 = new Timestamp(1767225600000L)
    val stream = MemoryStream[Turn]
    val q = Streaming.dedupStream(stream.toDF(), "ts", "1 hour", Seq("conv_id", "turn_idx"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    stream.addData(Turn("c1", 0, "user", "hello", null, t0))
    q.processAllAvailable()
    stream.addData(Turn("c1", 0, "user", "hello", null, t0)) // dup within watermark
    stream.addData(Turn("c1", 1, "user", "world", null, t0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_stream").select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(got == Seq(("c1", 0), ("c1", 1)))
  }
}
