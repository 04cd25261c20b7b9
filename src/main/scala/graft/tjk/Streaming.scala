package graft.tjk

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental (Structured Streaming) mode — SURVEY.md §2.8 / §7.6 stretch.
  *
  * The batch engine's session form (b) was chosen precisely so the SAME
  * expression (`session_window(ts, gap)`) drives both modes: one code path,
  * batch/stream parity by construction (pinned in StreamingSuite). Watermark
  * bounds state: sessions older than the watermark are finalized and their
  * state dropped — the streaming analogue of the batch job's bucket commit.
  *
  * Scale shape: state is keyed by (conv_id, session), partitioned by the
  * shuffle on conv_id; late rows beyond the watermark are dropped rather than
  * corrupting closed sessions (the streaming equivalent of zero leakage into
  * already-emitted feature rows).
  */
object Streaming {

  /** Streaming session aggregates over an (append) stream of turns.
    * `df` must be a streaming DataFrame with the transcript schema.
    * DELEGATES to the batch form — the "one code path, parity by
    * construction" claim above is kept true structurally, not by keeping
    * two copies in sync by hand; only the watermark differs.
    */
  def sessionAggStream(
      df: DataFrame,
      entity: String,
      tsCol: String,
      gapExpr: String,
      watermark: String): DataFrame =
    Sessionize.sessionWindowAgg(
      df.withWatermark(tsCol, watermark), entity, tsCol, gapExpr)

  case class RollingEvent(conv_id: String, turn_idx: Int,
      ts: java.sql.Timestamp, value: Double)
  case class RollingFeature(conv_id: String, turn_idx: Int,
      ts: java.sql.Timestamp, count_w: Long, sum_w: Double)
  /** `pending` = admitted rows not yet finalized (awaiting the watermark);
    * `window` = the live trailing-frame event set of FINALIZED rows.
    */
  case class RollState(
      pending: Seq[(Long, Int, java.sql.Timestamp, Double)],
      window: Seq[(Long, Double)])

  // java.sql.Timestamp → epoch micros (getTime carries millis; getNanos the
  // full sub-second part)
  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  /** The finalization core of [[rollingStream]] — rows strictly below the
    * watermark are final (nothing earlier can ever be admitted again; a
    * whole equal-ts group crosses at once), each finalized equal-ts group
    * sees the full trailing window of finalized events.
    *
    * Returns (state after this step, rows finalized this step).
    */
  private def advanceState(
      key: String,
      prior: RollState,
      incoming: Iterator[RollingEvent],
      wmMicros: Long,
      windowMicros: Long): (RollState, Vector[RollingFeature]) = {
    val pending = (prior.pending.toVector ++
      incoming.map(e => (micros(e.ts), e.turn_idx, e.ts, e.value)))
      .sortBy(p => (p._1, p._2))
    val (ready, stillPending) = pending.partition(_._1 < wmMicros)
    var window = prior.window.toVector
    val out = Vector.newBuilder[RollingFeature]
    var i = 0
    while (i < ready.size) {
      val t = ready(i)._1
      var j = i
      while (j < ready.size && ready(j)._1 == t) j += 1
      window = window.dropWhile(_._1 < t - windowMicros) ++
        ready.slice(i, j).map(p => (p._1, p._4))
      val cnt = window.size.toLong
      val sum = window.iterator.map(_._2).sum
      (i until j).foreach { r =>
        out += RollingFeature(key, ready(r)._2, ready(r)._3, cnt, sum)
      }
      i = j
    }
    (RollState(stillPending, window), out.result())
  }

  /** When this group next needs waking: as soon as the OLDEST pending row
    * becomes final (each row flushes promptly, not when the newest does);
    * with nothing pending, one window past the last finalized event (idle
    * GC). Never at/below the current watermark — the timeout API rejects it.
    */
  private def nextWakeMs(st: RollState, wmMs: Long, windowMicros: Long): Long = {
    val wake =
      if (st.pending.nonEmpty) st.pending.map(_._1).min / 1000L + 1L
      else st.window.lastOption.map(_._1 / 1000L + windowMicros / 1000L + 1L)
        .getOrElse(wmMs + windowMicros / 1000L + 1L)
    math.max(wake, wmMs + 1L)
  }

  /** Incremental trailing-window features (count/sum over `[ts − W, ts]`)
    * via `flatMapGroupsWithState` — the custom-state streaming path for the
    * rolling semantics session_window cannot express (SURVEY.md §2.8).
    *
    * Correctness under out-of-order arrival is by WATERMARK-DELAYED
    * FINALIZATION, not by trusting arrival order: admitted rows buffer in
    * state, and a row is emitted only once the watermark passes its event
    * time — at which point Spark guarantees no earlier-ts row can ever be
    * admitted, so finalization order IS event-time order, globally. Each
    * finalized row's frame is computed from the sliding window of already-
    * finalized events, in equal-ts groups (the batch engine's RANGE-frame
    * convention: all equal-ts rows see each other — and since equal-ts rows
    * finalize at the same watermark, a tie straddling micro-batches still
    * emits identical full-frame values). The frame can therefore never
    * contain an event with ts > the row's ts: the zero-leakage invariant
    * holds for ANY arrival order the watermark admits, at the price of
    * emission latency = the watermark delay — and, as with every
    * append-mode watermark aggregation (session_window included), rows the
    * watermark never passes (the final watermark-delay of a stopped stream)
    * stay buffered unemitted; a terminal flush requires advancing the
    * watermark past them (e.g. a sentinel heartbeat event), not a special
    * code path here.
    *
    * State is bounded: the window holds ≤ W of finalized events, pending
    * holds ≤ watermark-delay of admitted rows. A group whose pending set is
    * non-empty schedules an event-time timeout just past its max pending ts
    * so buffered rows flush as soon as the (globally-driven) watermark
    * passes them, even if the entity itself goes silent; an idle group with
    * nothing pending times out and drops its state entirely.
    */
  def rollingStream(
      df: DataFrame, // streaming, transcript schema + value
      windowMicros: Long,
      watermark: String): Dataset[RollingFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("conv_id", "turn_idx", "ts", "value").as[RollingEvent]
      .withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[RollingEvent], state: GroupState[RollState]) => {
          val prior = state.getOption.getOrElse(RollState(Nil, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val (next, out) = advanceState(key, prior, rows, wmMs * 1000L, windowMicros)
          if (next.pending.isEmpty && state.hasTimedOut && out.isEmpty) {
            state.remove()
          } else {
            state.update(next)
            state.setTimeoutTimestamp(nextWakeMs(next, wmMs, windowMicros))
          }
          out.iterator
        })
  }
}
