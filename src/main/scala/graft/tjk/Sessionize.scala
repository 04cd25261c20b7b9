package graft.tjk

import java.time.Duration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** O7 — sessionization by inactivity gap (SURVEY.md §2.1), two forms:
  *
  *  - [[sessionize]] (window form): per-row `session_seq`/`session_id`.
  *    A new session starts when `ts − prev(ts) > gap` (first turn of a
  *    conversation always starts one). `session_id = "<conv_id>#<k>"`, k =
  *    running count of session starts — stable under reprocessing.
  *    NULL-ts semantics (stated, since `ts` is non-null in the mandated
  *    input schema): null-ts rows sort first within the entity and EACH
  *    opens its own session — an unknown time carries no gap evidence,
  *    and this is exactly what the lag-based SQL window formulation
  *    evaluates to, so engine and oracle agree by construction.
  *  - [[sessionWindowAgg]] (session_window form): session-level aggregates
  *    via Spark's `session_window`, which works in batch (probed, SURVEY.md
  *    §2.9) and is the identical expression a Structured Streaming
  *    incremental mode would use. Probed boundary semantics match the window
  *    form: a row at exactly `prev + gap` merges into the session; only a
  *    gap strictly greater than the threshold splits.
  */
object Sessionize {

  def sessionize(
      df: DataFrame,
      entity: String,
      tsCol: String,
      tieCol: String,
      gap: Duration): DataFrame = {
    val gapMicros = micros(gap)
    val w = Window.partitionBy(col(entity)).orderBy(col(tsCol), col(tieCol))
    val run = w.rowsBetween(Window.unboundedPreceding, 0L)
    val prev = lag(tsMicros(col(tsCol)), 1).over(w)
    df
      .withColumn("__new_session",
        when(prev.isNull || tsMicros(col(tsCol)) - prev > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("__new_session")).over(run))
      .withColumn("session_id",
        concat(col(entity), lit("#"), col("session_seq").cast("string")))
      .drop("__new_session")
  }

  /** Per-session aggregates derived from the window form (oracle-matched).
    * Grouping is by (entity, session_seq), NOT by the concatenated
    * session_id: for a NULL entity the concat is null for every row, which
    * would collapse all of that entity's sessions into one; session_seq
    * keeps them distinct (null entities group together under
    * Window.partitionBy, same as the SQL formulation).
    */
  def sessionAgg(
      df: DataFrame,
      entity: String,
      tsCol: String,
      tieCol: String,
      gap: Duration): DataFrame =
    sessionize(df, entity, tsCol, tieCol, gap)
      .groupBy(col(entity), col("session_seq"))
      .agg(
        first(col("session_id")).as("session_id"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_turns"))
      .drop("session_seq")
      .select(col(entity), col("session_id"),
        col("session_start"), col("session_end"), col("n_turns"))

  /** Per-session aggregates via Spark's native session_window (batch/stream
    * parity path). `gapExpr` e.g. "30 minutes".
    */
  def sessionWindowAgg(
      df: DataFrame,
      entity: String,
      tsCol: String,
      gapExpr: String): DataFrame =
    df.groupBy(col(entity), session_window(col(tsCol), gapExpr))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_turns"))
      .withColumnRenamed("session_window", "session_bounds")
}
