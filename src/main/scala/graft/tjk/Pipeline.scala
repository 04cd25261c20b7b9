package graft.tjk

import java.time.Duration
import org.apache.spark.sql.DataFrame

/** O5 — feature backfill: materialize the feature matrix at EVERY historical
  * `(conv_id, ts)` of the transcript table (the spine is the table itself, so
  * no join is needed — BASELINE.json:2 "windowed feature backfill"). External
  * event tables are attached point-in-time via AsOf. All window features
  * share one `partitionBy(conv_id)` family, so the whole backfill costs one
  * exchange plus per-frame sorts (SURVEY.md §4.1 exchange reuse).
  */
case class FeatureSpec(
    rolling: Seq[RollingSpec] = Nil,
    rows: Seq[RowsSpec] = Nil,
    lags: Seq[(String, Int)] = Nil,
    ffillCols: Seq[String] = Nil,
    sessionGap: Option[Duration] = None)

object Pipeline {

  private val entity = "conv_id"
  private val tsCol = "ts"
  private val tieCol = "turn_idx"

  /** Over the transcript schema of BASELINE.json: entity `conv_id`, event
    * time `ts`, tie-break `turn_idx`. `skewPolicy` threads to every rolling
    * call. Under the default Auto one detection job runs, and the session
    * detection cache collapses repeated calls over the same input to that
    * ONE job; WindowOnly runs none and routes nothing. Lags, ffill and sessionize all order by (ts, turn_idx): a lag
    * never reads a row with a later ts (even when ts runs backwards against
    * turn_idx), and the three share one sort.
    */
  def backfill(
      turns: DataFrame,
      spec: FeatureSpec,
      skewPolicy: SkewPolicy = SkewPolicy.Auto): DataFrame = {
    var df = turns
    if (spec.rolling.nonEmpty)
      df = Rolling.rollingAgg(df, entity, tsCol, spec.rolling, skewPolicy)
    if (spec.rows.nonEmpty) df = Rolling.rowsAgg(df, entity, tsCol, tieCol, spec.rows)
    if (spec.lags.nonEmpty) df = Offsets.lags(df, entity, Seq(tsCol, tieCol), spec.lags)
    if (spec.ffillCols.nonEmpty) df = Offsets.ffill(df, entity, Seq(tsCol, tieCol), spec.ffillCols)
    spec.sessionGap.foreach { g => df = Sessionize.sessionize(df, entity, tsCol, tieCol, g) }
    df
  }
}
