package graft.tjk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** O4 lag/lead + O6 forward-fill (SURVEY.md §2.1).
  *
  * The caller passes the order within the entity; it should be a total
  * order over the entity's rows. `Pipeline.backfill` passes (ts, turn_idx),
  * sessionize's order; q05's lags pass (turn_idx, ts). `lead` looks into the
  * future by construction — it exists for label/target building and is
  * flagged leaky-by-design via the `__leaky_` column-name prefix so
  * pipeline assembly can refuse to mix it into feature sets.
  */
object Offsets {

  def lags(
      df: DataFrame,
      entity: String,
      order: Seq[String],
      specs: Seq[(String, Int)]): DataFrame = {
    // Spark's lag with a NEGATIVE offset is lead: unchecked, a mistyped
    // spec would smuggle future data into a feature set under a "lag_"
    // name, bypassing the __leaky_ refusal mechanism entirely. The offsets
    // are the leakage boundary, so they are validated, not trusted.
    specs.foreach { case (c, n) =>
      require(n > 0, s"lags: offset for '$c' must be positive, got $n " +
        "(a negative lag is a future-looking lead — use Offsets.leads, " +
        "whose output carries the __leaky_ prefix)")
    }
    // one select for the whole spec family (shared Window node/sort — see
    // Rolling.windowRolling's rationale)
    val w = Window.partitionBy(col(entity)).orderBy(order.map(col): _*)
    df.select(df.columns.map(col) ++ specs.map { case (c, n) =>
      lag(col(c), n).over(w).as(s"lag_${c}_$n")
    }: _*)
  }

  def leads(
      df: DataFrame,
      entity: String,
      order: Seq[String],
      specs: Seq[(String, Int)]): DataFrame = {
    specs.foreach { case (c, n) =>
      require(n > 0, s"leads: offset for '$c' must be positive, got $n " +
        "(a negative lead is a harmless lag — use Offsets.lags, so it is " +
        "not mislabeled __leaky_)")
    }
    val w = Window.partitionBy(col(entity)).orderBy(order.map(col): _*)
    df.select(df.columns.map(col) ++ specs.map { case (c, n) =>
      lead(col(c), n).over(w).as(s"__leaky_lead_${c}_$n")
    }: _*)
  }

  /** Forward-fill: carry the last non-null value forward (never backward —
    * backward fill would leak future values into the past).
    */
  def ffill(
      df: DataFrame,
      entity: String,
      order: Seq[String],
      cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0L)
    df.select(df.columns.map(col) ++ cols.map { c =>
      last(col(c), ignoreNulls = true).over(w).as(s"ffill_$c")
    }: _*)
  }
}
