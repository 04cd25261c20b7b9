package graft.tjk

import java.sql.Timestamp
import java.time.Duration
import org.apache.spark.sql.types._

/** Input row shape mandated by BASELINE.json:15 (SURVEY.md §1.1).
  * The reference checkout is empty (SURVEY.md §0.1), so no reference
  * file:line citations are possible; semantics are pinned by the in-repo
  * oracle (src/test/scala/graft/NaiveOracle.scala) per SURVEY.md §0.3.
  */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

object Turn {
  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))
}

/** Rolling aggregate kinds (BASELINE.json:6: count/sum/mean/min/max/nunique). */
sealed trait Agg { def name: String }
object Agg {
  case object Count extends Agg { val name = "count" }
  case object Sum extends Agg { val name = "sum" }
  case object Mean extends Agg { val name = "mean" }
  case object Min extends Agg { val name = "min" }
  case object Max extends Agg { val name = "max" }
  case object NUnique extends Agg { val name = "nunique" }
  val all: Seq[Agg] = Seq(Count, Sum, Mean, Min, Max, NUnique)
}

/** Skew policy for [[Rolling.rollingAgg]] (SURVEY.md §4.2: AQE splits
  * skewed JOINS only — a Window node still processes each hot entity on ONE
  * task, so the engine must route hot entities itself).
  */
sealed trait SkewPolicy
object SkewPolicy {
  /** DEFAULT: detect hot entities (per-entity row count over
    * [[Rolling.HotThreshold]], sampled on large inputs) and route them
    * through the exact chunked path; everything else keeps the
    * single-Window-node plan. Costs one cheap detection job at plan
    * construction; results are identical either way (chunking is
    * result-invariant, property-pinned in SkewSuite).
    */
  case object Auto extends SkewPolicy
  /** Single Window node, no detection job — the one way to turn the skew
    * router off: for inputs KNOWN to carry no hot entity (tiny dimensions,
    * pre-bucketed slices) or for benchmarking the raw window path. A whale
    * entity on this path owns one task end-to-end.
    */
  case object WindowOnly extends SkewPolicy
}

/** One time-window rolling feature: agg(col) over the trailing window
  * [ts − window, ts] (strict ⇒ [ts − window, ts), zero-leakage either way —
  * the frame upper bound never exceeds the current row's ts).
  */
case class RollingSpec(
    col: String,
    agg: Agg,
    window: Duration,
    strict: Boolean = false) {
  require(!window.isNegative, s"$this: negative window")
  def windowMicros: Long = micros(window)
  def outName: String =
    s"${agg.name}_${col}_${windowName(window)}" + (if (strict) "_strict" else "")
}

/** One row-frame rolling feature: agg(col) over the trailing n rows
  * (current row included), ordered by (ts, tieCol) within the entity.
  */
case class RowsSpec(col: String, agg: Agg, rowsBack: Int) {
  def outName: String = s"${agg.name}_${col}_r${rowsBack}"
}
