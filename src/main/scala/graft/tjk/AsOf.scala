package graft.tjk

import java.time.Duration
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O1 — point-in-time / as-of join, backward direction (SURVEY.md §2.1).
  *
  * For each spine row `(entity, asof_ts)`, attach the payload of the single
  * event row with the same entity and the greatest `event_ts ≤ asof_ts`
  * (`strict` ⇒ `event_ts < asof_ts`); ties on `event_ts` broken by greatest
  * `tieCol` (stable ordering, BASELINE.json:15). Optional `tolerance`: a
  * match older than `asof_ts − tolerance` is nulled out. Spark 4.1.2 has no
  * native ASOF JOIN (probed — SURVEY.md §2.9), hence this operator.
  *
  * Two physical paths with identical results:
  *
  *  - [[asofJoin]] (primary, Catalyst-expressible): union-tag both sides,
  *    one window pass `last(payload, ignoreNulls)` over
  *    `(ts, tag, tie)` — a single shuffle + sort, fully codegen-planned,
  *    AQE-skew-aware. Scale shape: ONE exchange regardless of payload width.
  *  - [[asofJoinMerge]] (mandated fallback, BASELINE.json:6): repartition by
  *    entity + sortWithinPartitions, then a streaming two-pointer merge in
  *    `mapPartitions` over the co-sorted layout — O(1) memory per partition,
  *    for cases where window-frame semantics can't express the PIT variant.
  *
  * Zero-leakage is structural: an event can only be seen by spine rows that
  * sort after it (ties ordered by the tag so `strict`/non-strict is exact).
  */
object AsOf {

  /** Primary Catalyst path. `payload` = event columns to attach; they must
    * not collide with spine column names.
    */
  def asofJoin(
      spine: DataFrame,
      events: DataFrame,
      entity: String,
      spineTs: String,
      eventTs: String,
      payload: Seq[String],
      tieCol: Option[String] = None,
      tolerance: Option[Duration] = None,
      strict: Boolean = false): DataFrame = {
    val (sp, ev, spTag) = tagged(spine, events, entity, spineTs, eventTs, payload, tieCol, strict)
    val unioned = sp.unionByName(ev)
    val w = Window.partitionBy(col("__e"))
      .orderBy(col("__tm").asc, col("__tag").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, 0L)
    val matched = unioned
      .withColumn("__match", last(col("__pay"), ignoreNulls = true).over(w))
      .where(col("__tag") === spTag)
    val withTol = applyTolerance(matched, tolerance)
    finish(withTol, payload)
  }

  /** Fallback: sort-merge over co-sorted partitions, streaming two-pointer in
    * mapPartitions (no window state; no whole-partition buffering).
    */
  def asofJoinMerge(
      spine: DataFrame,
      events: DataFrame,
      entity: String,
      spineTs: String,
      eventTs: String,
      payload: Seq[String],
      tieCol: Option[String] = None,
      tolerance: Option[Duration] = None,
      strict: Boolean = false): DataFrame = {
    val (sp, ev, spTag) = tagged(spine, events, entity, spineTs, eventTs, payload, tieCol, strict)
    val unioned = sp.unionByName(ev)
    // Co-partition by entity, co-sort on (entity, ts, tag, tie) — the layout
    // mandated by BASELINE.json:6 for the merge fallback.
    val sorted = unioned
      .repartition(unioned.sparkSession.sessionState.conf.numShufflePartitions, col("__e"))
      .sortWithinPartitions(col("__e"), col("__tm"), col("__tag"), col("__tie"))

    val spineSchema = spine.schema
    val paySchema = ev.schema("__pay").dataType.asInstanceOf[StructType]
    val outSchema = StructType(
      spineSchema.fields ++
        payload.map(p => paySchema(p).copy(nullable = true)))
    val tolMicros = tolerance.map(micros)

    val sortedSchema = sorted.schema
    val eIdx = sortedSchema.fieldIndex("__e")
    val tmIdx = sortedSchema.fieldIndex("__tm")
    val tagIdx = sortedSchema.fieldIndex("__tag")
    val payIdx = sortedSchema.fieldIndex("__pay")
    val rowIdx = sortedSchema.fieldIndex("__row")
    val nPay = payload.size
    val spTagV = spTag

    sorted.mapPartitions { it =>
      var curEntity: Any = new Object // sentinel unequal to anything
      var lastPay: Row = null
      it.flatMap { r =>
        val e = r.get(eIdx)
        if (!java.util.Objects.equals(e, curEntity)) { curEntity = e; lastPay = null }
        if (r.getInt(tagIdx) != spTagV) {
          lastPay = r.getStruct(payIdx) // event: advance the merge pointer
          Iterator.empty
        } else {
          val spineRow = r.getStruct(rowIdx)
          val ok = lastPay != null && (tolMicros match {
            case Some(tol) =>
              !r.isNullAt(tmIdx) && (r.getLong(tmIdx) - lastPay.getLong(0)) <= tol
            case None => true
          })
          val payVals: Seq[Any] =
            if (ok) (1 to nPay).map(lastPay.get)
            else Seq.fill[Any](nPay)(null)
          Iterator(Row.fromSeq(spineRow.toSeq ++ payVals))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Build the tagged, union-compatible sides. Tag ordering encodes the
    * strictness: non-strict ⇒ events sort before spine at equal ts (an event
    * at exactly asof_ts IS visible); strict ⇒ spine first (it is NOT).
    * Returns (taggedSpine, taggedEvents, spineTag).
    */
  private def tagged(
      spine: DataFrame,
      events: DataFrame,
      entity: String,
      spineTs: String,
      eventTs: String,
      payload: Seq[String],
      tieCol: Option[String],
      strict: Boolean): (DataFrame, DataFrame, Int) = {
    val collisions = payload.toSet.intersect(spine.columns.toSet)
    require(collisions.isEmpty, s"payload collides with spine columns: $collisions")
    // __mts is the payload struct's matched-ts slot: a payload column of
    // that name would create a duplicate struct field and surface later as
    // an opaque AMBIGUOUS_REFERENCE_TO_FIELDS from finish()'s getField —
    // while the index-based merge path would silently ACCEPT it, letting
    // the two "identical results" paths diverge. Reject at the boundary.
    require(!payload.contains("__mts"),
      "payload column name __mts is reserved by asofJoin")
    val evTag = if (strict) 1 else 0
    val spTag = 1 - evTag

    val payStruct = struct(
      tsMicros(col(eventTs)).as("__mts") +: payload.map(col): _*)
    val ev = events
      .where(col(entity).isNotNull && col(eventTs).isNotNull)
      .select(
        col(entity).as("__e"),
        tsMicros(col(eventTs)).as("__tm"),
        lit(evTag).as("__tag"),
        tieCol.map(c => col(c).cast("long")).getOrElse(lit(0L)).as("__tie"),
        payStruct.as("__pay"),
        lit(null).cast(StructType(spine.schema.fields)).as("__row"))

    val sp = spine.select(
      col(entity).as("__e"),
      tsMicros(col(spineTs)).as("__tm"),
      lit(spTag).as("__tag"),
      lit(Long.MinValue).as("__tie"),
      lit(null).cast(ev.schema("__pay").dataType).as("__pay"),
      struct(spine.columns.map(col): _*).as("__row"))
    (sp, ev, spTag)
  }

  private def applyTolerance(matched: DataFrame, tolerance: Option[Duration]): DataFrame =
    tolerance match {
      case Some(d) =>
        matched.withColumn("__match",
          when(col("__tm") - col("__match.__mts") <= micros(d), col("__match")))
      case None => matched
    }

  private def finish(matched: DataFrame, payload: Seq[String]): DataFrame =
    matched.select(col("__row.*") +:
      payload.map(p => col("__match").getField(p).as(p)): _*)
}
