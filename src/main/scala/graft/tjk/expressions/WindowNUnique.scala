package graft.tjk.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Exact distinct-count aggregate usable OVER WINDOW FRAMES — the default
  * O3 path (SURVEY.md §2.5 "custom typed agg", §4.3 extension 1).
  *
  * Spark has no `count(DISTINCT …) OVER`, and the composable workaround —
  * `size(collect_set(c).over(frame))` — materializes the full distinct SET
  * as an ArrayData for EVERY output row before taking its size: per-row
  * allocation and copy proportional to the frame's distinct count, the
  * "O(frame·distinct) heap" anti-pattern VERDICT r2 flagged. This aggregate
  * keeps the same per-frame accumulation Spark's window machinery drives
  * (a hash set insert per frame row) but evaluates straight to a LONG —
  * nothing frame-sized is ever materialized per row, so memory per
  * evaluation is one reused set, not row-count × set-size garbage.
  *
  * Exactness and null semantics match `count(DISTINCT c)`/`collect_set`:
  * nulls are ignored; NaN equals NaN (both engines' set semantics). Values
  * are copied on insert (`InternalRow.copyValue`) because unsafe-row backed
  * inputs reuse buffers.
  *
  * This bounds memory per frame EVALUATION, not total work per hot entity —
  * a whale conversation still costs O(rows × frame) inserts inside one
  * Window task, which is why [[graft.tjk.Rolling.rollingAgg]]'s skew guard
  * routes hot entities to the chunked O(rows) path instead of any in-window
  * aggregate.
  */
case class WindowNUnique(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashSet[Any]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "tjk_window_nunique"

  /** The buffer's distinctness relies on Java `equals`: Array[Byte]
    * (BinaryType) compares by REFERENCE, and nested arrays/structs carry
    * the same hazard — every occurrence would count as distinct. Those
    * types therefore fail at ANALYSIS instead of returning wrong counts
    * (ADVICE r3 item 2); [[update]] separately normalizes -0.0/NaN
    * (`WindowNUnique.normalize`) so float semantics match
    * `count(DISTINCT ...)`.
    */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | StringType | BooleanType | DateType |
        TimestampType | TimestampNTZType | NullType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName does not support ${dt.catalogString}: binary and nested " +
        "types compare by reference in the distinct buffer")
  }

  override def createAggregationBuffer(): mutable.HashSet[Any] =
    mutable.HashSet.empty[Any]

  override def update(buf: mutable.HashSet[Any], input: InternalRow): mutable.HashSet[Any] = {
    val v = child.eval(input)
    if (v != null) buf += WindowNUnique.normalize(InternalRow.copyValue(v))
    buf
  }

  override def merge(a: mutable.HashSet[Any], b: mutable.HashSet[Any]): mutable.HashSet[Any] =
    a ++= b

  override def eval(buf: mutable.HashSet[Any]): Any = buf.size.toLong

  // Serialization crosses a partial/final aggregate exchange; window frames
  // never call it. Values are Catalyst internal types (UTF8String, boxed
  // primitives, Decimal …), all Java-serializable.
  override def serialize(buf: mutable.HashSet[Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeObject)
    out.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashSet[Any] = {
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashSet.empty[Any]
    var i = 0
    while (i < n) { buf += in.readObject(); i += 1 }
    in.close()
    buf
  }

  // (serialize/deserialize above carry the sentinel fine: Scala case
  // objects resolve back to the singleton via readResolve)
  override def withNewMutableAggBufferOffset(newOffset: Int): WindowNUnique =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): WindowNUnique =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): WindowNUnique =
    copy(child = newChildren.head)
}

object WindowNUnique {
  /** All-NaN-payloads equivalence class for the distinct buffer. */
  private[tjk] case object NaNMarker

  /** The distinct-key normalization of BOTH O3 paths: this aggregate's
    * buffer and the chunked path's `Skew.SlidingState` multiset, so the two
    * stay result-identical on the same input.
    *
    * count(DISTINCT) treats -0.0 == 0.0 and NaN = NaN as true (Spark SQL's
    * ordering semantics; Catalyst normalizes floats before grouping). Scala
    * hash collections compare boxed doubles with PRIMITIVE semantics, where
    * NaN != NaN — every NaN insert would count as a new distinct value (and
    * a sliding eviction would miss its key) — so NaN maps to a singleton
    * sentinel (can't collide with data: the child column is float-typed)
    * and zeros to canonical +0.0.
    */
  private[tjk] def normalize(v: Any): Any = v match {
    case d: java.lang.Double =>
      if (d.isNaN) NaNMarker
      else if (d.doubleValue() == 0.0) java.lang.Double.valueOf(0.0)
      else d
    case f: java.lang.Float =>
      if (f.isNaN) NaNMarker
      else if (f.floatValue() == 0.0f) java.lang.Float.valueOf(0.0f)
      else f
    case other => other
  }
}
