package graft.tjk.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** 64-bit SimHash fold as ONE aggregate over a doc's token hashes: bit i of
  * the result is set iff Σ_tokens (bit i of h ? +1 : −1) > 0 — exactly what
  * the explode(64) + two-level-groupBy pipeline computed, without the
  * tokens×64 row explosion through the hash aggregate and the second
  * exchange that folded (doc, i) sums back into the long.
  *
  * Same rationale as [[MinHashSig]] (the [[WindowNUnique]] typed-agg
  * precedent): the per-row work here is 64 shift/mask adds on a primitive
  * long[] buffer — cheaper than generating and hash-agg-probing 64 rows per
  * token. The token-hash column `h` itself is still produced by the same
  * expressions as before (xxhash64 or the md5-hex assembly the DuckDB
  * oracle replicates), so the hash formula is untouched.
  *
  * Value identity: integer +1/−1 counts are order-independent, the > 0 sign
  * test and the disjoint-power-of-two fold are the legacy pipeline's own
  * tail. Null `h` follows the legacy explode form's semantics: `(h >> i) &
  * 1` is null, the `when(bit = 1, 1).otherwise(-1)` falls to the otherwise
  * branch — every bit counts −1, and the row still counts as a row. A
  * group with no rows at all (an empty ungrouped input) is null. Pinned
  * against the literal explode form (both token hashes) in TextVecSuite.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "tjk_simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint, got ${child.dataType.simpleString}")

  // Buffer: 64 signed bit counts; zero-length until the first row arrives
  // (the [[MinHashSig]] fresh-buffer convention), so an empty ungrouped
  // input evals to null, not to the all-zero fold 0L.
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val b = if (buf.length == 0) new Array[Long](64) else buf
    val v = child.eval(input)
    if (v == null) {
      var i = 0
      while (i < 64) { b(i) -= 1; i += 1 }
    } else {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) {
        b(i) += (((h >>> i) & 1L) << 1) - 1 // +1 if bit set, −1 otherwise
        i += 1
      }
    }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    if (b.length == 0) a
    else if (a.length == 0) b.clone()
    else {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }

  override def eval(buf: Array[Long]): Any = {
    if (buf.length == 0) return null // no row in the group
    var out = 0L
    var i = 0
    while (i < 64) { if (buf(i) > 0) out |= 1L << i; i += 1 }
    out
  }

  // Fresh buffer ⇒ zero-length payload; otherwise 64 big-endian longs.
  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(child = newChildren.head)
}
