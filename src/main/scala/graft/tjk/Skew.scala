package graft.tjk

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import graft.tjk.expressions.WindowNUnique.normalize

/** O8 — skew handling for hot entities (SURVEY.md §2.1 O8, §4.2).
  *
  * Two result-invariant mechanisms:
  *
  *  - [[saltedAgg]]: two-phase aggregation for entity-level aggregates. A hot
  *    key is split across `salt` subkeys (partial agg per (key, salt), merge
  *    per key) so no single task owns a hot key's full row set. Exact for the
  *    distributive aggs; nunique goes through a distinct-first two-shuffle
  *    plan (the distinct's grouping key includes the value, which spreads a
  *    hot entity across partitions by construction).
  *  - [[chunkedRollingAgg]]: rolling windows over a hot entity. A Catalyst
  *    Window node processes each partition-key group on ONE task — AQE skew
  *    splitting does not apply (it is join-only). We chunk each entity's
  *    timeline into spans ≥ the max window width `maxW`, duplicate each
  *    chunk's last `maxW` of rows (the context band) into the next chunk as
  *    non-owner context, repartition by (entity, chunk), and compute the
  *    trailing frames with an exact sliding structure in mapPartitions,
  *    emitting owner rows only. The band is `maxW` of a `span`, so a span of
  *    one `maxW` duplicates EVERY row; the router ([[Rolling.routed]])
  *    passes `Rolling.MaxChunkWindows` max windows (a zero-width window
  *    counts as 1 µs), so 1/8 of them. Count/nunique/
  *    min/max results are byte-identical to [[Rolling.rollingAgg]]
  *    (property-tested); sum/mean agree to floating-point summation-order
  *    equivalence — byte-identical whenever per-frame adds are exact (ints,
  *    cents-scaled currency), and on generic doubles the compensated sliding
  *    sum is at least as accurate as the Window path's per-frame left-to-
  *    right recompute (the query catalog rounds float accumulations to 6 dp
  *    on both engines precisely so summation order can never flip a compare).
  */
object Skew {

  /** Two-phase salted aggregate of `valueCol` per `entity`.
    * `saltBy`: any column whose values spread a hot key's rows (e.g. turn_idx).
    * Output columns follow Rolling's naming/types: count/nunique → long,
    * sum/mean/min/max → double.
    */
  def saltedAgg(
      df: DataFrame,
      entity: String,
      valueCol: String,
      aggs: Seq[Agg],
      salt: Int,
      saltBy: String): DataFrame = {
    val v = col(valueCol)
    val partial = df
      .withColumn("__salt", pmod(xxhash64(col(saltBy)), lit(salt.toLong)))
      .groupBy(col(entity), col("__salt"))
      .agg(
        count(v).as("__cnt"),
        sum(v.cast("double")).as("__sum"),
        min(v.cast("double")).as("__min"),
        max(v.cast("double")).as("__max"))
    val distributive = partial.groupBy(col(entity)).agg(
      sum(col("__cnt")).as(s"count_$valueCol"),
      sum(col("__sum")).as(s"sum_$valueCol"),
      (sum(col("__sum")) / sum(col("__cnt"))).as(s"mean_$valueCol"),
      min(col("__min")).as(s"min_$valueCol"),
      max(col("__max")).as(s"max_$valueCol"))

    val wanted = aggs.map {
      case Agg.NUnique => s"nunique_$valueCol"
      case a           => s"${a.name}_$valueCol"
    }
    val base =
      if (aggs.contains(Agg.NUnique)) {
        // Exact distinct, skew-safe: the distinct spreads by (entity, value).
        val nu = df.select(col(entity), v).where(v.isNotNull).distinct()
          .groupBy(col(entity)).agg(count(lit(1)).as(s"nunique_$valueCol"))
        distributive.join(nu, Seq(entity), "left")
          .na.fill(0L, Seq(s"nunique_$valueCol"))
      } else distributive
    base.select((col(entity) +: wanted.map(col)): _*)
  }

  /** Exact rolling-window aggregates via overlap chunking — same semantics
    * and output schema as [[Rolling.rollingAgg]], but a hot entity's rows are
    * spread over ceil(timespan / chunkSpan) tasks instead of one.
    *
    * chunkSpanMicros must be positive and ≥ max window width `maxW` so each
    * row's trailing frame lives entirely in its own chunk plus the previous
    * chunk's last `maxW` (the context band, duplicated forward). Rows in the
    * band are shuffled and slid twice, so the duplicated share is
    * maxW / chunkSpanMicros: all rows at a span of one `maxW`, 1/8 at the
    * router's span (`Rolling.MaxChunkWindows` max windows).
    */
  def chunkedRollingAgg(
      df: DataFrame,
      entity: String,
      tsCol: String,
      specs: Seq[RollingSpec],
      chunkSpanMicros: Long): DataFrame = {
    require(specs.nonEmpty, "no specs")
    val maxW = specs.map(_.windowMicros).max
    require(chunkSpanMicros > 0L, s"chunk span $chunkSpanMicros must be positive")
    require(chunkSpanMicros >= maxW,
      s"chunk span $chunkSpanMicros < max window $maxW")

    val tm = tsMicros(col(tsCol))
    // FLOOR division for the chunk id (`div` truncates toward zero): the
    // context band below uses pmod, which is floor-based — mixing the two
    // conventions makes pre-1970 (negative-micros) rows land in chunk 0
    // while their context test says "not near a boundary", silently losing
    // frame rows. (__tm − pmod) is an exact span multiple, so its `div` IS
    // the floor quotient, in pure integer arithmetic.
    //
    // ONE pass, not an owners/context UNION: the union form evaluated the
    // input subtree TWICE (for transcripts-shaped inputs that is a second
    // scan + exchange + row_number window per call — guide §2.4). Here each
    // row conditionally fans out to its owner chunk plus (when within maxW
    // of its chunk's end) a context copy for the next chunk, via one
    // explode over the same scan. A null-ts row emits only its owner copy
    // with a null chunk (the when() condition is null ⇒ otherwise branch),
    // exactly as the union form's where() dropped it from the context side.
    val base = df
      .withColumn("__tm", tm)
      .withColumn("__c0",
        expr(s"(__tm - pmod(__tm, ${chunkSpanMicros}L)) div ${chunkSpanMicros}L"))
      .select(col("*"), explode(
        when(pmod(col("__tm"), lit(chunkSpanMicros)) >= chunkSpanMicros - maxW,
          array(struct(col("__c0").as("c"), lit(true).as("o")),
            struct((col("__c0") + 1L).as("c"), lit(false).as("o"))))
          .otherwise(array(struct(col("__c0").as("c"), lit(true).as("o")))))
        .as("__cx"))
      .withColumn("__chunk", col("__cx.c"))
      .withColumn("__owner", col("__cx.o"))
      .drop("__c0", "__cx")
    val sorted = base
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col(entity), col("__chunk"))
      .sortWithinPartitions(col(entity), col("__chunk"), col("__tm"))

    val inSchema = df.schema
    val sortedSchema = sorted.schema
    val eIdx = sortedSchema.fieldIndex(entity)
    val tmIdx = sortedSchema.fieldIndex("__tm")
    val chunkIdx = sortedSchema.fieldIndex("__chunk")
    val ownerIdx = sortedSchema.fieldIndex("__owner")
    val nInput = inSchema.size
    val specArr = specs.toArray
    val colIdx = specArr.map(s => sortedSchema.fieldIndex(s.col))

    val outSchema = StructType(inSchema.fields ++ specArr.map { s =>
      val dt = s.agg match {
        case Agg.Count | Agg.NUnique => LongType
        case _                       => DoubleType
      }
      StructField(s.outName, dt, nullable = true)
    })

    sorted.mapPartitions { it =>
      new Iterator[Seq[Row]] {
        private val buf = it.buffered
        private var curKey: (Any, Long) = null
        private var states: Array[SlidingState] = _
        private def reset(): Unit =
          states = specArr.map(s => new SlidingState(s.agg))

        override def hasNext: Boolean = buf.hasNext
        override def next(): Seq[Row] = {
          // Pull one equal-ts batch within one (entity, chunk) group.
          val first = buf.next()
          // Null ts has no trailing frame: rollingAgg routes such rows to
          // the Window branch before they reach this operator; a DIRECT
          // call must fail loudly, not NPE on getLong below.
          require(!first.isNullAt(tmIdx),
            s"chunkedRollingAgg: null $tsCol — null-ts rows belong on the " +
              "window path (Rolling.rollingAgg routes them automatically)")
          val key = (first.get(eIdx), first.getLong(chunkIdx))
          if (curKey == null || key != curKey) { curKey = key; reset() }
          val t = first.getLong(tmIdx)
          val batch = mutable.ArrayBuffer(first)
          while (buf.hasNext && {
              val h = buf.head
              (h.get(eIdx), h.getLong(chunkIdx)) == key && h.getLong(tmIdx) == t
            }) batch += buf.next()

          var i = 0
          val strictVals = new Array[Any](specArr.length)
          while (i < specArr.length) { // evict, snapshot strict frames
            states(i).evictBefore(t - specArr(i).windowMicros)
            if (specArr(i).strict) strictVals(i) = states(i).result
            i += 1
          }
          batch.foreach { r =>
            var j = 0
            while (j < specArr.length) {
              states(j).add(t, if (r.isNullAt(colIdx(j))) null else r.get(colIdx(j)))
              j += 1
            }
          }
          val vals = specArr.indices.map { j =>
            if (specArr(j).strict) strictVals(j) else states(j).result
          }
          batch.iterator
            .filter(_.getBoolean(ownerIdx))
            .map(r => Row.fromSeq((0 until nInput).map(r.get) ++ vals))
            .toSeq
        }
      }.flatten
    }(Encoders.row(outSchema))
  }

  /** Incremental trailing-window state for one spec. Nulls are ignored by
    * every agg (matching Spark's sum/avg/min/max/count(col)/collect_set).
    */
  private final class SlidingState(agg: Agg) {
    private val q = mutable.ArrayDeque.empty[(Long, Any)]
    private var nNonNull: Long = 0L
    // Kahan-compensated running sum + periodic exact re-accumulation:
    // unlike Spark's per-frame recompute, an add-subtract running double
    // accumulates UNBOUNDED error over a long hot entity (each evict leaves
    // a rounding residue, and even compensated summation's error bound
    // grows with Σ|xᵢ| over history, not with the current frame). The
    // compensation keeps per-op residue at ulp scale, and every
    // ~max(1024, frame) evictions the sum is recomputed exactly from the
    // LIVE queue — amortized O(1) per op — so the error is always bounded
    // by one pass over the CURRENT frame's values, with no history
    // contamination. State also resets at every (entity, chunk) boundary.
    // Pinned by SkewSuite's 10⁶-eviction two-magnitude drift test.
    private var sum: Double = 0.0
    private var sumC: Double = 0.0
    private var evictsSinceResum: Long = 0L
    private def kahanAdd(v: Double): Unit = {
      val y = v - sumC
      val t = sum + y
      sumC = (t - sum) - y
      sum = t
    }
    private def maybeResum(): Unit =
      if (evictsSinceResum >= math.max(1024L, q.size.toLong)) {
        evictsSinceResum = 0L
        sum = 0.0; sumC = 0.0
        q.foreach { case (_, v) => if (v != null) kahanAdd(toD(v)) }
      }
    // Multiset for min/max under FIFO eviction.
    private val ordered = new java.util.TreeMap[Double, Int]()
    private val counts = mutable.HashMap.empty[Any, Int]

    private def toD(v: Any): Double = v match {
      case d: Double  => d
      case f: Float   => f.toDouble
      case l: Long    => l.toDouble
      case i: Int     => i.toDouble
      case s: Short   => s.toDouble
      case b: Byte    => b.toDouble
      case d: java.math.BigDecimal => d.doubleValue()
      case other => throw new IllegalArgumentException(s"non-numeric: $other")
    }

    def add(ts: Long, v: Any): Unit = {
      q.append((ts, v))
      if (v != null) {
        nNonNull += 1
        agg match {
          case Agg.Sum | Agg.Mean => kahanAdd(toD(v))
          case Agg.Min | Agg.Max  => ordered.merge(toD(v), 1, (a, b) => a + b)
          case Agg.NUnique =>
            counts.updateWith(normalize(v)) { c => Some(c.getOrElse(0) + 1) }
          case Agg.Count =>
        }
      }
    }

    def evictBefore(minTs: Long): Unit = {
      while (q.nonEmpty && q.head._1 < minTs) {
        val (_, v) = q.removeHead()
        if (v != null) {
          nNonNull -= 1
          agg match {
            case Agg.Sum | Agg.Mean =>
              kahanAdd(-toD(v)); evictsSinceResum += 1; maybeResum()
            case Agg.Min | Agg.Max =>
              val d = toD(v)
              val c = ordered.get(d)
              if (c <= 1) ordered.remove(d) else ordered.put(d, c - 1)
            case Agg.NUnique =>
              counts.updateWith(normalize(v)) { c =>
                if (c.contains(1)) None else c.map(_ - 1)
              }
            case Agg.Count =>
          }
        }
      }
      // An emptied window is a natural re-zero point: clear both the sum and
      // its compensation so no residue survives into the next occupancy.
      if (nNonNull == 0L) { sum = 0.0; sumC = 0.0 }
    }

    def result: Any = agg match {
      case Agg.Count   => nNonNull
      case Agg.NUnique => counts.size.toLong
      case Agg.Sum     => if (nNonNull == 0) null else sum
      case Agg.Mean    => if (nNonNull == 0) null else sum / nNonNull
      case Agg.Min     => if (ordered.isEmpty) null else ordered.firstKey()
      case Agg.Max     => if (ordered.isEmpty) null else ordered.lastKey()
    }
  }
}
