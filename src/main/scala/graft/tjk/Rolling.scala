package graft.tjk

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.tjk.expressions.NativeFunctions

/** O2/O3 — rolling-window aggregates (SURVEY.md §2.1).
  *
  * Time frames are expressed as Catalyst range frames over `unix_micros(ts)`
  * (µs precision — SURVEY.md §7.3 item 4): `[ts − W, ts]`, or `[ts − W, ts)`
  * when `strict`. The frame upper bound never exceeds the current row's order
  * value, which is the structural zero-leakage guarantee (BASELINE.json:6);
  * leakage is never enforced by post-hoc filters (SURVEY.md §2.3).
  *
  * All specs share one `partitionBy(entity).orderBy(unix_micros(ts))` family
  * so Catalyst collapses them into a single shuffle+sort (§4.1 exchange
  * reuse): at 100 TB this means ONE exchange for the whole feature set, not
  * one per feature.
  *
  * Two r3 defaults close the remaining whale-entity hazards:
  *  - [[SkewPolicy.Auto]]: hot entities (per-entity rows over
  *    [[Rolling.HotThreshold]]) are detected up front and routed through
  *    the exact chunked path ([[Skew.chunkedRollingAgg]], O(rows)
  *    amortized) — a Window node would put a whale's whole timeline on
  *    ONE task and recompute every frame from scratch (O(rows × frame)).
  *  - exact windowed nunique plans as the native
  *    [[graft.tjk.expressions.WindowNUnique]] typed aggregate, not
  *    `size(collect_set(...))` — no frame-sized array is materialized per
  *    output row (VERDICT r2 item 3).
  *
  * Output types are unified (SURVEY.md §1.2): count/nunique → long,
  * sum/mean/min/max → double — so "allclose vs reference" is well-defined and
  * the skew-chunked path produces byte-identical schemas.
  */
object Rolling {

  /** Per-entity row count above which [[SkewPolicy.Auto]] calls an entity
    * "hot" and routes it off the Window path; [[SkewPolicy.WindowOnly]]
    * turns detection off.
    */
  val HotThreshold = 500000L

  /** Routing cap: detection routes at most this many (largest) entities to
    * the chunked path. More candidates than this is not "a few whales" but a
    * hot-heavy distribution — the cap keeps the driver-side key list and the
    * isin filter bounded, the top-K biggest entities (the ones that would
    * actually stall tasks) still route, and the remainder stay on the Window
    * path, which is always CORRECT, just unguarded. Never an abort: the
    * sampled path's cutoff deliberately over-triggers (~0.3× threshold), so
    * candidate count alone must not fail a job the plain plan would finish.
    */
  val MaxHotKeys = 10000

  /** The router's chunk span, in max windows: each chunk duplicates its last
    * max window (the context band) into the next, so a span of one max
    * window would shuffle and slide every hot row twice; at 8 the band is
    * 1/8 of a chunk.
    */
  val MaxChunkWindows = 8L

  /** Inputs whose size estimate exceeds this are sampled for hot-key
    * detection (see [[detectHotKeys]]).
    */
  val SampleMinBytes: Long = 64L << 20

  /** Trailing time-window aggregates; adds one column per spec.
    *
    * Under the default [[SkewPolicy.Auto]] this runs a small detection job
    * at CALL time (a sampled per-entity count over [[HotThreshold]] — one
    * narrow scan, map-side combinable; the same aggregation shape as the
    * lineage pass, SURVEY.md §4.2) and hands the hot keys to [[routed]].
    * [[SkewPolicy.WindowOnly]] runs no detection and routes nothing.
    */
  def rollingAgg(
      df: DataFrame,
      entity: String,
      tsCol: String,
      specs: Seq[RollingSpec],
      policy: SkewPolicy = SkewPolicy.Auto): DataFrame = {
    if (specs.isEmpty) return df
    val hot = policy match {
      case SkewPolicy.WindowOnly => Nil
      case SkewPolicy.Auto       => detectHotKeysCached(df, entity)
    }
    routed(df, entity, tsCol, specs, hot)
  }

  /** The skew router. No `hot` keys — the overwhelmingly common case —
    * returns the plain single-Window-node plan (ONE exchange, pinned in
    * PlanShapeSuite). Otherwise cold entities keep that plan and the `hot`
    * ones go through the chunked path in chunks of [[MaxChunkWindows]] max
    * windows; results are identical (SkewSuite property), only the task
    * layout changes.
    */
  private[graft] def routed(
      df: DataFrame,
      entity: String,
      tsCol: String,
      specs: Seq[RollingSpec],
      hot: Seq[Any]): DataFrame =
    if (hot.isEmpty) windowRolling(df, entity, tsCol, specs)
    else {
      // coalesce(false): a NULL entity never matches the hot set — it must
      // fall to the cold branch, not vanish from both. A null TS likewise
      // routes cold even for a hot entity: it has no trailing frame to
      // chunk (the chunked operator rejects it loudly), and on the Window
      // path a null-order row's range frame sees only its null-ts peers, so
      // separating the two groups is result-invariant (suite-pinned). The
      // isin literal serves every routed set up to the MaxHotKeys cap
      // (Catalyst plans it as an InSet hash probe; SkewSuite pins the cap).
      val isHot = coalesce(col(entity).isin(hot: _*), lit(false)) &&
        col(tsCol).isNotNull
      // A zero-width window still needs a positive span (pmod by 0 throws);
      // one max window when 8 of them overflow: any span ≥ maxW is exact.
      val maxW = math.max(specs.map(_.windowMicros).max, 1L)
      val chunkSpan =
        if (maxW > Long.MaxValue / MaxChunkWindows) maxW else MaxChunkWindows * maxW
      val cold = windowRolling(df.where(!isHot), entity, tsCol, specs)
      val hotDf = Skew.chunkedRollingAgg(
        df.where(isHot), entity, tsCol, specs, chunkSpan)
      cold.unionByName(hotDf)
    }

  private def windowRolling(
      df: DataFrame,
      entity: String,
      tsCol: String,
      specs: Seq[RollingSpec]): DataFrame = {
    // ONE select for all specs, not a withColumn fold: the fold gave every
    // spec its own extracted `_wN = unix_micros(ts)` order attribute, so
    // Catalyst planned one Window + Sort PER SPEC (the sorts could not be
    // proven redundant across different attributes — 7 Window/Sort layers
    // for q01). A single projection shares one order attribute: all frames
    // land in ONE Window node over ONE sort (guide §2.4 "window functions
    // partitioned by the same key do not need a second shuffle"; plan
    // evidence plans/r06/q01_rolling_time_{before,after}.txt).
    val base = Window.partitionBy(col(entity)).orderBy(tsMicros(col(tsCol)))
    val outCols = specs.map { s =>
      val upper = if (s.strict) -1L else 0L
      val frame = base.rangeBetween(-s.windowMicros, upper)
      aggColumn(df.sparkSession, s.agg, s.col, frame).as(s.outName)
    }
    df.select(df.columns.map(col) ++ outCols: _*)
  }

  /** Session-scoped detection-result cache (SURVEY.md §4.2 "reuse, don't
    * re-scan" — VERDICT r3 item 3): keyed by the CANONICALIZED optimized
    * plan's semantic hash + node count (alias/id-invariant, and — crucially
    * — NOT a reference to the plan itself: a cached plan strongly
    * references its SparkSession through LogicalRelation/HadoopFsRelation,
    * which would pin the WeakHashMap's weak session key forever) plus the
    * entity, so a pipeline composing several rolling calls over the same
    * input pays ONE detection job, not one per call. Bounded
    * LRU per session; sessions are weak keys and values hold only small
    * key lists. A hash collision or a stale entry (input files rewritten
    * under the same plan within one session) only mis-ROUTES — results are
    * identical on either path — and [[clearDetectionCache]] resets
    * explicitly.
    */
  private val detectionCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.LinkedHashMap[(Int, Int, String), Seq[Any]]]()
  private val DetectionCacheMax = 64

  /** Test pin: number of detection JOBS actually run (cache misses that
    * reach the count job; early-outs and cache hits do not count).
    */
  private[graft] val detectionJobs = new java.util.concurrent.atomic.AtomicLong

  def clearDetectionCache(spark: SparkSession): Unit =
    detectionCache.synchronized { detectionCache.remove(spark) }

  private def detectHotKeysCached(df: DataFrame, entity: String): Seq[Any] = {
    val spark = df.sparkSession
    val canon = df.queryExecution.optimizedPlan.canonicalized
    // (semanticHash, node count) — two independent cheap fingerprints; a
    // simultaneous collision only affects routing, never results
    val key = (canon.semanticHash(), canon.collect { case _ => 1 }.sum, entity)
    detectionCache.synchronized {
      val m = detectionCache.computeIfAbsent(spark, _ =>
        new java.util.LinkedHashMap[(Int, Int, String), Seq[Any]](16, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[(Int, Int, String), Seq[Any]]): Boolean =
            size > DetectionCacheMax
        })
      Option(m.get(key))
    } match {
      case Some(hit) => hit
      case None =>
        val res = detectHotKeys(df, entity, HotThreshold)
        detectionCache.synchronized {
          Option(detectionCache.get(spark)).foreach(_.put(key, res))
        }
        res
    }
  }

  /** Hot-entity detection: per-entity count over the entity column only
    * (column pruning keeps the scan narrow; the partial aggregate collapses
    * a whale to one row per map task, so detection itself cannot skew).
    * Inputs over `sampleMinBytes` (default [[SampleMinBytes]], 64 MB) are
    * sampled 1% with a fixed seed — a deterministic
    * plan, and statistically safe: a true whale (≥ threshold rows) appears
    * ≥ 0.3·threshold·fraction times in the sample with overwhelming
    * probability, and a false positive merely routes a warm-but-not-hot
    * entity through the chunked path, which is result-invariant.
    */
  private[graft] def detectHotKeys(
      df: DataFrame,
      entity: String,
      threshold: Long,
      sampleMinBytes: Long = SampleMinBytes): Seq[Any] = {
    val stats = df.queryExecution.optimizedPlan.stats
    val conf = df.sparkSession.sessionState.conf
    val sizeKnown = stats.sizeInBytes < BigInt(conf.defaultSizeInBytes)
    // No entity can have `threshold` rows if the whole input provably has
    // fewer. Prefer the EXACT rowCount when the stats carry one; otherwise
    // fall back to sizeInBytes with 64× headroom — RLE/dictionary parquet
    // of a single repeated entity (precisely the whale shape the guard
    // exists for) can pack far more than one row per byte, so a plain
    // one-byte-per-row bound could silently disable the guard on
    // small-but-hot inputs (ADVICE r3 item 3). A wrong skip only loses the
    // guard, never correctness.
    stats.rowCount match {
      case Some(rc) => if (rc < BigInt(threshold)) return Nil
      case None =>
        if (sizeKnown && stats.sizeInBytes < BigInt(math.max(threshold / 64L, 1L)))
          return Nil
    }
    // Sampling is only statistically sound when a true whale is expected to
    // appear many times in the sample: threshold·fraction ≥ 30 keeps the
    // miss probability negligible (Chernoff at 0.3× the expectation). For
    // smaller thresholds the exact count runs instead — same plan shape,
    // just no Sample node. The size floor is a parameter so the sampled
    // branch is suite-testable without a 64 MB fixture.
    val frac = 0.01
    val sample = sizeKnown && stats.sizeInBytes > BigInt(sampleMinBytes) &&
      threshold * frac >= 30.0
    val keys = df.select(col(entity))
    val (src, cutoff) =
      if (sample)
        (keys.sample(withReplacement = false, frac, seed = 42L),
          math.max(2L, (threshold * frac * 0.3).toLong))
      else (keys, threshold + 1L)
    detectionJobs.incrementAndGet()
    val rows = src
      .groupBy(col(entity)).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= cutoff)
      .orderBy(col("__n").desc)
      .limit(MaxHotKeys)
      .collect()
    if (rows.length == MaxHotKeys)
      System.err.println(
        s"[rollingAgg] skew guard saturated at $MaxHotKeys candidate hot " +
          s"entities (threshold $threshold) — routing the $MaxHotKeys " +
          "largest; consider Skew.chunkedRollingAgg over the whole input " +
          "for hot-heavy distributions")
    rows.map(_.get(0)).toSeq
  }

  /** Trailing row-frame aggregates over the stable total order
    * (ts, tieCol) within entity (BASELINE.json:15 stable turn ordering).
    */
  def rowsAgg(
      df: DataFrame,
      entity: String,
      tsCol: String,
      tieCol: String,
      specs: Seq[RowsSpec]): DataFrame = {
    // single select, same rationale as windowRolling: one Window node + one
    // sort for the whole spec family instead of one layer per spec
    val base =
      Window.partitionBy(col(entity)).orderBy(col(tsCol), col(tieCol))
    val outCols = specs.map { s =>
      val frame = base.rowsBetween(-s.rowsBack.toLong, 0L)
      aggColumn(df.sparkSession, s.agg, s.col, frame).as(s.outName)
    }
    df.select(df.columns.map(col) ++ outCols: _*)
  }

  /** Approximate windowed nunique — the bounded-memory FAST path for O3:
    * HyperLogLog++ over the same trailing range frame, O(1) sketch state per
    * frame evaluation. Use for monitoring/coarse features where ±5% relative
    * error is acceptable; the exact default is [[Agg.NUnique]] via
    * [[rollingAgg]] (WindowNUnique in-window, chunked incremental multiset
    * for hot keys).
    */
  def approxRollingNunique(
      df: DataFrame,
      entity: String,
      tsCol: String,
      valueCol: String,
      window: java.time.Duration): DataFrame = {
    val frame = Window.partitionBy(col(entity)).orderBy(tsMicros(col(tsCol)))
      .rangeBetween(-micros(window), 0L)
    df.withColumn(s"approx_nunique_${valueCol}_${windowName(window)}",
      approx_count_distinct(col(valueCol), 0.05).over(frame))
  }

  private[tjk] def aggColumn(
      spark: SparkSession, agg: Agg, c: String, frame: WindowSpec): Column =
    agg match {
      case Agg.Count   => count(col(c)).over(frame)
      case Agg.Sum     => sum(col(c).cast("double")).over(frame)
      case Agg.Mean    => avg(col(c).cast("double")).over(frame)
      case Agg.Min     => min(col(c).cast("double")).over(frame)
      case Agg.Max     => max(col(c).cast("double")).over(frame)
      // Exact windowed nunique via the native typed aggregate — same values
      // as size(collect_set(...)) / count(DISTINCT ...) OVER, but evaluates
      // straight to a long (no per-row frame-sized array materialization).
      case Agg.NUnique =>
        NativeFunctions.register(spark)
        call_function(NativeFunctions.windowNUniqueName, col(c)).over(frame)
    }
}
