package graft

import java.time.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tjk._

/** Driver entries that exercise the streaming mode (q41) and the CSV/JSON
  * sources (q43) end-to-end. Both are self-contained "law" queries in the
  * q33 style: they stage scratch inputs under /tmp, run the machinery, fold
  * the result small, materialize it, clean up, and return a deterministic
  * DataFrame the DuckDB oracle can recompute from the original parquet.
  */
object SourceStreamQueries {

  private val H1micros = 3600L * 1000000L
  private val SentinelConv = "~~watermark~~"

  /** An out-of-order replay staged on disk: `slices` whole-time-range hash
    * slices as one file each plus THREE watermark-sentinel files (see the
    * parity note in [[stageReplay]]), mtimes forcing arrival order (slices
    * first, sentinels last). `fedRows` counts the slice files only —
    * sentinel rows never enter the fed-row accounting.
    */
  private case class Replay(
      inDir: java.io.File, staged: DataFrame, delaySec: Long, fedRows: Long)

  /** Stage `feed` (schema: conv_id, turn_idx, ts, value) for replay. ONE
    * pass over the (window-bearing) transcript view: all slices written by
    * a single partitionBy job, then moved into place — per-slice filtered
    * writes would recompute the view per slice. The watermark delay is
    * wider than the data's time span, so every row is out-of-order-
    * admissible; the sentinels then advance the watermark past all real
    * rows (first sentinel) and trigger the batch in which the final state
    * flushes (second sentinel).
    */
  private def stageReplay(
      spark: SparkSession, feed: DataFrame, tmp: String, slices: Int): Replay = {
    import spark.implicits._
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val stage = new java.io.File(tmp, "stage")
    // The time-span/row-count metrics ride the staging WRITE via observe()
    // (CollectMetrics): one job computes and stages the feed AND yields
    // min/max ts + fed-row count, instead of a second read-back aggregation
    // job over the staged files. Every feed row lands in exactly one slice
    // file, so feed-side metrics equal the old staged-side metrics.
    val obs = new org.apache.spark.sql.Observation("replay_mm")
    feed
      .withColumn("__slice",
        pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(slices)))
      .observe(obs,
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"),
        count(lit(1)).as("n"))
      .repartition(1)
      .write.partitionBy("__slice").mode("overwrite").parquet(stage.getPath)
    val slicePaths = (0 until slices).flatMap { s =>
      // an empty hash-slice writes no partition dir — legitimate at tiny
      // scale factors; the stream simply gets fewer files
      val dir = new java.io.File(stage, s"__slice=$s")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .find(_.getName.endsWith(".parquet")).map { p =>
          val dst = new java.io.File(inDir, f"slice_$s%02d.parquet")
          require(p.renameTo(dst), s"stage move failed for slice $s")
          dst.setLastModified(1000000000000L + s * 10000L)
          dst.getPath
        }
    }
    require(slicePaths.nonEmpty, "replay: the feed selected no rows")
    val staged = spark.read.parquet(slicePaths: _*)
    val mm = obs.get
    require(mm("mn") != null && mm("mx") != null,
      "replay: feed has no non-null timestamps")
    val (minTs, maxTs) =
      (mm("mn").asInstanceOf[Long], mm("mx").asInstanceOf[Long])
    val fedRows = mm("n").asInstanceOf[Long]
    val delaySec = (maxTs - minTs) / 1000000L + 1L + 60L
    // THREE sentinels, not two: with maxFilesPerTrigger=2 the batch cut
    // points depend on the (data-dependent) slice-file count's parity, and
    // the flush batch must come strictly AFTER the batch whose sentinel
    // advances the watermark. Sentinel 0 sits at file position n, sentinel 2
    // at n+2 — with 2-file batches they land in batches floor(n/2) and
    // floor(n/2)+1, so a later flush-triggering batch exists at ANY parity
    // (two sentinels could share one final batch and leave the timeouts
    // unfired).
    val sStage = new java.io.File(tmp, "stage_sent")
    (0 until 3).map { k =>
        (SentinelConv, k,
          new java.sql.Timestamp(
            (maxTs + (delaySec + 3600L * (k + 1)) * 1000000L) / 1000L),
          0.0)
      }.toDF("conv_id", "turn_idx", "ts", "value")
      // one write job for all three sentinel files (partitionBy on a
      // throwaway copy of k splits them — partitionBy STRIPS its column
      // from the data files, so it must not be a schema column), not one
      // tiny job each
      .withColumn("__k", col("turn_idx"))
      .repartition(1)
      .write.partitionBy("__k").mode("overwrite").parquet(sStage.getPath)
    (0 until 3).foreach { k =>
      val part = new java.io.File(sStage, s"__k=$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(inDir, s"zz_sentinel_$k.parquet")
      require(part.renameTo(dst), "sentinel move failed")
      dst.setLastModified(1000000000000L + (slices + k) * 10000L)
    }
    Replay(inDir, staged, delaySec, fedRows)
  }

  /** Run a streaming transform over the replay into a memory sink; returns
    * the sink table name (caller drops the temp view after collecting).
    * Stateful micro-batches pay a fixed cost PER STATE-STORE PARTITION PER
    * BATCH (store init/commit/snapshot); at the bench session's 32 shuffle
    * partitions × ~7 batches that fixed cost dwarfs the data, so the state
    * partition count — locked in at query start from the conf — is scoped
    * down for the stream and restored after. (On a real cluster the same
    * knob is simply sized to the stream's key cardinality rather than the
    * batch session default.)
    */
  private def runToMemorySink(
      spark: SparkSession, r: Replay, tmp: String, label: String)(
      build: DataFrame => DataFrame): String = {
    // Per-batch fixed cost = state partitions × batches (store
    // init/commit/snapshot each); both factors are halved vs the r3 shape
    // (VERDICT r3 item 7): 2 files per trigger still delivers the slices
    // across separate out-of-order batches, and 2 state partitions cover
    // the law run's tiny key set (a real deployment sizes this knob to the
    // stream's key cardinality instead).
    val stream = spark.readStream
      .schema(r.staged.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(r.inDir.getPath)
    val out = build(stream)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val sinkName = s"tjk_${label}_${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      val q = out.writeStream
        .format("memory")
        .queryName(sinkName)
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      // stop on EVERY path: the caller's cleanup deletes the input and
      // checkpoint dirs, which must never happen under a live stream
      finally q.stop()
      val prog = q.recentProgress
      System.err.println(s"[$label] ${prog.length} batches: " +
        prog.map(p => s"${p.batchId}:${p.batchDuration}ms").mkString(" "))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    sinkName
  }

  /** q41 — the incremental rolling-feature stream
    * ([[Streaming.rollingStream]], watermark-delayed finalization) driven
    * over a REPLAYED out-of-order feed of the q01-shaped input, checked
    * against the batch window SQL: batch/stream parity is the whole design
    * claim of the streaming mode (SURVEY.md §2.8), so the batch oracle IS
    * the streaming oracle.
    *
    * Replay shape: the transcript slice is split into 3 hash-slices, each
    * spanning the WHOLE time range, written as one file per slice and
    * streamed with maxFilesPerTrigger=2 in controlled mtime order — so
    * each micro-batch delivers rows wildly out of event-time order relative
    * to the previous one, while a watermark delay wider than the data's
    * time span keeps them all admissible (out-of-order but in-watermark).
    * Three sentinel heartbeat rows on a reserved conv_id arrive last: the
    * first to be processed advances the watermark past every real row
    * (finalizing them), and a later sentinel batch — guaranteed to exist at
    * any slice-file parity by the 3-sentinel argument in [[stageReplay]] —
    * triggers the event-time timeouts that flush every group's buffered
    * tail. Sentinels are filtered from the output; every real row therefore
    * finalizes, and the oracle is simply the batch window SQL.
    */
  def streamingRolling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tjk_q41_stream")
      .toFile.getAbsolutePath
    try {
      // An eighth of the conversations: the law is identical, the bench
      // cost is not. md5-derived predicate so DuckDB replicates it exactly
      // (xxhash64 is not available there — q33's bucket convention).
      val feed = Tables.transcripts(spark, dir)
        .where(md5Bucket(col("conv_id"), 8) === 0 &&
          col("value").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          col("ts").cast("timestamp").as("ts"), col("value").cast("double").as("value"))
      val r = stageReplay(spark, feed, tmp, slices = 3)
      val sinkName = runToMemorySink(spark, r, tmp, "q41")(
        Streaming.rollingStream(_, H1micros, s"${r.delaySec} seconds").toDF())

      // Fold per conversation (small), drop sentinels, and check in-query
      // that NOTHING stayed buffered: the streamed row count must equal the
      // fed row count — a silent shortfall here is exactly the bug class
      // watermark finalization can hide.
      val rows = spark.table(sinkName)
        .where(col("conv_id") =!= SentinelConv)
        .groupBy("conv_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("count_w")).as("sum_cnt"),
          // exact-cents fold (CoreQueries.sumCents convention): each per-row
          // sum_w is a sum of 2-decimal values, so round(sum_w·100) recovers
          // its exact cent count; summing longs is order-independent, and a
          // raw-double round(sum(sum_w), 0) would sit one summation-order
          // bit from flipping on .50 half-ties
          round(sum(round(col("sum_w") * 100).cast("long")) / 100.0, 0).as("sum_sum"),
          max(col("count_w")).as("max_cnt"))
        .orderBy("conv_id")
        .collect()
      spark.catalog.dropTempView(sinkName) // free the memory sink's rows
      val fed = r.fedRows
      val emitted = rows.map(_.getLong(1)).sum
      require(emitted == fed,
        s"stream emitted $emitted of $fed fed rows — watermark finalization lost data")
      rows.toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        .toDF("conv_id", "n_rows", "sum_cnt", "sum_sum", "max_cnt")
        .orderBy("conv_id")
    } finally deleteRec(new java.io.File(tmp))
  }

  /** q46 — the OTHER streaming mode driver-visible: `session_window`
    * sessionization with watermarked state ([[Streaming.sessionAggStream]])
    * over the same out-of-order replay shape as q41 (a different md5 band).
    * Late in-watermark rows must MERGE into (or bridge) open sessions
    * regardless of arrival order; the sentinels advance the watermark past
    * every session's close (end + gap), so all real sessions finalize and
    * the batch sessionization SQL is the oracle. In-query law: emitted
    * per-session turn counts must sum to the fed row count.
    */
  def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tjk_q46_stream")
      .toFile.getAbsolutePath
    try {
      val feed = Tables.transcripts(spark, dir)
        .where(md5Bucket(col("conv_id"), 8) === 2)
        .select(col("conv_id"), col("turn_idx"),
          col("ts").cast("timestamp").as("ts"),
          coalesce(col("value").cast("double"), lit(0.0)).as("value"))
      val r = stageReplay(spark, feed, tmp, slices = 3)
      val sinkName = runToMemorySink(spark, r, tmp, "q46")(
        Streaming.sessionAggStream(_, "conv_id", "ts", "30 minutes",
          s"${r.delaySec} seconds"))
      val rows = spark.table(sinkName)
        .where(col("conv_id") =!= SentinelConv)
        .select(col("conv_id"), col("session_start"), col("session_end"),
          col("n_turns"))
        .orderBy("conv_id", "session_start")
        .collect()
      spark.catalog.dropTempView(sinkName)
      val fed = r.fedRows
      val emitted = rows.map(_.getLong(3)).sum
      require(emitted == fed,
        s"session stream covered $emitted of $fed fed rows — lost or unflushed sessions")
      rows.toSeq
        .map(x => (x.getString(0), x.getTimestamp(1), x.getTimestamp(2), x.getLong(3)))
        .toDF("conv_id", "session_start", "session_end", "n_turns")
        // back to NTZ for the dump: the stream ran on UTC-pinned TIMESTAMP
        // (watermarks need it), the testdata and the oracle are NTZ — in a
        // UTC session the cast is a pure reinterpretation
        .select(col("conv_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_turns"))
        .orderBy("conv_id", "session_start")
    } finally deleteRec(new java.io.File(tmp))
  }

  /** q46 oracle: the q10 session-aggregate SQL on the same md5 band. The
    * session_window form has no session_id; identity = (conv_id, start).
    * NOTE the ts type: the stream ran on `timestamp` (UTC-pinned cast from
    * the parquet NTZ), so the oracle casts its min/max the same way the
    * dump stores them.
    */
  val streamingSessionsSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |tq AS (SELECT * FROM t WHERE ${md5BucketSql("conv_id", 8)} = 2),
       |f AS (
       |  SELECT conv_id, turn_idx, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |         THEN 1 ELSE 0 END AS flag
       |  FROM tq WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
       |),
       |s AS (
       |  SELECT conv_id, ts,
       |    CAST(sum(flag) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM f
       |)
       |SELECT conv_id, min(ts) AS session_start, max(ts) AS session_end,
       |       count(*) AS n_turns
       |FROM s GROUP BY conv_id, session_seq
       |ORDER BY conv_id, session_start""".stripMargin

  val streamingRollingSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |f AS (
       |  SELECT conv_id, value,
       |    count(value) OVER w AS count_w,
       |    sum(value) OVER w AS sum_w
       |  FROM t
       |  WHERE ${md5BucketSql("conv_id", 8)} = 0 AND value IS NOT NULL
       |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts
       |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
       |)
       |SELECT conv_id, count(*) AS n_rows,
       |       CAST(sum(count_w) AS BIGINT) AS sum_cnt,
       |       round(sum(CAST(round(sum_w * 100) AS BIGINT)) / 100.0, 0) AS sum_sum,
       |       max(count_w) AS max_cnt
       |FROM f GROUP BY conv_id ORDER BY conv_id""".stripMargin

  /** q43 — CSV and JSON sources exercised end-to-end (SURVEY.md §2.2's last
    * unexercised row): the transcript view is round-tripped through BOTH
    * text formats (µs timestamp format preserved explicitly), re-read with
    * the declared schema, sessionized, and the two results are required
    * IDENTICAL in-query; the CSV-derived result is returned and checked
    * against the parquet-derived DuckDB oracle — so a lossy round-trip in
    * either format fails loudly on either engine.
    */
  def csvJsonSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tjk_q43_src")
      .toFile.getAbsolutePath
    try {
      // Eighth subset (md5-replicable): the round-trip law does not need
      // the whole corpus, and the bench does not need two full text-format
      // rewrites of it. Band 1, disjoint from q41's band 0.
      val view = Tables.transcripts(spark, dir)
        .where(md5Bucket(col("conv_id"), 8) === 1)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      // Driver parquet timestamps are NTZ → the NTZ format option is the
      // one that must carry µs; set both so the query is storage-agnostic.
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      // ONE output file per format: the eighth-subset is ~1/8 of the events
      // table, which 32 shuffle partitions would spray into 32 tiny files
      // per format — 64 file opens on write and again on read, pure
      // small-file overhead (guide §6) for a round-trip whose row set is
      // unchanged by layout. The multiLine CSV read is single-task either
      // way.
      val one = view.coalesce(1)
      def opts[T](w: org.apache.spark.sql.DataFrameWriter[T]) =
        w.option("timestampFormat", fmt).option("timestampNTZFormat", fmt)
      opts(one.write).option("header", "true").mode("overwrite").csv(s"$tmp/csv")
      opts(one.write).mode("overwrite").json(s"$tmp/json")

      // multiLine: a text value containing an embedded newline is WRITTEN
      // quoted across lines; without it the reader treats each physical
      // line as a record and PERMISSIVE-nulls the broken halves, failing
      // the CSV-vs-JSON fingerprint on otherwise-valid data (ADVICE r3
      // item 5). Write and read both use Spark's default quote/escape, so
      // only the line-spanning flag needs to be explicit.
      val fromCsv = spark.read.schema(view.schema)
        .option("header", "true").option("multiLine", "true")
        .option("timestampFormat", fmt).option("timestampNTZFormat", fmt)
        .csv(s"$tmp/csv")
      val fromJson = spark.read.schema(view.schema)
        .option("timestampFormat", fmt).option("timestampNTZFormat", fmt)
        .json(s"$tmp/json")

      def agg(src: DataFrame): DataFrame =
        Sessionize.sessionAgg(src, "conv_id", "ts", "turn_idx",
          Duration.ofMinutes(30))
      CacheScope.using { scope =>
        // the CSV-side aggregate is consumed twice (fingerprint compare AND
        // the returned rows) — persist it so the text re-read + sessionize
        // runs once
        val a = scope.persist(agg(fromCsv))
        // ONE job for both fingerprints (they are independent subtrees, so a
        // union evaluates them in the same action) instead of two sequential
        // collect jobs — same (row_count, xor-hash) compare, half the
        // collect round-trips.
        def fpDf(src: DataFrame, tag: String): DataFrame =
          src.agg(count(lit(1)).as("rc"),
            bit_xor(xxhash64(src.columns.map(col): _*)).as("ch"))
            .select(lit(tag).as("src"), col("rc"), col("ch"))
        val fps = fpDf(a, "csv").unionByName(fpDf(agg(fromJson), "json"))
          .collect().map(r => r.getString(0) ->
            ((r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))).toMap
        require(fps("csv") == fps("json"),
          s"CSV vs JSON round-trip diverged: ${fps("csv")} vs ${fps("json")}")
        a.orderBy("conv_id", "session_id").collect().toSeq
          .map(r => (r.getString(0), r.getString(1),
            r.getAs[java.time.LocalDateTime](2), r.getAs[java.time.LocalDateTime](3),
            r.getLong(4)))
          .toDF("conv_id", "session_id", "session_start", "session_end", "n_turns")
          .orderBy("conv_id", "session_id")
      }
    } finally deleteRec(new java.io.File(tmp))
  }

  /** q43 oracle: q10's session-aggregate SQL restricted to the same
    * md5-derived eighth of conversations the query round-trips.
    */
  val csvJsonSourceSql: String =
    s"""WITH ${Tables.transcriptsSqlCte},
       |tq AS (SELECT * FROM t WHERE ${md5BucketSql("conv_id", 8)} = 1),
       |f AS (
       |  SELECT conv_id, turn_idx, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |         THEN 1 ELSE 0 END AS flag
       |  FROM tq WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
       |),
       |s AS (
       |  SELECT conv_id, turn_idx, ts,
       |    CAST(sum(flag) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM f
       |)
       |SELECT conv_id,
       |  conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id,
       |  min(ts) AS session_start, max(ts) AS session_end,
       |  count(*) AS n_turns
       |FROM s GROUP BY conv_id, session_seq
       |ORDER BY conv_id, session_id""".stripMargin
}
