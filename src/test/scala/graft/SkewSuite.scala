package graft

import java.time.Duration
import org.apache.spark.sql.functions._
import graft.tjk._

class SkewSuite extends SparkTestBase {

  private val H1 = Duration.ofHours(1)

  private lazy val skewed = Gen.transcripts(spark, nConvs = 40, seed = 42L,
      medianLen = 10, hotFactor = 60)
    .withColumn("value", length(col("text")).cast("double"))
    .cache()

  test("rolling results are partition-invariant (repartition 1 vs 7)") {
    val specs = Seq(RollingSpec("value", Agg.Sum, H1), RollingSpec("tool", Agg.NUnique, H1))
    def fp(parts: Int) = Lineage.tableFingerprint(
      Rolling.rollingAgg(skewed.repartition(parts), "conv_id", "ts", specs)
        .select(col("conv_id"), col("turn_idx"),
          round(col("sum_value_3600s"), 9).as("s"), col("nunique_tool_3600s")))
    assert(fp(1) == fp(7))
  }

  test("chunked (skew-split) rolling == window rolling on hot-key data") {
    val specs = Seq(
      RollingSpec("value", Agg.Count, H1),
      RollingSpec("value", Agg.Sum, H1),
      RollingSpec("value", Agg.Mean, H1),
      RollingSpec("value", Agg.Min, H1),
      RollingSpec("value", Agg.Max, H1),
      RollingSpec("tool", Agg.NUnique, H1),
      RollingSpec("value", Agg.Sum, H1, strict = true))
    val cols = Seq("count_value_3600s", "sum_value_3600s", "mean_value_3600s",
      "min_value_3600s", "max_value_3600s", "nunique_tool_3600s",
      "sum_value_3600s_strict")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select((Seq("conv_id", "turn_idx") ++ cols).map(col): _*).collect()
        .map { r => (r.getString(0), r.getInt(1)) ->
          cols.indices.map(i => if (r.isNullAt(i + 2)) null else r.get(i + 2)) }
        .toMap
    val win = collect(Rolling.rollingAgg(skewed, "conv_id", "ts", specs))
    val chk = collect(Skew.chunkedRollingAgg(skewed, "conv_id", "ts", specs,
      chunkSpanMicros = 2 * micros(H1)))
    assert(win.keySet == chk.keySet)
    win.foreach { case (k, wv) =>
      val cv = chk(k)
      wv.zip(cv).zip(cols).foreach { case ((a, b), cname) =>
        (a, b) match {
          case (null, null) =>
          case (x: Long, y: Long) => assert(x == y, s"$cname at $k")
          case (x: Double, y: Double) =>
            assert(NaiveOracle.allclose(Some(x), Some(y)), s"$cname at $k: $x vs $y")
          case _ => fail(s"$cname at $k: $a vs $b")
        }
      }
    }
  }

  test("approx windowed nunique tracks the exact path within HLL tolerance") {
    val exact = Rolling.rollingAgg(skewed, "conv_id", "ts",
        Seq(RollingSpec("tool", Agg.NUnique, H1)))
      .select("conv_id", "turn_idx", "nunique_tool_3600s").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val approx = Rolling.approxRollingNunique(skewed, "conv_id", "ts", "tool", H1)
      .select("conv_id", "turn_idx", "approx_nunique_tool_3600s").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e) <= math.max(1L, math.ceil(0.15 * e).toLong),
        s"approx nunique off at $k: approx=$a exact=$e")
    }
  }

  test("auto skew guard: guarded rollingAgg == WindowOnly on hot-key data") {
    val specs = Seq(
      RollingSpec("value", Agg.Sum, H1),
      RollingSpec("value", Agg.Mean, H1),
      RollingSpec("tool", Agg.NUnique, H1),
      RollingSpec("value", Agg.Sum, H1, strict = true))
    // Threshold low enough that the generator's hot conversation(s) route
    // through the chunked path while the tail stays on the Window node —
    // the exact union shape a whale triggers in production.
    val hot = Rolling.detectHotKeys(skewed, "conv_id", 100L)
    assert(hot.nonEmpty, "guard found no hot keys on deliberately skewed data")
    def fp(df: org.apache.spark.sql.DataFrame) = Lineage.tableFingerprint(
      df.select(col("conv_id"), col("turn_idx"),
        round(col("sum_value_3600s"), 9).as("s"),
        round(col("mean_value_3600s"), 9).as("m"),
        col("nunique_tool_3600s"),
        round(col("sum_value_3600s_strict"), 9).as("ss")))
    val guarded = fp(Rolling.routed(skewed, "conv_id", "ts", specs, hot))
    val plain = fp(Rolling.rollingAgg(skewed, "conv_id", "ts", specs,
      SkewPolicy.WindowOnly))
    assert(guarded == plain)
  }

  test("hot routing at the MaxHotKeys cap == WindowOnly") {
    val spark2 = spark
    import spark2.implicits._
    // MaxHotKeys + 1 entities of 3 rows each at threshold 2: every entity is
    // a candidate, so detection saturates and routes exactly MaxHotKeys of
    // them through the isin literal; the one left over stays on the Window
    // path, as does a null-entity row (the routing-semantics edge).
    val n = Rolling.MaxHotKeys + 1
    val rows =
      (for { e <- 0 until n; i <- 0 until 3 }
        yield (s"h$e", new java.sql.Timestamp(i * 60000L), (e + i).toDouble)) :+
      ((null.asInstanceOf[String], new java.sql.Timestamp(0L), 1.0))
    val df = rows.toDF("conv_id", "ts", "value")
    val specs = Seq(
      RollingSpec("value", Agg.Sum, H1),
      RollingSpec("value", Agg.NUnique, H1))
    val hot = Rolling.detectHotKeys(df, "conv_id", 2L)
    assert(hot.size == Rolling.MaxHotKeys)
    val guarded = Rolling.routed(df, "conv_id", "ts", specs, hot)
    def fp(d: org.apache.spark.sql.DataFrame) = Lineage.tableFingerprint(
      d.select(col("conv_id"), col("ts"),
        round(col("sum_value_3600s"), 9).as("s"),
        col("nunique_value_3600s")))
    assert(guarded.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]),
      "no key was routed to the chunked path")
    assert(guarded.count() == rows.size)
    assert(fp(guarded) ==
      fp(Rolling.rollingAgg(df, "conv_id", "ts", specs, SkewPolicy.WindowOnly)))
  }

  test("guard routing keeps NULL-entity rows (cold branch), loses nothing") {
    // isin(null) is NULL, not false: without the coalesce in the router,
    // null-entity rows would vanish from BOTH branches. They must appear in
    // the output exactly once, with window values computed over the
    // null-entity group (Window.partitionBy groups nulls together).
    val spark2 = spark
    import spark2.implicits._
    val rows =
      (0 until 40).map(i => (if (i < 30) "hot" else null, i,
        new java.sql.Timestamp(1700000000000L + i * 1000L), i.toDouble))
    val df = rows.toDF("conv_id", "turn_idx", "ts", "value")
    val out = Rolling.routed(df, "conv_id", "ts",
      Seq(RollingSpec("value", Agg.Count, Duration.ofHours(1))),
      Rolling.detectHotKeys(df, "conv_id", 10L))
    assert(out.count() == 40L)
    val nulls = out.where(col("conv_id").isNull)
      .orderBy("turn_idx").collect()
    assert(nulls.length == 10)
    // 10 null rows, 1s apart, 1h frame: trailing counts 1..10
    assert(nulls.map(_.getLong(4)).toSeq == (1L to 10L))
  }

  test("SAMPLED detection finds the whale (the >64MB production branch)") {
    // The sampled branch normally needs a 64 MB input; lower the size floor
    // so the suite drives the same code path: 100k-row whale + 5k-row tail,
    // threshold 10000 (threshold·frac = 100 ≥ 30 ⇒ sampling sound).
    val whale = spark.range(100000L).select(
        lit("w").as("conv_id"), col("id").cast("int").as("turn_idx"))
      .unionByName(spark.range(5000L).select(
        concat(lit("c"), (col("id") % 500).cast("string")).as("conv_id"),
        col("id").cast("int").as("turn_idx")))
    val hot = Rolling.detectHotKeys(whale, "conv_id", 10000L, sampleMinBytes = 1000L)
    assert(hot == Seq("w"), s"sampled detection returned $hot")
  }

  test("default path survives a whale entity (10⁶ rows, 24h frame)") {
    // One conversation, a million turns, every row inside one 24h window
    // span: the Window path would recompute an up-to-10⁶-element frame per
    // row (O(10¹²) work — does not finish) and collect_set would allocate a
    // frame-sized array per row on top. The DEFAULT rollingAgg must detect
    // the whale and route it through the chunked incremental path, which is
    // O(rows) amortized. Correctness is spot-checked against directly
    // computed frame values at sampled rows.
    val spark2 = spark
    import spark2.implicits._
    val n = 1000000
    val d24 = Duration.ofHours(24)
    // one turn every 60 ms → 10⁶ rows span ~16.7 h < 24 h
    val whale = spark.range(n.toLong).select(
      lit("whale").as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      lit("user").as("role"), lit("x").as("text"),
      (col("id") % 7).cast("string").as("tool"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 60000L).as("ts"),
      (col("id") % 1000).cast("double").as("value"))
    val t0 = System.nanoTime()
    Rolling.clearDetectionCache(spark)
    val rolled = Rolling.rollingAgg(whale, "conv_id", "ts",
      Seq(RollingSpec("value", Agg.Sum, d24),
        RollingSpec("value", Agg.NUnique, d24)))
    assert(rolled.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MapPartitions]),
      "the default path did not route the whale")
    val out = rolled.select("turn_idx", "sum_value_86400s", "nunique_value_86400s")
    val got = out.where(col("turn_idx").isin(0, 999, 123456, 999999))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 120.0, s"whale took $sec s — guard did not engage")
    // expected values: frame = all rows so far (span < 24h), value = id%1000
    def expect(i: Long) = {
      val k = i + 1
      val full = k / 1000; val rem = k % 1000
      val sum = full * 499500.0 + (rem - 1) * rem / 2.0
      (sum, math.min(k, 1000L))
    }
    Seq(0L, 999L, 123456L, 999999L).foreach { i =>
      val (es, en) = expect(i)
      val (gs, gn) = got(i.toInt)
      assert(gs == es && gn == en, s"row $i: got ($gs,$gn) want ($es,$en)")
    }
  }

  test("chunked sliding sum: no drift after 10⁶ evictions") {
    // Deterministic discriminator for running-sum drift: 10⁵ rows at ~1e6
    // magnitude, then 9×10⁵ rows at ~1e-6 magnitude, one row per second,
    // 99 s frame (always full → ~10⁶ evictions, no empty-window re-zero).
    // Once the big phase has fully left the window, the true frame sum is
    // ~1e-4; a plain add-subtract running sum carries an absolute residue of
    // the big phase's rounding (≫ 1e-4, i.e. the OUTPUT would be 100%
    // wrong), and even pure Kahan's worst case scales with Σ|xᵢ| over
    // history. The periodic live-queue re-accumulation bounds the error by
    // one pass over the CURRENT frame, so tiny-phase frames must come out
    // at ~1e-20 absolute error.
    val n = 1000000
    val big = 100000
    def valOf(i: Long): Double =
      if (i < big) (i % 97 + 1).toDouble * 1e6 else ((i % 89) + 1).toDouble * 1e-6
    val whale = spark.range(n.toLong).select(
      lit("e").as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
      when(col("id") < big, ((col("id") % 97) + 1).cast("double") * 1e6)
        .otherwise(((col("id") % 89) + 1).cast("double") * 1e-6).as("value"))
    val out = Skew.chunkedRollingAgg(whale, "conv_id", "ts",
        Seq(RollingSpec("value", Agg.Sum, Duration.ofSeconds(99))),
        chunkSpanMicros = 99L * 1000000L)
      .where(col("turn_idx").isin(200000, 500000, 999999))
      .select("turn_idx", "sum_value_99s").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    Seq(200000, 500000, 999999).foreach { i =>
      val exact = (math.max(0, i - 99) to i).map(j => valOf(j.toLong)).sum
      val got = out(i)
      assert(math.abs(got - exact) <= 1e-12 * math.abs(exact) + 1e-15,
        s"row $i drifted: got $got want $exact")
    }
  }

  test("saltedAgg == plain groupBy aggregate") {
    val plain = skewed.groupBy("conv_id").agg(
        count(col("value")).as("count_value"),
        sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        countDistinct(col("value")).as("nunique_value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    val salted = Skew.saltedAgg(skewed, "conv_id", "value",
        Seq(Agg.Count, Agg.Sum, Agg.Min, Agg.Max, Agg.NUnique), salt = 8, saltBy = "turn_idx")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(plain.keySet == salted.keySet)
    plain.foreach { case (k, (c1, s1, mn1, mx1, n1)) =>
      val (c2, s2, mn2, mx2, n2) = salted(k)
      assert(c1 == c2 && mn1 == mn2 && mx1 == mx2 && n1 == n2, s"at $k")
      assert(NaiveOracle.allclose(Some(s1), Some(s2)), s"sum at $k")
    }
  }

  test("detection runs ONE job for a 2-call pipeline (session cache reuse)") {
    // VERDICT r3 item 3 / SURVEY §4.2 "reuse, don't re-scan": two rolling
    // calls over the SAME input must share one detection scan. The input's
    // size estimate clears the HotThreshold / 64 early-out, so the first
    // call really runs the job.
    val df = whaleOf(5000L, 10000000L)
    Rolling.clearDetectionCache(spark)
    val before = Rolling.detectionJobs.get()
    Rolling.rollingAgg(df, "conv_id", "ts",
      Seq(RollingSpec("value", Agg.Sum, H1))).count()
    Rolling.rollingAgg(df, "conv_id", "ts",
      Seq(RollingSpec("value", Agg.Count, H1))).count()
    assert(Rolling.detectionJobs.get() - before == 1L,
      s"expected 1 detection job, ran ${Rolling.detectionJobs.get() - before}")
  }

  test("WindowOnly runs no detection job and routes nothing") {
    // The same input under Auto runs a detection job (see above), so the
    // zero below is not vacuous; given its whale, the router splits it.
    val df = whaleOf(5000L, 10000000L)
    val specs = Seq(RollingSpec("value", Agg.Sum, H1))
    def chunked(d: org.apache.spark.sql.DataFrame) = d.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MapPartitions])
    assert(chunked(Rolling.routed(df, "conv_id", "ts", specs, Seq("w"))))
    Rolling.clearDetectionCache(spark)
    val before = Rolling.detectionJobs.get()
    val out = Rolling.rollingAgg(df, "conv_id", "ts", specs, SkewPolicy.WindowOnly)
    assert(Rolling.detectionJobs.get() == before, "WindowOnly ran a detection job")
    assert(!chunked(out), "WindowOnly routed hot keys")
  }

  test("WindowNUnique rejects binary input at analysis (reference-equality hazard)") {
    val df = skewed.withColumn("b", col("tool").cast("binary"))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Rolling.rollingAgg(df, "conv_id", "ts",
        Seq(RollingSpec("b", Agg.NUnique, H1)), SkewPolicy.WindowOnly).collect()
    }
    assert(ex.getMessage.contains("tjk_window_nunique") ||
      ex.getMessage.toLowerCase.contains("binary"), ex.getMessage)
  }

  test("WindowNUnique counts -0.0==0.0 and all NaNs as one, like count(DISTINCT)") {
    val spark2 = spark
    import spark2.implicits._
    val ts = (i: Int) => new java.sql.Timestamp(1700000000000L + i * 1000L)
    val df = Seq(
      ("a", 0, ts(0), 0.0), ("a", 1, ts(1), -0.0),
      ("a", 2, ts(2), Double.NaN), ("a", 3, ts(3), Double.NaN))
      .toDF("conv_id", "turn_idx", "ts", "value")
    val out = Rolling.rollingAgg(df, "conv_id", "ts",
        Seq(RollingSpec("value", Agg.NUnique, H1)), SkewPolicy.WindowOnly)
      .orderBy("turn_idx").select("nunique_value_3600s").collect().map(_.getLong(0))
    // frames: [0.0] → 1; [0.0,-0.0] → 1; +NaN → 2; +NaN → 2
    assert(out.toSeq == Seq(1L, 1L, 2L, 2L), out.toSeq.toString)
    // …and the chunked O3 path must agree (same normalization, or a whale
    // routing would silently change NaN semantics)
    val chunked = Skew.chunkedRollingAgg(df, "conv_id", "ts",
        Seq(RollingSpec("value", Agg.NUnique, H1)),
        chunkSpanMicros = micros(H1))
      .orderBy("turn_idx").select("nunique_value_3600s").collect().map(_.getLong(0))
    assert(chunked.toSeq == Seq(1L, 1L, 2L, 2L), chunked.toSeq.toString)
  }

  test("null-ts rows of a HOT entity route cold and results match WindowOnly") {
    // tsMicros(null) would NPE in the chunked operator's getLong; the
    // router must send null-ts rows down the Window branch, and doing so
    // must be result-invariant (a null-order row's range frame sees only
    // its null-ts peers).
    val spark2 = spark
    import spark2.implicits._
    val rows = (0 until 50).map { i =>
      ("hot", i,
        if (i % 10 == 3) null
        else new java.sql.Timestamp(1700000000000L + i * 1000L),
        i.toDouble)
    } ++ Seq(("cold", 0, new java.sql.Timestamp(1700000000000L), 1.0))
    val df = rows.toDF("conv_id", "turn_idx", "ts", "value")
    val specs = Seq(RollingSpec("value", Agg.Sum, H1),
      RollingSpec("value", Agg.Count, H1))
    def fp(d: org.apache.spark.sql.DataFrame) = Lineage.tableFingerprint(
      d.select(col("conv_id"), col("turn_idx"),
        round(col("sum_value_3600s"), 9).as("s"), col("count_value_3600s")))
    val hot = Rolling.detectHotKeys(df, "conv_id", 10L)
    assert(hot == Seq("hot"))
    assert(fp(Rolling.routed(df, "conv_id", "ts", specs, hot)) ==
      fp(Rolling.rollingAgg(df, "conv_id", "ts", specs, SkewPolicy.WindowOnly)))
    // and a DIRECT chunked call on null-ts data fails loudly, never NPEs
    val ex = intercept[org.apache.spark.SparkException] {
      Skew.chunkedRollingAgg(df, "conv_id", "ts", specs,
        chunkSpanMicros = micros(H1)).collect()
    }
    assert(ex.getMessage.contains("null ts") ||
      Option(ex.getCause).exists(_.getMessage.contains("null ts")), ex.getMessage)
  }

  test("chunked == window on pre-1970 timestamps (floor-consistent chunking)") {
    // Truncating `div` vs floor-based pmod diverge on negative micros: a
    // row just before a chunk boundary in negative time must still be
    // duplicated forward as context or trailing frames lose rows.
    val spark2 = spark
    import spark2.implicits._
    val rows = (0 until 200).map { i =>
      ("e", i, new java.sql.Timestamp(-86400000L * 2 + i * 137000L), (i % 13).toDouble)
    }
    val df = rows.toDF("conv_id", "turn_idx", "ts", "value")
    val specs = Seq(RollingSpec("value", Agg.Sum, Duration.ofMinutes(10)),
      RollingSpec("value", Agg.Count, Duration.ofMinutes(10)))
    def fp(d: org.apache.spark.sql.DataFrame) = Lineage.tableFingerprint(
      d.select(col("conv_id"), col("turn_idx"),
        round(col("sum_value_600s"), 9).as("s"), col("count_value_600s")))
    val win = fp(Rolling.rollingAgg(df, "conv_id", "ts", specs, SkewPolicy.WindowOnly))
    val chk = fp(Skew.chunkedRollingAgg(df, "conv_id", "ts", specs,
      chunkSpanMicros = 3L * 600L * 1000000L)) // span 3× window ⇒ real context bands
    assert(win == chk)
  }

  /** A whale `w` of `n` turns `stepMicros` apart, plus 50 cold 3-turn
    * conversations; integer values, so every frame sum is exact.
    */
  private def whaleOf(n: Long, stepMicros: Long) = {
    val t0 = 1700000000000000L
    spark.range(n).select(lit("w").as("conv_id"), col("id").cast("int").as("turn_idx"),
        timestamp_micros(lit(t0) + col("id") * stepMicros).as("ts"),
        (col("id") % 17).cast("string").as("tool"), (col("id") % 101).cast("double").as("value"))
      .unionByName(spark.range(150L).select(
        concat(lit("c"), (col("id") % 50).cast("string")).as("conv_id"),
        (col("id") / 50).cast("int").as("turn_idx"),
        timestamp_micros(lit(t0) + col("id") * 7000000L).as("ts"),
        (col("id") % 3).cast("string").as("tool"), (col("id") % 11).cast("double").as("value")))
  }

  private val spanSpecs = Seq(
    RollingSpec("value", Agg.Count, H1),
    RollingSpec("value", Agg.Sum, H1),
    RollingSpec("value", Agg.Min, Duration.ofMinutes(10)),
    RollingSpec("value", Agg.Max, H1, strict = true),
    RollingSpec("tool", Agg.NUnique, H1),
    RollingSpec("value", Agg.Sum, Duration.ofMinutes(10), strict = true))

  private def spanFp(df: org.apache.spark.sql.DataFrame) = Lineage.tableFingerprint(
    df.select((Seq("conv_id", "turn_idx") ++ spanSpecs.map(_.outName)).map(col): _*))

  test("long-timeline whale: the chunk shuffle carries ≤ 1.25× the hot rows") {
    // 20,000 turns 2 min apart ≈ 667 h in 8 h chunks (MaxChunkWindows × the
    // 1 h max window): only each chunk's last hour is duplicated, 1/8 of the
    // rows. A span of one max window would duplicate every hot row (2×).
    val n = 20000L
    val df = whaleOf(n, 120000000L)
    val out = Rolling.routed(df, "conv_id", "ts", spanSpecs,
      Rolling.detectHotKeys(df, "conv_id", 1000L))
    out.collect()
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val chunkRecords = Aqe.collect(out.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("__chunk") =>
        e.metrics("shuffleRecordsWritten").value
    }
    assert(chunkRecords.size == 1, s"chunk exchanges: $chunkRecords")
    assert(chunkRecords.head >= n && chunkRecords.head <= n * 5 / 4,
      s"chunk shuffle wrote ${chunkRecords.head} records for $n hot rows")
    assert(spanFp(out) ==
      spanFp(Rolling.rollingAgg(df, "conv_id", "ts", spanSpecs, SkewPolicy.WindowOnly)))
  }

  test("short-timeline whale and an overflow-wide window: results == WindowOnly") {
    // 5,000 turns 10 s apart ≈ 14 h: two 8 h chunks, the band in both.
    val df = whaleOf(5000L, 10000000L)
    val hot = Rolling.detectHotKeys(df, "conv_id", 1000L)
    val guarded = Rolling.routed(df, "conv_id", "ts", spanSpecs, hot)
    assert(guarded.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MapPartitions]),
      "whale was not routed to the chunked path")
    assert(spanFp(guarded) ==
      spanFp(Rolling.rollingAgg(df, "conv_id", "ts", spanSpecs, SkewPolicy.WindowOnly)))
    // 8 windows of ~73,000 years overflow a Long of micros: the router falls
    // back to a one-window span instead of a wrapped (negative) one.
    val wide = Seq(
      RollingSpec("value", Agg.Sum, Duration.ofMillis(Long.MaxValue / 4000L)),
      RollingSpec("value", Agg.Count, H1))
    def wideFp(d: org.apache.spark.sql.DataFrame) = Lineage.tableFingerprint(
      d.select((Seq("conv_id", "turn_idx") ++ wide.map(_.outName)).map(col): _*))
    assert(wideFp(Rolling.routed(df, "conv_id", "ts", wide, hot)) ==
      wideFp(Rolling.rollingAgg(df, "conv_id", "ts", wide, SkewPolicy.WindowOnly)))
  }

  test("band edge: rows at pmod == span − maxW feed the next chunk's frames (span 8·maxW)") {
    // A row at exactly span − maxW into its chunk is the lower frame bound
    // of the next chunk's first row, for strict and non-strict frames.
    val w = micros(H1)
    val span = Rolling.MaxChunkWindows * w
    val b = (1700000000000000L / span) * span
    val stamps = (0L until 4L).flatMap { k =>
      val c = b + k * span
      Seq(c, c + 1, c + span - w - 1, c + span - w, c + span - w, c + span - w + 1,
        c + span - 600000000L, c + span - 1, c + span, c + span + 1, c + span + w - 1)
    }
    val df = spark.createDataFrame(stamps.zipWithIndex.map { case (m, i) =>
        (m, i, (i % 7).toDouble, (i % 3).toString) })
      .toDF("m", "turn_idx", "value", "tool")
      .select(lit("e").as("conv_id"), col("turn_idx"),
        timestamp_micros(col("m")).as("ts"), col("value"), col("tool"))
    assert(spanFp(Skew.chunkedRollingAgg(df, "conv_id", "ts", spanSpecs, span)) ==
      spanFp(Rolling.rollingAgg(df, "conv_id", "ts", spanSpecs, SkewPolicy.WindowOnly)))
  }

  test("zero-width and sub-millisecond windows route hot == WindowOnly") {
    // At a 0 µs max window the chunk span was 0 and the chunk id a pmod by
    // zero; a 500 µs window truncated to 0 µs the same way.
    val rows = spark.range(200L).select(lit("hot").as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      timestamp_micros(lit(1700000000000000L) + (col("id") / 2).cast("long") * 300L).as("ts"),
      (col("id") % 7).cast("double").as("value"))
    val hot = Rolling.detectHotKeys(rows, "conv_id", 10L)
    assert(hot == Seq("hot"))
    Seq(Duration.ZERO, Duration.ofNanos(500000L)).foreach { w =>
      val specs = Seq(RollingSpec("value", Agg.Count, w), RollingSpec("value", Agg.Sum, w))
      def fp(d: org.apache.spark.sql.DataFrame) = Lineage.tableFingerprint(
        d.select((Seq("conv_id", "turn_idx") ++ specs.map(_.outName)).map(col): _*))
      assert(fp(Rolling.routed(rows, "conv_id", "ts", specs, hot)) ==
        fp(Rolling.rollingAgg(rows, "conv_id", "ts", specs, SkewPolicy.WindowOnly)), s"window $w")
    }
    val neg = intercept[IllegalArgumentException] {
      RollingSpec("value", Agg.Count, Duration.ofSeconds(-1))
    }
    assert(neg.getMessage.contains("RollingSpec(value,Count,PT-1S"), neg.getMessage)
    intercept[IllegalArgumentException] {
      Skew.chunkedRollingAgg(rows, "conv_id", "ts",
        Seq(RollingSpec("value", Agg.Count, Duration.ZERO)), chunkSpanMicros = 0L)
    }
  }

  test("generator produces the intended hot tail (skew exists to be handled)") {
    val counts = skewed.groupBy("conv_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hot = counts("c00000000")
    val medianish = counts.values.toSeq.sorted.apply(counts.size / 2)
    assert(hot >= 20 * medianish, s"hot=$hot median=$medianish")
  }
}
