package graft

import java.nio.file.Files
import java.time.Duration
import org.apache.spark.sql.functions._
import graft.tjk._

/** SURVEY.md §5 layer 6 — kill-and-restart: completed buckets are skipped
  * untouched; the resumed output is identical to a clean full run.
  */
class ResumeSuite extends SparkTestBase {

  private val H1 = Duration.ofHours(1)

  // WindowOnly: the bytes-read pin below asserts runBucketed's OWN scan
  // count; the default skew guard would add its (legitimate, documented)
  // detection scan on large inputs and muddy that assertion.
  private def job(df: org.apache.spark.sql.DataFrame) =
    Rolling.rollingAgg(df, "conv_id", "ts",
        Seq(RollingSpec("value", Agg.Sum, H1), RollingSpec("tool", Agg.NUnique, H1)),
        SkewPolicy.WindowOnly)
      .select(col("conv_id"), col("turn_idx"),
        round(col("sum_value_3600s"), 9).as("sum_1h"), col("nunique_tool_3600s"))

  test("restart skips verified buckets and reproduces identical output") {
    val input = turnsDf(Gen.turnsSeq(42L, 20, 30))
    val outDir = Files.createTempDirectory("tjk_resume").toString
    val buckets = 4

    val first = Resume.runBucketed(spark, input, "conv_id", outDir, buckets)(job)
    assert(first.forall(!_.skipped))
    val cleanFp = Lineage.tableFingerprint(
      spark.read.parquet((0 until buckets).map(b => s"$outDir/bucket=$b"): _*))

    // Simulate a crash that lost bucket 1 (data + manifest).
    deleteRec(new java.io.File(s"$outDir/bucket=1"))
    new java.io.File(s"$outDir/manifest_1.json").delete()
    val mtimes = (0 until buckets).filter(_ != 1)
      .map(b => b -> new java.io.File(s"$outDir/bucket=$b").lastModified()).toMap

    val second = Resume.runBucketed(spark, input, "conv_id", outDir, buckets)(job)
    assert(second.count(_.skipped) == buckets - 1)
    assert(!second.find(_.bucket == 1).get.skipped)
    mtimes.foreach { case (b, m) =>
      assert(new java.io.File(s"$outDir/bucket=$b").lastModified() == m,
        s"bucket $b was touched on resume")
    }
    // Recomputed bucket carries the same manifest metrics as the first run.
    assert(second.map(r => (r.bucket, r.rowCount, r.contentHash)).toSet ==
      first.map(r => (r.bucket, r.rowCount, r.contentHash)).toSet)
    val resumedFp = Lineage.tableFingerprint(
      spark.read.parquet((0 until buckets).map(b => s"$outDir/bucket=$b"): _*))
    assert(resumedFp == cleanFp)
    deleteRec(new java.io.File(outDir))
  }

  test("one-pass resume: input bytes read ≈ one scan, not one per bucket") {
    // Pin the VERDICT-r2 fix: runBucketed must not run B filtered scans of
    // the input (B full passes at 100 TB on plain Parquet). Measured via the
    // task input metrics: a fresh run over B=8 buckets must read the input
    // roughly once (< 2× its file size — rounding up for footer/dictionary
    // re-reads), where the per-bucket shape would read ≈ 8×. The fully
    // resumed second run must read ZERO input bytes (manifests only).
    val raw = turnsDf(Gen.turnsSeq(43L, 30, 30))
    val inDir = Files.createTempDirectory("tjk_resume_in").toString
    raw.write.mode("overwrite").parquet(inDir)
    val inputSize = {
      def sz(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(sz).sum else f.length()
      sz(new java.io.File(inDir))
    }
    val input = spark.read.parquet(inDir)
    val outDir = Files.createTempDirectory("tjk_resume_once").toString

    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    def measured[A](f: => A): (A, Long) = {
      bytesRead.set(0L)
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = f
        // the listener bus is async; wait until the counter stops moving
        var prev = -1L
        while (prev != bytesRead.get()) { prev = bytesRead.get(); Thread.sleep(250) }
        (r, bytesRead.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    val (first, firstBytes) =
      measured(Resume.runBucketed(spark, input, "conv_id", outDir, 8)(job))
    assert(first.forall(!_.skipped))
    // read once-ish: the job scan + nothing else touches the INPUT files
    // (the fingerprint pass reads the written OUTPUT, which also counts as
    // input metrics — hence 2× headroom on input size + output size)
    assert(firstBytes < 2L * inputSize + inputSize,
      s"first run read $firstBytes bytes for a $inputSize-byte input — " +
        "looks like one scan per bucket")

    val (second, secondBytes) =
      measured(Resume.runBucketed(spark, input, "conv_id", outDir, 8)(job))
    assert(second.forall(_.skipped))
    assert(secondBytes == 0L,
      s"fully-resumed run still read $secondBytes bytes")

    deleteRec(new java.io.File(outDir)); deleteRec(new java.io.File(inDir))
  }

  test("zero buckets fail loudly instead of silently dropping every row") {
    val input = turnsDf(Gen.turnsSeq(44L, 4, 10))
    val outDir = Files.createTempDirectory("tjk_resume_zero").toString
    val ex = intercept[IllegalArgumentException] {
      Resume.runBucketed(spark, input, "conv_id", outDir, 0)(job)
    }
    assert(ex.getMessage.contains("buckets must be >= 1, got 0"), ex.getMessage)
    deleteRec(new java.io.File(outDir))
  }

  test("bucket values outside [0, buckets) fail before any commit, not drop rows") {
    val spark2 = spark
    import spark2.implicits._
    val input = (0 until 40).map(i => (f"c$i%02d", i)).toDF("conv_id", "turn_idx")
    val bucketOf = pmod(xxhash64(col("conv_id")), lit(8L))
    val stray = input.where(bucketOf >= 4L)
    val strayRows = stray.count()
    val strayVals = stray.select(bucketOf).distinct().collect().map(_.getLong(0)).sorted
    assert(strayRows > 0L, "fixture has no out-of-range bucket value")
    val outDir = Files.createTempDirectory("tjk_resume_stray").toString
    val ex = intercept[IllegalArgumentException] {
      Resume.runBucketed(spark, input, "conv_id", outDir, 4,
        bucketCol = Some(bucketOf))(df => df)
    }
    assert(ex.getMessage.contains(strayVals.mkString(", ")) &&
      ex.getMessage.contains(s"($strayRows rows)"), ex.getMessage)
    // nothing committed, nothing left behind
    assert(new java.io.File(outDir).list().isEmpty,
      new java.io.File(outDir).list().mkString(", "))
    deleteRec(new java.io.File(outDir))
  }

  test("a corrupt manifest routes its bucket to recompute instead of wedging resume") {
    val input = turnsDf(Gen.turnsSeq(46L, 12, 20))
    val outDir = Files.createTempDirectory("tjk_resume_corrupt").toString
    val first = Resume.runBucketed(spark, input, "conv_id", outDir, 4)(job)
    // crash mid-writeString: data dir committed, manifest truncated garbage
    java.nio.file.Files.writeString(
      new java.io.File(s"$outDir/manifest_2.json").toPath, """{"bucket":2,"row_c""")
    val second = Resume.runBucketed(spark, input, "conv_id", outDir, 4)(job)
    assert(second.count(_.skipped) == 3)
    assert(!second.find(_.bucket == 2).get.skipped)
    assert(second.map(r => (r.bucket, r.rowCount, r.contentHash)).toSet ==
      first.map(r => (r.bucket, r.rowCount, r.contentHash)).toSet)
    deleteRec(new java.io.File(outDir))
  }

  test("NULL bucket values route to bucket 0 on full AND partial waves") {
    // ADVICE r3 item 1: an md5-derived bucketCol is NULL for a null entity;
    // unrouted, those rows land in __HIVE_DEFAULT_PARTITION__ (NPE on the
    // full-wave fingerprint read-back, silent drop on partial-wave slices).
    val spark2 = spark
    import spark2.implicits._
    val rows = (0 until 40).map { i =>
      (if (i == 7 || i == 23) null else f"c$i%02d", i,
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }
    val input = rows.toDF("conv_id", "turn_idx", "ts")
    val bucketOf = pmod(ascii(substring(md5(col("conv_id")), 32, 1)), lit(4))
    val outDir = Files.createTempDirectory("tjk_resume_null").toString

    val first = Resume.runBucketed(spark, input, "conv_id", outDir, 4,
      bucketCol = Some(bucketOf))(df => df)
    assert(first.map(_.rowCount).sum == 40L, "full wave lost null-bucket rows")
    val all = spark.read.parquet((0 until 4).map(b => s"$outDir/bucket=$b"): _*)
    assert(all.count() == 40L)
    assert(spark.read.parquet(s"$outDir/bucket=0")
      .where(col("conv_id").isNull).count() == 2L)

    // Crash bucket 0 (the null home) and resume with a PARTIAL wave: the
    // recomputed slice must still include the null rows.
    deleteRec(new java.io.File(s"$outDir/bucket=0"))
    new java.io.File(s"$outDir/manifest_0.json").delete()
    val second = Resume.runBucketed(spark, input, "conv_id", outDir, 4,
      bucketCol = Some(bucketOf))(df => df)
    assert(second.map(r => (r.bucket, r.rowCount, r.contentHash)).toSet ==
      first.map(r => (r.bucket, r.rowCount, r.contentHash)).toSet)
    assert(spark.read.parquet(s"$outDir/bucket=0")
      .where(col("conv_id").isNull).count() == 2L)
    deleteRec(new java.io.File(outDir))
  }

  test("the staging read-back names its bucket dirs: no 'All paths were ignored' fall-back") {
    // `_tmp_run` is hidden from Spark's path filter by its leading `_`; read
    // as a directory, Spark warns that it ignored every path and then reads
    // them anyway. The read-back must not depend on that fall-back.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("resume-readback", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    val input = turnsDf(Gen.turnsSeq(47L, 8, 10))
    val outDir = Files.createTempDirectory("tjk_resume_readback").toString
    val res =
      try Resume.runBucketed(spark, input, "conv_id", outDir, 4)(job)
      finally {
        logger.removeAppender(appender)
        logger.setLevel(level)
        appender.stop()
      }
    assert(res.map(_.rowCount).sum == input.count())
    val ignored = lines.toArray.map(_.toString).filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
    assert(!new java.io.File(s"$outDir/_tmp_run").exists())
    deleteRec(new java.io.File(outDir))
  }

  test("lineage fingerprint is partition-layout independent") {
    val df = turnsDf(Gen.turnsSeq(42L, 10, 30))
    val a = Lineage.tableFingerprint(df.repartition(1))
    val b = Lineage.tableFingerprint(df.repartition(9))
    assert(a == b)
    val m = Lineage.manifest(df.repartition(5), "stage1")
    val folded = m.agg(sum(col("row_count")), bit_xor(col("content_hash"))).collect()(0)
    assert((folded.getLong(0), folded.getLong(1)) == a)
  }

  test("tableFingerprint values are pinned: cached reference fingerprints stay valid") {
    // Literal values of a fixed frame (strings, doubles and nulls), so a
    // change to the fold cannot silently invalidate fingerprints on disk.
    val df = spark.range(1000L).select(
      col("id"),
      concat(lit("c"), (col("id") % 7).cast("string")).as("k"),
      (col("id") * 0.5).as("v"),
      when(col("id") % 5 =!= 0, col("id").cast("int")).as("n"))
    assert(Lineage.tableFingerprint(df) == ((1000L, -2708096048943820555L)))
    assert(Lineage.tableFingerprint(df.limit(0)) == ((0L, 0L)))
  }
}
