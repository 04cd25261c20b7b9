package perfbench

import java.io.File
import java.nio.file.Files
import java.time.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.tjk._
import Main.{Opts, noop, timed}

/** A generated table, written once under the work directory and read back. */
final case class Part(dir: File, df: DataFrame, rows: Long, genSeconds: Double)

/** The input of one run: its parts, read as one table. */
final case class Input(parts: Seq[Part]) {
  val df: DataFrame = parts.head.df.sparkSession.read
    .parquet(parts.map(p => new File(p.dir, "data").getPath): _*)
  val rows: Long = parts.map(_.rows).sum
  val genSeconds: Double = parts.map(_.genSeconds).sum
}

/** Untimed reference results the timed legs are checked against: the job's
  * output fingerprint and the written table's (row_count, content_hash).
  */
final case class Reference(job: Seq[Long], written: (Long, Long))

/** Wraps a named step; the traced run records a span around it. */
trait Wrap { def apply[T](name: String)(body: => T): T }
object Wrap {
  val none: Wrap = new Wrap { def apply[T](name: String)(body: => T): T = body }
}

trait Workload {
  def o: Opts

  /** Whether the traced run has the 1-core leg. */
  def scales: Boolean

  /** A tiny in-memory pass through the same layers, run during set-up. */
  def warmUp(spark: SparkSession): Unit

  def input(spark: SparkSession): Input
  def reference(spark: SparkSession, in: Input): Reference

  /** Input properties the workload's behaviour depends on. */
  def properties(in: Input): Map[String, Double]

  /** Leg (a): one pass of the workload's job. Returns checks on its output
    * as (name, passed, detail).
    */
  def job(spark: SparkSession, in: Input, ref: Reference, wrap: Wrap = Wrap.none)
      : Seq[(String, Boolean, String)]

  /** Leg (c): the per-row output written through Resume.runBucketed. */
  def write(spark: SparkSession, in: Input, dir: String): Seq[Resume.BucketResult]

  /** Layer metrics only this workload can measure. */
  def traceLayers(spark: SparkSession, in: Input, tracer: Tracer): Map[String, Double]

  /** The table `key`, generated by `gen` on first use. */
  protected def part(spark: SparkSession, key: String)(gen: => DataFrame): Part = {
    val dir = new File(o.work, s"data/$key")
    val data = new File(dir, "data").getPath
    val meta = new File(dir, "meta.txt")
    if (!meta.exists()) {
      deleteRec(dir)
      val (_, genS) = timed(gen.write.parquet(data))
      Main.writeText(meta, s"${spark.read.parquet(data).count()} $genS")
    }
    val Array(rows, genS) = Files.readString(meta.toPath).trim.split(" ")
    Part(dir, spark.read.parquet(data), rows.toLong, genS.toDouble)
  }

  /** Numbers derived from a part only, computed once and kept beside it. */
  protected def cached(p: Part, name: String)(compute: => Seq[Long]): Seq[Long] = {
    val f = new File(p.dir, name)
    if (!f.exists()) Main.writeText(f, compute.mkString(" "))
    Files.readString(f.toPath).trim.split(" ").map(_.toLong).toSeq
  }
}

object Workload {
  def apply(o: Opts): Workload = o.workload match {
    case "backfill_whale" => new Transcripts(o)
    case "doc_dedup" => new Docs(o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The flagship backfill over generated transcripts with whales: rolling
  * {1h, 24h} × {count, sum, nunique}, lag {1, 3}, sessionize 30 min, an
  * as-of join to the code-tool turns, then a per-session aggregate.
  */
final class Transcripts(val o: Opts) extends Workload {
  import Transcripts._

  val scales = false

  private val blockConvs = if (o.smoke) 150L else 2500L
  private val whaleIds = (0 until (if (o.smoke) 1 else 2)).map(k => f"w$k%07d")

  /** The bulk is [[Blocks]] blocks of uniform-length conversations that the
    * run's seed draws from a pool of [[PoolBlocks]]; each block is generated,
    * and its reference computed, once per work directory. Block j's
    * conversations are prefixed `bj`. Each whale comes from its own fixed
    * seed under its own conv_id.
    */
  def input(spark: SparkSession): Input = {
    val drawn = new scala.util.Random(o.seed).shuffle((0 until PoolBlocks).toList)
      .take(Blocks).sorted
    val bulk = drawn.map { j =>
      part(spark, s"uniform${blockConvs}_block$j") {
        Gen.transcripts(spark, blockConvs, BlockSeed + j, medianLen = 20, hotFactor = 1)
          .withColumn("conv_id", concat(lit(f"b$j%02d"), col("conv_id")))
      }
    }
    val ws = whaleIds.zipWithIndex.map { case (id, k) =>
      part(spark, s"whale${WhaleTurns}_$k") {
        Gen.transcripts(spark, 1L, WhaleSeed + k, medianLen = 20,
          hotFactor = WhaleTurns / 20).withColumn("conv_id", lit(id))
      }
    }
    Input(bulk ++ ws)
  }

  def properties(in: Input): Map[String, Double] = Map(
    "rows" -> in.rows.toDouble,
    "conversations" -> (Blocks * blockConvs + whaleIds.size).toDouble,
    "longest_conversation" -> WhaleTurns.toDouble,
    "whale_share" -> in.parts.takeRight(whaleIds.size).map(_.rows).sum.toDouble / in.rows)

  def warmUp(spark: SparkSession): Unit =
    Lineage.tableFingerprint(features(Gen.transcripts(spark, 20L, 1L), SkewPolicy.WindowOnly))

  /** The reference composition, `SkewPolicy.WindowOnly` plus the merge
    * as-of, per part. Every feature is per conversation and parts share no
    * conversation, so row counts add and XOR hashes fold across parts.
    */
  def reference(spark: SparkSession, in: Input): Reference = {
    val per = in.parts.map(p => cached(p, "reference.txt") {
      val m = matrix(p.df, SkewPolicy.WindowOnly, merge = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (wRows, wHash) = Lineage.tableFingerprint(m)
      val (aRows, aHash) = Lineage.tableFingerprint(sessionAgg(m))
      m.unpersist()
      Seq(wRows, wHash, aRows, aHash)
    })
    Reference(Seq(per.map(_(2)).sum, per.map(_(3)).reduce(_ ^ _)),
      (per.map(_(0)).sum, per.map(_(1)).reduce(_ ^ _)))
  }

  def job(spark: SparkSession, in: Input, ref: Reference, wrap: Wrap)
      : Seq[(String, Boolean, String)] = {
    Rolling.clearDetectionCache(spark)
    val f = features(in.df, SkewPolicy.Auto)
    val routed = routedKeys(f)
    val (rows, hash) = Lineage.tableFingerprint(sessionAgg(asof(f, side(in.df), merge = false)))
    Seq(
      ("backfill.fingerprint", Seq(rows, hash) == ref.job,
        s"($rows, $hash) vs reference ${ref.job}"),
      ("skew.routing", routed == whaleIds.toSet,
        s"chunked path got ${routed.toSeq.sorted}, whales ${whaleIds.sorted}"))
  }

  def write(spark: SparkSession, in: Input, dir: String): Seq[Resume.BucketResult] =
    Resume.runBucketed(spark, in.df, "conv_id", dir, Main.Buckets)(
      matrix(_, SkewPolicy.Auto, merge = false))

  def traceLayers(spark: SparkSession, in: Input, tracer: Tracer): Map[String, Double] = {
    // cumulative prefixes of the composition; a layer's self time is the
    // difference between its prefix and the one before
    val wv = withValue(in.df)
    Rolling.clearDetectionCache(spark)
    val (p1, detectS) = tracer.span("skew.detect")(
      Rolling.rollingAgg(wv, "conv_id", "ts", Spec.rolling))
    val p2 = Offsets.lags(p1, "conv_id", Seq("turn_idx", "ts"), Spec.lags)
    val p3 = Sessionize.sessionize(p2, "conv_id", "ts", "turn_idx", Gap)
    val p4 = asof(p3.select(FeatureCols.map(col): _*), side(in.df), merge = false)
    val p5 = sessionAgg(p4)
    val prefixes = Seq("rolling" -> p1, "offsets" -> p2, "sessionize" -> p3,
      "asof" -> p4, "agg" -> p5)
    val walls = prefixes.map { case (layer, df) =>
      // the per-turn prefixes drop the text column, as the full job does
      val (_, s) = tracer.span(layer)(noop(df.drop("text", "role", "tool")))
      spark.catalog.clearCache()
      s
    }
    val self = walls.zip(0.0 +: walls.init).map { case (a, b) => a - b }
    def st(layer: String) = tracer.get(layer)
    val routed = routedKeys(p1)
    val routedRows = if (routed.isEmpty) 0L
      else in.df.where(col("conv_id").isin(routed.toSeq: _*)).count()
    Map(
      "skew.detect_s" -> detectS,
      "skew.detect_jobs" -> tracer.get("skew.detect").jobs.toDouble,
      "skew.routed_keys" -> routed.size.toDouble,
      "skew.routed_rows" -> routedRows.toDouble,
      "rolling.self_s" -> self(0),
      "rolling.cpu_s" -> st("rolling").cpuSeconds,
      "rolling.shuffle_mb" -> st("rolling").mb(st("rolling").shuffleWriteBytes),
      "rolling.task_skew" -> st("rolling").taskSkew,
      "offsets.self_s" -> self(1),
      "offsets.task_skew" -> st("offsets").taskSkew,
      "sessionize.self_s" -> self(2),
      "sessionize.task_skew" -> st("sessionize").taskSkew,
      "asof.self_s" -> self(3),
      "asof.shuffle_mb" -> (st("asof").mb(st("asof").shuffleWriteBytes) -
        st("sessionize").mb(st("sessionize").shuffleWriteBytes)),
      "agg.self_s" -> self(4))
  }
}

object Transcripts {
  /** Turns per whale: above the engine's default hot threshold (500,000). */
  val WhaleTurns = 520000
  val WhaleSeed = 1000003L
  val BlockSeed = 2000003L
  val Blocks = 2
  val PoolBlocks = 12
  val Gap: Duration = Duration.ofMinutes(30)

  val Spec = FeatureSpec(
    rolling = Seq(
      RollingSpec("value", Agg.Count, Duration.ofHours(1)),
      RollingSpec("value", Agg.Sum, Duration.ofHours(1)),
      RollingSpec("value", Agg.Count, Duration.ofHours(24)),
      RollingSpec("value", Agg.Sum, Duration.ofHours(24)),
      RollingSpec("tool", Agg.NUnique, Duration.ofHours(1)),
      RollingSpec("tool", Agg.NUnique, Duration.ofHours(24))),
    lags = Seq(("value", 1), ("value", 3)),
    sessionGap = Some(Gap))

  val FeatureCols: Seq[String] = Seq("conv_id", "turn_idx", "ts", "session_id") ++
    Spec.rolling.map(_.outName) ++ Seq("lag_value_1", "lag_value_3")
  val OutCols: Seq[String] = FeatureCols :+ "side_value"

  def withValue(turns: DataFrame): DataFrame =
    turns.withColumn("value", length(col("text")).cast("double"))

  def features(turns: DataFrame, policy: SkewPolicy): DataFrame =
    Pipeline.backfill(withValue(turns), Spec, skewPolicy = policy)
      .select(FeatureCols.map(col): _*)

  /** The side table: each conversation's code-tool turns. */
  def side(turns: DataFrame): DataFrame =
    withValue(turns).where(col("tool") === "code")
      .select(col("conv_id"), col("ts").as("side_ts"),
        col("turn_idx").cast("long").as("side_tie"), col("value").as("side_value"))

  def asof(features: DataFrame, side: DataFrame, merge: Boolean): DataFrame = {
    val j =
      if (merge) AsOf.asofJoinMerge(features, side, "conv_id", "ts", "side_ts",
        payload = Seq("side_value"), tieCol = Some("side_tie"))
      else AsOf.asofJoin(features, side, "conv_id", "ts", "side_ts",
        payload = Seq("side_value"), tieCol = Some("side_tie"))
    j.select(OutCols.map(col): _*)
  }

  /** The per-turn feature matrix. */
  def matrix(turns: DataFrame, policy: SkewPolicy, merge: Boolean): DataFrame =
    asof(features(turns, policy), side(turns), merge)

  def sessionAgg(m: DataFrame): DataFrame =
    m.groupBy("conv_id", "session_id").agg(
      count(lit(1)).as("n_turns"),
      sum(col("sum_value_3600s")).as("s1"),
      max(col("count_value_86400s")).as("c24"),
      max(col("nunique_tool_3600s")).as("nu1"),
      avg(col("lag_value_1")).as("l1"),
      avg(col("side_value")).as("sv"))

  /** Entities the rolling layer sent to its chunked path, read from the
    * plan: the literal key list of the hot-branch filter, present only when
    * a chunked branch (a MapPartitions node) was planned.
    */
  def routedKeys(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.analyzed
    if (plan.find(_.isInstanceOf[MapPartitions]).isEmpty) Set.empty
    else plan.collect { case f: Filter => f.condition }.flatMap(_.collect {
      case In(_, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.map(_.asInstanceOf[Literal].value.toString)
      case InSet(_, set) => set.map(_.toString).toSeq
    }.flatten).toSet
  }
}

/** The near-duplicate document family over Gen.documents: exact, n-gram
  * Jaccard, MinHash LSH and SimHash, each checked against the planted copies
  * (doc i < n/100 copies the text of doc i + n/2).
  */
final class Docs(val o: Opts) extends Workload {
  val scales = true
  private val nDocs = if (o.smoke) 2000L else 8000L
  private val planted = nDocs / 100

  def input(spark: SparkSession): Input =
    Input(Seq(part(spark, s"docs${nDocs}_seed${o.seed}") {
      Gen.documents(spark, nDocs, o.seed)
    }))

  /** Shingle document frequency decides candidate work: below the
    * HotShingleDf cap it grows with its square.
    */
  def properties(in: Input): Map[String, Double] = {
    val p = in.parts.head
    val Seq(meanDf, maxDf) = cached(p, "shingle_df.txt") {
      val r = TextOps.shingles(p.df).groupBy("g").count()
        .agg(sum("count"), count(lit(1)), max("count")).head()
      Seq(r.getLong(0) * 1000L / r.getLong(1), r.getLong(2))
    }
    Map("rows" -> in.rows.toDouble, "planted_copies" -> planted.toDouble,
      "mean_shingle_df" -> meanDf / 1000.0, "max_shingle_df" -> maxDf.toDouble,
      "shingle_df_cap" -> TextOps.HotShingleDf.toDouble)
  }

  def warmUp(spark: SparkSession): Unit =
    Lineage.tableFingerprint(TextOps.simhash(Gen.documents(spark, 20L, 1L)))

  def reference(spark: SparkSession, in: Input): Reference = {
    val Seq(rows, hash) = cached(in.parts.head, "reference.txt") {
      val scope = new CacheScope
      val (r, h) = Lineage.tableFingerprint(TextOps.exactDedup(in.df, scope = scope))
      scope.release()
      Seq(r, h)
    }
    Reference(Seq(planted), (rows, hash))
  }

  /** (step, pairs or rows emitted, planted copies found) per step. */
  private def steps(docs: DataFrame, n: Long, wrap: Wrap): Seq[(String, Long, Long)] = {
    val h = n / 2
    val p = n / 100
    def run(step: String)(f: CacheScope => (DataFrame, org.apache.spark.sql.Column)) =
      wrap(s"textops.$step") {
        val scope = new CacheScope
        val (out, hit) = f(scope)
        val r = out.agg(count(lit(1)), count(when(hit, 1))).head()
        scope.release(blocking = true)
        (step, r.getLong(0), r.getLong(1))
      }
    Seq(
      run("exact") { s =>
        (TextOps.exactDedup(docs, scope = s),
          col("doc_id") >= h && col("doc_id") < h + p && col("canonical_id") === col("doc_id") - h)
      },
      run("ngram") { s =>
        (TextOps.ngramJaccardPairs(docs, 0.8, scope = s),
          col("id_a") < p && col("id_b") === col("id_a") + h)
      },
      run("minhash") { s =>
        (TextOps.minhashLshPairs(docs, 0.5, scope = s),
          col("id_a") < p && col("id_b") === col("id_a") + h)
      },
      run("simhash") { s =>
        (TextOps.simhashPairs(docs, 6, scope = s),
          col("id_a") < p && col("id_b") === col("id_a") + h && col("hamming") === 0)
      })
  }

  def job(spark: SparkSession, in: Input, ref: Reference, wrap: Wrap)
      : Seq[(String, Boolean, String)] =
    steps(in.df, nDocs, wrap).collect {
      case (step, _, found) if step != "ngram" =>
        (s"dedup.$step.planted", found == planted,
          s"$found of $planted planted copies found")
    }

  private def writeTo(spark: SparkSession, docs: DataFrame, dir: String) = {
    val scope = new CacheScope
    // bucketed by fingerprint, so every duplicate group lands in one bucket
    val r = Resume.runBucketed(spark, docs.withColumn("fp", md5(col("text"))),
      "fp", dir, Main.Buckets)(TextOps.exactDedup(_, scope = scope))
    scope.release()
    r
  }

  def write(spark: SparkSession, in: Input, dir: String): Seq[Resume.BucketResult] =
    writeTo(spark, in.df, dir)

  def traceLayers(spark: SparkSession, in: Input, tracer: Tracer): Map[String, Double] = {
    tracer.takePlans()
    val plans = scala.collection.mutable.Map.empty[String, Long]
    val wrap = new Wrap {
      def apply[T](name: String)(body: => T): T = {
        val (r, _) = tracer.span(name)(body)
        plans(name) = Tracer.maxJoinRows(tracer.takePlans())
        r
      }
    }
    val res = steps(in.df, nDocs, wrap).map(r => r._1 -> r).toMap
    def s(step: String) = tracer.get(s"textops.$step")
    def perCand(step: String) =
      res(step)._2.toDouble / math.max(1L, plans(s"textops.$step")).toDouble
    Map(
      "textops.exact_s" -> s("exact").wall,
      "textops.ngram_s" -> s("ngram").wall,
      "textops.minhash_s" -> s("minhash").wall,
      "textops.simhash_s" -> s("simhash").wall,
      "textops.ngram.candidates" -> plans("textops.ngram").toDouble,
      "textops.ngram.pairs_per_candidate" -> perCand("ngram"),
      "textops.ngram.planted_recall" -> res("ngram")._3.toDouble / planted,
      "textops.minhash.candidates" -> plans("textops.minhash").toDouble,
      "textops.minhash.pairs_per_candidate" -> perCand("minhash"),
      "textops.simhash.candidates" -> plans("textops.simhash").toDouble,
      "textops.simhash.pairs_per_candidate" -> perCand("simhash"),
      "textops.band_task_skew" -> math.max(s("minhash").taskSkew, s("simhash").taskSkew))
  }
}

/** Every per-layer metric with its unit. A traced run prints all of them;
  * a layer the workload does not reach reads 0.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "input.gen_s" -> "s",
    "trace.rows_per_sec" -> "rows/s", "trace.job_s" -> "s",
    "skew.detect_s" -> "s", "skew.detect_jobs" -> "count",
    "skew.routed_keys" -> "count", "skew.routed_rows" -> "count",
    "rolling.self_s" -> "s", "rolling.cpu_s" -> "s",
    "rolling.shuffle_mb" -> "MB", "rolling.task_skew" -> "ratio",
    "offsets.self_s" -> "s", "offsets.task_skew" -> "ratio",
    "sessionize.self_s" -> "s", "sessionize.task_skew" -> "ratio",
    "asof.self_s" -> "s", "asof.shuffle_mb" -> "MB", "agg.self_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.gc_s" -> "s", "spark.cpu_s" -> "s", "spark.spill_mb" -> "MB",
    "scaling_eff_1to4" -> "ratio",
    "resume.write_rows_per_sec" -> "rows/s", "resume.bytes_written_per_row" -> "B/row",
    "resume.write_s" -> "s", "resume.readback_s" -> "s", "resume.commit_s" -> "s",
    "resume.files_written" -> "count",
    "recover.recover_s" -> "s", "recover.input_mb_read" -> "MB",
    "recover.buckets_recomputed" -> "count",
    "textops.exact_s" -> "s", "textops.ngram_s" -> "s",
    "textops.minhash_s" -> "s", "textops.simhash_s" -> "s",
    "textops.ngram.candidates" -> "count", "textops.ngram.pairs_per_candidate" -> "ratio",
    "textops.ngram.planted_recall" -> "ratio",
    "textops.minhash.candidates" -> "count", "textops.minhash.pairs_per_candidate" -> "ratio",
    "textops.simhash.candidates" -> "count", "textops.simhash.pairs_per_candidate" -> "ratio",
    "textops.band_task_skew" -> "ratio")
}
