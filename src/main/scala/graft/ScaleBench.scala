package graft

import java.time.Duration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.tjk._

/** M7 scale/scaling bench (SURVEY.md §6, BASELINE.json:2).
  *
  * The north rule's two-cluster-size criterion (N vs 4N executors,
  * efficiency ≥ 0.8) cannot use a real cluster in this sandbox: we run the
  * SAME job on the SAME pre-generated input at two parallelism levels
  * (local[1] vs local[4] on a 4-core box, the only N-vs-4N pair it offers)
  * and report throughput at both plus efficiency = (T_1 / T_4) / 4.
  *
  * Usage: ScaleBench [cpus] [nConvs] [medianLen]
  *  - cpus defaults to the machine's available processors,
  *  - generates deterministic transcripts (seed 42) to /tmp/tjk_bench once,
  *  - times the flagship backfill (rolling {1h,24h} × {count,sum,nunique} +
  *    lag{1,3} + as-of join to a per-conv side table + sessionize(30m) →
  *    session aggregate) cold and warm,
  *  - prints one JSON line: cold seconds and the min of [[Warms]] warm runs
  *    (shuffle partitions 2×cpus, AQE with partition coalescing on).
  */
object ScaleBench {

  private val Warms = 5

  def flagship(turns: DataFrame): DataFrame = {
    val withValue = turns.withColumn("value", length(col("text")).cast("double"))
    val spec = FeatureSpec(
      rolling = Seq(
        RollingSpec("value", Agg.Count, Duration.ofHours(1)),
        RollingSpec("value", Agg.Sum, Duration.ofHours(1)),
        RollingSpec("value", Agg.Count, Duration.ofHours(24)),
        RollingSpec("value", Agg.Sum, Duration.ofHours(24)),
        RollingSpec("tool", Agg.NUnique, Duration.ofHours(1)),
        RollingSpec("tool", Agg.NUnique, Duration.ofHours(24))),
      lags = Seq(("value", 1), ("value", 3)),
      sessionGap = Some(Duration.ofMinutes(30)))
    val features = Pipeline.backfill(withValue, spec)
      // Prune BEFORE the as-of: its union-tag packs every spine column into a
      // struct, which would otherwise drag the fat `text` column through all
      // window sorts + the as-of shuffle (Catalyst can't prune through the
      // struct). Width discipline at the operator boundary is the single
      // biggest shuffle-bytes lever at 100 TB.
      .select("conv_id", "ts", "session_id", "count_value_3600s",
        "sum_value_3600s", "count_value_86400s", "sum_value_86400s",
        "nunique_tool_3600s", "nunique_tool_86400s", "lag_value_1", "lag_value_3")
    // As-of attach: last 'code'-tool turn per conversation before each turn.
    val side = withValue.where(col("tool") === "code")
      .select(col("conv_id"), col("ts").as("side_ts"),
        col("turn_idx").cast("long").as("side_tie"), col("value").as("side_value"))
    val joined = AsOf.asofJoin(features, side, "conv_id", "ts", "side_ts",
      payload = Seq("side_value"), tieCol = Some("side_tie"))
    // Terminal aggregation so .count() executes every operator (§3.3).
    joined.groupBy("conv_id", "session_id").agg(
      count(lit(1)).as("n_turns"),
      sum(col("sum_value_3600s")).as("s1"),
      max(col("count_value_86400s")).as("c24"),
      max(col("nunique_tool_3600s")).as("nu1"),
      avg(col("lag_value_1")).as("l1"),
      avg(col("side_value")).as("sv"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val nConvs = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val medianLen = args.lift(2).map(_.toInt).getOrElse(20)
    val dataDir = s"/tmp/tjk_bench/turns_${nConvs}_$medianLen"

    val spark = Dev.session(cpus, 2 * cpus, "tjk-scalebench")

    if (!new java.io.File(dataDir, "_SUCCESS").exists()) {
      System.err.println(s"[scalebench] generating $dataDir ...")
      Gen.transcripts(spark, nConvs, seed = 42L, medianLen = medianLen)
        .write.mode("overwrite").parquet(dataDir)
    }
    val turns = spark.read.parquet(dataDir)
    val total = turns.count()

    def run(label: String): Double = {
      val t0 = System.nanoTime()
      val n = flagship(turns).count()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scalebench] $label: $n sessions in $sec%.1f s")
      sec
    }
    val cold = run("cold")
    // min-of-N: this sandbox shows 2-3x run-to-run swings from external
    // (hypervisor-level) noise — the minimum is the only statistic that
    // reflects the job rather than the neighbors.
    val warm = (1 to Warms).map(i => run(s"warm$i")).min
    println(
      s"""{"bench":"flagship_backfill","cpus":$cpus,""" +
      s""""turns":$total,"cold_sec":$cold,"warm_sec":$warm,""" +
      s""""cold_turns_per_sec":${(total / cold).toLong},""" +
      s""""warm_turns_per_sec":${(total / warm).toLong}}""")
    spark.stop()
  }
}
