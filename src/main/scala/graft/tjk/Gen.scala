package graft.tjk

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic transcript generator (FIXTURES.md §2) — exactly the
  * spec's input shape (BASELINE.json:15). Two independent generators:
  *
  *  - [[transcripts]]: distributed, `spark.range` + column expressions only
  *    (no driver-side materialization) — used for bench-scale data (≥10^7
  *    turns). Deliberately skewed: a hot head of conversations is `hotFactor`×
  *    longer than the median, to exercise salted-key skew splitting (O8).
  *  - [[turnsSeq]]: tiny driver-side Seq[Turn] from a seeded RNG — used by the
  *    unit/property tests against the naive oracle.
  *
  * Both are pure functions of their arguments: no wall clock, no global RNG.
  */
object Gen {

  private val epoch2026Micros: Long = 1767225600000000L // 2026-01-01T00:00:00Z

  /** Distributed generator. ~`nConvs * medianLen` turns plus the hot tail:
    * conversations with index < max(1, nConvs/1000) get `medianLen*hotFactor`
    * turns. Gap distribution per FIXTURES.md §2: ~1% zero-gaps (ts ties, to
    * pin tie-breaking by turn_idx), ~8% gaps > 30min (session breaks), rest
    * 5s..15min.
    */
  def transcripts(
      spark: SparkSession,
      nConvs: Long,
      seed: Long = 42L,
      medianLen: Int = 20,
      hotFactor: Int = 200): DataFrame = {
    val nHot = math.max(1L, nConvs / 1000L)
    val convs = spark.range(nConvs).toDF("i")
      .withColumn("h", xxhash64(lit(seed), col("i")))
      .withColumn("len",
        when(col("i") < nHot, lit(medianLen.toLong * hotFactor))
          .otherwise(pmod(col("h"), lit(2L * medianLen - 2)) + 2L))
      .withColumn("conv_id", format_string("c%08d", col("i")))
      .withColumn("start_micros",
        lit(epoch2026Micros) + pmod(col("h"), lit(86400L * 30)) * 1000000L)

    val turns = convs
      .select(col("i"), col("conv_id"), col("start_micros"),
        explode(sequence(lit(0L), col("len") - 1)).as("t"))
      .withColumn("g", xxhash64(lit(seed + 1), col("i"), col("t")))
      .withColumn("u", pmod(col("g"), lit(10000L)))
      .withColumn("gap_micros",
        when(col("t") === 0L, lit(0L))
          .when(col("u") < 100L, lit(0L)) // ~1% exact-tie with previous turn
          .when(col("u") >= 9200L, (lit(1801L) + pmod(col("g"), lit(7200L))) * 1000000L)
          .otherwise((lit(5L) + pmod(col("g"), lit(895L))) * 1000000L))

    // Prefix-sum of gaps within each conversation → event time. One window
    // pass; generator-only cost, not on the engine's hot path.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i")).orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    turns
      .withColumn("ts_micros", col("start_micros") + sum(col("gap_micros")).over(w))
      .withColumn("r", xxhash64(lit(seed + 2), col("i"), col("t")))
      .withColumn("is_tool", pmod(col("r"), lit(100L)) < 15L)
      .withColumn("role",
        when(col("is_tool"), lit("tool"))
          .when(pmod(col("t"), lit(2L)) === 0L, lit("user"))
          .otherwise(lit("assistant")))
      .withColumn("tool",
        when(col("is_tool"),
          element_at(array(lit("search"), lit("code"), lit("browse")),
            (pmod(col("r"), lit(3L)) + 1L).cast("int"))))
      .withColumn("text",
        concat(col("conv_id"), lit(":"), col("t").cast("string"), lit(":"),
          repeat(lit("lorem ipsum "), (pmod(col("r"), lit(20L)) + 1L).cast("int"))))
      .select(
        col("conv_id"),
        col("t").cast("int").as("turn_idx"),
        col("role"),
        col("text"),
        col("tool"),
        timestamp_micros(col("ts_micros")).as("ts"))
  }

  /** English-stopword-leaning vocabulary so the language-ID heuristic fires
    * (mirrors the driver corpus: word salad, 10–100 tokens, no digits).
    */
  private val DocVocab: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
    "table", "query", "scan", "filter", "join", "agg", "window", "sort",
    "row", "column", "value", "key", "hash", "merge", "batch", "stream",
    "spark", "data", "fast", "slow", "big", "small", "line", "part",
    "order", "group", "customer", "vector", "token", "model")

  /** Distributed deterministic documents generator — the document-table
    * counterpart of [[transcripts]] for doc-pipeline scale benches. Same
    * discipline: `spark.range` + column expressions only, pure function of
    * (nDocs, seed). Planted duplicate structure keeps dedup/decontamination
    * non-vacuous at any size: every doc in the first 1% band copies the
    * text of a donor in the second half, so exact-dup groups exist and —
    * because the md5 probe bucketing is independent of content — a
    * predictable fraction of donor/copy pairs straddles the q55 holdout.
    */
  def documents(
      spark: SparkSession,
      nDocs: Long,
      seed: Long = 42L,
      medianLen: Int = 50): DataFrame = {
    val v = DocVocab.size
    val vocabSql = DocVocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    spark.range(nDocs).toDF("doc_id")
      .withColumn("src",
        when(col("doc_id") < nDocs / 100L, col("doc_id") + lit(nDocs / 2L))
          .otherwise(col("doc_id")))
      .withColumn("len",
        pmod(xxhash64(lit(seed), col("src")), lit(2L * medianLen - 10L)) + 10L)
      .withColumn("text", expr(
        s"concat_ws(' ', transform(sequence(0, len - 1), " +
          s"i -> element_at($vocabSql, " +
          s"cast(pmod(xxhash64(${seed + 1}L, src, i), $v) + 1 as int))))"))
      .withColumn("lang",
        element_at(array(lit("en"), lit("es"), lit("de"), lit("fr")),
          (pmod(xxhash64(lit(seed + 2), col("doc_id")), lit(4L)) + 1L).cast("int")))
      .withColumn("source",
        element_at(array(lit("web"), lit("forum"), lit("wiki")),
          (pmod(xxhash64(lit(seed + 3), col("doc_id")), lit(3L)) + 1L).cast("int")))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Driver-side tiny generator for tests: same shape, seeded RNG. 5% of
    * gaps are 0 s (timestamp ties), 10% exceed the 30-min session gap.
    */
  def turnsSeq(seed: Long, nConvs: Int, maxLen: Int): Seq[Turn] = {
    val rng = new scala.util.Random(seed)
    (0 until nConvs).flatMap { i =>
      val convId = f"c$i%08d"
      val len = 1 + rng.nextInt(maxLen)
      var tsMicros = epoch2026Micros + rng.nextInt(86400) * 1000000L
      (0 until len).map { t =>
        if (t > 0) {
          val u = rng.nextDouble()
          val gapSec =
            if (u < 0.05) 0L
            else if (u > 1.0 - 0.10) 1801L + rng.nextInt(7200)
            else 5L + rng.nextInt(895)
          tsMicros += gapSec * 1000000L
        }
        val isTool = rng.nextInt(100) < 15
        val role =
          if (isTool) "tool" else if (t % 2 == 0) "user" else "assistant"
        val tool =
          if (isTool) Seq("search", "code", "browse")(rng.nextInt(3)) else null
        val text = s"$convId:$t:" + ("x" * (1 + rng.nextInt(40)))
        Turn(convId, t, role, text, tool, new Timestamp(tsMicros / 1000L))
      }
    }
  }
}
