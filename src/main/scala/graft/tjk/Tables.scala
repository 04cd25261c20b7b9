package graft.tjk

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Readers for the driver testdata plus the events→transcripts parity view
  * (FIXTURES.md §3): the driver's `events` table viewed as the spec's
  * transcript shape, defined identically here and in the DuckDB oracle SQL so
  * the same parquet feeds both engines.
  */
object Tables {

  /** The one table reader: `<sfDir>/<name>.parquet` (the testdata layout)
    * when it exists, else the directory form `<sfDir>/<name>`. An
    * Iceberg reader would plug in here (no Iceberg runtime jar is available
    * offline — SURVEY.md §0.5).
    */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val file = new java.io.File(sfDir, s"$name.parquet")
    spark.read.parquet(if (file.exists()) file.getPath else s"$sfDir/$name")
  }

  /** events viewed as transcripts:
    * conv_id = cast(user_id as string); turn_idx = dense per-entity sequence
    * by (ts, event_id); role = event_type; text = props (byte-passthrough);
    * tool = event_type when purchase/signup; ts = ts. `value` and `event_id`
    * are carried along as the numeric feature column / tie-breaker.
    */
  def transcripts(spark: SparkSession, sfDir: String): DataFrame = {
    // The row_number window partitions by the CASTED conv_id, not user_id:
    // the cast is injective, so the groups (and turn_idx values) are
    // identical either way, but every downstream operator windows/groups by
    // conv_id — partitioning this exchange the same way lets Catalyst reuse
    // it (EnsureRequirements sees hashpartitioning(conv_id) already
    // satisfied), removing one full-table Exchange from every consumer
    // (guide §2.4 "two operations keyed the same way share one exchange";
    // plan evidence in plans/r06/q01_rolling_time_{before,after}.txt).
    val ev = read(spark, sfDir, "events")
      .select(
        col("user_id").cast("string").as("conv_id"),
        col("event_type").as("role"),
        col("props").as("text"),
        when(col("event_type").isin("purchase", "signup"), col("event_type")).as("tool"),
        col("ts"),
        col("value"),
        col("event_id"))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("event_id"))
    ev.select(
      col("conv_id"),
      (row_number().over(w) - 1).as("turn_idx"),
      col("role"), col("text"), col("tool"),
      col("ts"), col("value"), col("event_id"))
  }

  /** The identical view in DuckDB SQL — prefix for every oracle query. */
  val transcriptsSqlCte: String =
    """t AS (
      |  SELECT CAST(user_id AS VARCHAR) AS conv_id,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
      |         event_type AS role,
      |         props AS text,
      |         CASE WHEN event_type IN ('purchase','signup') THEN event_type END AS tool,
      |         ts, value, event_id
      |  FROM events
      |)""".stripMargin
}
