package graft

import java.io.{File, PrintWriter}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

/** Dev launcher over [[SparkEntry.queries]] and the session builder all
  * mains but the frozen `Bench`/`Verify` share. `runMain graft.Dev`
  *   - `dump <sfDir> <outDir> <q>...`: parquet per query and their
  *     `oracle_sql.json`, for `tools/crosscheck.py <sfDir> <outDir>`;
  *   - `explain <sfDir> <outDir> <suffix> [q...]`: `<outDir>/<q>_<suffix>.txt`;
  *   - `profile <sfDir> [q...]`: `Bench`'s noop sink, job/stage times on stderr.
  * No `q` means all queries; an unknown name fails before any work. Cores
  * come from `SPARK_GRAFT_CPUS`, else all; shuffle partitions equal cores,
  * as in `Bench`, so the plans dumped are the plans the bench runs.
  */
object Dev {

  /** Local session in UTC (the [[graft.tjk.tsMicros]] contract), UI off. */
  def session(cpus: Int, partitions: Int, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case "dump" :: sf :: out :: qs if qs.nonEmpty => dump(_, sf, out, qs)
      case "explain" :: sf :: out :: suffix :: qs => explain(_, sf, out, suffix, qs)
      case "profile" :: sf :: qs => profile(_, sf, qs)
      case _ => throw new IllegalArgumentException("usage: Dev dump <sfDir> <outDir> <q>... | " +
        "explain <sfDir> <outDir> <suffix> [q...] | profile <sfDir> [q...]")
    }
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = session(cpus, cpus, "tjk-dev")
    try mode(spark) finally spark.stop()
  }

  def dump(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val qs = each(spark, sfDir, names, "dump") { (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
    }
    OracleDump.writeOracleJson(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter(kv => qs.contains(kv._1)))
  }

  def explain(
      spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit =
    each(spark, sfDir, names, "explain") { (q, df) =>
      new File(outDir).mkdirs()
      val w = new PrintWriter(new File(outDir, s"${q}_$suffix.txt"), "UTF-8")
      try w.write(df.queryExecution.explainString(FormattedMode)) finally w.close()
    }

  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    checked(names) // before the warmup
    // session warmup, as in Bench, so the first query's time is its own
    spark.range(0, 100000, 1, 8).groupBy(col("id") % 97).count().collect()
    graft.tjk.Tables.read(spark, sfDir, "region").limit(1).collect()
    val listener = new SparkListener {
      private val started = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(e: SparkListenerJobStart): Unit = started.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        log(f"  job ${e.jobId}%4d ${(e.time - started.getOrDefault(e.jobId, e.time)) / 1e3}%7.2f s")
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
        val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
        if (ms > 150) log(f"    stage ${si.stageId}%4d ${ms / 1e3}%6.2f s tasks=${si.numTasks}%3d " +
          s"in=${m.inputMetrics.recordsRead}/${m.inputMetrics.bytesRead >> 10}K " +
          s"sr=${m.shuffleReadMetrics.recordsRead} sw=${m.shuffleWriteMetrics.recordsWritten}/" +
          f"${m.shuffleWriteMetrics.bytesWritten >> 10}K cpu=${m.executorCpuTime / 1e9}%.1f " +
          si.name.take(60))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try each(spark, sfDir, names, "profile") { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
      Thread.sleep(200) // let the listener print this query's jobs first
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `names`, or all queries sorted when empty; an unknown name is an error. */
  private def checked(names: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty,
      s"unknown query ${unknown.mkString(", ")}; valid: ${all.mkString(", ")}")
    if (names.isEmpty) all else names
  }

  /** Checks `names`, then runs `body` on each query's frame in turn,
    * clearing the cache after each, and returns the names run. The first
    * failure stops the loop with an error naming the query.
    */
  private[graft] def each(spark: SparkSession, sfDir: String, names: Seq[String], tag: String)(
      body: (String, DataFrame) => Unit): Seq[String] = {
    val qs = checked(names)
    qs.foreach { q =>
      val t0 = System.nanoTime()
      try body(q, SparkEntry.queries(q)(spark, sfDir))
      catch { case e: Exception => throw new IllegalStateException(s"$tag $q failed", e) }
      finally spark.sharedState.cacheManager.clearCache()
      log(f"$tag $q ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    qs
  }

  private def log(s: String): Unit = System.err.println(s"[dev] $s")
}
