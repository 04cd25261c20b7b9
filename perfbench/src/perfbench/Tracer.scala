package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span is a name set as a thread-local Spark property around a call into
  * one engine layer. Every job submitted while the span is open is tagged
  * with it, so the listener can add that job's stages and tasks to the span.
  * Spans stay in memory; the run reads them once, after each traced leg.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val stageSpan = mutable.Map.empty[Int, String]
  private val stats = mutable.Map.empty[String, SpanStats]
  private val jobStart = mutable.Map.empty[Int, (String, String, Long)]
  private val plans = mutable.ArrayBuffer.empty[QueryExecution]
  private val querySite = mutable.Map.empty[Long, String]

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` inside span `name`; returns its result and wall seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      val secs = (System.nanoTime() - t0) / 1e9
      drain()
      synchronized(stats.getOrElseUpdate(name, new SpanStats).wall += secs)
      (r, secs)
    } finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Blocks until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)

  def get(name: String): SpanStats = synchronized(stats.getOrElse(name, new SpanStats))

  /** Physical plans of the queries that finished since the last call. */
  def takePlans(): Seq[QueryExecution] = synchronized {
    val out = plans.toList; plans.clear(); out
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(querySite(s.executionId) = s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val name = prop(SpanKey).getOrElse("untraced")
    // adaptive execution submits a query's jobs from a pool thread, so the
    // call site is the one of the SQL execution the job belongs to
    val site = prop(SQLExecution.EXECUTION_ID_KEY).flatMap(id => querySite.get(id.toLong))
      .getOrElse("")
    e.stageIds.foreach(stageSpan(_) = name)
    jobStart(e.jobId) = (name, site, e.time)
    stats.getOrElseUpdate(name, new SpanStats).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (name, site, t0) =>
      stats.getOrElseUpdate(name, new SpanStats).jobSeconds += site -> (e.time - t0) / 1e3
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val name = stageSpan.getOrElse(e.stageId, "untraced")
    val s = stats.getOrElseUpdate(name, new SpanStats)
    s.tasks += 1
    s.taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(plans += qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

object Tracer {
  val SpanKey = "perfbench.span"

  final class SpanStats {
    var wall = 0.0
    var jobs = 0
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var shuffleWriteBytes = 0L
    var inputBytes = 0L
    val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val jobSeconds = mutable.ArrayBuffer.empty[(String, Double)]

    def stages: Int = taskTimes.size
    def cpuSeconds: Double = cpuNs / 1e9
    def gcSeconds: Double = gcMs / 1e3
    def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

    /** Max over stages with at least two tasks of (slowest / median task). */
    def taskSkew: Double = {
      val ratios = taskTimes.values.filter(_.size >= 2).map { ts =>
        val sorted = ts.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2)).toDouble
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }

    /** Summed duration of the jobs whose call site matches `p`. */
    def jobTime(p: String => Boolean): Double =
      jobSeconds.collect { case (site, s) if p(site) => s }.sum
  }

  /** Every operator of an executed plan, looking through adaptive stages. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Largest join output in the plans: the candidate join of a dedup step. */
  def maxJoinRows(qes: Seq[QueryExecution]): Long = {
    val rows = qes.flatMap(qe => nodes(qe.executedPlan)).collect {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    if (rows.isEmpty) 0L else rows.max
  }
}
