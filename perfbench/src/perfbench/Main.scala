package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tjk._

/** One benchmark run in one JVM, started by `run.py`. It prints one JSON
  * object as its last stdout line.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --work DIR [--smoke]
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, smoke: Boolean, cores: Int = 4)

  /** Shuffle, file-split and default parallelism, the same at 1 and 4 cores. */
  val Parts = 8
  val Buckets = 8
  val Setups = 5

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val o = Opts(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv.get("--trace").contains("1"), kv("--work"), args.contains("--smoke"))
    println(run(o, Workload(o)))
  }

  // ------------------------------------------------------------ session

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Parts)
      .config("spark.default.parallelism", Parts)
      .config("spark.sql.files.minPartitionNum", Parts)
      .config("spark.sql.leafNodeDefaultParallelism", Parts)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start plus a warm-up pass of the workload on a tiny input, done
    * `n` times; returns the last session and each set-up's seconds.
    */
  def setUp(o: Opts, w: Workload, n: Int): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to n).map { i =>
      val t0 = System.nanoTime()
      spark = session(o)
      w.warmUp(spark)
      spark.catalog.clearCache()
      val s = (System.nanoTime() - t0) / 1e9
      if (i < n) spark.stop()
      s
    }
    (spark, times)
  }

  // ------------------------------------------------------------ run

  def run(o: Opts, w: Workload): String = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val (r, s) = timed(body); phases(name) = s; r
    }
    val (spark, setups) = phase("setup")(setUp(o, w, if (o.trace) 1 else Setups))
    val input = phase("input")(w.input(spark))
    val props = w.properties(input)
    val reference = phase("reference")(w.reference(spark, input))
    val acc = new Accounting

    // Leg (a): one untimed pass on the real input so JIT reaches steady
    // state, then the job back to back for the run's seconds.
    phase("warm")(acc.calls(w.job(spark, input, reference)))
    val jobTimes =
      if (o.trace) Seq.empty[Double]
      else phase("job")(timedLoop(o.seconds, minReps = 2) {
        acc.calls(w.job(spark, input, reference))
      })
    val layers = mutable.Map.empty[String, (Double, String)]
    if (o.trace) layers ++= phase("trace")(traceRun(spark, o, w, input, reference, acc))
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setups), "s"),
      "rows_per_sec" -> (if (jobTimes.isEmpty) 0.0 else input.rows / median(jobTimes), "rows/s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    spark.stop()
    if (o.trace && w.scales) {
      val t1 = phase("scale")(scaleLeg(o, w, reference, acc))
      layers("scaling_eff_1to4") = (t1 / (4 * layers("trace.job_s")._1), "ratio")
    }
    Json.obj(
      "properties" -> Json.obj(props.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "gen_s" -> Json.num(input.genSeconds),
      "job_s" -> Json.arr(jobTimes.map(Json.num)),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "phases" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "metrics" -> Json.metrics(m.toSeq),
      "layers" -> Json.metrics(layers.toSeq.sortBy(_._1)),
      "checks" -> checksJson(acc),
      "attempted" -> acc.attempted.toString,
      "failed" -> acc.failed.toString)
  }

  /** The scaling leg, after the traced legs: one pass of leg (a) on the same
    * input with the same partition counts in a local[1] session, once every
    * thread of this JVM is pinned to one CPU, so GC and JIT threads cannot
    * lend it hidden parallelism. Returns the pass's seconds.
    */
  def scaleLeg(o: Opts, w: Workload, ref: Reference, acc: Accounting): Double = {
    val cpus = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("Cpus_allowed_list:")).map(_.split("\\s+")(1)).getOrElse("0")
    val pin = new ProcessBuilder("taskset", "-a", "-p", "-c", cpus.takeWhile(_.isDigit),
      ProcessHandle.current().pid().toString)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    require(pin.waitFor() == 0, "taskset could not pin the JVM to one CPU")
    val spark = session(o.copy(cores = 1))
    val input = w.input(spark)
    val (_, t1) = timed(acc.calls(w.job(spark, input, ref)))
    spark.stop()
    t1
  }

  // ------------------------------------------------------------ traced run

  /** Per-layer numbers from one traced pass of every leg: the layer prefixes,
    * the whole job, then leg (c), the bucketed write, and leg (d), a crash
    * that loses a quarter of the bucket commits followed by a resume.
    */
  def traceRun(spark: SparkSession, o: Opts, w: Workload, input: Input, ref: Reference,
      acc: Accounting): Map[String, (Double, String)] = {
    val tracer = new Tracer(spark).install()
    try {
      val out = mutable.Map.empty[String, (Double, String)]
      Layers.all.foreach { case (k, u) => out(k) = (0.0, u) }
      def put(k: String, v: Double): Unit = out(k) = (v, out(k)._2)
      put("input.gen_s", input.genSeconds)
      w.traceLayers(spark, input, tracer).foreach { case (k, v) => put(k, v) }
      val (checks, jobS) = tracer.span("job")(w.job(spark, input, ref))
      checks.foreach { case (n, ok, d) => acc.check(n, ok, d) }
      val j = tracer.get("job")
      put("trace.rows_per_sec", input.rows / jobS)
      put("trace.job_s", jobS)
      put("spark.jobs", j.jobs)
      put("spark.stages", j.stages)
      put("spark.tasks", j.tasks)
      put("spark.gc_s", j.gcSeconds)
      put("spark.cpu_s", j.cpuSeconds)
      put("spark.spill_mb", j.mb(j.spillBytes))
      traceWrites(spark, o, w, input, ref, acc, tracer, put)
      out.toMap
    } finally tracer.uninstall()
  }

  def traceWrites(spark: SparkSession, o: Opts, w: Workload, input: Input, ref: Reference,
      acc: Accounting, tracer: Tracer, put: (String, Double) => Unit): Unit = {
    val dir = new File(o.work, s"out_${o.workload}")
    deleteRec(dir)
    val (full, writeS) = tracer.span("resume")(w.write(spark, input, dir.getPath))
    val r = tracer.get("resume")
    put("resume.write_rows_per_sec", input.rows / writeS)
    put("resume.bytes_written_per_row", parquetBytes(dir).toDouble / input.rows)
    put("resume.write_s", r.jobTime(_.startsWith("parquet at Lineage")))
    put("resume.readback_s", r.jobTime(_.startsWith("collect at Lineage")))
    put("resume.commit_s", r.wall - r.jobTime(_ => true))
    put("resume.files_written", parquetFiles(dir).size.toDouble)
    val written = full.map(_.rowCount).sum
    acc.check("write.rows", written == input.rows, s"wrote $written rows of ${input.rows}")
    val fold = (written, full.map(_.contentHash).foldLeft(0L)(_ ^ _))
    acc.check("write.content", fold == ref.written, s"written $fold, reference ${ref.written}")

    val lost = new scala.util.Random(o.seed).shuffle((0 until Buckets).toList).take(Buckets / 4)
    lost.foreach { b =>
      deleteRec(new File(dir, s"bucket=$b"))
      new File(dir, s"manifest_$b.json").delete()
    }
    val (resumed, recoverS) = tracer.span("recover")(w.write(spark, input, dir.getPath))
    val rc = tracer.get("recover")
    val redone = resumed.filterNot(_.skipped)
    put("recover.recover_s", recoverS)
    put("recover.input_mb_read", rc.mb(rc.inputBytes))
    put("recover.buckets_recomputed", redone.size.toDouble)
    acc.check("resume.buckets", redone.map(_.bucket).toSet == lost.toSet,
      s"recomputed ${redone.map(_.bucket).sorted}, lost ${lost.sorted}")
    acc.check("resume.content",
      redone.forall(b => full(b.bucket).rowCount == b.rowCount &&
        full(b.bucket).contentHash == b.contentHash),
      "resumed buckets' (row_count, content_hash) equal the full write's")
    deleteRec(dir)
  }

  // ------------------------------------------------------------ helpers

  final class Accounting {
    var attempted = 0L
    var failed = 0L
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

    /** Runs one engine call and records the checks it returns; a throw
      * counts as a failed call, not a crash.
      */
    def calls(body: => Seq[(String, Boolean, String)]): Unit = {
      attempted += 1
      Try(body) match {
        case Success(cs) => cs.foreach { case (n, ok, d) => check(n, ok, d) }
        case Failure(e) =>
          failed += 1
          System.err.println(s"[perfbench] call failed: $e")
      }
    }

    def check(name: String, ok: Boolean, detail: String): Unit = {
      attempted += 1
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
      }
      checks += ((name, ok, detail))
    }
  }

  /** Per check name: [passed, run]. */
  def checksJson(acc: Accounting): String =
    Json.obj(acc.checks.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, cs) =>
      n -> Json.arr(Seq(cs.count(_._2).toString, cs.size.toString))
    }: _*)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Repeats `body` until `budget` seconds have passed and at least
    * `minReps` times; returns each repetition's seconds.
    */
  def timedLoop(budget: Double, minReps: Int)(body: => Any): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < minReps || (System.nanoTime() - t0) / 1e9 < budget) {
      val s = System.nanoTime()
      body
      out += (System.nanoTime() - s) / 1e9
    }
    out.toSeq
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  def parquetBytes(dir: File): Long = parquetFiles(dir).map(_.length).sum

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, s)
  }
}

/** Minimal JSON writer for the benchmark's own output. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def metrics(m: Seq[(String, (Double, String))]): String =
    obj(m.map { case (k, (v, u)) => k -> obj("value" -> num(v), "unit" -> str(u)) }: _*)
}
