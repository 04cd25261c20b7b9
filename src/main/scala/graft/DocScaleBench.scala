package graft

import graft.tjk._

/** Document-pipeline scaling bench — the axes-B counterpart of
  * [[ScaleBench]]. The flagship transcripts job carries the north rule's
  * two-parallelism-level evidence; this main applies the SAME protocol
  * (same input, two core counts, interleaved campaign, min-of-N warm) to
  * the DOCUMENT operators so the training-data pipeline's scaling is
  * measured, not argued.
  *
  * The benched job is the five shipped document queries run back to back
  * over one generated corpus ([[tjk.Gen.documents]], seed 42, written once):
  * q52 curation, q53 mixing, q54 packing, q55 decontamination, q56
  * repetition — i.e. exactly the catalog code paths, not a bench-only
  * pipeline that could drift from what ships.
  *
  * Usage: DocScaleBench [cpus] [nDocs]; cpus defaults to the machine's
  * available processors. Shuffle partitions are 2×cpus; one JSON line per
  * run on stdout: the cold time and the min of [[Warms]] warm runs.
  */
object DocScaleBench {

  private val Warms = 3

  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val nDocs = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val dataDir = s"/tmp/tjk_bench/docs_$nDocs"
    val spark = Dev.session(cpus, 2 * cpus, "tjk-docscalebench")
    // the generated corpus is a handful of parquet files; default 128 MB
    // splits would cap scan parallelism at ~4 tasks for the CPU-heavy
    // text projections — split finer so the scan feeds every core
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")

    if (!new java.io.File(s"$dataDir/documents.parquet", "_SUCCESS").exists()) {
      System.err.println(s"[docscalebench] generating $dataDir ...")
      Gen.documents(spark, nDocs, seed = 42L)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    }
    val total = Tables.read(spark, dataDir, "documents").count()

    val queries = Seq("q52_corpus_curate", "q53_corpus_mix", "q54_seq_pack",
      "q55_decontam", "q56_repetition")
    def run(label: String): Double = {
      val t0 = System.nanoTime()
      // noop sink, not count(): count() would let Catalyst prune the
      // per-row projections under test (the Bench timing-v2 rule)
      Dev.each(spark, dataDir, queries, s"docscalebench $label")(
        (_, df) => df.write.format("noop").mode("overwrite").save())
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[docscalebench] $label: 5 queries in $sec%.1f s")
      sec
    }
    val cold = run("cold")
    val warm = (1 to Warms).map(i => run(s"warm$i")).min
    println(
      s"""{"bench":"doc_pipeline","cpus":$cpus,"docs":$total,""" +
      s""""cold_sec":$cold,"warm_sec":$warm,""" +
      s""""warm_docs_per_sec":${(total / warm).toLong}}""")
    spark.stop()
  }
}
