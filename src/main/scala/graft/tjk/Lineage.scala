package graft.tjk

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O10 — per-partition lineage manifests + row-count/hash metrics
  * (BASELINE.json:6). `content_hash` is the XOR of `xxhash64` over a
  * canonical column projection, so it is:
  *   - order-independent within a partition (XOR commutes), and
  *   - partition-layout-independent when folded across partitions —
  *     XOR(all partition hashes) == XOR over all rows, no matter how the
  *     rows were distributed. That makes the table-level hash comparable
  *     across runs with different parallelism, which is what resume
  *     verification needs. (XOR, not SUM: Spark 4 runs ANSI mode by default
  *     and a long-sum would overflow-throw.)
  *
  * Stated limitation of the XOR fold: even multiplicities cancel — a
  * corruption that replaces a DUPLICATED row pair {a,a} with a different
  * pair {b,b} leaves both row_count and content_hash unchanged (x⊕x = 0
  * for any x). Row-level duplicates are rare in practice for keyed feature
  * outputs and the blind spot requires the corruption to preserve both the
  * count and the pairing; a multiset-exact fold would need a wider
  * accumulator (e.g. per-row 128-bit sum mod 2¹²⁸), which the resume path
  * can adopt behind the same manifest shape if that guarantee is ever
  * needed.
  */
object Lineage {

  /** Per-partition manifest for a stage: (stage, partition_id, row_count,
    * content_hash). One extra narrow aggregation over the stage output; at
    * scale this is a map-side-combinable agg, not a second full shuffle.
    */
  def manifest(df: DataFrame, stage: String): DataFrame = {
    val (rowCount, contentHash) = fingerprint(df.columns.toSeq)
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(rowCount, contentHash)
      .select(lit(stage).as("stage"), col("partition_id"),
        col("row_count"), col("content_hash"))
  }

  /** Table-level (partition-layout-independent) fingerprint. */
  def tableFingerprint(df: DataFrame): (Long, Long) = {
    val (rowCount, contentHash) = fingerprint(df.columns.toSeq)
    val r = df.agg(rowCount, contentHash).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** The one content fingerprint, as two aggregate columns over `cols`:
    * `row_count` and `content_hash` (the XOR of the rows' `xxhash64`; 0 for
    * no rows).
    */
  private[graft] def fingerprint(cols: Seq[String]): (Column, Column) = (
    count(lit(1)).as("row_count"),
    coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)).as("content_hash"))
}

/** O11 — bucket-granular checkpoint/resume (BASELINE.json:6 "resumable from
  * snapshot/checkpoint boundaries"). The job's output is written per bucket
  * (`bucket = pmod(xxhash64(entity), B)`), each bucket commit is an atomic
  * directory rename plus a manifest row (row_count + content_hash). A restart
  * skips buckets whose manifest verifies. On Iceberg this would map 1:1 to
  * one snapshot commit per bucket; on Parquet the atomic rename provides the
  * same all-or-nothing visibility.
  */
object Resume {

  case class BucketResult(bucket: Int, skipped: Boolean, rowCount: Long, contentHash: Long)

  /** Bucket-granular checkpoint/resume, ONE input pass per run.
    *
    * Buckets whose data dir + manifest verify are skipped off the manifest
    * alone (no job). The missing buckets are computed in ONE job —
    * `job(input restricted to the missing buckets)` written with
    * `partitionBy(bucket)` — NOT one filtered scan per bucket: at 100 TB on
    * plain Parquet, B sequential `where(bucket = b)` jobs are B full passes
    * over the input (only Iceberg-style bucket-partition pruning would save
    * them), while this shape reads the input once regardless of B
    * (bytes-read pinned in ResumeSuite). Per-bucket manifests are
    * fingerprinted from the WRITTEN files (one pass over the output, the
    * same read-back-what-was-committed trust model as before), and each
    * bucket still commits individually — data rename first, manifest last —
    * so a crash during the commit loses only the uncommitted buckets. Note
    * that the "reads the input once" claim is about THIS method's scans; a
    * `job` whose own plan runs extra input passes (e.g. `rollingAgg`'s
    * default skew detection on large inputs) adds its own — pass
    * `SkewPolicy.WindowOnly` inside the job to keep a strict one-scan
    * budget.
    *
    * Contract (was implicit, now load-bearing): `job` must be
    * bucket-decomposable — `job(A ∪ B) == job(A) ∪ job(B)` for slices of
    * distinct buckets — which holds for any per-entity job when `bucketCol`
    * is a function of the entity (the intended use per BASELINE.json:6's
    * entity-bucketed resumability). `bucketCol` must also be computable over
    * the job OUTPUT (canonically: it only references the entity column,
    * which the job preserves).
    */
  def runBucketed(
      spark: SparkSession,
      input: DataFrame,
      entity: String,
      outDir: String,
      buckets: Int,
      bucketCol: Option[org.apache.spark.sql.Column] = None)(
      job: DataFrame => DataFrame): Seq[BucketResult] = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val root = new java.io.File(outDir)
    root.mkdirs()
    // Default bucket function: xxhash64(entity) mod buckets. Callers may
    // substitute any deterministic int expression over the entity (e.g. an
    // md5-derived bucket that an external engine can replicate). A NULL
    // bucket value (md5(NULL) is NULL, so null entities under custom
    // expressions produce one) is routed to bucket 0 deterministically:
    // without this, null-bucket rows land in __HIVE_DEFAULT_PARTITION__
    // where the fingerprint read-back NPEs on full runs and the isin slice
    // silently DROPS them on partial recomputes — two different failure
    // modes for the same data (ADVICE r3 item 1).
    val bucketOf = coalesce(
      bucketCol.getOrElse(
        pmod(xxhash64(col(entity)), lit(buckets.toLong))).cast("long"),
      lit(0L))

    def bucketDir(b: Int) = new java.io.File(root, s"bucket=$b")
    def manifestFile(b: Int) = new java.io.File(root, s"manifest_$b.json")
    val done: Map[Int, (Long, Long)] = (0 until buckets).flatMap { b =>
      if (bucketDir(b).exists() && manifestFile(b).exists())
        // A truncated/corrupt manifest (crash mid-write) means the bucket
        // is NOT verifiably committed: treat it as missing and recompute,
        // instead of throwing identically on every restart and wedging the
        // resume mechanism until someone hand-deletes the file.
        scala.util.Try(ujsonParse(
            java.nio.file.Files.readString(manifestFile(b).toPath)))
          .toOption.map(b -> _)
      else None
    }.toMap
    val missing = (0 until buckets).filterNot(done.contains)

    val computed: Map[Int, (Long, Long)] =
      if (missing.isEmpty) Map.empty
      else {
        // Clear half-committed leftovers of the missing buckets, then run
        // the ONE job over exactly those buckets' input rows.
        missing.foreach { b =>
          if (bucketDir(b).exists()) deleteRec(bucketDir(b))
          if (manifestFile(b).exists()) manifestFile(b).delete()
        }
        val tmp = new java.io.File(root, "_tmp_run")
        if (tmp.exists()) deleteRec(tmp)
        val slice =
          if (missing.size == buckets) input
          else input.where(bucketOf.isin(missing.map(_.toLong): _*))
        val out = job(slice)
        val dataCols = out.columns.toSeq
        out.withColumn("__bucket", bucketOf)
          .write.partitionBy("__bucket").mode("overwrite").parquet(tmp.getPath)
        // Fingerprint what was actually written (one pass over the OUTPUT,
        // which is output-sized — the input is never re-read). An all-empty
        // result writes no partition dirs at all; skip the read then (a
        // partition-less parquet dir has no schema to infer). The bucket
        // dirs are read by name under `basePath`, not through `_tmp_run`:
        // Spark ignores a path whose name starts with `_` (which keeps the
        // staging dir hidden from readers of `outDir`) and would read it
        // only through its all-paths-ignored fall-back.
        val written = Option(tmp.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("__bucket=")).map(_.getPath)
        val fpRows =
          if (written.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else {
            val (rowCount, contentHash) = Lineage.fingerprint(dataCols)
            spark.read.option("basePath", tmp.getPath).parquet(written.toSeq: _*)
              .groupBy(col("__bucket").cast("long").as("__b"))
              .agg(rowCount, contentHash)
              .collect()
          }
        // A bucket value outside [0, buckets) has no bucket to commit to:
        // its rows would be deleted with _tmp_run and left out of every
        // manifest. Fail before any rename instead of dropping them.
        val stray = fpRows.filter { r => r.getLong(0) < 0L || r.getLong(0) >= buckets }
        if (stray.nonEmpty) {
          deleteRec(tmp)
          throw new IllegalArgumentException(
            s"bucketCol produced values outside [0, $buckets): " +
              stray.map(_.getLong(0)).sorted.mkString(", ") +
              s" (${stray.map(_.getLong(1)).sum} rows); nothing was committed")
        }
        val fps: Map[Int, (Long, Long)] = fpRows
          .map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2)))).toMap
        // Commit per bucket: data rename first, manifest last. A bucket with
        // no rows gets an empty committed dir + a (0, 0) manifest, so the
        // full bucket domain is always accounted for.
        val committed = missing.map { b =>
          val src = new java.io.File(tmp, s"__bucket=$b")
          if (!src.exists()) src.mkdirs()
          require(src.renameTo(bucketDir(b)), s"atomic rename failed for bucket $b")
          val (cnt, hash) = fps.getOrElse(b, (0L, 0L))
          java.nio.file.Files.writeString(manifestFile(b).toPath,
            s"""{"bucket":$b,"row_count":$cnt,"content_hash":$hash}""")
          b -> ((cnt, hash))
        }.toMap
        deleteRec(tmp)
        committed
      }

    (0 until buckets).map { b =>
      done.get(b) match {
        case Some((cnt, hash)) => BucketResult(b, skipped = true, cnt, hash)
        case None =>
          val (cnt, hash) = computed(b)
          BucketResult(b, skipped = false, cnt, hash)
      }
    }
  }

  private def ujsonParse(s: String): (Long, Long) = {
    def field(k: String): Long = {
      val m = java.util.regex.Pattern.compile("\"" + k + "\":(-?\\d+)").matcher(s)
      require(m.find(), s"manifest missing $k")
      m.group(1).toLong
    }
    (field("row_count"), field("content_hash"))
  }

}
