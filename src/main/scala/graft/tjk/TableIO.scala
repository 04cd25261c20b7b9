package graft.tjk

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage seam (SURVEY.md §2.2): Parquet in-sandbox; production swaps in an
  * Iceberg-backed implementation by config (the Iceberg runtime jar is not
  * available offline — SURVEY.md §0.5). Everything above this seam is
  * format-agnostic DataFrame code, so the swap is config-only.
  */
trait TableIO {
  def read(spark: SparkSession, name: String): DataFrame
  def write(df: DataFrame, name: String): Unit
  def exists(spark: SparkSession, name: String): Boolean
}

/** Parquet directory layout: `$root/<name>.parquet` (driver testdata shape)
  * falling back to `$root/<name>` for engine-written tables.
  */
final class ParquetIO(root: String) extends TableIO {
  private def path(name: String): String = {
    val p1 = new java.io.File(s"$root/$name.parquet")
    if (p1.exists()) p1.getPath else s"$root/$name"
  }
  override def read(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(path(name))
  override def write(df: DataFrame, name: String): Unit = {
    // read() PREFERS $root/<name>.parquet when both exist — writing the
    // directory form next to a same-named testdata file would make this
    // write silently invisible to every subsequent read. Fail loudly.
    require(!new java.io.File(s"$root/$name.parquet").exists(),
      s"write('$name') would be shadowed by the existing $name.parquet " +
        "file that read() prefers — remove it or write under another name")
    df.write.mode("overwrite").parquet(s"$root/$name")
  }
  override def exists(spark: SparkSession, name: String): Boolean =
    new java.io.File(path(name)).exists()
}

/** Iceberg-flavored test double proving the seam's write/read contract
  * beyond plain Parquet directories (the real Iceberg runtime jar is not
  * available offline — SURVEY.md §0.5). It mirrors Iceberg's commit
  * protocol shape:
  *
  *   1. data files are written into a NEW immutable snapshot directory
  *      (`$root/$name/snap_<v>`) — never in place;
  *   2. the commit is an atomic metadata-pointer swap (`version-hint.text`
  *      written to a temp file, then renamed) — readers either see the old
  *      snapshot or the new one, never a half-written directory;
  *   3. old snapshots remain readable by id (time travel / the checkpoint
  *      boundaries O11 resumes from).
  *
  * A crash after step 1 but before step 2 leaves an orphan snapshot dir that
  * readers never observe — the same failure contract as an aborted Iceberg
  * commit.
  */
final class SnapshotIO(root: String) extends TableIO {
  private def tableDir(name: String) = new java.io.File(root, name)
  private def hintFile(name: String) =
    new java.io.File(tableDir(name), "version-hint.text")
  private def snapDir(name: String, v: Long) =
    new java.io.File(tableDir(name), s"snap_$v")

  /** All committed snapshot ids, oldest first — the hint file is the commit
    * log (`v2` header, then one id per line, atomically replaced as a
    * whole); snapshot dirs on disk but absent from it are orphans of
    * aborted commits and are never visible through any read path. A hint
    * file without the header is not a log this class wrote and fails loudly.
    */
  def snapshots(name: String): Seq[Long] = {
    val f = hintFile(name)
    if (!f.exists()) Seq.empty
    else {
      val lines = java.nio.file.Files.readString(f.toPath).split("\n")
        .map(_.trim).filter(_.nonEmpty).toSeq
      if (!lines.headOption.contains("v2"))
        throw new IllegalStateException(s"$f has no v2 header: not a SnapshotIO commit log")
      lines.tail.map(_.toLong)
    }
  }

  /** Current snapshot id, if any committed. */
  def currentSnapshot(name: String): Option[Long] = snapshots(name).lastOption

  override def read(spark: SparkSession, name: String): DataFrame =
    readAt(spark, name, currentSnapshot(name).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $name")))

  /** Time travel: read a specific COMMITTED snapshot. */
  def readAt(spark: SparkSession, name: String, snapshot: Long): DataFrame = {
    require(snapshots(name).contains(snapshot),
      s"snapshot $snapshot of $name was never committed")
    spark.read.parquet(snapDir(name, snapshot).getPath)
  }

  /** The JVM-global commit lock covers the WHOLE write — snapshot-id
    * allocation, the data write, and the pointer swap — not just the swap:
    * with allocation outside the lock, two same-JVM writers could both
    * read the same log state, pick the same `next`, and CO-WRITE one
    * snapshot dir (Spark's errorifexists is check-then-act, and the two
    * jobs' part files have distinct UUIDs, so the dir would end up a torn
    * UNION of both dataframes — and the survivor would then COMMIT it).
    * Coarse by design: this is the in-sandbox test double, and the
    * correctness claim ("readers see the old snapshot or the new one,
    * never a torn one") outranks write concurrency. NOT
    * `this.synchronized` — two writers naturally construct separate
    * SnapshotIO instances for the same root.
    */
  override def write(df: DataFrame, name: String): Unit =
    SnapshotIO.commitLock.synchronized {
      // Allocate PAST any orphan directories an aborted commit left behind
      // (Iceberg likewise retries with a fresh snapshot id): next = 1 + the
      // max of the committed pointer and every snap_* dir on disk. Orphans
      // stay unreferenced and invisible; they never block a later commit.
      val onDisk = Option(tableDir(name).listFiles()).getOrElse(Array.empty)
        .flatMap(f => "^snap_(\\d+)$".r.findFirstMatchIn(f.getName).map(_.group(1).toLong))
      val committed = snapshots(name)
      val next = ((0L +: committed) ++ onDisk).max + 1L
      df.write.mode("errorifexists").parquet(snapDir(name, next).getPath)
      // Optimistic-concurrency check against writers OUTSIDE this JVM
      // (cross-process), mirroring Iceberg's compare-and-swap commit:
      // re-read the log after the snapshot write; if it moved past what
      // this commit was based on, abort — leaving snap_<next> as an
      // invisible orphan — instead of replacing the log and silently
      // dropping the other writer's commit. Check-then-act over a plain
      // filesystem leaves a cross-process window; real Iceberg closes it
      // with the catalog's atomic CAS, which is exactly what the
      // production swap behind TableIO.forRoot buys.
      val nowCommitted = snapshots(name)
      if (nowCommitted != committed)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit to $name: log advanced from $committed to " +
            s"$nowCommitted while snapshot $next was being written; retry")
      val tmp = new java.io.File(tableDir(name), s"_hint_tmp_$next")
      java.nio.file.Files.writeString(tmp.toPath,
        ("v2" +: (committed :+ next).map(_.toString)).mkString("\n"))
      // Atomic pointer swap — the commit point.
      java.nio.file.Files.move(tmp.toPath, hintFile(name).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  override def exists(spark: SparkSession, name: String): Boolean =
    currentSnapshot(name).isDefined
}

object SnapshotIO {
  /** JVM-global commit serialization (coarse by design — commit is
    * milliseconds of metadata work; see the write() comment).
    */
  private[tjk] val commitLock = new Object
}

object TableIO {
  /** In production this would consult config and return an Iceberg-backed
    * TableIO (`spark.read.format("iceberg")` / `writeTo(...).append()`);
    * [[SnapshotIO]] is the in-sandbox stand-in that preserves the snapshot
    * commit contract the resume path (O11) relies on.
    */
  def forRoot(root: String): TableIO = new ParquetIO(root)
}
