package graft

import org.apache.spark.sql.functions._
import graft.tjk._

/** The storage-seam contract (SURVEY.md §2.2): everything above TableIO is
  * format-agnostic, so each implementation must satisfy the same
  * read-after-write laws; SnapshotIO additionally proves the Iceberg-shaped
  * snapshot-commit semantics the resume path (O11) maps onto.
  */
class TableIOSuite extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("tjk_tableio").toString

  private def rows(n: Int) = (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")

  private def contract(io: TableIO): Unit = {
    assert(!io.exists(spark, "t"))
    io.write(rows(3), "t")
    assert(io.exists(spark, "t"))
    val back = io.read(spark, "t").orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq == (1 to 3).map(i => (i.toLong, s"v$i")))
  }

  test("ParquetIO satisfies the read-after-write contract") {
    contract(new ParquetIO(tmp()))
  }

  test("SnapshotIO satisfies the read-after-write contract") {
    contract(new SnapshotIO(tmp()))
  }

  test("SnapshotIO: overwrite commits a new snapshot; old stays time-travelable") {
    val io = new SnapshotIO(tmp())
    io.write(rows(3), "t")
    io.write(rows(5), "t")
    assert(io.currentSnapshot("t").contains(2L))
    assert(io.snapshots("t") == Seq(1L, 2L))
    assert(io.read(spark, "t").count() == 5)
    assert(io.readAt(spark, "t", 1L).count() == 3)
  }

  test("ParquetIO refuses a write that a same-named .parquet file would shadow") {
    val root = tmp()
    rows(2).write.parquet(s"$root/t.parquet") // testdata-shaped file
    val io = new ParquetIO(root)
    // read() prefers t.parquet, so an unguarded write to $root/t would be
    // silently invisible to every subsequent read — it must fail loudly
    intercept[IllegalArgumentException] { io.write(rows(5), "t") }
    assert(io.read(spark, "t").count() == 2)
  }

  test("SnapshotIO: concurrent same-JVM writers never tear a snapshot") {
    // Id allocation + data write + commit all happen under the commit lock;
    // without that, two writers could pick the same snap id and CO-WRITE
    // one directory (errorifexists is check-then-act), committing a torn
    // UNION of both dataframes. Serialized, every commit is exactly one
    // writer's rows.
    val root = tmp()
    val sizes = Seq(1, 2, 3, 4, 5, 6)
    val threads = sizes.map { n =>
      new Thread(() => new SnapshotIO(root).write(rows(n), "t"))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val io = new SnapshotIO(root)
    val snaps = io.snapshots("t")
    assert(snaps.size == sizes.size, s"expected ${sizes.size} commits, got $snaps")
    val counts = snaps.map(s => io.readAt(spark, "t", s).count())
    // each snapshot holds exactly ONE writer's rows — no unions, no loss
    assert(counts.sorted == sizes.map(_.toLong), s"torn snapshots: $counts")
  }

  test("CSV and JSON sources agree with the parquet relation (SURVEY §2.2)") {
    val root = tmp()
    val base = Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "event_type", "value")
    base.write.option("header", "true").csv(s"$root/ev_csv")
    base.write.json(s"$root/ev_json")
    def agg(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("s"))
        .orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val fromParquet = agg(base)
    val fromCsv = agg(spark.read.schema(base.schema)
      .option("header", "true").csv(s"$root/ev_csv"))
    val fromJson = agg(spark.read.schema(base.schema).json(s"$root/ev_json"))
    assert(fromCsv == fromParquet)
    assert(fromJson == fromParquet)
  }

  test("SnapshotIO: an aborted commit is invisible and never blocks later commits") {
    val root = tmp()
    val io = new SnapshotIO(root)
    io.write(rows(3), "t")
    // simulate a crash after the data write, before the pointer swap:
    rows(9).write.parquet(s"$root/t/snap_2")
    assert(io.currentSnapshot("t").contains(1L), "orphan snapshot became visible")
    assert(io.read(spark, "t").count() == 3)
    // the next commit allocates PAST the orphan (Iceberg-style retry with a
    // fresh id) — it succeeds, the orphan stays unreferenced forever
    io.write(rows(4), "t")
    assert(io.currentSnapshot("t").contains(3L))
    assert(io.snapshots("t") == Seq(1L, 3L))
    assert(io.read(spark, "t").count() == 4)
    intercept[IllegalArgumentException] { io.readAt(spark, "t", 2L) }
  }

  test("SnapshotIO: a hint file without the v2 header fails loudly, naming it") {
    val root = tmp()
    val io = new SnapshotIO(root)
    io.write(rows(3), "t")
    val hint = new java.io.File(s"$root/t/version-hint.text")
    java.nio.file.Files.writeString(hint.toPath, "1")
    val e = intercept[IllegalStateException](io.snapshots("t"))
    assert(e.getMessage.contains(hint.getPath))
  }
}
