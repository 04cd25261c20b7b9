package graft

import org.apache.spark.sql.functions._
import graft.tjk._

/** The table reader (`Tables.read`) and the text-format sources
  * (SURVEY.md §2.2): everything above the reader is format-agnostic
  * DataFrame code.
  */
class TablesSuite extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("tjk_tables").toString

  private def rows(n: Int) = (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")

  test("Tables.read reads the file form and the directory form; the file form wins") {
    val root = tmp()
    rows(2).write.parquet(s"$root/f.parquet")
    rows(3).write.parquet(s"$root/d")
    assert(Tables.read(spark, root, "f").count() == 2)
    assert(Tables.read(spark, root, "d").orderBy("id").as[(Long, String)].collect().toSeq ==
      (1 to 3).map(i => (i.toLong, s"v$i")))
    // both forms present: the file form is read, the directory is ignored
    rows(5).write.parquet(s"$root/f")
    assert(Tables.read(spark, root, "f").count() == 2)
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
}
