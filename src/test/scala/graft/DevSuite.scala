package graft

import java.io.File
import scala.jdk.CollectionConverters._

/** The dev launcher's three modes, called on the shared test session. */
class DevSuite extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(): File =
    java.nio.file.Files.createTempDirectory("tjk_dev").toFile

  test("dump writes each named query's parquet and an oracle_sql.json of exactly their SQL") {
    val out = tmp()
    val names = Seq("q06_asof", "q13_topk")
    Dev.dump(spark, sf, out.getPath, names)
    names.foreach { q =>
      assert(spark.read.parquet(new File(out, q).getPath).count() > 0, q)
    }
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(out, "oracle_sql.json"), classOf[java.util.Map[String, String]])
      .asScala.toMap
    assert(oracle == names.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }

  test("explain writes <q>_<suffix>.txt with the physical plan") {
    val out = tmp()
    Dev.explain(spark, sf, out.getPath, "test", Seq("q13_topk"))
    assert(out.list().toSeq == Seq("q13_topk_test.txt"))
    val txt = java.nio.file.Files.readString(new File(out, "q13_topk_test.txt").toPath)
    assert(txt.contains("== Physical Plan =="))
  }

  test("profile runs the named query through the noop sink") {
    Dev.profile(spark, sf, Seq("q13_topk"))
  }

  test("every mode rejects a misspelled query name, naming it, and writes nothing") {
    val bad = "q13_topk_typo"
    val modes: Seq[(String, File => Unit)] = Seq(
      "dump" -> (out => Dev.dump(spark, sf, out.getPath, Seq("q06_asof", bad))),
      "explain" -> (out => Dev.explain(spark, sf, out.getPath, "x", Seq(bad))),
      "profile" -> (_ => Dev.profile(spark, sf, Seq(bad))))
    modes.foreach { case (mode, run) =>
      val out = new File(tmp(), "out")
      val e = intercept[IllegalArgumentException](run(out))
      assert(e.getMessage.contains(bad) && e.getMessage.contains("q13_topk,"), mode)
      assert(!out.exists(), s"$mode wrote $out")
    }
  }
}
