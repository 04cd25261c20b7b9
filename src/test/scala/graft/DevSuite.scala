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

  test("every catalog query releases its caches, except those whose result reads a persist") {
    // These return a lazy frame over an operator persist, so only the
    // harness's between-query clearCache() (which Dev.each runs) frees it.
    val lazyPersist = Set("q17_dedup_exact", "q18_ngram_jaccard", "q19_minhash_lsh",
      "q20_simhash", "q22_dedup_embed", "q24_media", "q50_media_decode")
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val leftCached = SparkEntry.queries.keys.toSeq.sorted.filter { q =>
      assert(cm.isEmpty, s"cache not empty entering $q")
      var left = false
      Dev.each(spark, sf, Seq(q), "cache") { (_, df) =>
        df.write.format("noop").mode("overwrite").save()
        left = !cm.isEmpty
      }
      left
    }
    assert(leftCached.toSet == lazyPersist)
    assert(cm.isEmpty)
  }

  test("q43 releases its CSV aggregate when the CSV-vs-JSON check fails") {
    // The CSV writer trims a value's leading whitespace and JSON keeps it,
    // so conv_ids with a leading space make the two fingerprints differ.
    import spark.implicits._
    val dir = tmp()
    val t0 = java.time.LocalDateTime.parse("2026-01-01T00:00:00")
    (0 until 64).map(i => (s" u$i", "message", "hi", t0.plusMinutes(i), 1.0, i.toLong))
      .toDF("user_id", "event_type", "props", "ts", "value", "event_id")
      .write.parquet(new File(dir, "events.parquet").getPath)
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val e = intercept[IllegalArgumentException](
      SourceStreamQueries.csvJsonSource(spark, dir.getPath))
    assert(e.getMessage.contains("CSV vs JSON round-trip diverged"), e.getMessage)
    assert(cm.isEmpty, "q43 left its CSV aggregate cached")
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
