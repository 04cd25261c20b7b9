package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.tjk._
import graft.tjk.expressions.NativeFunctions

class CosineExprSuite extends SparkTestBase {
  import spark.implicits._

  private lazy val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")

  test("native codegen cosine == zip_with/aggregate reference, bit-for-bit") {
    val pairs = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb")),
        col("id_a") < col("id_b") && col("id_b") < col("id_a") + 7)
    val both = pairs
      .withColumn("ref", VectorReference.cosine(col("ea"), col("eb")))
      .withColumn("nat", NativeFunctions.cosineNative(spark, col("ea"), col("eb")))
      .select("id_a", "id_b", "ref", "nat").collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"bit mismatch at ${r.getLong(0)},${r.getLong(1)}: ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  test("native cosine: null array -> null, null element -> null, SQL-callable") {
    NativeFunctions.register(spark)
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("id", "a", "b")
      .withColumn("a2", when(col("id") === 2L, lit(null)).otherwise(col("a")))
    val out = df.selectExpr("id", "tjk_cosine(a, b) AS c", "tjk_cosine(a2, b) AS cn")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out(1L) == ((Some(1.0), Some(1.0))))
    assert(out(2L)._1.contains(0.0) && out(2L)._2.isEmpty)
    val withNullElem = Seq((Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](1.0f, 1.0f)))
      .toDF("a", "b")
      .selectExpr("tjk_cosine(cast(a as array<float>), cast(b as array<float>)) AS c")
      .collect()(0)
    assert(withNullElem.isNullAt(0))
  }

  test("zero-norm vectors: every cosine path agrees on 0.0 (no NaN, no throw, no drop)") {
    NativeFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val zero = Seq(0.0f, 0.0f); val unit = Seq(1.0f, 0.0f)
    // native expression (interpreted + codegen path): 0.0, not NaN — NaN
    // would sort ABOVE every real cosine and rank the zero vector #1
    val nat = Seq((zero, unit)).toDF("a", "b")
      .selectExpr("tjk_cosine(a, b) AS c").collect()(0)
    assert(!nat.isNullAt(0) && nat.getDouble(0) == 0.0)
    // HOF form: must not DIVIDE_BY_ZERO under ANSI
    val hof = Seq((zero, unit)).toDF("a", "b")
      .select(VectorReference.cosine(col("a"), col("b")).as("c")).collect()(0)
    assert(hof.getDouble(0) == 0.0)
    // fast top-k: the zero corpus vector appears with cos 0.0 (not NaN-#1,
    // not dropped) and the zero QUERY gets all-0.0 neighbors
    val q = Seq((0L, unit)).toDF("qid", "qe")
    val corpus = Seq((1L, unit), (2L, zero), (3L, Seq(0.0f, 1.0f)))
      .toDF("vid", "ve")
    val topk = VectorOps.bruteForceTopKFast(q, corpus, k = 3)
      .orderBy("rank").collect().map(r => r.getLong(1) -> r.getDouble(2))
    assert(topk.head == (1L -> 1.0))
    assert(topk.map(_._1).toSet == Set(1L, 2L, 3L))
    assert(topk.find(_._1 == 2L).get._2 == 0.0)
    // exact pair path keeps the convention too (below threshold ⇒ excluded,
    // same as the LSH verify would conclude)
    val pairs = VectorReference.cosineNearDupPairsFast(
      Seq((1L, unit), (2L, zero)).toDF("vec_id", "embedding"), threshold = 0.1)
    assert(pairs.count() == 0)
  }

  test("native cosine participates in whole-stage codegen") {
    NativeFunctions.register(spark)
    val df = e.selectExpr("tjk_cosine(embedding, embedding) AS c").where(col("c") > 0.5)
    // `*(n)` prefixes mark WholeStageCodegen spans in the compact plan
    // format — the custom expression must sit inside one, not break it.
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[tjk_cosine".r.findFirstIn(plan).isDefined, plan)
    assert(df.count() == e.count()) // self-cosine == 1.0 > 0.5
  }

  test("native hyperplane signature participates in whole-stage codegen") {
    val planes = VectorOps.hyperplanes(VectorOps.LshPlanes, 64)
    val df = e.select(NativeFunctions.hyperplaneSigNative(
        spark, col("embedding"), planes).as("s"))
      .where(col("s").isNotNull)
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[tjk_hyperplane_sig".r.findFirstIn(plan).isDefined, plan)
    assert(df.count() == e.count()) // no null embedding, no null element
  }

  /** Whole-stage codegen on and off × projections generated-only and
    * interpreted-only. The fallback is off, so generated code that fails to
    * compile fails the test instead of quietly running the interpreted path.
    */
  private val codegenModes = for {
    wholeStage <- Seq("true", "false")
    factory <- Seq("CODEGEN_ONLY", "NO_CODEGEN")
  } yield Map(
    "spark.sql.codegen.wholeStage" -> wholeStage,
    "spark.sql.codegen.factoryMode" -> factory,
    "spark.sql.codegen.fallback" -> "false")

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally conf.keys.foreach(spark.conf.unset)
  }

  test("native kernels: same bits, nulls and dimension errors with codegen on and off") {
    val planes = VectorOps.hyperplanes(VectorOps.LshPlanes, 64)
    val pairs = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb")),
        col("id_a") < col("id_b") && col("id_b") < col("id_a") + 7)
    def outputs(): Seq[(Long, Long, Long, String)] = pairs
      .select(col("id_a"), col("id_b"),
        NativeFunctions.cosineNative(spark, col("ea"), col("eb")).as("c"),
        NativeFunctions.hyperplaneSigNative(spark, col("ea"), planes).as("s"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getString(3)))
      .sortBy(r => (r._1, r._2))
    // repartition keeps the projection out of the optimizer's local-relation
    // folding, so it runs in the configured (generated or interpreted) form
    val small = Seq[(Long, Seq[java.lang.Float], Seq[java.lang.Float])](
        (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
        (2L, null, Seq(1.0f, 0.0f)),
        (3L, Seq(1.0f, null), Seq(1.0f, 1.0f)),
        (4L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f, 0.0f)))
      .toDF("id", "a", "b").repartition(1)
      .select(col("id"), col("a").cast("array<float>").as("a"),
        col("b").cast("array<float>").as("b"))
    def onSmall(fn: String): Column =
      if (fn == NativeFunctions.cosineName)
        NativeFunctions.cosineNative(spark, col("a"), col("b"))
      else NativeFunctions.hyperplaneSigNative(
        spark, when(col("id") === 4L, col("b")).otherwise(col("a")),
        VectorOps.hyperplanes(4, 2))
    def messages(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")

    val expected = outputs()
    assert(expected.nonEmpty)
    codegenModes.foreach { mode =>
      withConf(mode) {
        assert(outputs() == expected, s"outputs differ under $mode")
        Seq(NativeFunctions.cosineName, NativeFunctions.hyperplaneSigName).foreach { fn =>
          val got = small.where(col("id") < 4L)
            .select(col("id"), onSmall(fn).as("v")).collect()
            .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
          assert(got == Map(1L -> false, 2L -> true, 3L -> true), s"$fn nulls under $mode")
          val ex = intercept[Exception] {
            small.where(col("id") === 4L).select(onSmall(fn)).collect()
          }
          assert(messages(ex).contains(s"$fn: dimension mismatch"),
            s"$fn under $mode: ${messages(ex)}")
        }
      }
    }
  }

  test("tjk_* SQL functions reject a wrong argument count at analysis") {
    NativeFunctions.register(spark)
    val df = Seq(Seq(1.0f, 0.0f)).toDF("v")
    Seq(
      NativeFunctions.cosineName -> 2,
      NativeFunctions.hyperplaneSigName -> 2,
      NativeFunctions.windowNUniqueName -> 1,
      NativeFunctions.minhashSigName -> 2,
      NativeFunctions.simhashName -> 1).foreach { case (name, arity) =>
      Seq(arity - 1, arity + 1).foreach { n =>
        val call = s"$name(${Seq.fill(n)("v").mkString(", ")})"
        val ex = intercept[org.apache.spark.sql.AnalysisException] {
          df.selectExpr(call)
        }
        assert(ex.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$call: $ex")
        assert(ex.getMessage.contains(s"`$name` requires $arity parameters") &&
          ex.getMessage.contains(s"actual number is $n"), s"$call: ${ex.getMessage}")
      }
    }
  }
}
