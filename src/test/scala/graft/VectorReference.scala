package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tjk.VectorOps.{dotPrim, normPrim, round6}

/** Exact similarity-search reference forms that the tests pin the
  * production paths in [[graft.tjk.VectorOps]] against. Same output
  * schemas and rounding as the paths they check; none is meant to scale.
  */
object VectorReference {

  /** Σ aᵢ·bᵢ in double, sequential index order (higher-order-function form). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** The composable cosine, `dot(a,b)/(sqrt(dot(a,a))·sqrt(dot(b,b)))`: the
    * bit-for-bit reference for the native kernel
    * [[graft.tjk.expressions.CosineSimilarity]], with the same zero-norm
    * rule (0.0). The `when` guard also keeps Spark 4's default ANSI mode
    * from throwing DIVIDE_BY_ZERO (the division only evaluates on the
    * non-zero branch).
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Exact top-k by cosine for each query vector. Output:
    * (qid, vid, cos, rank); rank deterministic via (rounded cos desc, vid).
    */
  def bruteForceTopK(
      queries: DataFrame, // (qid, qe)
      corpus: DataFrame,  // (vid, ve)
      k: Int): DataFrame = {
    val sims = broadcast(queries).join(corpus, col("vid") =!= col("qid"))
      .withColumn("cos", round(cosine(col("qe"), col("ve")), 6))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "vid", "cos", "rank")
  }

  /** All near-duplicate pairs with cosine ≥ threshold (exact, pairwise) —
    * reference expression-tree form. Readable but allocation-bound (~600×
    * slower than [[cosineNearDupPairsFast]] on the pair loop); kept for
    * equivalence testing.
    */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double): DataFrame = {
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("ea"), col("eb")), 6))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Exact pairwise near-dup, fast primitive path (same results as
    * [[cosineNearDupPairs]]): it collects the corpus to the driver and runs
    * an O(n²) pair loop, which is a driver-OOM + quadratic-work dead end at
    * scale. The production path is
    * [[graft.tjk.VectorOps.cosineNearDupPairsLsh]] (bucketed, no driver
    * materialization); this one pins the LSH path's recall and exactness on
    * small fixtures.
    */
  def cosineNearDupPairsFast(vecs: DataFrame, threshold: Double): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val ds = vecs.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    val all = ds.collect().sortBy(_._1)
    val norms = all.map(v => normPrim(v._2))
    val bc = spark.sparkContext.broadcast((all, norms))
    // The corpus often arrives as ONE parquet split at this size — spread the
    // O(n²/2) pair loop across all cores, it is embarrassingly parallel.
    val parts = spark.sparkContext.defaultParallelism
    // round6(x) ≥ t ⟺ x ≥ t − 5e-7 (t a multiple of 1e-6, HALF_UP): gate on
    // the raw value with 1e-6 slack so the (allocating) BigDecimal rounding
    // runs only on near-threshold survivors, not on every pair.
    val rawGate = threshold - 1e-6
    ds.repartition(parts).mapPartitions { it =>
      val (b, bn) = bc.value
      it.flatMap { case (ida, ea) =>
        val na = normPrim(ea)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = 0
        while (j < b.length) {
          val (idb, eb) = b(j)
          if (idb > ida) {
            // zero-norm ⇒ 0.0, matching the library-wide convention (raw
            // NaN would silently DROP here while other paths kept the row)
            val den = na * bn(j)
            val raw = if (den == 0.0) 0.0 else dotPrim(ea, eb) / den
            if (raw >= rawGate) {
              val cos = round6(raw)
              if (cos >= threshold) out += ((ida, idb, cos))
            }
          }
          j += 1
        }
        out
      }
    }.toDF("id_a", "id_b", "cos")
  }
}
