package graft.tjk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * All arithmetic promotes each float to DOUBLE and sums in index order —
  * in the native expressions ([[expressions.CosineSimilarity]],
  * [[expressions.HyperplaneSignature]]) and the primitive top-k loop alike —
  * which makes the result reproducible across engines (the DuckDB oracle
  * sums the same promoted doubles). No UDFs.
  *
  *  - [[bruteForceTopKFast]]: exact top-k neighbors — the correctness
  *    baseline. Scale shape: broadcast the (small) query set against the
  *    corpus scan; one pass, no shuffle of the corpus.
  *  - [[ivfTopK]]: IVF-style scale path — corpus assigned to the nearest of
  *    C deterministic centroids (one narrow pass), queries probe only the
  *    nProbe nearest cells. Recall is validated against brute force in
  *    VectorSuite; approximate by design, so no SQL oracle.
  */
object VectorOps {

  /** Sign-LSH shape: 64 hyperplanes in 16 bands of 4 bits. Shared with the
    * DuckDB oracle SQL (TextVecQueries) so both engines band identically. */
  val LshPlanes = 64
  val LshBands = 16

  /** [[kmeansCentroids]]: Lloyd rounds, and the training-sample cap. */
  val KmeansIters = 3
  val KmeansSampleMax = 65536

  // ------------------------------------------------- sign-LSH near-dup (scale path)

  /** Deterministic Rademacher hyperplane matrix (nPlanes × dim): w[p][i] = +1
    * if the first hex char of md5("p:i") is in 0–7 (high bit of the first
    * nibble clear) else −1. The same formula is evaluated as SQL md5 by the
    * DuckDB oracle, so both engines derive bit-identical planes with no RNG
    * and no shipped state.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      (0 until dim).map { i =>
        val h = md.digest(s"$p:$i".getBytes("UTF-8"))
        if ((h(0) & 0x80) == 0) 1.0f else -1.0f
      }
    }
  }

  /** Near-duplicate pairs (cosine ≥ threshold) via random-hyperplane LSH —
    * the 100 TB path, with candidates through [[TextOps.bucketPairs]]; no
    * driver collect, no all-pairs join anywhere:
    *
    *  1. per-vector sign signature ([[LshPlanes]] bits) via the codegen'd
    *     [[expressions.HyperplaneSignature]] — one narrow scan;
    *  2. signature split into [[LshBands]] md5-hashed bands; candidate pairs =
    *     vectors sharing a (band, hash) bucket — shuffle is on the band hash,
    *     so work is proportional to bucket sizes, not n²;
    *  3. candidates verified with the exact codegen'd cosine (join back to
    *     the cached signature rows by id — candidates stay id-only through
    *     the shuffle, and the corpus is scanned once).
    *
    * Approximate by construction: a qualifying pair that shares no band is
    * missed (P[miss] = (1−pʳ)^B with p = 1 − θ/π). With 64 planes in 16 bands,
    * recall ≈ 0.94 at cosine 0.4 and > 0.999 at the 0.9+ thresholds real
    * near-dup dedup runs at; precision is exactly 1 (every emitted pair
    * carries its true cosine). Recall vs the exact path is pinned in
    * TextVecSuite; bit-exactness is pinned by the driver's DuckDB oracle,
    * which replicates planes, signatures, banding, and verification.
    */
  def cosineNearDupPairsLsh(
      vecs: DataFrame,
      threshold: Double,
      dim: Int = 64,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val spark = vecs.sparkSession
    val r = LshPlanes / LshBands
    // cache the signatures WITH their embeddings: the band self-join and
    // both verify join-backs read this subplan, and without the cache each
    // re-scans the corpus — same branch-point discipline as minhashLshPairs
    // (spills at scale, releasable via scope).
    // The source runs through TextOps.spread (stats-gated, large inputs pass
    // untouched): a small corpus arrives as ONE parquet split, so the cached
    // sig would be ONE partition — and since the band self-join broadcasts
    // one side, candidate-PAIR GENERATION then streams the other side's
    // single partition on a single task (measured: 1.2 s on one core,
    // 1.28M bucket pairs, 31 cores idle). Spreading the signature source
    // parallelizes the pair-expansion stage without touching its values.
    val sig = scope.persist(TextOps.spread(vecs).select(
      col("vec_id"), col("embedding"), expressions.NativeFunctions.hyperplaneSigNative(
        spark, col("embedding"), hyperplanes(LshPlanes, dim)).as("bitstr")))
    val bandRows = sig.select(col("vec_id"), inline(expr(
      s"transform(sequence(0, ${LshBands - 1}), " +
        s"b -> struct(b AS band, md5(substring(bitstr, b * $r + 1, $r)) AS h))")))
    val cand = TextOps.bucketPairs(bandRows, "vec_id", Seq("band", "h"))
      .select("id_a", "id_b").distinct()
    val cosN = expressions.NativeFunctions.cosineNative(
      spark, col("embedding_a"), col("embedding_b"))
    TextOps.withBoth(cand, sig, "vec_id", "embedding")
      .withColumn("cos", round(cosN, 6))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Matches Spark's round(x, 6): decimal HALF_UP on the double's value. */
  private[graft] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  private[graft] def dotPrim(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i).toDouble; i += 1 }
    d
  }
  private[graft] def normPrim(a: Array[Float]): Double = math.sqrt(dotPrim(a, a))

  /** Exact top-k, fast path: queries broadcast as primitive arrays, corpus
    * scanned once; each partition keeps only its local top-k per query
    * (ordered by (rounded cos desc, vid asc) — the same total order as the
    * final ranking, so per-partition pruning cannot drop a global winner),
    * then a tiny final window ranks parts×k rows per query. Scale shape:
    * corpus never shuffles; reduce output is O(parts·|Q|·k). The query set
    * is broadcast, so its size is a hard contract: at most `maxQueries`
    * rows — an oversized set fails loudly (limit pushes down, so the guard
    * never scans more than maxQueries+1 rows) instead of OOMing the driver;
    * larger query sets belong in [[ivfTopK]] or an LSH prefilter.
    */
  def bruteForceTopKFast(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      maxQueries: Int = 4096): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qs0 = queries.select(col("qid").cast("long"), col("qe"))
      .as[(Long, Array[Float])].limit(maxQueries + 1).collect()
    require(qs0.length <= maxQueries,
      s"bruteForceTopKFast: query set exceeds maxQueries=$maxQueries " +
        "(broadcast contract); use ivfTopK or raise the bound explicitly")
    val qs = qs0.sortBy(_._1)
    val qNorms = qs.map(q => normPrim(q._2))
    val bc = spark.sparkContext.broadcast((qs, qNorms))
    val partial = corpus.select(col("vid").cast("long"), col("ve"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (q, qn) = bc.value
        // per-query bounded buffer of the k best (cos desc, vid asc)
        val ord = Ordering.by[(Long, Long, Double), (Double, Long)] {
          case (_, vid, cos) => (-cos, vid)
        }
        val heaps = Array.fill(q.length)(
          scala.collection.mutable.PriorityQueue.empty[(Long, Long, Double)](ord))
        it.foreach { case (vid, ve) =>
          val nv = normPrim(ve)
          var i = 0
          while (i < q.length) {
            val (qid, qe) = q(i)
            if (vid != qid) {
              val den = qn(i) * nv // zero-norm ⇒ 0.0 (library convention)
              val cos = if (den == 0.0) 0.0 else round6(dotPrim(qe, ve) / den)
              val h = heaps(i)
              if (h.size < k) h.enqueue((qid, vid, cos))
              else if (ord.lt((qid, vid, cos), h.head)) { h.dequeue(); h.enqueue((qid, vid, cos)) }
            }
            i += 1
          }
        }
        heaps.iterator.flatMap(_.iterator)
      }
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    partial.toDF("qid", "vid", "cos")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Deterministic spherical k-means centroids for IVF cell assignment.
    *
    * Init: the nCells training vectors with the smallest xxhash64(vec_id) —
    * pseudo-random but reproducible, no RNG state. Then [[KmeansIters]]
    * Lloyd rounds: assign each training vector to its nearest centroid by cosine
    * (broadcast join, codegen'd cosine), recompute each centroid as the
    * element-wise mean of its members (empty cells keep their previous
    * centroid). The training set is capped at [[KmeansSampleMax]] vectors via a
    * smallest-hash sample (TakeOrdered — per-partition top-k, no full sort),
    * so fit cost and the O(nCells·dim) driver-side centroid state are
    * bounded at ANY corpus size; the full corpus is assigned exactly once,
    * distributed, by the caller.
    */
  def kmeansCentroids(vecs: DataFrame, nCells: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cosN = (a: Column, b: Column) =>
      expressions.NativeFunctions.cosineNative(spark, a, b)
    CacheScope.using { scope =>
      val train = scope.persist(vecs
        .select(col("vec_id"), col("embedding"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(KmeansSampleMax))
      var cents: Array[(Int, Array[Float])] = train.limit(nCells)
        .select("embedding").as[Array[Float]].collect()
        .zipWithIndex.map { case (e, i) => (i, e) }
      for (_ <- 1 to KmeansIters) {
        val cdf = broadcast(
          spark.createDataFrame(cents.toSeq).toDF("cid", "ce"))
        val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
        val assigned = train.join(cdf)
          .withColumn("ccos", cosN(col("embedding"), col("ce")))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") === 1)
        // Mean via QUANTIZED integer sums, not avg(double): double addition is
        // non-associative and shuffle-fetch arrival order is nondeterministic,
        // so avg() would make the "deterministic centroids" contract false at
        // the last ulp (enough to flip a near-equidistant assignment across
        // runs). Long sums are associative ⇒ bit-identical on every run/layout;
        // 2^-20 quantization (~1e-6) is far below any meaningful centroid
        // resolution. |v| ≲ 6 ⇒ per-row ≤ 2^23, ×KmeansSampleMax ≪ 2^63 (no ANSI
        // overflow).
        val Q = 1048576L // 2^20
        val means = assigned
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cid", "pos").agg(
            sum(round(col("v") * Q).cast("long")).as("qs"),
            count(lit(1)).as("n"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1))
              .map(r => (r.getLong(2).toDouble / r.getLong(3) / Q).toFloat)
          }
        cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      }
      spark.createDataFrame(cents.toSeq).toDF("cid", "ce")
    }
  }

  /** IVF: corpus assigned to its nearest [[kmeansCentroids]] cell (one
    * distributed pass); each query probes the nProbe nearest cells and ranks
    * only those cells' members.
    */
  def ivfTopK(
      vecs: DataFrame, // (vec_id, embedding)
      queryIds: Column, // predicate over vec_id selecting queries
      k: Int,
      nCells: Int,
      nProbe: Int): DataFrame = {
    // Native codegen'd cosine (expressions.CosineSimilarity): the hot loop of
    // the cell assignment runs inside WholeStageCodegen instead of the
    // interpreted zip_with/aggregate path (~2000x per-pair).
    val cosN = (a: Column, b: Column) =>
      expressions.NativeFunctions.cosineNative(vecs.sparkSession, a, b)
    val cents = broadcast(kmeansCentroids(vecs, nCells))
    def nearestCells(df: DataFrame, idC: String, vecC: String, keep: Int) = {
      val joined = df.join(cents)
        .withColumn("ccos", round(cosN(col(vecC), col("ce")), 6))
      if (keep == 1) {
        // The full-corpus assignment path: a row_number window here would
        // push corpus×nCells rows through an exchange AND a per-partition
        // sort just to take an argmax per vector. max(struct(…)) computes
        // the same argmax with map-side partial aggregation — the broadcast
        // join emits each vector's nCells candidates inside one task, so
        // the partial agg collapses them to ONE row per vector before the
        // shuffle and no sort exists. Tie-break identity with the window
        // form: rk=1 under (ccos DESC, cid ASC) is exactly the max of
        // (ccos, −cid); null ccos sorts below any value in both forms.
        joined
          .groupBy(col(idC))
          .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"),
            col("cid"), col(vecC).as("v"))).as("m"))
          .select(col(idC), col("m.v").as(vecC), col("m.cid").as("cid"))
      } else {
        // keep > 1 (query probes): bounded by #queries×nCells — the same
        // per-key top-k window shape as the final ranking below.
        val w = Window.partitionBy(idC).orderBy(col("ccos").desc, col("cid"))
        joined
          .withColumn("crank", row_number().over(w))
          .where(col("crank") <= keep)
          .drop("ce", "ccos", "crank")
      }
    }
    val assigned = nearestCells(
      vecs.select(col("vec_id").as("vid"), col("embedding").as("ve")), "vid", "ve", 1)
    val probes = nearestCells(
      vecs.where(queryIds).select(col("vec_id").as("qid"), col("embedding").as("qe")),
      "qid", "qe", nProbe)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    probes.join(assigned, "cid")
      .where(col("vid") =!= col("qid"))
      .withColumn("cos", round(cosN(col("qe"), col("ve")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "vid", "cos", "rank")
  }
}
