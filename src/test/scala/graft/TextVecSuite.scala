package graft

import org.apache.spark.sql.functions._
import graft.tjk._

/** Pins the ops that have no DuckDB oracle (SimHash, MinHash recall, IVF
  * recall, media plumbing) and the dedup laws, on planted duplicates.
  */
class TextVecSuite extends SparkTestBase {
  import spark.implicits._

  /** 40 base docs of word salad + for ids < 8 a near-duplicate (drop last 2
    * of ~40 words, id+1000) + for ids < 4 an exact duplicate (id+2000).
    */
  private lazy val planted = {
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "the", "a", "of", "data", "spark", "table")
    val rng = new scala.util.Random(7L)
    val base = (0 until 40).map { i =>
      val words = (0 until 40 + rng.nextInt(10)).map(_ => vocab(rng.nextInt(vocab.size)))
      (i.toLong, words.mkString(" "))
    }
    val nearDups = base.filter(_._1 < 8).map { case (i, t) =>
      (i + 1000L, t.split(" ").dropRight(2).mkString(" "))
    }
    val exactDups = base.filter(_._1 < 4).map { case (i, t) => (i + 2000L, t) }
    spark.createDataset(base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("exactDedup groups exact copies under the min id") {
    val out = TextOps.exactDedup(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    (0 until 4).foreach { i =>
      assert(out(i.toLong) == ((i.toLong, 2L)), s"group of $i")
      assert(out(i + 2000L) == ((i.toLong, 2L)), s"copy of $i")
    }
    assert(out(10L)._2 == 1L)
  }

  test("ngram Jaccard finds every planted near-dup with high similarity") {
    val pairs = TextOps.ngramJaccardPairs(planted, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (0 until 8).foreach { i =>
      val j = pairs.get((i.toLong, i + 1000L))
      assert(j.exists(_ >= 0.8), s"missing near-dup pair $i → ${i + 1000}: $j")
    }
    // exact copies have jaccard 1.0
    (0 until 4).foreach { i =>
      assert(pairs((i.toLong, i + 2000L)) == 1.0)
    }
  }

  test("hot-shingle cap bounds candidates without losing true near-dup pairs") {
    // Append the SAME sentinel trigram to every doc: one shingle with
    // document frequency = |corpus|, the classic quadratic hot block.
    val salted = planted.withColumn("text",
      concat(col("text"), lit(" zqx wvu tsr")))
    val nDocs = salted.count()
    val allPairs = nDocs * (nDocs - 1) / 2
    val capped = TextOps.ngramCandidates(
      TextOps.shingleSets(salted), 0.7, maxShingleDf = 10).count()
    // the sentinel never becomes a candidate bucket, so the candidate count
    // stays far below all-pairs
    assert(capped < allPairs / 2, s"capped=$capped not bounded vs all-pairs $allPairs")
    // and no TRUE pair is lost: every planted near-dup/exact-dup still found,
    // with exact Jaccard verified over FULL shingle sets (sentinel included)
    val pairs = TextOps.ngramJaccardPairs(salted, threshold = 0.7,
        maxShingleDf = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (0 until 8).foreach { i =>
      assert(pairs.get((i.toLong, i + 1000L)).exists(_ >= 0.7),
        s"capped run lost near-dup pair $i -> ${i + 1000}")
    }
    (0 until 4).foreach { i =>
      assert(pairs((i.toLong, i + 2000L)) == 1.0)
    }
  }

  test("a pair exactly at the threshold is a candidate: the t′ margin") {
    // Doc A has `words` distinct words; doc B is its first 9, so B's 7
    // shingles are a subset of A's and J = 7 / (words − 2) exactly. A's other
    // shingles have df 1 and sort first, filling A's prefix up to the last
    // slot the margin buys. 25 × 0.28 = 7.000000000000001 in double, so a
    // prefix or length filter built from the raw threshold drops the 0.28
    // pair (10 × 0.7 is exactly 7.0 and passes either way).
    for ((words, t) <- Seq((12, 0.7), (27, 0.28))) {
      val a = (0 until words).map(i => s"w$i")
      val docs = Seq((1L, a.mkString(" ")), (2L, a.take(9).mkString(" ")))
        .toDF("doc_id", "text")
      val out = TextOps.ngramJaccardPairs(docs, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(out == Seq((1L, 2L, t)), s"threshold $t: $out")
    }
  }

  test("building the q18 frame runs no Spark job") {
    val sc = spark.sparkContext
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    val scope = new CacheScope
    inGroup("q18-build")(TextOps.ngramJaccardPairs(planted, 0.8, scope = scope))
    scope.release()
    // status events are processed in order: once a later marker job is
    // visible, any job started while building would be visible too
    inGroup("q18-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup("q18-marker").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("q18-marker").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup("q18-build").isEmpty,
      "building the n-gram frame ran a job")
  }

  test("minhashSignatures (typed agg) ≡ the literal explode + builtin-md5 form") {
    // The r6 MinHashSig aggregate must reproduce, bit-for-bit, the frozen
    // oracle formula it replaced: per doc, element j of sig is
    // min(md5(concat("<j>:", g))) over the doc's distinct k-grams under
    // Spark's StringType min (UTF8String binary order).
    val native = TextOps.minhashSignatures(planted).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val jp = array((0 until TextOps.MinHashK).map(j =>
      struct(lit(j).as("j"), lit(s"$j:").as("p"))): _*)
    val legacy = TextOps.shingles(planted)
      .select(col("doc_id"), col("g"), explode(jp).as("jp"))
      .select(col("doc_id"), col("jp.j").as("j"),
        md5(concat(col("jp.p"), col("g"))).as("h"))
      .groupBy("doc_id", "j").agg(min(col("h")).as("mh"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(j, mh))), x -> x.mh)")
        .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native.keySet == legacy.keySet)
    native.foreach { case (id, sig) =>
      assert(sig == legacy(id), s"signature mismatch for doc $id")
    }
  }

  test("minhash LSH recalls all planted near-dups and estimates within 0.25 of exact") {
    val exact = TextOps.ngramJaccardPairs(planted, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = TextOps.minhashLshPairs(planted, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (0 until 8).foreach { i =>
      val key = (i.toLong, i + 1000L)
      assert(lsh.contains(key), s"LSH missed planted pair $key")
      assert(math.abs(lsh(key) - exact(key)) <= 0.25,
        s"estimate off at $key: lsh=${lsh(key)} exact=${exact(key)}")
    }
  }

  test("simhash (typed agg) ≡ the literal explode + per-bit groupBy form, both hashes") {
    for (h <- Seq(TextOps.TokenHash.Xx64, TextOps.TokenHash.Md5Hex)) {
      val native = TextOps.simhash(planted, hash = h).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val tokens = planted.withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), explode(col("ws")).as("w"))
      val withH = h match {
        case TextOps.TokenHash.Xx64 => tokens.withColumn("h", xxhash64(col("w")))
        case TextOps.TokenHash.Md5Hex =>
          tokens.withColumn("hx", substring(md5(col("w")), 1, 16))
            .withColumn("h", expr(
              "shiftleft(CAST(conv(substring(hx, 1, 8), 16, 10) AS BIGINT), 32)" +
                " | CAST(conv(substring(hx, 9, 8), 16, 10) AS BIGINT)"))
      }
      val legacy = withH
        .select(col("doc_id"), col("h"), explode(expr("sequence(0, 63)")).as("i"))
        .withColumn("bit", expr("(h >> i) & 1"))
        .groupBy("doc_id", "i")
        .agg(sum(when(col("bit") === 1L, 1L).otherwise(-1L)).as("b"))
        .groupBy("doc_id")
        .agg(sum(when(col("b") > 0L,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(i AS INT))")).otherwise(0L))
          .as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native == legacy, s"simhash mismatch under $h")
    }
  }

  test("tjk_simhash: empty ungrouped input is null; a one-row group is its own hash") {
    val simhash = graft.tjk.expressions.NativeFunctions.simhashNative(spark, col("h"))
    val hs = Seq[(Long, java.lang.Long)]((1L, 5L), (2L, -7L), (3L, null))
      .toDF("g", "h").repartition(2)
    val empty = hs.where(col("g") < 0L).agg(simhash).collect()
    assert(empty.length == 1 && empty(0).isNullAt(0), empty.mkString)
    // one row: bit i is +1 where h has it, −1 elsewhere, so the fold is h;
    // a null h still counts as a row, every bit −1 ⇒ 0
    val oneRow = hs.groupBy("g").agg(simhash).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneRow == Map(1L -> 5L, 2L -> -7L, 3L -> 0L))
  }

  test("simhash (both token hashes): planted dups found; signature deterministic") {
    for (h <- Seq(TextOps.TokenHash.Xx64, TextOps.TokenHash.Md5Hex)) {
      val pairs = TextOps.simhashPairs(planted, maxHamming = 6, hash = h).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (0 until 4).foreach { i =>
        assert(pairs.contains((i.toLong, i + 2000L)),
          s"exact copy pair $i missing (hamming 0) under $h")
      }
      val s1 = TextOps.simhash(planted, hash = h).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val s2 = TextOps.simhash(planted.repartition(7), hash = h).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(s1 == s2, s"simhash not partition-invariant under $h")
    }
  }

  /** 400 vectors in 16 planted directional clusters (unit centroid + small
    * deterministic noise): the k-means fit must recover the clusters, so IVF
    * probing 2/16 cells still recalls ≥ 0.9 of true neighbors. (The driver's
    * embeddings table is ISOTROPIC random — measured: top-5 neighbors share
    * the row's label 8% of the time — so no cell-probing index can reach
    * high recall on it without probing most cells; that's the curse of
    * dimensionality, not an implementation property. Hence: planted fixture
    * for the recall bar, real table for a sanity bound below.)
    */
  private lazy val clustered = {
    val rng = new scala.util.Random(11L)
    val dim = 64
    val centers = Array.fill(16)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 16)
      val v = c.map(x => x + 0.15f * rng.nextGaussian().toFloat)
      (i.toLong, v)
    }
    spark.createDataset(rows).toDF("vec_id", "embedding")
  }

  test("IVF top-k achieves >= 0.9 recall@5 on clustered data probing 2/16 cells") {
    val q = clustered.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val bf = VectorReference.bruteForceTopK(q,
        clustered.select(col("vec_id").as("vid"), col("embedding").as("ve")), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.ivfTopK(clustered, col("vec_id") < 10, 5,
        nCells = 16, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"IVF recall@5 = $recall")
    // determinism: same input → same centroids → same result set
    val again = VectorOps.ivfTopK(clustered, col("vec_id") < 10, 5,
        nCells = 16, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == again, "IVF result not deterministic")
  }

  test("IVF top-k achieves >= 0.5 recall@5 vs brute force on real (isotropic) embeddings") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val bf = VectorReference.bruteForceTopK(q,
        e.select(col("vec_id").as("vid"), col("embedding").as("ve")), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.ivfTopK(e, col("vec_id") < 10, 5, nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall@5 = $recall")
    // every IVF hit must carry the exact cosine of the brute-force path
    assert(ivf.subsetOf(
      VectorReference.bruteForceTopK(q,
        e.select(col("vec_id").as("vid"), col("embedding").as("ve")), 500)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("sign-LSH near-dup: precision 1 vs exact path, recall >= 0.85, no driver collect") {
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(VectorReference.cosineNearDupPairsFast(e, 0.4))
    val lsh = pairs(VectorOps.cosineNearDupPairsLsh(e, 0.4))
    // precision exactly 1: every LSH pair is a true pair with the true cosine
    lsh.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"LSH emitted non-exact pair $k -> $c")
    }
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.85, s"LSH recall $recall (${lsh.size}/${exact.size})")
    // scale guard: the plan's leaves are all file scans — nothing was
    // collected to the driver and re-injected as a LocalRelation
    val plan = VectorOps.cosineNearDupPairsLsh(e, 0.4)
      .queryExecution.optimizedPlan
    val leaves = plan.collectLeaves().map(_.nodeName).distinct
    assert(leaves.forall(_.contains("Relation")) &&
      !leaves.exists(_.contains("LocalRelation")),
      s"unexpected plan leaves: $leaves")
  }

  test("bucketPairs: one row per shared bucket, id_a < id_b, payload as c_a / c_b") {
    // bucket 1 holds ids 1, 2, 3; bucket 2 holds ids 1, 2 again; id 4 is alone
    val rows = Seq((1L, 1, 10L), (2L, 1, 20L), (3L, 1, 30L),
        (1L, 2, 10L), (2L, 2, 20L), (4L, 3, 40L))
      .toDF("doc_id", "bucket", "p")
    val out = TextOps.bucketPairs(rows, "doc_id", Seq("bucket"))
    assert(Set("id_a", "id_b", "p_a", "p_b").subsetOf(out.columns.toSet),
      out.columns.mkString(", "))
    val got = out.select("bucket", "id_a", "id_b", "p_a", "p_b").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.count(_._1 == 1) == 3)
    assert(got.forall { case (_, a, b, _, _) => a < b }, "self-pair or id_a ≥ id_b")
    assert(got.count { case (_, a, b, _, _) => a == 1L && b == 2L } == 2,
      "a pair sharing two buckets must appear twice before dedup")
    assert(got.forall { case (_, a, b, pa, pb) => pa == a * 10 && pb == b * 10 })
    assert(got.length == 4)
  }

  test("kmeansCentroids releases its cached sample when a Lloyd round fails") {
    spark.sharedState.cacheManager.clearCache()
    // mixed dimension 3 / 4: the cosine of a training vector against a
    // centroid of the other dimension throws inside the first round
    val vecs = (0 until 40).map(i => (i.toLong, Array.fill(3 + i % 2)(1.0f + i)))
      .toDF("vec_id", "embedding")
    val err = intercept[org.apache.spark.SparkException](
      VectorOps.kmeansCentroids(vecs, nCells = 4))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("dimension mismatch")), err)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the training sample stayed cached after the failure")
  }

  test("hyperplane signature: deterministic, matches an interpreted recompute") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val planes = VectorOps.hyperplanes(64, 64)
    val sigCol = graft.tjk.expressions.NativeFunctions
      .hyperplaneSigNative(spark, col("embedding"), planes)
    val out = e.select(col("vec_id"), sigCol.as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    // independent Scala recompute of one signature (same float→double math)
    val first = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val (vid, emb) = first.head
    val expected = planes.map { w =>
      var d = 0.0; var i = 0
      while (i < emb.length) { d += emb(i).toDouble * w(i).toDouble; i += 1 }
      if (d >= 0) '1' else '0'
    }.mkString
    assert(out(vid) == expected)
  }

  test("bruteForceTopKFast refuses an oversized query set instead of collecting it") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
    val ex = intercept[IllegalArgumentException] {
      VectorOps.bruteForceTopKFast(q, c, k = 5, maxQueries = 3)
    }
    assert(ex.getMessage.contains("maxQueries"))
  }

  test("fast primitive paths == expression-tree paths (pairs + topk)") {
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairSet(VectorReference.cosineNearDupPairsFast(e, 0.35)) ==
      pairSet(VectorReference.cosineNearDupPairs(e, 0.35)))
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
    def topkSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(topkSet(VectorOps.bruteForceTopKFast(q, c, 5)) ==
      topkSet(VectorReference.bruteForceTopK(q, c, 5)))
  }

  test("q35 ASCII guard fails loudly on a non-ASCII corpus") {
    val bad = Seq((1L, "plain ascii"), (2L, "héllo wörld")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      TextVecQueries.requireAscii(bad).select(length(col("text"))).collect()
    }
    assert(ex.getMessage.contains("ASCII") ||
      Option(ex.getCause).exists(_.getMessage.contains("ASCII")))
  }

  test("media plumbing: schema, batch shape, deterministic stub features") {
    val media = MediaOps.syntheticMedia(planted.withColumn("doc_id", col("doc_id")))
    val feats = MediaOps.extractFeatures(media).collect()
    assert(feats.length == planted.count())
    val byId = feats.map(f => f.doc_id -> f).toMap
    // exact text copies → identical blobs → identical features modulo frames
    assert(byId(0L).header_hex == byId(2000L).header_hex)
    assert(byId(0L).mean_byte == byId(2000L).mean_byte)
    assert(byId(0L).n_bytes == byId(2000L).n_bytes)
    // deterministic under repartition
    val again = MediaOps.extractFeatures(media.repartition(5))
      .collect().map(f => f.doc_id -> f.frame_hashes).toMap
    feats.foreach(f => assert(again(f.doc_id) == f.frame_hashes))
  }

  test("q24 in-query law: passes the real pipeline, FIRES on tampering") {
    // the exact shipped composition (map-side law: columns computed in the
    // projection feeding the extractor, carried through passthrough)
    val both = MediaOps.extractFeaturesKeeping(MediaOps.syntheticMedia(
      TextVecQueries.lawAnnotated(planted), keep = TextVecQueries.LawCols))
    // real pipeline: every row clears every guard — materialize via
    // collect(), NOT count(): count() lets Catalyst prune the guard
    // projection (it needs no columns), which would make this vacuous
    assert(TextVecQueries.lawGuards(both).collect().length == planted.count())
    // each tampered column must trip its own guard — a law that cannot
    // fail is no law
    def fires(bad: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val ex = intercept[Exception] {
        TextVecQueries.lawGuards(bad).collect()
      }
      def mentions(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("q24 law")) || mentions(t.getCause))
      assert(mentions(ex), s"$what tamper did not trip the q24 law: $ex")
    }
    fires(both.withColumn("mean_byte", col("mean_byte") + 0.5), "mean_byte")
    fires(both.withColumn("n_bytes", col("n_bytes") + 1L), "n_bytes")
    fires(both.withColumn("header_hex", lit("deadbeef")), "header_hex")
    // frame-hash tamper only fires on the md5-selected 1/16 slice — corrupt
    // EVERY row's hashes so at least one sliced doc is affected
    fires(both.withColumn("frame_hashes",
      expr("transform(frame_hashes, h -> h + 1)")), "frame_hashes")
  }

  test("extractFeaturesKeeping rejects passthrough columns shadowing features") {
    // a passthrough column named like a feature output would silently
    // produce a duplicate-named column; the guard must fail loudly instead
    val media = MediaOps.syntheticMedia(planted)
      .withColumn("n_bytes", lit(0L))
    val ex = intercept[IllegalArgumentException] {
      MediaOps.extractFeaturesKeeping(media)
    }
    assert(ex.getMessage.contains("n_bytes"))
  }

  test("extractFeaturesKeeping normalizes narrowed input types") {
    // Row getters read positionally, so an upstream source that narrowed
    // doc_id / n_frames to INT must be up-cast at the boundary (the typed
    // encoder path did this implicitly) — and the result must be
    // byte-identical to the canonical-schema run
    val media = MediaOps.syntheticMedia(planted)
    val narrowed = media
      .withColumn("doc_id", col("doc_id").cast("int"))
    val want = MediaOps.extractFeaturesKeeping(media)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val got = MediaOps.extractFeaturesKeeping(narrowed)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got == want)
    // a non-binary blob (e.g. the raw text column mis-wired in) must fail
    // at plan time with the schema in the message, not CCE mid-task
    val bad = intercept[IllegalArgumentException] {
      MediaOps.extractFeaturesKeeping(
        media.withColumn("blob", lit("oops")))
    }
    assert(bad.getMessage.contains("BINARY") || bad.getMessage.contains("string"))
  }

  test("corpus curation composes filter → dedup → split with exact totals") {
    // thresholds open: every planted doc passes the filter, so the totals
    // are pure dedup+split arithmetic
    val out = TextVecQueries.curate(planted, minQuality = 0.0, minTokens = 1L)
      .collect()
    val nDocs = out.map(_.getAs[Long]("n_docs")).sum
    val nSource = out.map(_.getAs[Long]("n_source_docs")).sum
    assert(nDocs == planted.count() - 4, "4 exact duplicates must collapse")
    assert(nSource == planted.count(), "every kept doc represented exactly once")
    // md5 buckets + min-id canonicals ⇒ bit-deterministic across runs
    val again = TextVecQueries.curate(planted, 0.0, 1L).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // tightening the length filter can only shrink the curated corpus
    val tight = TextVecQueries.curate(planted, 0.0, 41L).collect()
    assert(tight.map(_.getAs[Long]("n_docs")).sum < nDocs)
  }

  test("q52 curate reads the corpus once and releases its persist") {
    // Fat texts make the parquet file dwarf the narrow cached projection,
    // so task input bytes discriminate ONE corpus scan (~1× file size)
    // from the old score-twice shape (~2×: unpersisted scoring recomputed
    // for the survivor join's left side).
    val dir = java.nio.file.Files.createTempDirectory("tjk_curate_scan").toString
    spark.range(200).selectExpr("id AS doc_id",
      "concat(concat('doc', id, ' '), concat_ws(' ', transform(sequence(1, 400), " +
        "i -> concat('tok', pmod(id * 31 + i, 97))))) AS text")
      .write.mode("overwrite").parquet(dir)
    def sz(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(sz).sum else f.length()
    val fileBytes = sz(new java.io.File(dir))
    spark.sharedState.cacheManager.clearCache()
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val r = TextVecQueries.curate(spark.read.parquet(dir), 0.0, 1L).collect()
      var prev = -1L // async listener bus: wait until the counter settles
      while (prev != bytesRead.get()) { prev = bytesRead.get(); Thread.sleep(250) }
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(out.map(_.getAs[Long]("n_docs")).sum == 200L)
    // 1.5× headroom: footer/dictionary re-reads + cache-backed reads of the
    // narrow projection also count as input bytes
    assert(bytesRead.get() < (1.5 * fileBytes).toLong,
      s"curate read ${bytesRead.get()} bytes for a $fileBytes-byte corpus — " +
        "looks like the corpus was scored twice")
    assert(spark.sharedState.cacheManager.isEmpty,
      "curate must release its scoped persist before returning")
    deleteRec(new java.io.File(dir))
  }

  test("q54 greedy packing matches a sequential reference walk, obeys the pack laws") {
    val docsTok = planted.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val budget = 100L
    val out = Pack.packGreedy(docsTok, budget).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
        r.getAs[Long]("pack_id"), r.getAs[Long]("n_tokens")))
    assert(out.length == planted.count())
    // independent sequential reference: walk each shard in doc_id order
    val ref = out.groupBy(_._2).toSeq.flatMap { case (shard, rows) =>
      var pack = 0L; var acc = 0L; var first = true
      rows.sortBy(_._1).map { case (id, _, _, t) =>
        if (first) { first = false; acc = t }
        else if (acc + t > budget) { pack += 1; acc = t }
        else acc += t
        (id, shard, pack)
      }
    }.toSet
    assert(out.map(r => (r._1, r._2, r._3)).toSet == ref)
    // pack laws: no pack overflows unless it is a single oversized doc, and
    // greedy maximality — the doc that OPENS pack p+1 must not fit pack p
    val byPack = out.groupBy(r => (r._2, r._3))
      .view.mapValues(_.sortBy(_._1)).toMap
    byPack.foreach { case ((s, p), rs) =>
      val tot = rs.map(_._4).sum
      assert(tot <= budget || rs.length == 1, s"overfull pack ($s,$p)")
      byPack.get((s, p + 1)).foreach { next =>
        assert(tot + next.head._4 > budget, s"pack ($s,$p) closed early")
      }
    }
    // physical input layout must not change a single assignment
    val shuffled = Pack.packGreedy(docsTok.repartition(7), budget).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_id"))).toSet
    assert(shuffled == out.map(r => (r._1, r._3)).toSet)
  }

  test("q54 oversized documents anchor their own pack without stalling the walk") {
    // tokens chosen so every branch runs: an oversized doc (> budget) both
    // mid-walk and as a shard anchor, plus normal fills around them
    val budget = 100L
    val fixture = (0L until 64L).map { id =>
      (id, if (id % 5 == 0) 150L else 40L) // every 5th doc cannot fit any pack
    }.toDF("doc_id", "n_tokens")
    val out = Pack.packGreedy(fixture, budget).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
        r.getAs[Long]("pack_id"), r.getAs[Long]("n_tokens")))
    assert(out.length == 64)
    val byPack = out.groupBy(r => (r._2, r._3))
    // every oversized doc is ALONE in its pack (nothing can join it), and
    // packs never mix an oversized doc with fills
    byPack.values.foreach { rs =>
      if (rs.exists(_._4 > budget)) assert(rs.length == 1,
        s"oversized doc shares a pack: $rs")
      else assert(rs.map(_._4).sum <= budget, s"overfull pack: $rs")
    }
    assert(out.count(_._4 > budget) == 13) // all 13 oversized docs present
  }

  test("q53 mix cuts hit the target shares and keep the binding group whole") {
    // constructed groups with exact token totals: en 1000, es 100 at equal
    // weights -> K = min(2000, 200) = 200, targets 100 tokens each,
    // cut_en = 100*256/1000 = 25, cut_es = 100*256/100 = 256
    val scored = (
      (0 until 100).map(i => (i.toLong, "en", 10L)) ++
        (0 until 10).map(i => ((1000 + i).toLong, "es", 10L))
      ).toDF("doc_id", "lang_pred", "n_tokens")
    val rep = Mix.mixReport(scored, Map("en" -> 1L, "es" -> 1L)).collect()
      .map(r => r.getAs[String]("lang_pred") -> r).toMap
    assert(rep("en").getAs[Int]("cut") == 25)
    assert(rep("es").getAs[Int]("cut") == 256)
    assert(rep("es").getAs[Long]("n_docs_kept") == 10L)
    assert(rep("es").getAs[Long]("kept_tokens") == 100L)
    // the sampled group keeps a real subset (exact membership = md5 buckets,
    // deterministic; magnitude tracks cut/256)
    val keptEn = rep("en").getAs[Long]("n_docs_kept")
    assert(keptEn > 0 && keptEn < 100, s"en kept $keptEn of 100")
    // zero-weight / unlisted groups are dropped from the mix entirely
    val only = Mix.mixReport(scored, Map("en" -> 1L)).collect()
    assert(only.map(_.getAs[String]("lang_pred")).toSeq == Seq("en"))
  }

  test("q53 mix releases its scoped persist and is deterministic") {
    spark.sharedState.cacheManager.clearCache()
    val a = TextVecQueries.mixed(planted).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "mixed must release its scoped persist before returning")
    val b = TextVecQueries.mixed(planted).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.map(_.getAs[String]("lang_pred")).toSet
      .subsetOf(Mix.DefaultWeights.keySet))
  }

  test("q55 decontamination flags exactly the train docs sharing a probe 8-gram") {
    // choose ids on each side of the md5-bucket split with the SAME text,
    // plus an uncontaminated train doc — the flagged set must be exactly
    // the planted overlap
    val ids = spark.range(0, 300)
      .select(col("id"), Split.entityBucket(col("id").cast("string")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probeId = ids.collectFirst { case (i, b) if b < 13 => i }.get
    val trainId = ids.collectFirst { case (i, b) if b >= 13 => i }.get
    val cleanId = ids.collectFirst { case (i, b) if b >= 13 && i != trainId => i }.get
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ") // 10 tokens → 3 8-grams
    val fixture = Seq(
      (probeId, shared),
      (trainId, shared),
      (cleanId, (1 to 10).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("tjk_decontam").toString
    fixture.write.mode("overwrite").parquet(dir + "/documents.parquet")
    val out = TextVecQueries.decontam(spark, dir).collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shared_grams")))
      .toSeq == Seq((trainId, 3L)))
    deleteRec(new java.io.File(dir))
  }

  test("q56 repetition ratio counts duplicate 3-grams exactly") {
    val fixture = Seq(
      (1L, "a b a b a b a b"),          // 6 grams, 2 distinct → 0.666667
      (2L, "w1 w2 w3 w4 w5"),           // 3 grams, all distinct → 0.0
      (3L, "x y")                        // < 3 tokens → dropped
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(fixture).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_distinct"), r.getAs[Double]("rep_ratio")))
    assert(out.toSeq == Seq((1L, 6L, 2L, 0.666667), (2L, 3L, 3L, 0.0)))
  }

  test("Gen.documents is deterministic, driver-shaped, with planted duplicates") {
    val d1 = Gen.documents(spark, 2000L)
    assert(d1.columns.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars"))
    def h(df: org.apache.spark.sql.DataFrame): Long = df
      .agg(expr("bit_xor(xxhash64(doc_id, text, lang, source, n_chars))"))
      .head.getLong(0)
    assert(h(Gen.documents(spark, 2000L)) == h(d1))
    // the 1% copy band produces exact-dup groups (donors live in the second
    // half, so donor/copy pairs can straddle any id-bucket split)
    val dupGroups = TextOps.exactDedup(d1).where(col("group_size") > 1)
      .select("fp").distinct().count()
    assert(dupGroups >= 15, s"expected ~20 planted dup groups, got $dupGroups")
    // token lengths stay in the driver corpus's 10–100 band
    val toks = d1.select(size(split(col("text"), " ")).as("n"))
      .agg(min("n"), max("n")).head
    assert(toks.getInt(0) >= 10 && toks.getInt(1) <= 100)
  }

  test("CacheScope releases operator-persisted intermediates") {
    // earlier tests in this shared session persist via unmanaged scopes —
    // start from a clean cache so isEmpty is meaningful
    spark.sharedState.cacheManager.clearCache()
    val scope = new CacheScope
    val out = TextOps.exactDedup(planted, scope = scope)
    out.count() // materialize → fp frame persisted
    assert(scope.size == 1)
    assert(!spark.sharedState.cacheManager.isEmpty)
    scope.release(blocking = true)
    assert(scope.size == 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() must leave no cached frame behind")
    // the returned plan stays valid after release (recomputes)
    assert(out.count() == planted.count())
    // ngram path tracks its one persist: the per-doc shingle sets
    val scope2 = new CacheScope
    TextOps.ngramJaccardPairs(planted, 0.8, scope = scope2).count()
    assert(scope2.size == 1)
    scope2.release(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("REAL decode: PNG and WAV round-trip exact stats, chunk walk robust") {
    // PNG: ImageIO encode (real DEFLATE) → decode; mean of the decoded
    // raster must equal the exact zero-padded byte mean.
    val rnd = new scala.util.Random(3)
    val pixels = Array.fill(100)(rnd.nextInt(256).toByte)
    val (w, h, mean) = MediaOps.decodeImage(MediaOps.pngGray(pixels))
    assert(w == 16 && h == 16)
    assert(mean == pixels.map(_ & 0xff).sum.toDouble / 256)
    // WAV: PCM16 round-trip, exact mean |amplitude|, including Short.MinValue
    // (whose abs overflows Short — the parser must widen to Long first).
    val samples = Array[Short](Short.MinValue, -1, 0, 1, Short.MaxValue, 12345)
    val wav = MediaOps.wavPcm16(samples, 8000)
    val (n, rate, amp) = MediaOps.decodeWav(wav)
    assert(n == 6L && rate == 8000)
    assert(amp == samples.map(s => math.abs(s.toLong)).sum.toDouble / 6)
    // chunk walker skips an unknown (odd-sized, word-padded) chunk between
    // fmt and data
    val extra = {
      val bb = java.nio.ByteBuffer.allocate(wav.length + 8 + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(wav, 0, 36) // RIFF..fmt chunk end
      bb.put("LIST".getBytes("US-ASCII")).putInt(3).put(Array[Byte](1, 2, 3, 0))
      bb.put(wav, 36, wav.length - 36)
      val out = bb.array()
      // fix the RIFF size field
      java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(4, out.length - 8)
      out
    }
    assert(MediaOps.decodeWav(extra) == ((n, rate, amp)))
    // a truncated/garbage blob fails loudly, not silently
    intercept[IllegalArgumentException] {
      MediaOps.decodeWav("nonsense bytes here".getBytes("US-ASCII"))
    }
    // a NEGATIVE chunk size must fail loudly too — unguarded it moves the
    // buffer position BACKWARD and the chunk walk re-parses the same header
    // forever (a hung executor, the worst failure mode)
    val negChunk = {
      val bb = java.nio.ByteBuffer.allocate(20)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(12)
        .put("WAVE".getBytes("US-ASCII"))
        .put("JUNK".getBytes("US-ASCII")).putInt(-8)
      bb.array()
    }
    intercept[IllegalArgumentException] { MediaOps.decodeWav(negChunk) }
    // an oversized data chunk fails as the typed error, not BufferUnderflow
    val oversize = {
      val base = MediaOps.wavPcm16(Array[Short](1, 2), 8000)
      // inflate the data chunk's size field past the buffer end
      java.nio.ByteBuffer.wrap(base).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(40, 1000000)
      base
    }
    intercept[IllegalArgumentException] { MediaOps.decodeWav(oversize) }
  }

  test("text stats: token counts and langid on a handmade doc") {
    val d = Seq((1L, "the cat of the house is in the garden"),
                (2L, "xyz qqq zzz")).toDF("doc_id", "text")
    val out = TextOps.textStats(d).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") == 9L)
    assert(out(1L).getAs[String]("lang_pred") == "en")
    assert(out(2L).getAs[String]("lang_pred") == "unknown")
  }
}
