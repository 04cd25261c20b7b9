package graft

import org.apache.spark.sql.functions._
import graft.tjk._

/** Property-style laws for the similarity/dedup family over randomized
  * corpora (multiple seeds), checked against independent naive Scala
  * recomputations — the same pinning discipline as NaiveOracle for the
  * window family.
  */
class SimilarityLawsSuite extends SparkTestBase {
  import spark.implicits._

  private def randomVecs(seed: Long, n: Int, dim: Int) = {
    val rng = new scala.util.Random(seed)
    spark.createDataset(
      (0 until n).map(i => (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
    ).toDF("vec_id", "embedding")
  }

  /** Word 3-shingle set of a text, computed independently of the engine. */
  private def shingleSet(t: String): Set[String] = {
    val ws = t.split(" ")
    if (ws.length < 3) Set.empty
    else (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
  }

  private def randomDocs(seed: Long, n: Int) = {
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val rng = new scala.util.Random(seed)
    spark.createDataset((0 until n).map { i =>
      (i.toLong, Seq.fill(8 + rng.nextInt(12))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }).toDF("doc_id", "text")
  }

  test("LSH near-dup law: lsh ⊆ exact with identical cosines (precision 1), every seed") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val vecs = randomVecs(seed, n = 120, dim = 16)
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val exact = pairs(VectorReference.cosineNearDupPairs(vecs, 0.5))
      val lsh = pairs(VectorOps.cosineNearDupPairsLsh(vecs, 0.5, dim = 16))
      lsh.foreach { case (k, c) =>
        assert(exact.get(k).contains(c), s"seed $seed: LSH invented pair $k -> $c")
      }
    }
  }

  test("Jaccard laws: capped ⊆ uncapped with equal values; uncapped == naive, every seed") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val docs = randomDocs(seed, n = 30)
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val uncapped = pairs(TextOps.ngramJaccardPairs(docs, 0.2, maxShingleDf = Int.MaxValue))
      val capped = pairs(TextOps.ngramJaccardPairs(docs, 0.2, maxShingleDf = 5))
      capped.foreach { case (k, j) =>
        assert(uncapped.get(k).contains(j),
          s"seed $seed: capped pair $k -> $j missing or differs in uncapped")
      }
      // independent naive Jaccard over word 3-shingle sets
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val naive = (for {
        a <- texts.keys; b <- texts.keys if a < b
        sa = shingleSet(texts(a)); sb = shingleSet(texts(b))
        if sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if inter > 0 && jr >= 0.2
      } yield (a, b) -> jr).toMap
      assert(uncapped == naive, s"seed $seed: engine Jaccard != naive recompute")
    }
  }

  test("prefix-filtered Jaccard == naive capped reference over caps × thresholds") {
    // the capped semantics the q18 oracle replicates: exact J over the full
    // sets, for the pairs that share at least one shingle of df ≤ cap; caps
    // 2 and 4 make many shared shingles hot. Ten docs get a copy without
    // their last word, so every threshold has pairs.
    val base = randomDocs(14L, n = 30)
    val docs = base.unionByName(base.where(col("doc_id") < 10L).select(
      (col("doc_id") + 1000L).as("doc_id"),
      expr("array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')")
        .as("text")))
    val sets = docs.collect().map(r => r.getLong(0) -> shingleSet(r.getString(1)))
      .filter(_._2.nonEmpty).toMap
    val df = sets.values.toSeq.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val sizes = for (cap <- Seq(2, 4, 128); t <- Seq(0.05, 0.12, 0.7)) yield {
      val engine = TextOps.ngramJaccardPairs(docs, t, maxShingleDf = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val naive = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a) & sets(b)
        if inter.exists(df(_) <= cap)
        j = inter.size.toDouble / (sets(a).size + sets(b).size - inter.size)
        jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if jr >= t
      } yield (a, b) -> jr).toMap
      assert(engine == naive, s"cap $cap, threshold $t")
      (cap, naive.size)
    }
    assert(sizes.forall(_._2 > 0), sizes)
  }

  test("simhash law: identical docs always collide at hamming 0, both hash paths") {
    for (seed <- Seq(21L, 22L)) {
      val base = randomDocs(seed, n = 20)
      val doubled = base.unionByName(
        base.select((col("doc_id") + 1000L).as("doc_id"), col("text")))
      for (h <- Seq(TextOps.TokenHash.Xx64, TextOps.TokenHash.Md5Hex)) {
        val pairs = TextOps.simhashPairs(doubled, maxHamming = 0, hash = h)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (0 until 20).foreach { i =>
          assert(pairs.contains((i.toLong, i + 1000L)),
            s"seed $seed hash $h: exact copy $i not at hamming 0")
        }
      }
    }
  }
}
