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
      def shingleSet(t: String): Set[String] = {
        val ws = t.split(" ")
        if (ws.length < 3) Set.empty
        else (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
      }
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
