package graft.tjk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for large-scale training-data
  * pipelines, over a `documents(doc_id, text, …)` table. All hot paths are
  * built from codegen'd `functions._` expressions — no Scala UDFs — so they
  * whole-stage-compile and scale linearly with input splits.
  *
  * Dedup family:
  *  - exact: md5 fingerprint groupBy (one shuffle on the hash).
  *  - n-gram Jaccard: exact pairwise Jaccard over word k-shingle sets.
  *    Candidates come from the set-similarity prefix filter (a pair that can
  *    reach the threshold shares a shingle among both docs' first few in one
  *    global rarest-first order), restricted to NON-HOT shingles (the
  *    [[HotShingleDf]] cap); each candidate is verified on its two sets.
  *  - MinHash+LSH: 32 md5-based min-hashes → 8 bands × 4 rows; candidates =
  *    pairs sharing a band; similarity estimated as matching-component
  *    fraction. md5 (not xxhash64) so the DuckDB oracle can replicate
  *    bit-for-bit; at production scale swap HASH_FN to xxhash64 for speed —
  *    semantics identical.
  *  - SimHash: 64-bit sign-aggregated token hash; near-dups = pairs sharing
  *    a 16-bit band with Hamming distance ≤ k. Token hash is pluggable:
  *    xxhash64 (production fast path) or md5-hex (DuckDB-replicable oracle
  *    path — same swap convention as MinHash).
  *
  * These and [[VectorOps.cosineNearDupPairsLsh]] share one candidate
  * self-join, [[bucketPairs]], and one payload join-back, [[withBoth]].
  */
object TextOps {

  val Shingle = 3
  val MinHashK = 32
  val Bands = 8 // rows per band = MinHashK / Bands = 4

  /** Candidate guard: a shingle in more document sets than this never makes
    * a candidate (it still counts in the Jaccard verification), so a pair
    * whose every shared shingle is hot is absent. The q18 oracle replicates
    * the cap.
    */
  val HotShingleDf = 128

  /** Word tokens (single-space corpus; split is regex-free on both engines). */
  def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("ws", split(col("text"), " "))

  /** Spread a genuinely SMALL input across all cores before a big per-row
    * fan-out (shingle/hash explode multiplies rows 32–64×): a small corpus
    * often arrives as ONE parquet split, which would serialize the whole
    * fan-out stage. Decided from optimizer statistics — NOT
    * `df.rdd.getNumPartitions`, which physically plans the query a second
    * time just to read a partition count. Large inputs (≥ ~32 MB/core, i.e.
    * anything that already splits well) pass through untouched — no shuffle.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // Threshold = cores × maxPartitionBytes: below it, the file scan yields
    // FEWER splits than cores (Spark packs ≤ maxPartitionBytes per split),
    // so the fan-out stage would underuse the cluster without this
    // repartition; at or above it, the scan already splits ≥ p ways and the
    // input passes through untouched.
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Stats fall back to defaultSizeInBytes (≈Long.MaxValue) for sources
    // with no size estimate — that is "unknown", not "large": treating it as
    // large would silently serialize the very fan-out this method exists to
    // parallelize. Unknown ⇒ assume small (a redundant repartition of a big
    // input costs one shuffle; a serialized 64× fan-out costs the cluster).
    val unknown = size >= BigInt(spark.sessionState.conf.defaultSizeInBytes)
    val small = unknown || size < BigInt(p.toLong) * maxSplit
    if (small) df.repartition(p) else df
  }

  // ------------------------------------------------------------ text analysis

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est"))

  private def stopCount(lang: String): Column = {
    val set = stop(lang).map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(ws, w -> w IN ($set)))")
  }

  /** Language-ID stopword score SQL (DuckDB) — mirrors [[stopCount]]. */
  def stopCountSql(lang: String): String = {
    val set = stop(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(ws, w -> w IN ($set)))"
  }

  /** Per-document stats: token counts (whitespace + BPE-ish regex), length,
    * punctuation/stopword ratios, heuristic language ID, quality score,
    * md5 content fingerprint.
    */
  def textStats(docs: DataFrame): DataFrame = {
    // no spread here (unlike the shingle fan-outs): scoring is ~10 codegen'd
    // expressions per doc with no row multiplication — measured, the
    // repartition cost exceeded the parallelism it bought on small corpora,
    // and well-split large inputs never needed it
    val scored = withTokens(docs)
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_bpeish",
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long"))
      .withColumn("punct_ratio",
        round(regexp_count(col("text"), lit("[.!?,;:]")).cast("double") /
          nullif(length(col("text")), lit(0)).cast("double"), 6))
      .withColumn("s_en", stopCount("en"))
      .withColumn("s_es", stopCount("es"))
      .withColumn("s_de", stopCount("de"))
      .withColumn("s_fr", stopCount("fr"))
      .withColumn("stop_ratio",
        round(col("s_en").cast("double") / nullif(col("n_tokens"), lit(0L)).cast("double"), 6))
    scored
      .withColumn("lang_pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
          col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr") &&
            col("s_es") > 0, "es")
          .when(col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
          .when(col("s_fr") > 0, "fr")
          .otherwise("unknown"))
      .withColumn("quality_score",
        round(lit(1.0) / (lit(1.0) + exp(-(lit(0.5) * log1p(col("n_tokens")) -
          lit(5.0) * col("punct_ratio") - lit(2.0) * col("stop_ratio")))), 6))
      .withColumn("fp", md5(col("text")))
      .drop("ws", "s_en", "s_es", "s_de", "s_fr")
  }

  // ------------------------------------------------------------ exact dedup

  /** Canonical-id mapping per exact-content group (md5 of raw bytes).
    * The fingerprint subplan feeds BOTH sides of the group join — persist
    * it (id+hash only, tiny vs the corpus) so the full-text scan + md5 runs
    * once, not once per side. Same branch-point discipline as
    * [[ngramJaccardPairs]]; LRU-evictable, releasable via `scope`
    * ([[CacheScope]]) after the result is materialized.
    */
  def exactDedup(
      docs: DataFrame,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val fp = scope.persist(docs.select(col("doc_id"), md5(col("text")).as("fp")))
    dedupByFingerprint(fp).select(col("doc_id"), col("fp"),
      col("canonical_id"), col("group_size"))
  }

  /** The grouping core of [[exactDedup]] over a frame that ALREADY carries
    * an `fp` fingerprint column: appends `(canonical_id, group_size)` per
    * group, keeping every input column. Callers that computed (and
    * persisted) a fingerprint projection as part of a wider pass reuse it
    * here instead of paying [[exactDedup]]'s second corpus scan.
    */
  def dedupByFingerprint(fp: DataFrame): DataFrame = {
    val groups = fp.groupBy("fp").agg(
      min(col("doc_id")).as("canonical_id"),
      count(lit(1)).as("group_size"))
    fp.join(groups, "fp")
  }

  // ------------------------------------------------------------ shingles

  /** `f` over each doc's array of distinct word k-shingles; docs shorter
    * than k words drop out. [[shingles]] explodes the array expression
    * itself, not a projected column: over a column, Catalyst's inferred
    * `size(gs) > 0` filter is pushed below the projection and builds every
    * array twice.
    */
  private def overShingles(docs: DataFrame, k: Int)(f: Column => Column): DataFrame =
    withTokens(spread(docs))
      .where(size(col("ws")) >= k)
      .select(col("doc_id"), f(expr(
        s"array_distinct(transform(sequence(0, size(ws) - $k), i -> concat_ws(' ', slice(ws, i + 1, $k))))")))

  /** Each doc's distinct word shingles as one array, `(doc_id, gs)`. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    overShingles(docs, Shingle)(_.as("gs"))

  /** Distinct word k-shingles per doc, one `(doc_id, g)` row each. */
  def shingles(docs: DataFrame, k: Int = Shingle): DataFrame =
    overShingles(docs, k)(explode(_).as("g"))

  /** Intra-document k-gram repetition — the duplicate-n-gram quality
    * signal of crawl-filtering pipelines (a document that keeps repeating
    * the same phrases is boilerplate/spam): per doc, total vs distinct
    * word k-grams and `rep_ratio = 1 − distinct/total`. Pure per-row
    * expressions over the token array — NO explode, NO KEY SHUFFLE: the
    * operator scales linearly with the scan. Like the shingle ops it runs
    * through [[spread]]: building ~k× gram strings per row is exactly the
    * big per-row fan-out that serializes on an under-split scan (measured:
    * a 4M-doc corpus read as 4 parquet splits ran the projection 4-way on
    * 8 cores); well-split inputs pass through with no exchange at all.
    * Integer counts first, ONE float division rounded at 6dp (the
    * cross-engine discipline that keeps ratio columns bit-exact).
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val k = Shingle
    // gram identity = the k-token TUPLE, not a concatenated string: tokens
    // come from splitting on ' ' so they cannot contain the separator, and
    // struct equality reads the existing token bytes in place — no per-gram
    // string allocation/copy (measured: the concat form was memory-
    // bandwidth-bound, 2→8 cores bought only 1.5×)
    val fields = (0 until k).map(j => s"'t$j', ws[i + $j]").mkString(", ")
    withTokens(spread(docs))
      .where(col("text").isNotNull && size(col("ws")) >= k)
      .select(col("doc_id"),
        (size(col("ws")) - (k - 1)).cast("long").as("n_grams"),
        expr(s"size(array_distinct(transform(sequence(0, size(ws) - $k), " +
          s"i -> named_struct($fields))))")
          .cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        round(lit(1.0) -
          col("n_distinct").cast("double") / col("n_grams").cast("double"), 6))
  }

  /** Prefix-filter candidates over `(doc_id, gs)` sets (Vernica, Carey & Li,
    * SIGMOD 2010): order all shingles by `(df, g)`, rarest first, and index
    * only the non-hot ones among each set's first `n − ⌈t′·n⌉ + 1`. A pair
    * with Jaccard ≥ t′ has at most `n − ⌈t′·n⌉` of a set's shingles outside
    * the intersection, so its first shared shingle lies in both prefixes;
    * hot shingles sort after every non-hot one, so if the pair shares a
    * non-hot shingle, that first one is non-hot and indexed. Pairs also pass
    * the length filter `min(n) ≥ max(n)·t′` (Jaccard ≤ min/max).
    *
    * t′ sits 1e-6 below the threshold: the emitted Jaccard is rounded to
    * 6 dp before `≥ threshold`, and `n·threshold` in double can land just
    * above an integer (25 × 0.28 = 7.000000000000001).
    */
  private[graft] def ngramCandidates(
      sets: DataFrame, threshold: Double, maxShingleDf: Int): DataFrame = {
    val t = threshold - 1e-6
    val indexed = sets
      .select(col("doc_id"), size(col("gs")).as("n"), explode(col("gs")).as("g"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .withColumn("pos",
        row_number().over(Window.partitionBy("doc_id").orderBy("df", "g")))
      .where(col("df") <= maxShingleDf &&
        col("pos") <= col("n") - ceil(col("n") * t) + 1)
      .select("doc_id", "g", "n")
    bucketPairs(indexed, "doc_id", Seq("g"))
      .where(least(col("n_a"), col("n_b")) >= greatest(col("n_a"), col("n_b")) * t)
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs (j ≥ threshold, rounded to 6 dp)
    * among pairs sharing at least one non-hot shingle: [[ngramCandidates]]
    * verified by `|A∩B| / (|A| + |B| − |A∩B|)` over the FULL shingle sets,
    * hot shingles included.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      maxShingleDf: Int = HotShingleDf,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // read by candidate generation and by both verify join-backs
    val sets = scope.persist(shingleSets(docs))
    withBoth(ngramCandidates(sets, threshold, maxShingleDf), sets, "doc_id", "gs")
      .withColumn("inter", size(array_intersect(col("gs_a"), col("gs_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("gs_a")) + size(col("gs_b")) - col("inter")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------------------------ MinHash + LSH

  /** Per-doc MinHash signature as `sig: array<string>[MinHashK]`.
    *
    * Deliberately NARROW plan: one row per (doc, hash-index) through the
    * aggregation instead of MinHashK separate `min(md5(…))` agg columns.
    * The wide form is semantically identical but generates enormous
    * whole-stage-codegen classes (MinHashK string agg buffers) whose janino
    * compile alone cost ~40 s cold — plan width, not data volume, was the
    * bottleneck. Values are unchanged: `md5(j || ':' || g)` per (j, shingle),
    * `min` per (doc, j), assembled in j order.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    // ONE typed aggregate per doc ([[expressions.MinHashSig]]) replaces the
    // explode(MinHashK) + builtin-md5 + two-level groupBy pipeline: element
    // j of `sig` is byte-for-byte min(md5(concat("<j>:", g))) over the
    // doc's grams (value-identity argument — raw-digest unsigned min ≡ hex
    // string min — in the expression's doc), but the grams×MinHashK row
    // explosion, its 80M hash-agg probes (80 s CPU at bench scale, the most
    // CPU-expensive stage of the whole catalog), the per-call
    // MessageDigest.getInstance inside the built-in Md5, and the SECOND
    // exchange that reassembled per-doc arrays from (doc_id, j) mins are
    // all gone: one exchange on doc_id, one k×16-byte buffer per doc
    // through it.
    shingles(docs)
      .groupBy("doc_id")
      .agg(expressions.NativeFunctions
        .minhashSigNative(docs.sparkSession, col("g"), MinHashK).as("sig"))

  /** LSH candidate pairs with estimated similarity ≥ threshold. Band hash =
    * md5 over the band's signature slice, '|'-joined.
    */
  def minhashLshPairs(
      docs: DataFrame,
      threshold: Double,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val r = MinHashK / Bands
    val sig = scope.persist(minhashSignatures(docs))
    val bands = sig.select(col("doc_id"), inline(expr(
      s"transform(sequence(0, ${Bands - 1}), " +
        s"b -> struct(b AS band, md5(array_join(slice(sig, b * $r + 1, $r), '|')) AS h))")))
    val cand = bucketPairs(bands, "doc_id", Seq("band", "h"))
      .select("id_a", "id_b").distinct()
    withBoth(cand, sig, "doc_id", "sig")
      .withColumn("est_sim", round(
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
          .cast("double") / MinHashK, 6))
      .where(col("est_sim") >= threshold)
      .select("id_a", "id_b", "est_sim")
  }

  // ------------------------------------------------------------ SimHash

  /** Token-hash source for SimHash: xxhash64 is the production fast path
    * (one codegen'd 64-bit hash per token); Md5Hex derives the 64 bits from
    * the first 16 hex chars of md5(token) — slower, but exactly replicable
    * by the DuckDB oracle (same convention as MinHash's md5: swap to
    * xxhash64 at production scale, semantics identical).
    */
  sealed trait TokenHash
  object TokenHash {
    case object Xx64 extends TokenHash
    case object Md5Hex extends TokenHash
  }

  /** 64-bit SimHash over word tokens. */
  def simhash(docs: DataFrame, hash: TokenHash = TokenHash.Xx64): DataFrame = {
    // One 64-bit hash per token (the oracle-replicable formula), then ONE
    // typed aggregate per doc ([[expressions.SimHashAgg]]): the former
    // explode(sequence(0,63)) pushed tokens×64 rows through a hash
    // aggregate keyed (doc, i) plus a SECOND exchange to fold the per-bit
    // sums back into the long — the q20 dominant stage. The aggregate keeps
    // 64 primitive counters per doc instead (value-identity argument in its
    // doc; pinned against the literal explode form for both token hashes
    // in TextVecSuite).
    val tokens = withTokens(spread(docs)).select(col("doc_id"), explode(col("ws")).as("w"))
    val withH = hash match {
      case TokenHash.Xx64 =>
        tokens.withColumn("h", xxhash64(col("w")))
      case TokenHash.Md5Hex =>
        // The 64-bit value spelled by md5's FIRST 16 hex chars (big-endian:
        // digit at 1-based position p carries weight 16^(16−p)), assembled
        // ONCE per token from two 8-hex-char halves — shiftleft wraps to the
        // two's-complement bit pattern with no ANSI overflow; bit i of h is
        // digit 16 − i/4, bit i%4 — exactly (h >> i) & 1, the convention
        // the DuckDB oracle replicates.
        tokens.withColumn("hx", substring(md5(col("w")), 1, 16))
          .withColumn("h", expr(
            "shiftleft(CAST(conv(substring(hx, 1, 8), 16, 10) AS BIGINT), 32)" +
              " | CAST(conv(substring(hx, 9, 8), 16, 10) AS BIGINT)"))
    }
    withH.groupBy("doc_id")
      .agg(expressions.NativeFunctions
        .simhashNative(docs.sparkSession, col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs: share one of four 16-bit bands AND Hamming ≤ maxHamming. */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int,
      hash: TokenHash = TokenHash.Xx64,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val sh = scope.persist(simhash(docs, hash = hash))
    val bands = sh.select(col("doc_id"), col("simhash"), inline(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        expr(s"(simhash >> ${b * 16}) & 65535").as("h"))): _*)))
    // the Hamming filter reads only bucketPairs' payload, so Catalyst pushes
    // it into the band join; after a dedup and join-back it sees ~20× the rows
    bucketPairs(bands, "doc_id", Seq("band", "h"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(simhash_a ^ simhash_b)").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Candidate self-join of the near-dup family: `rows` paired on the
    * `bucket` columns, once per shared bucket, with `id_a < id_b`; each
    * payload column `c` comes out as `c_a` / `c_b`. Work is Σ bucket size².
    */
  private[graft] def bucketPairs(
      rows: DataFrame, id: String, bucket: Seq[String]): DataFrame = {
    def side(s: String) = rows.select(col(id).as(s"id_$s") +:
      rows.columns.filter(_ != id).map {
        case c if bucket.contains(c) => col(c)
        case c => col(c).as(s"${c}_$s")
      }.toSeq: _*)
    side("a").join(side("b"), bucket).where(col("id_a") < col("id_b"))
  }

  /** `pairs(id_a, id_b, …)` with `side`'s column `c` joined to both ids. */
  private[graft] def withBoth(
      pairs: DataFrame, side: DataFrame, id: String, c: String): DataFrame =
    Seq("a", "b").foldLeft(pairs)((p, s) =>
      p.join(side.select(col(id).as(s"id_$s"), col(c).as(s"${c}_$s")), s"id_$s"))
}
