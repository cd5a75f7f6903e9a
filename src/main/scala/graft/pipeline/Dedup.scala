package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora. Every variant is a pure
  * DataFrame pipeline: shingle/minhash/simhash signatures are computed with
  * built-in higher-order array functions (codegen'd — no Scala UDF in the
  * scan path), candidate pairs come from an equi-join on bucket keys (never
  * an all-pairs cross join), and survivors are selected with a deterministic
  * min-id rule.
  */
object Dedup {

  /** Exact dedup: group identical normalized text, keep the smallest id.
    * Returns (id, keep_id, group_size).
    *
    * The group key is (fingerprint, normalized text): the 64-bit fingerprint
    * prefix keeps shuffle-key comparisons cheap and the partitioning
    * balanced, while carrying the text itself guarantees a hash collision
    * can never silently merge two distinct documents — at web scale a 64-bit
    * hash alone WOULD collide (birthday bound ≈ 5·10⁹ docs for p=0.5).
    */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val keyed = df.select(col(idCol).as("id"), norm.as("norm"))
      .withColumn("fp", xxhash64(col("norm")))
    // groupBy + rejoin instead of a window: the aggregate's PARTIAL stage
    // collapses duplicate-heavy groups map-side, so the shuffle carries one
    // (fp, norm, keep_id, count) row per distinct document rather than every
    // row's full text through a sort (the window form ships all N texts
    // unreduced and sorts them). The rejoin probe side still carries norm —
    // that is the price of collision-safety (text equality, not hash
    // equality, defines a group).
    // The rejoin is NULL-SAFE on norm (<=> — still an equi-join key):
    // groupBy groups NULL-text rows into one group, and a plain equality
    // rejoin would silently drop them from the output.
    val groups = keyed.groupBy(col("fp"), col("norm"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("group_size"))
      .withColumnRenamed("fp", "gfp").withColumnRenamed("norm", "gnorm")
    keyed.join(groups, col("fp") === col("gfp") && col("norm") <=> col("gnorm"))
      .select(col("id"), col("keep_id"), col("group_size"))
  }

  /** MinHash signature (nHashes permutations) over the shingle set.
    * h_i(S) = min over shingles s of xxhash64(base(s), i) — the standard
    * tabulation-free family. Shingle strings are hashed ONCE, then the
    * fused `MinHashSig` kernel accumulates all nHashes minima in a single
    * traversal (vs nHashes full `array_min(transform(...))` passes with
    * nHashes intermediate arrays). Bit-identical to the composed form.
    */
  def minhashSignature(shingleCol: Column, nHashes: Int,
      preHashed: Boolean = false): Column = {
    val baseHashes =
      if (preHashed) shingleCol else transform(shingleCol, s => xxhash64(s))
    graft.functions.HashFunctions.minhash_sig(baseHashes, nHashes)
  }

  /** The composed built-in-functions form of `minhashSignature`, kept as the
    * differential-testing reference for the fused kernel.
    */
  def minhashSignatureComposed(shingleCol: Column, nHashes: Int,
      preHashed: Boolean = false): Column = {
    val baseHashes =
      if (preHashed) shingleCol else transform(shingleCol, s => xxhash64(s))
    array((0 until nHashes).map { i =>
      array_min(transform(baseHashes, h => xxhash64(h, lit(i))))
    }: _*)
  }

  /** Banded LSH buckets from a minhash signature frame (id, sig). */
  private def bandBuckets(sig: DataFrame, nBands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("id"), posexplode(
      array((0 until nBands).map(b =>
        hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))): _*))
      .as(Seq("band", "bucket")))

  /** Hashed shingle sets: xxhash64 of every char k-gram of the normalized
    * text via the fused `ShingleHashes` kernel — the shingle *strings* never
    * materialize (the composed route allocates one UTF8String per shingle
    * before hashing: ~2000 allocations per document, the dominant scan cost).
    * Duplicates are kept; every consumer (min, intersect, union) has set
    * semantics.
    */
  def shingleHashes(text: Column, k: Int): Column =
    graft.functions.HashFunctions.shingle_hashes(
      regexp_replace(lower(trim(text)), "\\s+", " "), k)

  /** MinHash-LSH near-duplicate pairs.
    * Pipeline: hashed shingles → minhash(nBands·rowsPerBand) → band buckets →
    * self-join per bucket → distinct candidate pairs (a < b). The verify
    * step (exact Jaccard on the candidates only) is `verifyJaccard`.
    */
  def minhashCandidates(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleK: Int = 5,
      nBands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
    candidatesFromHashedShingles(sh, nBands, rowsPerBand)
  }

  private def candidatesFromHashedShingles(sh: DataFrame, nBands: Int,
      rowsPerBand: Int): DataFrame = {
    val sig = sh.select(col("id"),
      minhashSignature(col("sh"), nBands * rowsPerBand, preHashed = true).as("sig"))
    val bands = bandBuckets(sig, nBands, rowsPerBand)
    val l = bands.select(col("band"), col("bucket"), col("id").as("a"))
    val r = bands.select(col("band"), col("bucket"), col("id").as("b"))
    l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Full MinHash near-dup pipeline: candidates + exact-Jaccard verify with
    * the hashed shingle sets computed ONCE and shared between both stages
    * (the separate candidates→verify composition shingles every document
    * twice — the dominant cost at scale since shingling is the only
    * full-text pass). Jaccard over hashed shingle sets equals Jaccard over
    * the string sets barring a 64-bit within-document collision
    * (~|doc|²/2⁶⁴ ≈ 10⁻¹⁰).
    */
  def minhashNearDup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleK: Int = 5,
      nBands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.7): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint(false) // shingled once; reused by signature AND verify
    val cand = candidatesFromHashedShingles(sh, nBands, rowsPerBand)
    jaccardOnPairs(cand, sh, threshold)
  }

  /** Exact Jaccard similarity for given candidate pairs (a, b). */
  def verifyJaccard(candidates: DataFrame, df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 5, threshold: Double = 0.7): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shinglesExpr(col(textCol), shingleK).as("sh"))
    jaccardOnPairs(candidates, sh, threshold)
  }

  /** Exact Jaccard over (a, b) pairs given a prepared (id, sh) shingle frame. */
  private def jaccardOnPairs(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(sh.withColumnRenamed("id", "a").withColumnRenamed("sh", "sha"), "a")
      .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "shb"), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("uni", size(array_union(col("sha"), col("shb"))).cast("double"))
      .withColumn("jaccard", when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** SimHash: 64-bit signature where bit i is the sign of the sum over
    * tokens of (token-hash bit i ? +1 : -1). Near-dups = signatures within
    * `maxHamming`; bucketing by 4 16-bit chunks guarantees recall for
    * maxHamming ≤ 3 (pigeonhole). The fused `SimHash64` kernel builds all
    * 64 bit-counters in one traversal of the token hashes (the composed
    * form below re-scans the array 64 times, once per bit).
    */
  def simhash(text: Column): Column =
    graft.functions.HashFunctions.simhash64(
      transform(split(lower(trim(text)), "\\s+"), t => xxhash64(t)))

  /** Composed built-in form of `simhash` — differential-testing reference. */
  def simhashComposed(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val hashes = transform(toks, t => xxhash64(t))
    (0 until 64).map { i =>
      val bitSum = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** SimHash near-duplicate candidate pairs within hamming distance ≤ 3,
    * via 16-bit chunk bucketing.
    */
  def simhashCandidates(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      chunkBits: Int = 16): DataFrame = {
    // pigeonhole: 64/chunkBits chunks guarantee a shared chunk for any pair
    // with hamming ≤ 64/chunkBits − 1 — narrower chunks buy a stronger
    // recall bound at the cost of more (bucket-bounded) candidate pairs.
    // A maxHamming ABOVE that bound is allowed (the d2 oracle config runs
    // hamming 63 over 4-bit chunks deliberately) but recall is then only
    // guaranteed up to the bound — warn instead of silently under-recalling.
    require(64 % chunkBits == 0, s"chunkBits must divide 64, got $chunkBits")
    if (maxHamming > 64 / chunkBits - 1)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"simhashCandidates: maxHamming=$maxHamming exceeds the pigeonhole " +
          s"recall bound ${64 / chunkBits - 1} for chunkBits=$chunkBits — " +
          "pairs with hamming above the bound may be missed")
    val nChunks = 64 / chunkBits
    val chunkMask = (1L << chunkBits) - 1
    val sigs = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val chunks = sigs.select(col("id"), col("sig"), posexplode(array(
      (0 until nChunks).map(c =>
        shiftright(col("sig"), c * chunkBits).bitwiseAND(chunkMask)): _*))
      .as(Seq("chunk", "key")))
    val l = chunks.select(col("chunk"), col("key"), col("id").as("a"), col("sig").as("siga"))
    val r = chunks.select(col("chunk"), col("key"), col("id").as("b"), col("sig").as("sigb"))
    l.join(r, Seq("chunk", "key")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-duplicate pairs with exact verification: hamming-≤-maxHamming
    * candidate pairs (pigeonhole-bucketed, `simhashCandidates`) re-scored with
    * EXACT char-shingle Jaccard, keeping pairs ≥ threshold. This is the
    * pipeline shape a dedup run actually ships — a cheap engine-specific
    * candidate stage whose every emitted pair is certified by an
    * engine-independent similarity (and therefore DuckDB-verifiable:
    * completeness stays a property of the simhash stage, soundness of the
    * output is exact Jaccard).
    */
  def simhashNearDup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3, shingleK: Int = 5,
      threshold: Double = 0.5, chunkBits: Int = 16): DataFrame = {
    val cand = simhashCandidates(df, idCol, textCol, maxHamming, chunkBits)
      .select(col("a"), col("b"))
    val sh = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
    jaccardOnPairs(cand, sh, threshold)
  }

  /** Word n-gram Jaccard similarity for candidate pairs sharing at least one
    * n-gram of document frequency ≤ `maxDf` (the df cap is the scale guard:
    * without it, one n-gram shared by 10⁶ documents makes 10¹² candidate
    * pairs from a single posting list — frequent grams carry no near-dup
    * signal, so dropping them from the *candidate* stage bounds the
    * self-join at ≤ maxDf² pairs per gram while the verify stage still
    * computes Jaccard over the FULL gram sets).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, threshold: Double = 0.5,
      maxDf: Int = 1000): DataFrame = {
    val d = ngramHashSets(df, idCol, textCol, n).localCheckpoint(false)
    verify(ngramCandidatesPruned(d, maxDf, threshold), d)
      .where(col("jaccard") >= threshold)
  }

  /** Candidate pairs from the df-capped inverted index, PRUNED by a provable
    * Jaccard upper bound before any gram-set join: the pair join's per-pair
    * row count IS the shared-rare-gram count c (one aggregate replaces the
    * old `distinct`), and with per-doc totals n and capped-gram counts x
    * (x = grams excluded from the index by the df cap),
    *
    *   |A∩B| ≤ c + min(x_a, x_b)      (shared grams are rare-shared or capped)
    *   |A∪B| = n_a + n_b − |A∩B| ≥ n_a + n_b − (c + min(x_a, x_b))
    *
    * so J(A,B) ≤ (c + min(x_a,x_b)) / (n_a + n_b − c − min(x_a,x_b)) — any
    * pair whose bound falls below `threshold` cannot pass the exact verify
    * and is dropped here. On a corpus where the cap never binds the bound is
    * EXACT (x = 0 → survivors ≈ the output set), so the verify stage joins
    * full gram arrays onto ~|output| pairs instead of every co-occurring
    * pair (measured at bench scale: 1.13M candidate pairs → 256 outputs; the
    * array join over those 1.13M pairs dominated the operator). The doc
    * sizes ride the posting rows through the existing g-equi-join; the only
    * added exchange is one narrow window pass over the O(postings) index for
    * the per-doc rare counts — orders of magnitude fewer bytes than the
    * removed pair-level gram-array join. Candidate universe (pairs sharing
    * ≥ 1 uncapped gram) and final output are unchanged.
    */
  def ngramCandidatesPruned(d: DataFrame, maxDf: Int,
      threshold: Double): DataFrame = {
    val inv = d.select(col("id"), size(col("grams")).cast("long").as("n"),
      explode(col("grams")).as("g"))
    val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("g"))
    // per-doc rare-gram count via a window (one pass over the capped index —
    // a groupBy+rejoin would recompute the df/semi-join subtree twice), then
    // checkpoint the narrow posting table so the self-join's two sides replay
    // it instead of re-deriving the index per side
    val posts = inv.join(rare, Seq("g"), "left_semi")
      .withColumn("nr", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
      .select(col("g"), col("id"), col("n"), (col("n") - col("nr")).as("x"))
      .localCheckpoint(false)
    val shared = posts.select(col("g"), col("id").as("a"),
        col("n").as("na"), col("x").as("xa"))
      .join(posts.select(col("g"), col("id").as("b"),
        col("n").as("nb"), col("x").as("xb")), "g")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"), max(col("na")).as("na"), max(col("xa")).as("xa"),
        max(col("nb")).as("nb"), max(col("xb")).as("xb"))
    val interUb = col("c") + least(col("xa"), col("xb"))
    shared.where(interUb >= lit(threshold) * (col("na") + col("nb") - interUb))
      .select(col("a"), col("b"))
  }

  /** (id, grams) word-n-gram sets as distinct xxhash64 values — the fused
    * `WordNgramHashes` kernel hashes each token window in place, so gram
    * strings never materialize and the inverted index joins on 8-byte longs
    * instead of ~20-byte strings. Distinct-hash sets ≡ distinct-gram sets
    * barring a within-corpus 64-bit collision.
    */
  def ngramHashSets(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val grams = array_distinct(
      graft.functions.HashFunctions.word_ngram_hashes(norm, n))
    df.select(col(idCol).as("id"), grams.as("grams"))
      .where(size(col("grams")) > 0)
  }

  /** (id, grams) word-n-gram sets as strings — differential-testing
    * reference for `ngramHashSets` (compare via xxhash64 of each gram).
    */
  def ngramSets(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val grams = array_distinct(filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")),
      g => size(split(g, " ")) === n))
    df.select(col(idCol).as("id"), grams.as("grams"))
      .where(size(col("grams")) > 0)
  }

  /** Candidate pairs from the df-capped inverted n-gram index: one aggregate
    * + semi-join keeps every posting list that reaches the pair join at
    * ≤ maxDf entries, bounding the self-join at ≤ maxDf·df pairs total.
    */
  def ngramCandidates(d: DataFrame, maxDf: Int): DataFrame = {
    val inv = d.select(col("id"), explode(col("grams")).as("g"))
    val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("g"))
    val capped = inv.join(rare, Seq("g"), "left_semi")
    capped.select(col("g"), col("id").as("a"))
      .join(capped.select(col("g"), col("id").as("b")), "g")
      .where(col("a") < col("b")).select(col("a"), col("b")).distinct()
  }

  private[graft] def verify(cand: DataFrame, d: DataFrame): DataFrame =
    cand
      .join(d.select(col("id").as("a"), col("grams").as("ga")), "a")
      .join(d.select(col("id").as("b"), col("grams").as("gb")), "b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
      .withColumn("uni", size(array_union(col("ga"), col("gb"))).cast("double"))
      .withColumn("jaccard", when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
      .select(col("a"), col("b"), col("jaccard"))

  /** Character-shingle expression (k-grams of the normalized text). */
  def shinglesExpr(text: Column, k: Int): Column = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    array_distinct(filter(
      transform(sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
        i => norm.substr(i, lit(k))),
      x => length(x) === k))
  }
}
