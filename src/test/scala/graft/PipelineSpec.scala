package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}

class PipelineSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.DataFrame

  private lazy val docs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 0
      (2L, "the  quick brown fox   jumps over the lazy dog"),   // whitespace variant
      (3L, "the quick brown fox leaps over the lazy dog"),      // near-dup (1 word)
      (4L, "completely different content about spark engines"),
      (5L, ""),
      (6L, "der hund und die katze sind nicht hier"),           // German-ish
      (7L, "Punctuation!!! ... ;;; ,,, ??? !!!")
    ).toDF("doc_id", "text")
  }

  test("token count and stopword count") {
    val r = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.stopwordCount(col("text")).as("stop"))
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2))).toMap
    assert(r(0L) == ((9, 2))) // 'the' twice; 'over' is not a stopword
    assert(r(5L) == ((0, 0)))
  }

  test("exact dedup groups whitespace-normalized duplicates, keeps min id") {
    val r = Dedup.exact(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(0L) == ((0L, 3L))) // docs 0,1,2 collapse
    assert(r(1L) == ((0L, 3L)))
    assert(r(2L) == ((0L, 3L)))
    assert(r(3L)._2 == 1L)
    assert(r(4L)._2 == 1L)
  }

  test("exact dedup keeps NULL-text rows (null-safe rejoin) as one group") {
    import spark.implicits._
    val withNulls = Seq(
      (0L, "same text"), (1L, "same  text"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]), (4L, "")).toDF("doc_id", "text")
    val r = Dedup.exact(withNulls).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r.size == 5, s"rows dropped: ${r.keySet}") // nothing silently lost
    assert(r(2L) == ((2L, 2L))) // both NULL-text docs form one group…
    assert(r(3L) == ((2L, 2L)))
    assert(r(4L) == ((4L, 1L))) // …separate from the empty-string doc
    assert(r(0L) == ((0L, 2L)) && r(1L) == ((0L, 2L)))
  }

  test("minhash LSH finds the near-duplicate pair and verifies jaccard") {
    val cand = Dedup.minhashCandidates(docs, nBands = 16, rowsPerBand = 2)
    val verified = Dedup.verifyJaccard(cand, docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact dups have jaccard 1.0
    assert(verified.get((0L, 1L)).contains(1.0))
    assert(verified.get((0L, 2L)).contains(1.0))
    // near-dup 0↔3 shares most shingles
    assert(verified.keySet.contains((0L, 3L)))
    assert(verified((0L, 3L)) > 0.5 && verified((0L, 3L)) < 1.0)
    // unrelated docs never become candidates-with-high-jaccard
    assert(!verified.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("simhash: identical docs hamming 0, near-dups small hamming") {
    val pairs = Dedup.simhashCandidates(docs, maxHamming = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((0L, 1L)) == 0)
    assert(pairs.get((0L, 3L)).exists(_ <= 10))
  }

  test("ngram jaccard pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 3L)))
  }

  test("fused kernels are bit-identical to their composed built-in forms") {
    import spark.implicits._
    // minhash: same signatures from MinHashSig and the n× array_min form
    val sh = docs.where(length(col("text")) > 0)
      .select(col("doc_id"), Dedup.shinglesExpr(col("text"), 5).as("sh"))
      .where(size(col("sh")) > 0)
    val mh = sh.select(
      Dedup.minhashSignature(col("sh"), 32).as("fused"),
      Dedup.minhashSignatureComposed(col("sh"), 32).as("composed"))
      .collect()
    mh.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString) }
    // simhash: same 64-bit signature from SimHash64 and the 64-aggregate form
    val simh = docs.select(
      Dedup.simhash(col("text")).as("fused"),
      Dedup.simhashComposed(col("text")).as("composed")).collect()
    simh.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // lsh sign bits: same bucket keys from LshSignBits and the per-plane form
    val rnd = new scala.util.Random(3)
    val vecs = Seq.tabulate(50)(i => (i.toLong, Array.fill(24)(rnd.nextDouble() - 0.5)))
      .toDF("id", "embedding")
    val keys = vecs.select(
      Similarity.lshKey(col("embedding"), 48, seed = 7).as("fused"),
      Similarity.lshKeyComposed(col("embedding"), 48, seed = 7).as("composed"))
      .collect()
    keys.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // float embeddings too (the common storage type)
    val fvecs = Seq.tabulate(20)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("id", "embedding")
    val fkeys = fvecs.select(
      Similarity.lshKey(col("embedding"), 12, seed = 2).as("fused"),
      Similarity.lshKeyComposed(col("embedding").cast("array<double>"), 12, seed = 2)
        .as("composed")).collect()
    fkeys.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // shingle hashes: the fused char-k-gram kernel equals xxhash64 over the
    // composed substr shingles (set-compare: composed applies array_distinct)
    val shEq = docs.where(length(trim(col("text"))) >= 5).select(
      array_sort(array_distinct(Dedup.shingleHashes(col("text"), 5))).as("fused"),
      array_sort(transform(Dedup.shinglesExpr(col("text"), 5), s => xxhash64(s)))
        .as("composed")).collect()
    assert(shEq.nonEmpty)
    shEq.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString) }
    // multi-byte UTF-8 chars: boundaries respected
    val utf8 = Seq((100L, "héllo wörld ünïcode ärger")).toDF("doc_id", "text")
    val uEq = utf8.select(
      array_sort(array_distinct(Dedup.shingleHashes(col("text"), 5))).as("fused"),
      array_sort(transform(Dedup.shinglesExpr(col("text"), 5), s => xxhash64(s)))
        .as("composed")).head()
    assert(uEq.getSeq[Long](0) == uEq.getSeq[Long](1))
    // word n-gram hashes: fused in-place token-window hashing equals
    // xxhash64 over the composed array_join(slice(...)) gram strings
    val both = Dedup.ngramHashSets(docs.union(utf8), "doc_id", "text", 3)
      .withColumnRenamed("grams", "fused")
      .join(Dedup.ngramSets(docs.union(utf8), "doc_id", "text", 3)
        .withColumnRenamed("grams", "strs"), "id")
      .select(array_sort(col("fused")).as("fused"),
        array_sort(array_distinct(transform(col("strs"), s => xxhash64(s)))).as("composed"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    // docs with < n tokens produce no grams in either form
    assert(Dedup.ngramHashSets(utf8.select(col("doc_id"),
      lit("only two").as("text")), "doc_id", "text", 3).count() == 0)
    // and all engage codegen (no interpreted fallback in the plan)
    val p = sh.select(Dedup.minhashSignature(col("sh"), 32))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Fallback"), p)
  }

  test("minhashNearDup (shared shingles) equals candidates+verify composition") {
    val a = Dedup.minhashNearDup(docs, nBands = 16, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.verifyJaccard(
      Dedup.minhashCandidates(docs, nBands = 16, rowsPerBand = 2), docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  test("ngram df-cap bounds an adversarial corpus without losing planted near-dups") {
    import spark.implicits._
    // 1000 docs share one common trigram but are otherwise all distinct;
    // docs 9001/9002 are a planted near-dup pair with rare grams only
    val common = Seq.tabulate(1000)(i =>
      (i.toLong, s"aaa bbb ccc unique$i token$i filler${i * 31}"))
    val planted = Seq(
      (9001L, "rare gram alpha beta gamma delta epsilon"),
      (9002L, "rare gram alpha beta gamma delta zeta"))
    val corpus = (common ++ planted).toDF("doc_id", "text")
    val d = Dedup.ngramSets(corpus, n = 3)
    // uncapped: the common trigram alone yields ~499k candidate pairs;
    // capped at df<=10 its posting list is dropped, leaving only rare-gram pairs
    val capped = Dedup.ngramCandidates(d, maxDf = 10)
    assert(capped.count() == 1, s"expected only the planted pair")
    val verified = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.5, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == Set((9001L, 9002L)))
  }

  test("pruned ngram candidates: sound bound, verify-output equivalence under a binding df cap") {
    import spark.implicits._
    // corpus where the df cap BINDS (a trigram shared by 40 docs is capped
    // at maxDf=10), so the pruning bound must account for capped grams
    // (x > 0) — a shared-count-only prune would be unsound here
    val rnd = new scala.util.Random(11)
    val shared = Seq.tabulate(40)(i =>
      (i.toLong, s"xxx yyy zzz doc$i word${rnd.nextInt(1000)} tail$i"))
    // planted pair whose similarity is carried ENTIRELY by capped grams
    // except one rare trigram — the bound must keep it
    val planted = Seq(
      (8001L, "xxx yyy zzz omega psi chi"),
      (8002L, "xxx yyy zzz omega psi phi"))
    val corpus = (shared ++ planted).toDF("doc_id", "text")
    val d = Dedup.ngramHashSets(corpus, n = 3).localCheckpoint(false)
    val unpruned = Dedup.ngramCandidates(d, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Dedup.ngramCandidatesPruned(d, maxDf = 10, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // soundness of the candidate stage: pruning only ever narrows
    assert(pruned.subsetOf(unpruned))
    // end-to-end equivalence: verify over pruned candidates equals verify
    // over the full candidate set (the bound never drops a passing pair)
    def out(th: Double) = Dedup.ngramJaccardPairs(corpus, n = 3,
      threshold = th, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
    def outUnpruned(th: Double) =
      Dedup.verify(Dedup.ngramCandidates(d, 10), d)
        .where(col("jaccard") >= th)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
    for (th <- Seq(0.3, 0.5)) assert(out(th) == outUnpruned(th), s"threshold $th")
  }

  test("banded cosine LSH finds planted near-dups; bucket guard bounds pileups") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def jitter(v: Array[Double], eps: Double) =
      v.map(x => x + eps * (rnd.nextDouble() - 0.5))
    val base = Array.fill(32)(rnd.nextGaussian())
    val near = Seq((100L, base), (101L, jitter(base, 0.01)), (102L, jitter(base, 0.02)))
    val noise = Seq.tabulate(200)(i => (i.toLong, Array.fill(32)(rnd.nextGaussian())))
    val df = (near ++ noise).toDF("id", "embedding")
    val found = Similarity.cosineNearDup(df, threshold = 0.95,
      nBands = 8, planesPerBand = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == Set((100L, 101L), (100L, 102L), (101L, 102L)), found.toString)
    // bucket-size guard: 500 identical vectors pile into one bucket per band;
    // with maxBucket below the pileup the quadratic join is refused
    val pile = Seq.tabulate(500)(i => (i.toLong, base)).toDF("id", "embedding")
    val guarded = Similarity.cosineNearDup(pile, threshold = 0.9,
      nBands = 2, planesPerBand = 8, maxBucket = 100)
    assert(guarded.count() == 0)
    val unguarded = Similarity.cosineNearDup(pile, threshold = 0.9,
      nBands = 2, planesPerBand = 8, maxBucket = 1000)
    assert(unguarded.count() == 500L * 499 / 2)
  }

  // ---- oracle-assumption guards: the d2/m3 driver queries use exhaustive
  // all-pairs DuckDB twins, which is only sound if the query-level blocking
  // params have recall 1.0 on the sf0.01 fixture. These tests pin that
  // assumption to the actual fixture — if the testdata or a kernel changes
  // and blocking starts missing a true pair, they fail BEFORE the driver's
  // correctness gate does.

  test("d2 fixture params are recall-complete on sf0.01 (blocking == exhaustive)") {
    assume(new java.io.File("/root/testdata/sf0.01/documents.parquet").exists)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val sh = docs.select(col("doc_id").as("id"),
        Dedup.shingleHashes(col("text"), 5).as("sh"))
      .where(size(col("sh")) > 0).localCheckpoint(true)
    val exhaustive = sh.as("x").join(sh.as("y"),
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (size(array_intersect(col("x.sh"), col("y.sh"))).cast("double") /
          size(array_union(col("x.sh"), col("y.sh")))).as("j"))
      .where(col("j") >= 0.5)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.simhashNearDup(docs,
        maxHamming = 63, threshold = 0.5, chunkBits = 4)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == exhaustive,
      s"missed: ${(exhaustive -- blocked).toSeq.sorted}; extra: ${(blocked -- exhaustive).toSeq.sorted}")
  }

  test("m3 fixture params are recall-complete on sf0.01 (banding == exhaustive)") {
    assume(new java.io.File("/root/testdata/sf0.01/embeddings.parquet").exists)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint(true)
    val exhaustive = emb.as("x").join(emb.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        Similarity.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .where(col("cos") >= 0.4)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.cosineNearDup(emb, threshold = 0.4,
        nBands = 63, planesPerBand = 1)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == exhaustive,
      s"missed: ${(exhaustive -- banded).toSeq.sorted}; extra: ${(banded -- exhaustive).toSeq.sorted}")
  }

  test("langId: English vs German-ish markers, und for no markers") {
    val r = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(0L) == "en")
    assert(r(6L) == "de")
    assert(r(7L) == "und")
  }

  test("fingerprint is whitespace-insensitive") {
    val fps = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(fps(0L) == fps(2L))
    assert(fps(0L) != fps(3L))
  }

  test("brute-force cosine top-k: exact neighbors with deterministic order") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)),
      (1L, Array(0.9, 0.1, 0.0)),  // closest to 0
      (2L, Array(0.0, 1.0, 0.0)),
      (3L, Array(0.7, 0.7, 0.0))
    ).toDF("id", "embedding")
    val q = vecs.where(col("id") === 0).select(col("id").as("qid"), col("embedding"))
    val top = Similarity.bruteForceTopK(vecs, q, k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2)
    assert(top.toSeq == Seq((1L, 1), (3L, 2)))
  }

  test("LSH top-k recall: bucket join returns same-bucket exact ranks") {
    import spark.implicits._
    // clustered vectors: LSH must keep intra-cluster neighbors together
    val base = Seq.tabulate(40) { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(d =>
        (if (d / 4 == cluster) 1.0 else 0.01) + 0.001 * ((i * 7 + d) % 5))
      (i.toLong, v)
    }
    val vecs = base.toDF("id", "embedding")
    val q = vecs.where(col("id") < 4).select(col("id").as("qid"), col("embedding"))
    val exact = Similarity.bruteForceTopK(vecs, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(vecs, q, k = 3, nPlanes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall ≥ 2/3 per query on well-separated clusters
    assert((exact intersect approx).size >= exact.size * 2 / 3,
      s"recall too low: ${(exact intersect approx).size}/${exact.size}")
  }

  test("LSH multiprobe: Hamming-1 probing never loses recall and finds cross-plane neighbors") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // near-boundary pairs: each base vector and a slight perturbation of it
    // (likely across >= 1 hyperplane for some pairs)
    val base = Seq.tabulate(30) { i =>
      (i.toLong, Array.fill(12)(rnd.nextDouble() - 0.5))
    }
    val perturbed = base.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.05 * (rnd.nextDouble() - 0.5)))
    }
    val vecs = (base ++ perturbed).toDF("id", "embedding")
    val q = vecs.where(col("id") < 30).select(col("id").as("qid"), col("embedding"))
    def recall(multiprobe: Int): Int = {
      val approx = Similarity.lshTopK(vecs, q, k = 1, nPlanes = 8,
        multiprobe = multiprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the planted nearest neighbor of qid i is i+100
      (0 until 30).count(i => approx.contains((i.toLong, i + 100L)))
    }
    val r0 = recall(0); val r1 = recall(1)
    assert(r1 >= r0, s"multiprobe lost recall: $r1 < $r0")
    assert(r1 > r0, s"multiprobe found no additional cross-plane neighbor " +
      s"($r0 -> $r1) — with 8 planes and 30 near-boundary pairs some must " +
      "differ in exactly one sign bit")
    assert(r1 >= 25, s"multiprobe recall $r1/30 too low")
  }

  test("IVF top-k: fused assignment matches driver Lloyd, high recall on clusters, deterministic") {
    import spark.implicits._
    // 4 well-separated clusters in 16 dims (same family as the LSH test)
    val base = Seq.tabulate(80) { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(d =>
        (if (d / 4 == cluster) 1.0 else 0.01) + 0.001 * ((i * 7 + d) % 5))
      (i.toLong, v)
    }
    val vecs = base.toDF("id", "embedding")
    val q = vecs.where(col("id") < 4).select(col("id").as("qid"), col("embedding"))
    val exact = Similarity.bruteForceTopK(vecs, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(vecs, q, k = 5, nCells = 8, nProbe = 2)
    val approx = ivf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact intersect approx).size >= exact.size * 4 / 5,
      s"ivf recall too low: ${(exact intersect approx).size}/${exact.size}")
    // deterministic end to end (hash-ordered sample, fixed seeds, no RNG)
    val again = Similarity.ivfTopK(vecs, q, k = 5, nCells = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == approx)
    // the fused expression agrees with a driver-side argmin on raw centroids
    val (cents, dim) = Similarity.trainIvfCentroids(
      vecs.select(col("embedding")), nCells = 8)
    import graft.functions.IvfFunctions.ivf_nearest_cells
    val assigned = vecs.select(col("id"),
      element_at(ivf_nearest_cells(col("embedding"), cents, dim, 8, 1), 1).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    base.foreach { case (id, v) =>
      val best = (0 until 8).minBy { c =>
        (0 until dim).map(i => { val t = v(i) - cents(c * dim + i); t * t }).sum
      }
      assert(assigned(id) == best, s"cell mismatch for $id")
    }
  }

  test("native cosine kernel: equals composed form, codegen, guards, SQL registration") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(60)(i => (i.toLong, Array.fill(33)(rnd.nextDouble() - 0.5)))
      .toDF("id", "e")
    val pairs = vecs.select(col("id").as("a"), col("e").as("ea"))
      .crossJoin(vecs.select(col("id").as("b"), col("e").as("eb")))
    val diff = pairs.select(
        graft.pipeline.Similarity.cosine(col("ea"), col("eb")).as("nat"),
        graft.pipeline.Similarity.cosineComposed(col("ea"), col("eb")).as("comp"))
      .where(abs(col("nat") - col("comp")) > 1e-12)
    assert(diff.count() == 0)
    // codegen actually engaged (no CodegenFallback in the plan)
    val p = pairs.select(graft.pipeline.Similarity.cosine(col("ea"), col("eb")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Fallback"), p)
    // float arrays + guards
    val f = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 0.0f), Array(1.0f)))
      .toDF("a", "b", "z", "short")
    val r = f.select(
      graft.pipeline.Similarity.cosine(col("a"), col("b")).as("same"),
      graft.pipeline.Similarity.cosine(col("a"), col("z")).as("zero"),
      graft.pipeline.Similarity.cosine(col("a"), col("short")).as("mismatch")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    // SQL registration
    graft.functions.VectorFunctions.register(spark)
    f.createOrReplaceTempView("vf")
    assert(spark.sql("SELECT cosine_sim(a, b) FROM vf").head().getDouble(0) == 1.0)
    // null-element semantics match the composed (zip_with/aggregate) form:
    // a null element null-propagates to a null result, in eval AND codegen
    val withNulls = Seq(
      (Array[java.lang.Double](1.0, null), Array[java.lang.Double](1.0, 2.0)),
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](1.0, 2.0)))
      .toDF("na", "nb")
    val nr = withNulls.select(
      graft.pipeline.Similarity.cosine(col("na"), col("nb")).as("nat"),
      graft.pipeline.Similarity.cosineComposed(col("na"), col("nb")).as("comp"))
      .collect()
    assert(nr(0).isNullAt(0) && nr(0).isNullAt(1), nr(0).toString)
    assert(!nr(1).isNullAt(0) && math.abs(nr(1).getDouble(0) - 1.0) < 1e-12)
  }

  test("multimodal: batched feature extraction preserves schema and determinism") {
    val m = Multimodal.syntheticMedia(spark, 50, partitions = 3)
    val f1 = Multimodal.extractFeatures(m, batchSize = 7).collect()
      .map(x => x.media_id -> x.features.toSeq).toMap
    val f2 = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(spark, 50, partitions = 11), batchSize = 64)
      .collect().map(x => x.media_id -> x.features.toSeq).toMap
    assert(f1 == f2) // partitioning/batch-size independent
    val kinds = m.collect().map(_.kind).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("multimodal: JDK codecs really decode — image dims/colors and audio stats recovered") {
    val f = Multimodal.extractFeatures(
        Multimodal.syntheticMedia(spark, 30, partitions = 2))
      .collect().map(x => x.media_id -> x).toMap
    (0 until 30).foreach { id =>
      val x = f(id.toLong)
      (id % 3) match {
        case 0 => // image features: [w, h, meanR/255, meanG/255, meanB/255]
          assert(x.kind == "image" && x.ok && x.feat_dim == 5)
          assert(x.features(0) == (8 + id % 9).toFloat, s"image $id width")
          assert(x.features(1) == (8 + id % 7).toFloat, s"image $id height")
          assert(math.abs(x.features(2) - ((id * 7) % 256) / 255.0f) < 1e-6f,
            s"image $id meanR")
          assert(math.abs(x.features(4) - ((id * 29) % 256) / 255.0f) < 1e-6f,
            s"image $id meanB")
        case 1 => // audio features: [rate, nSamples, meanAbs/32767]
          assert(x.kind == "audio" && x.ok && x.feat_dim == 3)
          assert(x.features(0) == 8000.0f, s"audio $id rate")
          assert(x.features(1) == (800 + (id % 5) * 160).toFloat, s"audio $id n")
          assert(math.abs(x.features(2) - (1000 + (id % 100) * 10) / 32767.0f) < 1e-6f,
            s"audio $id amp")
        case _ => // video features: [w, h, (meanR, meanG, meanB)/255 per frame]
          val sampled = math.min(4, 2 + id % 4)
          assert(x.kind == "video" && x.ok, s"video $id not decoded")
          assert(x.frames_sampled == sampled, s"video $id frames")
          assert(x.feat_dim == 2 + 3 * sampled, s"video $id feat_dim")
          assert(x.features(0) == (8 + id % 5).toFloat, s"video $id width")
          assert(x.features(1) == (6 + id % 3).toFloat, s"video $id height")
          // per-frame solid colors recovered exactly (sampled frame i maps
          // to source frame i here since sampled == nFrames or indices 0..3)
          (0 until sampled).foreach { i =>
            val n = 2 + id % 4
            val src = i * n / sampled
            assert(math.abs(x.features(2 + 3 * i) -
              ((id * 7 + src * 31) % 256) / 255.0f) < 1e-6f, s"video $id f$i meanR")
            assert(math.abs(x.features(2 + 3 * i + 2) -
              ((id * 29 + src * 11) % 256) / 255.0f) < 1e-6f, s"video $id f$i meanB")
          }
      }
    }
  }

  test("multimodal: a corrupt image payload yields ok=false, not a crash") {
    import spark.implicits._
    val bad = Seq(Multimodal.MediaRow(99L, "image", Array[Byte](1, 2, 3), 4, 4, 0, 0)).toDS()
    val out = Multimodal.extractFeatures(bad).collect()
    assert(out.length == 1 && !out(0).ok && out(0).feat_dim == 0)
  }

  test("multimodal: a corrupt audio payload yields ok=false, not a crash") {
    import spark.implicits._
    val bad = Seq(
      // non-RIFF bytes → UnsupportedAudioFileException inside the decoder
      Multimodal.MediaRow(98L, "audio", Array[Byte](1, 2, 3, 4), 0, 0, 8000, 10),
      // empty payload
      Multimodal.MediaRow(97L, "audio", Array.empty[Byte], 0, 0, 8000, 0)).toDS()
    val out = Multimodal.extractFeatures(bad).collect()
    assert(out.length == 2 && out.forall(r => !r.ok && r.feat_dim == 0))
  }

  test("multimodal: a corrupt video payload yields ok=false, not a crash") {
    import spark.implicits._
    val riffOnly = "RIFF".getBytes ++ Array[Byte](8, 0, 0, 0) ++ "AVI ".getBytes
    val bad = Seq(
      Multimodal.MediaRow(96L, "video", Array[Byte](1, 2, 3, 4), 8, 6, 0, 1000),
      Multimodal.MediaRow(95L, "video", Array.empty[Byte], 8, 6, 0, 0),
      // valid RIFF/AVI header but no streams/frames
      Multimodal.MediaRow(94L, "video", riffOnly, 8, 6, 0, 1000)).toDS()
    val out = Multimodal.extractFeatures(bad).collect()
    assert(out.length == 3 && out.forall(r => !r.ok && r.feat_dim == 0))
  }

  test("multimodal: resize plan preserves aspect ratio within bounds") {
    val m = Multimodal.syntheticMedia(spark, 30).toDF()
    val r = Multimodal.resizePlan(m, 256).collect()
    r.foreach { row =>
      val (w, h) = (row.getAs[Int]("width"), row.getAs[Int]("height"))
      val (tw, th) = (row.getAs[Int]("target_w"), row.getAs[Int]("target_h"))
      assert(tw <= 256 && th <= 256 || (w <= 256 && h <= 256))
      assert(tw <= w && th <= h)
    }
  }
}
