package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.VectorFns
import graft.similarity.Ann

/** The parameterized library API (graft.dedup / graft.similarity) under
  * non-default parameters — the oracle-bound defaults are covered by
  * PipelineSpec + the DuckDB gate. */
class DedupAnnApiSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$SfDir/documents.parquet")
  private lazy val embs = Ann.withNorm(
    spark.read
      .parquet(s"$SfDir/embeddings.parquet")
      .select(col("vec_id"), VectorFns.asDouble(col("embedding")).as("v")),
    "v")

  test("ngramJaccard at k=2 finds at least the k=3 pairs at equal threshold") {
    val k3 = Dedup.ngramJaccard(docs, k = 3, threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val k2 = Dedup.ngramJaccard(docs, k = 2, threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // shorter shingles are more permissive on near-identical docs
    assert(k3.subsetOf(k2), s"missing: ${k3 diff k2}")
    assert(k2.nonEmpty)
  }

  test("minhashLsh with 4 bands of 4 rows is a subset of 8 bands of 2") {
    val loose = Dedup.minhashLsh(docs, numHashes = 16, bands = 8, threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strict = Dedup.minhashLsh(docs, numHashes = 16, bands = 4, threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fewer, wider bands -> stricter candidate generation; verification
    // keeps both ⊆ true-Jaccard pairs, so strict ⊆ loose
    assert(strict.subsetOf(loose))
  }

  test("minhashLsh rejects bands that do not divide numHashes") {
    intercept[IllegalArgumentException] {
      Dedup.minhashLsh(docs, numHashes = 16, bands = 5).collect()
    }
  }

  test("simhashPairs banding is exact at a smaller radius") {
    val toks = docs.select(
      col("doc_id"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
    val sigs = Dedup.simhashSignatures(toks, "doc_id", "tok", bits = 60)
    val r6 = Dedup.simhashPairs(sigs, bits = 60, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val r3 = Dedup.simhashPairs(sigs, bits = 60, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(r3.toSet == r6.filter(_._3 <= 3).toSet)
  }

  test("simhashSignaturesFromTokens is bit-identical to the aggregate formulation") {
    val rows = docs.select(
      col("doc_id"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
    val viaAgg = Dedup.simhashSignatures(rows, "doc_id", "tok", bits = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arr = docs.select(
      col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("tk"))
    val viaExpr = Dedup.simhashSignaturesFromTokens(arr, "doc_id", "tk", bits = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the aggregate path drops zero-token docs (explode); the array path
    // filters them too, so the keysets — not just the values — agree
    assert(viaAgg.nonEmpty)
    assert(viaExpr.keySet == viaAgg.keySet)
    assert(viaAgg.forall { case (k, v) => viaExpr.get(k).contains(v) })
  }

  test("simhashSignaturesFromTokens drops zero-token docs like the explode path") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "a")),
      (2L, Seq.empty[String]),
      (3L, Seq("a", "b", "a"))).toDF("doc_id", "tk")
    val sigs = Dedup.simhashSignaturesFromTokens(df, "doc_id", "tk", bits = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 2 never reaches band pairing (an empty doc must not band-match
    // every other empty doc via signature 0)
    assert(sigs.keySet == Set(1L, 3L))
    assert(sigs(1L) == sigs(3L))
  }

  test("wide simhash: sim_lo is bit-identical to the 60-bit signature; JVM/Column hash halves agree") {
    val arr = docs.select(
      col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("tk"))
    val narrow = Dedup.simhashSignaturesFromTokens(arr, "doc_id", "tk", bits = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = Dedup.simhashSignaturesWide(arr, "doc_id", "tk")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wide.keySet == narrow.keySet)
    assert(narrow.forall { case (k, lo) => wide(k)._1 == lo },
      "the low word must equal the narrow 60-bit signature")
    assert(wide.values.exists(_._2 != 0L), "the high word must carry real bits")
    // JVM twin of the Column-side upper half (the md5LongHi seam the
    // DuckDB oracle replays)
    val probe = docs.select(
      col("text"),
      graft.functions.Hashing.md5LongHi(col("text")).as("h")).limit(64).collect()
    probe.foreach { r =>
      val bytes = r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(graft.functions.Hashing.md5LongHiJvm(bytes) == r.getLong(1))
      val pair = new Array[Long](2)
      graft.functions.Hashing.md5LongPairJvm(bytes, pair)
      assert(pair(0) == graft.functions.Hashing.md5LongJvm(bytes))
      assert(pair(1) == r.getLong(1))
    }
  }

  test("wide simhash pairs are a subset of narrow pairs at the same radius (stricter fingerprint)") {
    val arr = docs.select(
      col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("tk"))
    val narrow = Dedup
      .simhashPairs(
        Dedup.simhashSignaturesFromTokens(arr, "doc_id", "tk", bits = 60),
        bits = 60, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wide = Dedup
      .simhashPairsWide(Dedup.simhashSignaturesWide(arr, "doc_id", "tk"), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // hamming_lo ≤ hamming_lo + hamming_hi ≤ 6, and sim_lo ≡ the narrow
    // signature — so every wide pair is a narrow pair with ≤ its hamming
    assert(wide.nonEmpty)
    assert(wide.forall { case (k, h) => narrow.get(k).exists(_ <= h) })
    // exact duplicates survive the stricter fingerprint at hamming 0
    assert(wide.values.exists(_ == 0L))
  }

  test("wideBandLayout: maxHamming+1 disjoint EVEN bands covering all 120 bits") {
    // radius 0 is rejected: its single 120-bit band cannot be stitched
    // into the 64-bit band key losslessly (exact dedup covers radius 0)
    assertThrows[IllegalArgumentException](Dedup.wideBandLayout(0))
    for (mh <- Seq(1, 3, 6, 11)) {
      val bands = Dedup.wideBandLayout(mh)
      assert(bands.size == mh + 1)
      val covered = bands.flatMap { case (_, off, len) => off until (off + len) }
      assert(covered.sorted == (0 until 120).toSeq, s"mh=$mh")
      assert(covered.distinct.size == covered.size)
      // evenness — the scale property: no band narrower than ⌊120/n⌋,
      // so the SMALLEST bucket space is as wide as n bands allow
      val base = 120 / (mh + 1)
      assert(bands.forall { case (_, _, len) => len == base || len == base + 1 })
    }
    // radius 6: min band width 17 → every bucket space ≥ 2^17 (the old
    // word-aligned layout's 15-bit bands saturated at the 5th decade)
    assert(Dedup.wideBandLayout(6).map(_._3).min == 17)
  }

  test("SimhashTokens ignores null array elements instead of NPEing") {
    import spark.implicits._
    val clean = Seq((1L, Seq("a", "b", "a"))).toDF("doc_id", "tk")
    val dirty = clean.withColumn(
      "tk", expr("transform(array('a', NULL, 'b', NULL, 'a'), x -> x)"))
    val a = Dedup.simhashSignaturesFromTokens(clean, "doc_id", "tk", bits = 60)
      .head().getLong(1)
    val b = Dedup.simhashSignaturesFromTokens(dirty, "doc_id", "tk", bits = 60)
      .head().getLong(1)
    // nulls are neither hashed nor counted in the majority threshold
    assert(a == b)
  }

  test("persisted IVF: build once probes identically twice; append routes through the STORED quantizer") {
    val queries = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val corpusAll = embs.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val cents = embs.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select(col("vec_id").as("cent_id"), col("v").as("cent_v"), col("nrm").as("cent_nrm"))
    val path = tempDir("graft_ivf_spec").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
      .toSeq
    // hold a batch out of the build, then ingest it incrementally
    val held = corpusAll.filter(col("neighbor_id") % 7 === 0)
    Ann.ivfBuild(corpusAll.filter(col("neighbor_id") % 7 =!= 0), cents, path)
    Ann.ivfAppend(spark, held, path)
    val p1 = rows(Ann.ivfProbe(spark, path, queries, k = 5, nProbe = 2))
    val p2 = rows(Ann.ivfProbe(spark, path, queries, k = 5, nProbe = 2))
    assert(p1 == p2, "two probes of one stored index must agree exactly")
    // build + incremental append ≡ the inline one-shot query over the
    // full corpus: appended vectors landed in exactly the cells a fresh
    // build would choose
    val inline = rows(Ann.ivfTopK(queries, corpusAll, cents, k = 5, nProbe = 2))
    assert(p1 == inline, "stored probe must equal the inline IVF result")
    assert(p1.nonEmpty)
  }

  test("MIPS: inner-product order beats cosine order where magnitude is signal; LSH route reranks exactly") {
    import spark.implicits._
    // q = (1,0): vector a = (3,4) wins on dot (3 vs 0.99) but LOSES on
    // cosine (0.6 vs 1.0) — the crafted case where MIPS ≠ cosine
    val qs = Ann.withNorm(Seq((0L, Seq(1.0, 0.0))).toDF("query_id", "q_v"), "q_v", "q_nrm")
    val cs = Ann.withNorm(
      Seq((10L, Seq(3.0, 4.0)), (11L, Seq(0.99, 0.0))).toDF("neighbor_id", "c_v"),
      "c_v", "c_nrm")
    val mips = Ann.mipsTopK(qs, cs, k = 1).head()
    val cosine = Ann.bruteForceTopK(qs, cs, k = 1).head()
    assert(mips.getLong(2) == 10L && mips.getDouble(3) == 3.0)
    assert(cosine.getLong(2) == 11L, "cosine must prefer the aligned short vector")

    // real fixture: every LSH-routed hit carries the EXACT raw dot (the
    // reduction only steers candidates), and recall is non-trivial
    val queries = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val corpus = embs.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val exact = Ann.mipsTopK(queries, corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val routed = Ann.mipsLshTopK(queries, corpus, k = 5, bands = 4, bitsPerBand = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(routed.nonEmpty)
    val allDots = Ann.mipsTopK(queries, corpus, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(routed.forall { case (k2, d) => allDots.get(k2).contains(d) },
      "routed dots must equal the exact raw dot for the same pair")
    val recall = (exact.keySet & routed.keySet).size.toDouble / exact.size
    assert(recall > 0.3, s"augmented-LSH recall collapsed: $recall")
  }

  test("winnowFingerprints: shared-run guarantee, rightmost-tie rule, short-doc edge") {
    import spark.implicits._
    val k = 3; val w = 4
    // two docs sharing exactly a w+k−1 = 6-token run (the guarantee
    // floor), embedded in otherwise-disjoint text
    val run = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two three $run four five six"),
      (2L, s"seven eight $run nine ten eleven twelve"),
      (3L, "completely different words here with no overlap at all"),
      (4L, "short doc"), // < k tokens after the guard: no grams
      (5L, "x x x x x x x x")) // all-equal hashes: ties exercise the rule
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fps.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._3).toSet }
    // the SWA guarantee: a shared ≥ w+k−1-token run ⇒ ≥ 1 shared fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "6-token shared run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "disjoint docs share nothing")
    assert(!byDoc.contains(4L), "a doc with < k tokens selects nothing")
    // all-equal hashes: every window's min ties, rightmost wins, so the
    // selected positions are exactly w..m (m = n−k+1 = 6 grams)
    val pos5 = fps.filter(_._1 == 5L).map(_._2).sorted.toSeq
    assert(pos5 == (w.toLong to 6L))
    // sparsity: winnowing keeps ≈ 2/(w+1) of positions, never all of them
    val doc1Grams = df.filter($"doc_id" === 1L).head.getString(1).split(" ").length - k + 1
    assert(byDoc(1L).size < doc1Grams)
  }

  test("ivfMaintain: skewed append trips the fence, the split restores balance, cold cells stay bit-identical") {
    import spark.implicits._
    def vec(xs: Double*) = xs.toSeq
    def corpusDf(rows: Seq[(Long, Seq[Double])]) = Ann.withNorm(
      rows.toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    // four unit-axis centroids; cell 1's region has TWO sub-directions
    // (A = +y lean, B = +z lean) so the split target is well-defined
    val cents = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0, 0, 1)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    val dirA = (id: Long, eps: Double) => id -> vec(1, 0.3 + eps, 0, 0)
    val dirB = (id: Long, eps: Double) => id -> vec(1, 0, 0.3 + eps, 0)
    val base = Seq(
      dirA(1L, 0.0), dirB(2L, 0.0), dirA(3L, 0.01), dirB(4L, 0.01),
      5L -> vec(0, 1, 0.01, 0), 6L -> vec(0, 1, 0.02, 0),
      7L -> vec(0, 1, 0.03, 0), 8L -> vec(0, 1, 0.04, 0),
      9L -> vec(0, 0.01, 1, 0), 10L -> vec(0, 0.02, 1, 0),
      11L -> vec(0, 0.03, 1, 0), 12L -> vec(0, 0.04, 1, 0),
      13L -> vec(0, 0, 0.01, 1), 14L -> vec(0, 0, 0.02, 1),
      15L -> vec(0, 0, 0.03, 1), 16L -> vec(0, 0, 0.04, 1))
    val skew = // 20 vectors, all routed to cell 1, 10 per sub-direction
      (101L to 110L).map(i => dirA(i, 0.001 * (i - 101))) ++
        (111L to 120L).map(i => dirB(i, 0.001 * (i - 111)))
    val path = tempDir("graft_ivf_maint").toString
    Ann.ivfBuild(corpusDf(base), cents, path)
    assert(Ann.ivfImbalance(spark, path) == 1.0) // 4 cells × 4 members
    Ann.ivfAppend(spark, corpusDf(skew), path)
    // cell 1 now holds 24 of 36 → imbalance 24·4/36 ≈ 2.67 trips the fence
    assert(Ann.ivfImbalance(spark, path) > 2.0)

    def fileState(cell: Long) = {
      val dir = new java.io.File(s"$path/lists/cent_id=$cell")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    }
    def probe(q: Seq[Double], nProbe: Int, k: Int = 3) = {
      val qDf = Ann.withNorm(
        Seq(0L -> q).toDF("query_id", "q_v"), "q_v", "q_nrm")
      Ann.ivfProbe(spark, path, qDf, k = k, nProbe = nProbe)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    val coldQuery = vec(0, 0, 1, 0.05) // routes to cell 3, untouched by the split
    val coldBefore = probe(coldQuery, nProbe = 1)
    val cell3Before = fileState(3L)

    assert(Ann.ivfMaintain(spark, path, fence = 2.0, splitInto = 2, iters = 2))

    // balance restored under the fence; a second pass is a no-op
    assert(Ann.ivfImbalance(spark, path) < 2.0)
    assert(!Ann.ivfMaintain(spark, path, fence = 2.0, splitInto = 2, iters = 2))
    // the member set is preserved exactly (no loss, no dup) and the hot
    // cell's partition is gone
    val ids = spark.read.parquet(s"$path/lists").select("neighbor_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == (base.map(_._1) ++ skew.map(_._1)).sorted)
    assert(!new java.io.File(s"$path/lists/cent_id=1").exists)
    // cold cells were never rewritten (bit-identical files) and their
    // probes are unchanged
    assert(fileState(3L) == cell3Before)
    assert(probe(coldQuery, nProbe = 1) == coldBefore)
    // the quantizer swapped the hot centroid for the sub-centroids
    val centIds = spark.read.parquet(s"$path/centroids")
      .select("cent_id").collect().map(_.getLong(0)).toSet
    assert(centIds == Set(2L, 3L, 4L, 5L, 6L))
    // a query at a sub-direction center routes nProbe=1 to ONE sub-cell
    // whose members are that sub-direction's vectors
    val aHits = probe(vec(1, 0.3, 0, 0), nProbe = 1, k = 12).map(_._2).toSet
    assert(aHits == (Set(1L, 3L) ++ (101L to 110L)))
    // recall preserved: a query in the hot region probing both sub-cells
    // matches exact brute force over the full corpus
    val hotQ = Ann.withNorm(
      Seq(0L -> vec(1.0, 0.15, 0.15, 0.0)).toDF("query_id", "q_v"), "q_v", "q_nrm")
    val brute = Ann.bruteForceTopK(hotQ, corpusDf(base ++ skew), k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(probe(vec(1, 0.15, 0.15, 0), nProbe = 2, k = 5).map(t => (t._1, t._2)) == brute)

    // the wired ingest loop (auto split arity): a balanced batch appends
    // without maintenance; a skewed surge trips the fence and
    // self-balances in the same call
    val calm = corpusDf(Seq(301L -> vec(0, 1, 0.05, 0), 302L -> vec(0, 0, 0.05, 1)))
    assert(!Ann.ivfAppendMaintained(spark, calm, path, fence = 2.0, iters = 2))
    val surge = corpusDf((401L to 460L).map(i => dirA(i, 0.0001 * (i - 401))))
    assert(Ann.ivfAppendMaintained(spark, surge, path, fence = 2.0, iters = 2),
      "a skewed surge must trip the fence and rebalance in the same call")
    assert(Ann.ivfImbalance(spark, path) < 2.0)
    // nothing lost across the wired loop either
    val idsAfter = spark.read.parquet(s"$path/lists").select("neighbor_id")
      .collect().map(_.getLong(0)).toSeq
    assert(idsAfter.sorted ==
      (base.map(_._1) ++ skew.map(_._1) ++ Seq(301L, 302L) ++ (401L to 460L)).sorted)
  }

  test("duplicateClusters finds connected components and canonical survivors") {
    import spark.implicits._
    // two chains (1-2-3-4 transitively, 7-8) and an isolated pair 5-6
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("a_id", "b_id")
    val comps = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponentsBigStar matches duplicateClusters on chains, cliques and stars") {
    import spark.implicits._
    // a long chain (the case where propagation needs O(length) rounds
    // and star contraction O(log²)), a clique, a star, an isolated pair
    val chain = (10L until 30L).map(i => (i, i + 1))
    val clique = for {
      a <- 100L to 104L; b <- 100L to 104L if a < b
    } yield (a, b)
    val star = (201L to 206L).map(i => (200L, i))
    val pairs = (chain ++ clique ++ star ++ Seq((300L, 301L)))
      .toDF("a_id", "b_id")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = asMap(Dedup.duplicateClusters(pairs))
    val got = asMap(Dedup.connectedComponentsBigStar(pairs))
    assert(got == expected)
    assert(got(30L) == 10L && got(104L) == 100L && got(206L) == 200L)
  }

  test("connectedComponentsBigStar matches duplicateClusters on the real minhash pairs") {
    val pairs = Dedup.minhashLsh(docs, numHashes = 16, bands = 8, threshold = 0.8)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(
      asMap(Dedup.connectedComponentsBigStar(pairs)) ==
        asMap(Dedup.duplicateClusters(pairs)))
  }

  test("containment finds a small doc swallowed by a big one that Jaccard misses") {
    import spark.implicits._
    val quote = (1 to 8).map(i => s"w$i").mkString(" ") // 6 shingles at k=3
    val page = quote + " " + (100 to 160).map(i => s"p$i").mkString(" ")
    val other = (200 to 220).map(i => s"q$i").mkString(" ")
    val crafted = Seq((1L, quote), (2L, page), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containment(crafted, k = 3, threshold = 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 1 is fully inside doc 2 (containment 1.0) but NOT vice versa;
    // Jaccard at the same threshold sees nothing
    assert(cont == Set((1L, 2L)))
    val jac = Dedup.ngramJaccard(crafted, k = 3, threshold = 0.9).count()
    assert(jac == 0L)
  }

  test("triangleCounts: K4 gives every node 3 triangles; paths and stars give none") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in C(3,2)=3), a path
    // 5-6-7 (wedge, no closing edge), and a star 8-{9,10,11} (hub with
    // no neighbor-neighbor edges — the case degree orientation must
    // not explode or miscount)
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L),
      (8L, 9L), (8L, 10L), (8L, 11L)).toDF("a_id", "b_id")
    val got = Dedup.triangleCounts(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: two triangles sharing an edge count its endpoints twice") {
    import spark.implicits._
    // {1,2,3} and {1,2,4} share edge 1-2
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
      .toDF("a_id", "b_id")
    val got = Dedup.triangleCounts(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("duplicateClusters reliable-checkpoint mode matches local mode") {
    import spark.implicits._
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("a_id", "b_id")
    val ckptDir = tempDir("graft-cc-ckpt").toString
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = asMap(Dedup.duplicateClusters(pairs))
    spark.sparkContext.setCheckpointDir(ckptDir)
    try {
      val reliable = asMap(Dedup.duplicateClusters(pairs))
      assert(reliable == local)
      // the reliable mode really wrote cluster-durable round snapshots
      val wrote = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        try s.filter(p => java.nio.file.Files.isRegularFile(p)).count() > 0
        finally s.close()
      }
      assert(wrote)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("duplicateClusters on real ngram pairs keeps one survivor per clique") {
    val pairs = Dedup.ngramJaccard(docs, k = 3, threshold = 0.8)
    val comps = Dedup.duplicateClusters(pairs)
    val survivors = comps.filter(col("id") === col("comp")).count()
    val members = comps.count()
    assert(members > survivors && survivors > 0)
    // every component label is itself a member id
    assert(comps.select("comp").distinct().count() == survivors)
  }

  test("ngramJaccard keeps a pair at exactly J = threshold (float-boundary regression)") {
    import spark.implicits._
    // |A| = 28 shingles, |B| = 35, overlap 28 -> J = 28/35 = 0.8 exactly.
    // Unguarded double arithmetic prunes this true pair: 0.8*35 and
    // 4/9*63 both overshoot their exact values, failing the PPJoin size
    // and positional filters at the boundary.
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = (1 to 37).map(i => s"w$i").mkString(" ")
    val two = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(two, k = 3, threshold = 0.8).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 0.8)
  }

  test("keepCanonical filters a corpus to cluster survivors plus untouched docs") {
    import spark.implicits._
    val corpus = (1L to 10L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val kept = Dedup
      .keepCanonical(corpus, Dedup.duplicateClusters(pairs))
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    // 2,3 fold into 1; 8 folds into 7; everything unpaired survives
    assert(kept == Set(1L, 4L, 5L, 6L, 7L, 9L, 10L))
  }

  test("leakageSafeSplit: no near-dup pair ever straddles the train/held-out boundary") {
    val pairs = Dedup.minhashLsh(docs, numHashes = 16, bands = 8, threshold = 0.8)
    val clusters = Dedup.duplicateClusters(pairs)
    val split = graft.operators.Sampling
      .leakageSafeSplit(docs, clusters, "doc_id", 0.8)
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // total coverage, both sides populated
    assert(split.size == docs.count())
    assert(split.values.toSet == Set("train", "heldout"))
    // the leakage property itself: every near-dup pair lands together
    val straddling = pairs
      .select("a_id", "b_id").collect()
      .filter(r => split(r.getLong(0)) != split(r.getLong(1)))
    assert(straddling.isEmpty, s"leaked pairs: ${straddling.toSeq}")
  }

  test("Materialize.cut honors a session checkpoint dir (reliable mode) with identical results") {
    import java.nio.file.Files
    val local = Dedup.ngramJaccard(docs, k = 3, threshold = 0.8)
      .collect().map(_.toSeq).toSet
    val dir = tempDir("graft-reliable-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      // reliable mode: same rows, and the cut actually wrote to the dir
      val reliable = Dedup.ngramJaccard(docs, k = 3, threshold = 0.8)
        .collect().map(_.toSeq).toSet
      assert(reliable == local)
      val wrote = Files.walk(dir).filter(Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode must write checkpoint files")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("embeddingCosine threshold is monotone") {
    val lo = Dedup.embeddingCosine(embs, threshold = 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hi = Dedup.embeddingCosine(embs, threshold = 0.6)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hi.subsetOf(lo))
  }

  test("embeddingCosineLsh pairs are a subset of the all-pairs baseline, with decent recall") {
    // the banded scale path can only MISS pairs (candidate pruning),
    // never invent or mis-score them: every (a,b,cos) it emits must be
    // in the all-pairs result verbatim
    val allPairs = Dedup.embeddingCosine(embs, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Dedup.embeddingCosineLsh(embs, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(banded.subsetOf(allPairs), s"invented pairs: ${banded diff allPairs}")
    assert(banded.nonEmpty)
    // 8 bands x 4 bits at cos>=0.45 gives ~0.8 expected recall; require
    // half to catch a wiring bug (e.g. bands all using the same planes)
    assert(
      banded.size * 2 >= allPairs.size,
      s"recall collapsed: ${banded.size}/${allPairs.size}")
    // more bands -> strictly more candidates -> recall is monotone
    val moreBands = Dedup.embeddingCosineLsh(embs, threshold = 0.45, bands = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(banded.subsetOf(moreBands))
  }

  test("embeddingNearDups routes by threshold: bands above the crossover, co-cluster below") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // high threshold: no organic cos >= 0.9 pairs in the fixture (max
    // pairwise cos ~0.48), so plant exact clones — the banded route must
    // recover exactly the planted pairs, and the routed result must BE
    // the banded-LSH result
    val planted = embs.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000L).as("vec_id"), col("v"), col("nrm"))
    val withClones = embs.unionByName(planted)
    val hi = pairs(Dedup.embeddingNearDups(withClones, threshold = 0.9))
    // the routed result IS the banded result at the tuned geometry
    val (bands, bits) = Dedup.lshTune(505L, 0.9)
    assert(hi == pairs(Dedup.embeddingCosineLsh(
      withClones, threshold = 0.9, bands = bands, bitsPerBand = bits)))
    assert(hi == (0L until 5L).map(i => (i, i + 1000L, 1.0)).toSet)
    // low threshold: the routed result IS the SemDeDup co-cluster result
    val e = graft.operators.Materialize.cut(embs)
    val assign = graft.clustering.Clustering
      .kmeansAssignAuto(e, targetClusterSize = 200, minK = 10, iters = 2)
    val lo = pairs(Dedup.embeddingNearDups(e, threshold = 0.45))
    assert(lo == pairs(
      graft.clustering.Clustering.semanticPairs(e, assign, threshold = 0.45)))
    assert(lo.nonEmpty)
    // the low route only ever MISSES pairs vs all-pairs, never invents:
    // same verify formula, so emitted triples match the baseline verbatim
    val allLo = pairs(Dedup.embeddingCosine(embs, threshold = 0.45))
    assert(lo.subsetOf(allLo), s"invented pairs: ${lo diff allLo}")
  }

  test("lshTune: candidates stay linear (bits track corpus size), recall target met") {
    // bits grow with log2(n): the signature space must track the corpus
    // or random collisions go quadratic (the r7 flag: 16 buckets per
    // band at 20k vectors)
    val (b2k, bits2k) = Dedup.lshTune(2000L, 0.9)
    val (b20k, bits20k) = Dedup.lshTune(20000L, 0.9)
    assert(bits20k > bits2k, "signature bits must grow with the corpus")
    assert((1L << bits20k) >= 20000L / 20, "bucket space must track n")
    // analytic recall at the tuned geometry clears the 0.99 target
    def recall(bands: Int, bits: Int, s: Double): Double = {
      val p1 = 1.0 - math.acos(s) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p1, bits.toDouble), bands.toDouble)
    }
    assert(recall(b2k, bits2k, 0.9) >= 0.99)
    assert(recall(b20k, bits20k, 0.9) >= 0.99)
    // a lower threshold at equal n needs MORE bands (weaker per-bit
    // signal), which in turn buys bits back for the collision budget
    val (bLow, bitsLow) = Dedup.lshTune(20000L, 0.7)
    assert(bitsLow >= bits20k && bLow > b20k)
    // tiny corpora stay at the 4-bit floor
    assert(Dedup.lshTune(20L, 0.9)._2 == 4)
  }

  test("kmeansAssignAuto holds cluster size: k follows the corpus, floor at minK") {
    // 500-vector fixture: ceil(500/50) = 10 target cells; minK floors k
    // when the corpus is smaller than one target cell
    val tight = graft.clustering.Clustering
      .kmeansAssignAuto(embs, targetClusterSize = 50, minK = 2, iters = 1)
    val kTight = tight.select("cluster").distinct().count()
    assert(kTight > 2 && kTight <= 10, s"expected <=10 populated cells, got $kTight")
    val floored = graft.clustering.Clustering
      .kmeansAssignAuto(embs, targetClusterSize = 100000, minK = 3, iters = 1)
    assert(floored.select("cluster").distinct().count() <= 3)
    // identical to a direct kmeansAssign at the resolved k
    val direct = graft.clustering.Clustering
      .kmeansAssign(embs, k = 10, iters = 1)
    assert(
      tight.orderBy("vec_id").collect().toSeq ==
        direct.orderBy("vec_id").collect().toSeq)
  }

  test("bruteForceTopK k=3 is the prefix of k=5 per query") {
    val q = embs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val c = embs.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val top5 = Ann.bruteForceTopK(q, c, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val top3 = Ann.bruteForceTopK(q, c, k = 3).collect()
    assert(top3.nonEmpty)
    top3.foreach { r =>
      assert(top5((r.getLong(0), r.getLong(1))) == r.getLong(2))
    }
  }

  test("ivfTopK with nProbe = all centroids equals brute force over assigned buckets") {
    val q = embs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val c = embs.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val cents = embs.filter(col("vec_id") >= 5 && col("vec_id") < 9)
      .select(col("vec_id").as("cent_id"), col("v").as("cent_v"), col("nrm").as("cent_nrm"))
    // probing every centroid makes IVF exhaustive -> must equal brute force
    val ivf = Ann.ivfTopK(q, c, cents, k = 5, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val bf = Ann.bruteForceTopK(q, c, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(ivf == bf)
  }

  test("pqTopK with shortlist = whole corpus equals brute force (rerank is exact)") {
    val q = embs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val c = embs.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val n = c.count().toInt
    val pq = Ann.pqTopK(q, c, m = 8, ks = 8, dim = 64, shortlist = n, k = 5)
      .select("query_id", "rank", "neighbor_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val bf = Ann.bruteForceTopK(q, c, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(pq == bf)
  }

  test("pqTopK recall is monotone in shortlist size (true top-k members in the shortlist always survive rerank)") {
    val q = embs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val c = embs.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val bf = Ann.bruteForceTopK(q, c, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(shortlist: Int): Double = {
      val pq = Ann.pqTopK(q, c, shortlist = shortlist, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (pq intersect bf).size.toDouble / bf.size
    }
    val r10 = recall(10)
    val r40 = recall(40)
    assert(r40 >= r10, s"recall@5 shortlist=40 ($r40) < shortlist=10 ($r10)")
    assert(r40 > 0, "a 40-deep shortlist should recover at least one true neighbor")
  }

  test("bfsDistances: min-hop levels, the hop cap, and isolated seeds") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a shortcut 1-3: dist(3) must be 1, not 2;
    // node 5 sits 3 hops out via 1-3-4-5; node 99 is an isolated seed
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L))
      .toDF("a_id", "b_id")
    val seeds = Seq(1L, 99L).toDF("doc_id")
    def dists(maxHops: Int): Map[Long, Long] =
      Dedup.bfsDistances(pairs, seeds, maxHops).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dists(3) == Map(
      1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // the cap truncates the frontier, it does not re-label closer nodes
    assert(dists(2) == Map(
      1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("kCore: peels pendant chains, keeps the clique, converges") {
    import spark.implicits._
    // triangle 1-2-3 (the 2-core) with a pendant chain 3-4-5 hanging
    // off it: round 1 peels 5 (deg 1), round 2 peels 4 — a chain needs
    // MULTIPLE rounds, which is exactly what a fixed-round peel must
    // cover; isolated pair 8-9 peels in round 1
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("a_id", "b_id")
    def core(rounds: Int): Map[Long, Long] =
      Dedup.kCore(pairs, k = 2, rounds = rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
    assert(core(2) == expected)
    // fixed point: extra rounds change nothing once stable
    assert(core(4) == expected)
    // one round is NOT enough for the chain — the truncation shows the
    // intermediate state (4 still present via its edge to 3)
    assert(core(1).contains(4L))
  }

  test("kCore matches a local reference peel on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.07
      } yield (a.toLong, b.toLong)).toVector
      // local reference: peel to the true fixpoint
      def peel(es: Vector[(Long, Long)], k: Int): Map[Long, Long] = {
        var cur = es
        var done = false
        while (!done) {
          val deg = cur.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
            .map { case (v, xs) => v -> xs.size.toLong }
          val keep = deg.filter(_._2 >= k).keySet
          val nxt = cur.filter(e => keep(e._1) && keep(e._2))
          done = nxt.size == cur.size
          cur = nxt
        }
        cur.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .map { case (v, xs) => v -> xs.size.toLong }
      }
      val expected = peel(edges, 2)
      val got = Dedup
        .kCore(edges.toDF("a_id", "b_id"), k = 2, rounds = n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("kCore at the oracle parameters is stable one round past KcoreRounds") {
    import graft.queries.PipelineQueries
    val pairs = Dedup.minhashLsh(
      docs, k = 3,
      numHashes = PipelineQueries.MinhashSeeds,
      bands = PipelineQueries.MinhashBands,
      threshold = 0.8)
    def run(rounds: Int): Set[(Long, Long)] =
      Dedup.kCore(pairs, k = PipelineQueries.KcoreK, rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(PipelineQueries.KcoreRounds) == run(PipelineQueries.KcoreRounds + 1))
  }

  test("sortedNeighborhood pairs sort-adjacent near-dups, misses cross-block ones") {
    import spark.implicits._
    val near1 = "alpha beta gamma delta epsilon zeta"
    val near2 = "alpha beta gamma delta epsilon eta" // same block, adjacent
    val far = "zzz totally different text entirely here"
    // same CONTENT as near1 but a different first-4 prefix: the
    // documented block-boundary miss of distributed SNM
    val crossBlock = "beta gamma delta epsilon zeta alpha"
    val docs = Seq(
      (1L, near1), (2L, near2), (3L, far), (4L, crossBlock))
      .toDF("doc_id", "text")
    val pairs = Dedup
      .sortedNeighborhood(docs, window = 3, blockChars = 4, k = 3, threshold = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 2L)), s"adjacent near-dups must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "a cross-block near-dup is the documented SNM miss")
  }

  test("sortedNeighborhood window bounds the comparisons") {
    import spark.implicits._
    // five docs in one block, sorted 1..5; w=2 compares only adjacent
    val docs = (1 to 5)
      .map(i => (i.toLong, s"aaaa common body text nr$i"))
      .toDF("doc_id", "text")
    val w2 = Dedup
      .sortedNeighborhood(docs, window = 2, blockChars = 4, k = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w4 = Dedup
      .sortedNeighborhood(docs, window = 4, blockChars = 4, k = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w2 == Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(w2.subsetOf(w4) && w4.size > w2.size)
  }

  test("simhashPairs: legacy 60-bit geometry fences oversized corpora toward the wide API") {
    import spark.implicits._
    val sigs = Dedup.simhashSignaturesFromTokens(
      Seq(
        (1L, Seq("a", "b")), (2L, Seq("a", "b")), (3L, Seq("c", "d")))
        .toDF("doc_id", "tk"),
      "doc_id", "tk", bits = 60)
    // over the fence: loud failure naming the scale-safe replacement
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPairs(sigs, maxHamming = 6, fenceDocs = 2L).count())
    assert(e.getMessage.contains("simhashPairsWide"))
    // at the fence and with the explicit opt-out: same pair set
    val atFence = Dedup.simhashPairs(sigs, maxHamming = 6, fenceDocs = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val optOut = Dedup.simhashPairs(sigs, maxHamming = 6, fenceDocs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atFence == optOut && atFence.contains((1L, 2L)))
  }

  test("pqTrain: deterministic per-subspace Lloyd, recall never below the untrained seeds") {
    val qs = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val cs = embs.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val exact = Ann.bruteForceTopK(qs, cs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(cb: Ann.PqCodebook): Double = {
      val hits = Ann.pqTopKWith(qs, cs, cb, shortlist = 20, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact & hits).size.toDouble / exact.size
    }
    val untrained = Ann.pqCodebook(cs, 8, 8, 64)
    val trained = Ann.pqTrain(cs, 8, 8, 64, iters = 2)
    // iters = 0 degrades to the seed codebook; training is deterministic
    // (fixed-point means) — a second run rebuilds bit-identical centroids
    assert(Ann.pqTrain(cs, 8, 8, 64, iters = 0).cents == untrained.cents)
    assert(Ann.pqTrain(cs, 8, 8, 64, iters = 2).cents == trained.cents)
    // Lloyd moved the centroids off the raw seed rows...
    assert(trained.cents != untrained.cents)
    // ...and shortlist recall never drops below the untrained seeds'
    // (measured: equal at sf0.001, +0.18 absolute at sf0.01)
    assert(recall(trained) >= recall(untrained))
  }

  test("ivfPqTopKWith: probing every cell recovers the plain PQ route exactly") {
    val qs = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val cs = embs.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val cents = embs.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select(col("vec_id").as("cent_id"), col("v").as("cent_v"), col("nrm").as("cent_nrm"))
    val cb = Ann.pqTrain(cs, 8, 8, 64, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    // nProbe = every cell → the candidate set IS the full corpus, so the
    // combined route degrades to pqTopKWith bit-for-bit
    val all = Ann.ivfPqTopKWith(qs, cs, cents, cb, k = 5, nProbe = 8, shortlist = 20)
    val pq = Ann.pqTopKWith(qs, cs, cb, shortlist = 20, k = 5)
    assert(rows(all) == rows(pq))
    // a real probe budget: every returned neighbor's cell is one the
    // query probes (the IVF routing invariant on the combined route)
    val probed = Ann.ivfPqTopKWith(qs, cs, cents, cb, k = 5, nProbe = 2, shortlist = 20)
    val qCells = Ann.cellRanks(qs, broadcast(cents), "query_id", "q_v", "q_nrm")
      .filter(col("cent_rank") <= 2)
      .select("query_id", "cent_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nCells = Ann.cellRanks(cs, broadcast(cents), "neighbor_id", "c_v", "c_nrm")
      .filter(col("cent_rank") === 1)
      .select("neighbor_id", "cent_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probed.select("query_id", "neighbor_id").collect().foreach { r =>
      assert(
        qCells.contains((r.getLong(0), nCells(r.getLong(1)))),
        s"neighbor ${r.getLong(1)} served from an unprobed cell for query ${r.getLong(0)}")
    }
  }

  test("persisted IVF-PQ: probe equals the inline route; append encodes like a fresh build") {
    val qs = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val full = embs.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val base = full.filter(col("neighbor_id") < 100)
    val rest = full.filter(col("neighbor_id") >= 100)
    val cents = embs.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select(col("vec_id").as("cent_id"), col("v").as("cent_v"), col("nrm").as("cent_nrm"))
    val cb = Ann.pqTrain(full, 8, 8, 64, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    val dir = tempDir("graft_ivfpq_spec").toString
    Ann.ivfPqBuild(base, cents, cb, dir)
    // the persisted codebook round-trips bit-identically
    assert(Ann.ivfPqCodebook(spark, dir).cents == cb.cents)
    // stored probe ≡ inline combined route over the same base corpus
    assert(
      rows(Ann.ivfPqProbe(spark, dir, qs, k = 5, nProbe = 2, shortlist = 20)) ==
        rows(Ann.ivfPqTopKWith(qs, base, cents, cb, k = 5, nProbe = 2, shortlist = 20)))
    // append assigns + encodes through the STORED quantizer/codebook:
    // the probe now matches the inline route over the UNION corpus
    Ann.ivfAppend(spark, rest, dir)
    assert(
      rows(Ann.ivfPqProbe(spark, dir, qs, k = 5, nProbe = 2, shortlist = 20)) ==
        rows(Ann.ivfPqTopKWith(qs, full, cents, cb, k = 5, nProbe = 2, shortlist = 20)))
  }

  test("ivf probe curve: monotone, exact at full probes, and consistent with the recall row") {
    import graft.queries.PipelineQueries
    val curve = PipelineQueries.qIvfProbeCurve(spark, SfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq == (1L to 8L))
    // cumulative hits never decrease with more probes
    curve.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._2, s"curve regressed at ${b._1}")
      case _           =>
    }
    // probing every cell reaches every exact neighbor's cell: recall 1.0
    assert(curve.last._3 == 1.0d, s"full-probe recall ${curve.last._3}")
    // the curve's value at the route default equals the recall row's
    // aggregate (sum of per-query hits over 5·|Q|)
    val recallRow = PipelineQueries.qAnnRecallIvf(spark, SfDir)
      .agg(sum("n_hits")).head().getLong(0)
    val nq = embs.filter(col("vec_id") < 10).count()
    val atDefault = curve.find(_._1 == PipelineQueries.IvfProbes.toLong).get
    assert(
      atDefault._2 == recallRow,
      s"curve hits ${atDefault._2} vs recall-row hits $recallRow over $nq queries")
  }

  test("ivfpq shortlist curve: monotone, consistent with the recall row, candidates replay the route") {
    import graft.queries.PipelineQueries
    val curve = PipelineQueries.qIvfPqShortlistCurve(spark, SfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq == PipelineQueries.IvfPqShortlistGrid.map(_.toLong))
    // a wider shortlist can only swap a true hit for another true hit
    curve.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._2, s"curve regressed at ${b._1}")
      case _           =>
    }
    // the curve's value at the route default equals the recall row's
    // aggregate (the route identity)
    val recallRow = PipelineQueries.qAnnRecallIvfPq(spark, SfDir)
      .agg(sum("n_hits")).head().getLong(0)
    val atDefault = curve.find(_._1 == PipelineQueries.PqShortlist.toLong).get
    assert(atDefault._2 == recallRow)
    // the kernel replays the route exactly: cosine top-5 among
    // ADC-rank ≤ shortlist candidates == ivfPqTopKWith's pairs
    val qs = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val cs = embs.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val cents = embs.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select(col("vec_id").as("cent_id"), col("v").as("cent_v"), col("nrm").as("cent_nrm"))
    val cb = Ann.pqTrain(cs, 8, 8, 64, iters = 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val fromKernel = Ann
      .ivfPqScoredCandidates(qs, cs, cents, cb, nProbe = 2, cap = 20)
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") <= 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromRoute = Ann
      .ivfPqTopKWith(qs, cs, cents, cb, k = 5, nProbe = 2, shortlist = 20)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromKernel == fromRoute)
  }

  test("mipsLshTopK: empty corpus returns an empty result, not an NPE") {
    import spark.implicits._
    val qs = Ann.withNorm(
      Seq((0L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("query_id", "q_v"), "q_v", "q_nrm")
    val cs = Ann.withNorm(
      Seq.empty[(Long, Seq[Double])].toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    val out = Ann.mipsLshTopK(qs, cs, k = 5, bands = 2, bitsPerBand = 2, dim = 4)
    assert(out.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "dot"))
    assert(out.count() == 0L)
  }

  // ---- batched ivfMaintain: many simultaneously-hot cells ---------------

  /** 8-axis fixture: hot cells each hold two well-separated
    * sub-directions (axis + 0.3·e7 vs axis + 0.3·e8) so splitInto=2 has
    * an unambiguous target; cold cells hold 2 members each. */
  private def multiHotIndex(hotAxes: Seq[Int]): (String, Map[Int, (Set[Long], Set[Long])]) = {
    import spark.implicits._
    val dim = 8
    def axis(i: Int, scale: Double = 1.0): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i - 1) scale else 0.0)
    def plus(a: Seq[Double], b: Seq[Double]): Seq[Double] = a.zip(b).map { case (x, y) => x + y }
    val cents = (1 to dim).map(i => (i.toLong, axis(i)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    var next = 100L
    val members = Seq.newBuilder[(Long, Seq[Double])]
    val expected = scala.collection.mutable.Map.empty[Int, (Set[Long], Set[Long])]
    (1 to 6).foreach { i =>
      if (hotAxes.contains(i)) {
        // interleave sub-directions by id parity so the deterministic
        // lowest-id seeds (the first two members) span BOTH directions
        val ids = (next until next + 30L).toSeq
        val aIds = ids.filter(_ % 2 == 0).toSet
        val bIds = ids.filter(_ % 2 == 1).toSet
        aIds.foreach(id => members += id -> plus(axis(i), axis(7, 0.3 + 0.001 * (id % 15))))
        bIds.foreach(id => members += id -> plus(axis(i), axis(8, 0.3 + 0.001 * (id % 15))))
        next += 30
        expected(i) = (aIds, bIds)
      } else {
        members += next -> axis(i, 1.0); members += (next + 1) -> plus(axis(i), axis(i, 0.01))
        next += 2
      }
    }
    // cells 7 and 8 cold too (so the sub-direction axes have owners)
    members += next -> axis(7); members += (next + 1) -> axis(7, 1.01)
    members += (next + 2) -> axis(8); members += (next + 3) -> axis(8, 1.01)
    val corpus = Ann.withNorm(
      members.result().toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    val path = tempDir("graft_ivf_batch").toString
    Ann.ivfBuild(corpus, cents, path)
    (path, expected.toMap)
  }

  private def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      // listener delivery is async: wait for the bus to quiesce
      var last = -1
      var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val now = jobs.get
        if (now == last) same += 1 else { same = 0; last = now }
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  test("ivfMaintain batches hot cells: 3 simultaneous splits, constant job count, no cross-cell mixing") {
    val (path1, _) = multiHotIndex(Seq(1))
    val (path3, expected) = multiHotIndex(Seq(1, 2, 3))
    assert(Ann.ivfImbalance(spark, path3) > 2.0)

    val jobs1 = countJobs(
      assert(Ann.ivfMaintain(spark, path1, fence = 2.0, splitInto = 2, iters = 2)))
    val jobs3 = countJobs(
      assert(Ann.ivfMaintain(spark, path3, fence = 2.0, splitInto = 2, iters = 2)))
    // the batched maintenance schedules O(1) jobs in the hot-cell count
    assert(jobs3 == jobs1, s"3 hot cells took $jobs3 jobs vs $jobs1 for 1")

    assert(Ann.ivfImbalance(spark, path3) < 2.0)
    // every hot cell split into ITS OWN two sub-direction groups — no
    // member crossed cells, none lost, none duplicated
    val byCell = spark.read.parquet(s"$path3/lists")
      .select(col("cent_id").cast("long"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val allIds = byCell.values.toSeq.flatten
    assert(allIds.size == allIds.toSet.size, "duplicated member after batch split")
    expected.foreach { case (ax, (aIds, bIds)) =>
      assert(
        Seq(aIds, bIds).forall(g => byCell.values.exists(_ == g)),
        s"hot cell $ax: sub-direction groups not split cleanly")
    }
    // quantizer ids unique; members sit in their argmax sub-cell
    // (route-then-scan invariant held for every new cell)
    val quant = spark.read.parquet(s"$path3/centroids")
      .select(col("cent_id").cast("long")).collect().map(_.getLong(0)).toSeq
    assert(quant.size == quant.toSet.size)
    assert(byCell.keySet.subsetOf(quant.toSet))
  }

  test("ivfMaintain allocates sub-cell ids past EMPTY quantizer cells (no id collision)") {
    import spark.implicits._
    def vec(xs: Double*) = xs.toSeq
    // quantizer holds ids 1..4 (axes) AND id 5 at −e1: no member ever
    // argmax-routes to 5, so it is absent from the lists — the naive
    // max(list ids)+1 allocation would hand a new sub-cell id 5
    val cents = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0, 0, 1)),
      (5L, vec(-1, 0, 0, 0)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    val base = (0 until 3).flatMap(c =>
      (0 until 2).map(j => (200L + c * 10 + j, vec(0, 0, 0, 0).updated(c + 1, 1.0 + 0.01 * j))))
    // interleaved by parity: the two lowest-id seeds span both directions
    val hotA = (101L to 120L by 2).map(i => i -> vec(1, 0.3 + 0.001 * (i % 10), 0, 0))
    val hotB = (102L to 120L by 2).map(i => i -> vec(1, 0, 0.3 + 0.001 * (i % 10), 0))
    val corpus = Ann.withNorm(
      (base ++ hotA ++ hotB).toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    val path = tempDir("graft_ivf_empty").toString
    Ann.ivfBuild(corpus, cents, path)
    assert(Ann.ivfMaintain(spark, path, fence = 2.0, splitInto = 2, iters = 2))
    val quant = spark.read.parquet(s"$path/centroids")
      .select(col("cent_id").cast("long")).collect().map(_.getLong(0)).toSeq.sorted
    assert(quant.size == quant.toSet.size, s"duplicate cent_id in quantizer: $quant")
    // the empty cell's id survives untouched; new ids start past it
    assert(quant.contains(5L))
    assert(quant == Seq(2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("ivfRecover: crash-window orphans are deleted idempotently, probes unchanged throughout") {
    import spark.implicits._
    def vec(xs: Double*) = xs.toSeq
    val cents = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)), (3L, vec(0, 0, 1, 0)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    val corpus = Ann.withNorm(
      Seq(
        10L -> vec(1, 0.01, 0, 0), 11L -> vec(1, 0.02, 0, 0),
        20L -> vec(0, 1, 0.01, 0), 21L -> vec(0, 1, 0.02, 0),
        30L -> vec(0, 0.01, 1, 0), 31L -> vec(0, 0.02, 1, 0))
        .toDF("neighbor_id", "c_v"),
      "c_v", "c_nrm")
    val path = tempDir("graft_ivf_rec").toString
    Ann.ivfBuild(corpus, cents, path)
    def probe() = {
      val q = Ann.withNorm(
        Seq(0L -> vec(0.0, 1.0, 0.05, 0.0)).toDF("query_id", "q_v"), "q_v", "q_nrm")
      Ann.ivfProbe(spark, path, q, k = 2, nProbe = 1)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    }
    val before = probe()
    // simulate a crash AFTER the sub-cell append / BEFORE the delete: an
    // extra lists partition under an id the quantizer does not know
    spark.read.parquet(s"$path/lists").where(col("cent_id") === 2)
      .select("neighbor_id", "c_v", "c_nrm")
      .write.parquet(s"$path/lists/cent_id=77")
    // the orphan inflates cell statistics but can NEVER be probed
    // (routing is quantizer-driven), so probes stay correct even before
    // recovery runs
    assert(probe() == before)
    assert(Ann.ivfRecover(spark, path) == Seq(77L))
    assert(!new java.io.File(s"$path/lists/cent_id=77").exists)
    assert(Ann.ivfRecover(spark, path).isEmpty) // idempotent
    assert(probe() == before)
    // maintenance self-heals: the recovery pass runs first, so a
    // fence-quiet index with an orphan just loses the orphan
    spark.read.parquet(s"$path/lists").where(col("cent_id") === 2)
      .select("neighbor_id", "c_v", "c_nrm")
      .write.parquet(s"$path/lists/cent_id=88")
    assert(!Ann.ivfMaintain(spark, path, fence = 10.0, splitInto = 2, iters = 1))
    assert(!new java.io.File(s"$path/lists/cent_id=88").exists)
    assert(probe() == before)
  }

  test("ivfPqIngest: streamed batches land in both tiers, a surge self-balances inside the sink, commits are markered") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def vec(xs: Double*) = xs.toSeq
    def corpusDf(rows: Seq[(Long, Seq[Double])]) = Ann.withNorm(
      rows.toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    val cents = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0, 0, 1)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    val base = (1 to 4).flatMap(i =>
      Seq.tabulate(4)(j =>
        (i * 10L + j) -> Seq.tabulate(4)(k => if (k == i - 1) 1.0 else 0.01 * (j + 1))))
    val cb = Ann.pqTrain(corpusDf(base), m = 2, ks = 2, dim = 4, iters = 1)
    val path = tempDir("graft_ivfpq_ingest").toString
    val ckpt = tempDir("graft_ivfpq_ingest_ck").toString
    Ann.ivfPqBuild(corpusDf(base), cents, cb, path)

    val mem = MemoryStream[(Long, Seq[Double])](spark)
    val q = graft.streaming.StreamLog.ivfPqIngest(
      mem.toDS().toDF("neighbor_id", "c_v"),
      path, ckpt, fence = 2.0, splitInto = 2, iters = 2)
    try {
      // calm batch: two vectors in different cells — appended, no split
      mem.addData(Seq(301L -> vec(0, 1, 0.05, 0), 302L -> vec(0, 0, 0.05, 1)): _*)
      q.processAllAvailable()
      assert(Ann.ivfImbalance(spark, path) < 2.0)
      def ids(tier: String) = spark.read.parquet(s"$path/$tier")
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(ids("lists").contains(301L) && ids("codes").contains(302L))
      // a probe through the STORED index sees the streamed vector
      val probeQ = Ann.withNorm(
        Seq(0L -> vec(0.0, 1.0, 0.049, 0.0)).toDF("query_id", "q_v"), "q_v", "q_nrm")
      val hits = Ann.ivfPqProbe(spark, path, probeQ, k = 3, nProbe = 1, shortlist = 100)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(hits.contains(301L), s"streamed vector not served: $hits")
      // skewed surge into cell 1's region: the sink's wired maintenance
      // restores balance within the same micro-batch
      val surge = (401L to 440L).map(i =>
        i -> vec(1, (if (i % 2 == 0) 0.3 else 0.0) + 0.0001 * (i - 401),
          (if (i % 2 == 1) 0.3 else 0.0), 0))
      mem.addData(surge: _*)
      q.processAllAvailable()
      assert(Ann.ivfImbalance(spark, path) < 2.0, "surge must self-balance inside the sink")
      // nothing lost, tiers consistent
      val expect = base.map(_._1).toSet ++ Set(301L, 302L) ++ (401L to 440L)
      assert(ids("lists") == expect && ids("codes") == expect)
      // committed batches are markered (the replay fence); ignore the
      // local-FS .crc sidecars
      val markers = new java.io.File(s"$path/_ingest_commits").listFiles()
        .map(_.getName)
        .filter(n => n.startsWith("ivfpq0-batch-") && n.endsWith(".done"))
      assert(markers.sorted.toSeq ==
        Seq("ivfpq0-batch-0.done", "ivfpq0-batch-1.done"))
    } finally q.stop()
  }

  test("ivfPqStaleness: ~1 on same-distribution batches, trips the retrain fence on a planted shift") {
    val corpus = embs.filter(col("vec_id") >= 10 && col("vec_id") < 300)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val same = embs.filter(col("vec_id") >= 300)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val cents = embs.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select(col("vec_id").as("cent_id"), col("v").as("cent_v"), col("nrm").as("cent_nrm"))
    val cb = Ann.pqTrain(corpus, 8, 8, 64, iters = 2)
    val dir = tempDir("graft_ivfpq_stale").toString
    Ann.ivfPqBuild(corpus, cents, cb, dir)
    // a held-out batch from the SAME distribution reads ≈ 1 — append-only
    // ingest stays under the fence
    val sSame = Ann.ivfPqStaleness(spark, dir, same)
    assert(sSame > 0.3 && sSame < 3.0, s"same-distribution staleness $sSame should be ~1")
    assert(sSame < Ann.IvfPqRetrainFence)
    // the q_ann_recall_ivfpq_drift shift (+0.5/dim ≈ 4σ) trips it
    val shifted = same
      .select(
        col("neighbor_id"),
        org.apache.spark.sql.functions.transform(col("c_v"), x => x + lit(0.5d)).as("c_v"))
      .withColumn("c_nrm", VectorFns.norm(col("c_v")))
    val sShift = Ann.ivfPqStaleness(spark, dir, shifted)
    assert(
      sShift > Ann.IvfPqRetrainFence,
      s"planted 4-sigma shift must trip the retrain fence, got $sShift")
    // degenerate corners: empty batch distorts nothing
    assert(Ann.pqDistortion(corpus.limit(0), cb) == 0.0)
    // pre-stats index (built before the stats tier existed): the
    // baseline recomputes from lists/ and backfills, same verdicts
    val hconf = spark.sessionState.newHadoopConf()
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    statsPath.getFileSystem(hconf).delete(statsPath, true)
    val sLegacy = Ann.ivfPqStaleness(spark, dir, shifted)
    assert(sLegacy > Ann.IvfPqRetrainFence)
    assert(new java.io.File(s"$dir/stats").exists, "baseline must backfill")

    // the fence's ACTION closes the loop: append the drifted batch,
    // retrain on the index's current corpus (codes tier only), and the
    // same batch reads fresh against the new book
    Ann.ivfAppend(spark, shifted, dir)
    val pre = Ann.ivfPqStaleness(spark, dir, shifted)
    assert(pre > Ann.IvfPqRetrainFence)
    val newCb = Ann.ivfPqRetrain(spark, dir, iters = 2)
    val post = Ann.ivfPqStaleness(spark, dir, shifted)
    assert(post < pre, s"retrain must reduce staleness: $pre -> $post")
    assert(post < Ann.IvfPqRetrainFence, s"retrained staleness $post must sit under the fence")
    // raw tier + quantizer untouched; codes/codebook/stats refreshed and
    // the stored probe equals the inline route under the NEW book
    val qs = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val lists = spark.read.parquet(s"$dir/lists")
      .select("neighbor_id", "c_v", "c_nrm")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    assert(Ann.ivfPqCodebook(spark, dir).cents == newCb.cents)
    assert(
      rows(Ann.ivfPqProbe(spark, dir, qs, k = 5, nProbe = 2, shortlist = 20)) ==
        rows(Ann.ivfPqTopKWith(qs, lists, cents, newCb, k = 5, nProbe = 2, shortlist = 20)))
  }

  test("ivfPqMaintain: two-tier split re-homes codes byte-equal, cold cells bit-identical in BOTH tiers") {
    import spark.implicits._
    def vec(xs: Double*) = xs.toSeq
    def corpusDf(rows: Seq[(Long, Seq[Double])]) = Ann.withNorm(
      rows.toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    // the ivfMaintain fixture: four unit-axis centroids, cell 1's region
    // has two sub-directions so the split target is well-defined
    val cents = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0, 0, 1)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    val dirA = (id: Long, eps: Double) => id -> vec(1, 0.3 + eps, 0, 0)
    val dirB = (id: Long, eps: Double) => id -> vec(1, 0, 0.3 + eps, 0)
    val base = Seq(
      dirA(1L, 0.0), dirB(2L, 0.0), dirA(3L, 0.01), dirB(4L, 0.01),
      5L -> vec(0, 1, 0.01, 0), 6L -> vec(0, 1, 0.02, 0),
      7L -> vec(0, 1, 0.03, 0), 8L -> vec(0, 1, 0.04, 0),
      9L -> vec(0, 0.01, 1, 0), 10L -> vec(0, 0.02, 1, 0),
      11L -> vec(0, 0.03, 1, 0), 12L -> vec(0, 0.04, 1, 0),
      13L -> vec(0, 0, 0.01, 1), 14L -> vec(0, 0, 0.02, 1),
      15L -> vec(0, 0, 0.03, 1), 16L -> vec(0, 0, 0.04, 1))
    val skew =
      (101L to 110L).map(i => dirA(i, 0.001 * (i - 101))) ++
        (111L to 120L).map(i => dirB(i, 0.001 * (i - 111)))
    val cb = Ann.pqTrain(corpusDf(base), m = 2, ks = 2, dim = 4, iters = 1)
    val path = tempDir("graft_ivfpq_maint").toString
    Ann.ivfPqBuild(corpusDf(base), cents, cb, path)
    Ann.ivfAppend(spark, corpusDf(skew), path)
    assert(Ann.ivfImbalance(spark, path) > 2.0) // cell 1: 24 of 36

    def codeRows() = spark.read.parquet(s"$path/codes")
      .select(
        col("neighbor_id"), col("k0"), col("k1"), col("recon_nrm"),
        col("cent_id").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)), r.getLong(4)))
      .toMap
    def fileState(tier: String, cell: Long) = {
      val dir = new java.io.File(s"$path/$tier/cent_id=$cell")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    }
    val codesBefore = codeRows()
    val coldListsBefore = fileState("lists", 3L)
    val coldCodesBefore = fileState("codes", 3L)
    def probe(q: Seq[Double], nProbe: Int, k: Int = 5) = {
      val qDf = Ann.withNorm(Seq(0L -> q).toDF("query_id", "q_v"), "q_v", "q_nrm")
      // shortlist covers every candidate, so the ADC stage never drops a
      // true neighbor and the exact rerank makes the probe comparable to
      // brute force over the probed cells
      Ann.ivfPqProbe(spark, path, qDf, k = k, nProbe = nProbe, shortlist = 1000)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    val coldQuery = vec(0, 0, 1, 0.05)
    val coldBefore = probe(coldQuery, nProbe = 1)

    // the plain entry point AUTO-DETECTS the codes tier and delegates —
    // reaching for ivfMaintain on an IVF-PQ index can no longer strand codes
    assert(Ann.ivfMaintain(spark, path, fence = 2.0, splitInto = 2, iters = 2))
    assert(Ann.ivfImbalance(spark, path) < 2.0)
    assert(!Ann.ivfMaintain(spark, path, fence = 2.0, splitInto = 2, iters = 2))

    // hot partitions gone in BOTH tiers; cold cells bit-identical in BOTH
    assert(!new java.io.File(s"$path/lists/cent_id=1").exists)
    assert(!new java.io.File(s"$path/codes/cent_id=1").exists)
    assert(fileState("lists", 3L) == coldListsBefore)
    assert(fileState("codes", 3L) == coldCodesBefore)
    assert(probe(coldQuery, nProbe = 1) == coldBefore)

    // member set preserved exactly and CONSISTENT across tiers
    val listIds = spark.read.parquet(s"$path/lists").select("neighbor_id")
      .collect().map(_.getLong(0)).toSeq
    assert(listIds.sorted == (base.map(_._1) ++ skew.map(_._1)).sorted)
    val codesAfter = codeRows()
    assert(codesAfter.keySet == listIds.toSet)
    // the split re-partitioned the codes, it never re-encoded them: every
    // row's (k0, k1, recon_nrm) is byte-equal to its pre-split value
    assert(codesAfter.forall { case (id, (code, _)) => codesBefore(id)._1 == code })
    // a moved member's codes row lives in the same NEW cell as its raw row
    val listCells = spark.read.parquet(s"$path/lists")
      .select(col("neighbor_id"), col("cent_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codesAfter.forall { case (id, (_, cell)) => listCells(id) == cell })

    // recall preserved in the hot region: probing both sub-cells matches
    // exact brute force over the full corpus
    val hotQ = Ann.withNorm(
      Seq(0L -> vec(1.0, 0.15, 0.15, 0.0)).toDF("query_id", "q_v"), "q_v", "q_nrm")
    val brute = Ann.bruteForceTopK(hotQ, corpusDf(base ++ skew), k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(probe(vec(1, 0.15, 0.15, 0), nProbe = 2, k = 5).map(t => (t._1, t._2)) == brute)

    // the wired ingest loop: a balanced batch appends without
    // maintenance; a skewed surge trips the fence and self-balances
    val calm = corpusDf(Seq(301L -> vec(0, 1, 0.05, 0), 302L -> vec(0, 0, 0.05, 1)))
    assert(!Ann.ivfAppendMaintained(spark, calm, path, fence = 2.0, iters = 2))
    val surge = corpusDf((401L to 460L).map(i => dirA(i, 0.0001 * (i - 401))))
    assert(Ann.ivfAppendMaintained(spark, surge, path, fence = 2.0, iters = 2),
      "a skewed surge must trip the fence and rebalance in the same call")
    assert(Ann.ivfImbalance(spark, path) < 2.0)
    val allIds = (base.map(_._1) ++ skew.map(_._1) ++ Seq(301L, 302L) ++ (401L to 460L)).sorted
    assert(spark.read.parquet(s"$path/lists").select("neighbor_id")
      .collect().map(_.getLong(0)).toSeq.sorted == allIds)
    assert(codeRows().keySet == allIds.toSet)

    // crash-window orphans recover on the codes tier too
    spark.read.parquet(s"$path/codes").where(col("cent_id") === 3)
      .select("neighbor_id", "k0", "k1", "recon_nrm")
      .write.parquet(s"$path/codes/cent_id=777")
    assert(Ann.ivfRecover(spark, path) == Seq(777L))
    assert(!new java.io.File(s"$path/codes/cent_id=777").exists)
    assert(Ann.ivfRecover(spark, path).isEmpty)
  }

  test("ivfPqDelete: probe excludes exactly the deleted ids, cold cells bit-identical in BOTH tiers, retry/crash idempotent") {
    import spark.implicits._
    def vec(xs: Double*) = xs.toSeq
    def corpusDf(rows: Seq[(Long, Seq[Double])]) = Ann.withNorm(
      rows.toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    val cents = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0, 0, 1)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    val base = (1 to 4).flatMap(i =>
      Seq.tabulate(4)(j =>
        (i * 10L + j) -> Seq.tabulate(4)(d => if (d == i - 1) 1.0 else 0.01 * (j + 1))))
    val cb = Ann.pqTrain(corpusDf(base), m = 2, ks = 2, dim = 4, iters = 1)
    val path = tempDir("graft_ivfpq_del").toString
    Ann.ivfPqBuild(corpusDf(base), cents, cb, path)

    def fileState(tier: String, cell: Long) = {
      val dir = new java.io.File(s"$path/$tier/cent_id=$cell")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    }
    def codeRows() = spark.read.parquet(s"$path/codes")
      .select(
        col("neighbor_id"), col("k0"), col("k1"), col("recon_nrm"),
        col("cent_id").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)), r.getLong(4)))
      .toMap
    def listIds() = spark.read.parquet(s"$path/lists")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    def quant() = spark.read.parquet(s"$path/centroids")
      .select(col("cent_id").cast("long"), col("cent_v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def probe(q: Seq[Double], nProbe: Int, k: Int = 5) = {
      val qDf = Ann.withNorm(Seq(0L -> q).toDF("query_id", "q_v"), "q_v", "q_nrm")
      Ann.ivfPqProbe(spark, path, qDf, k = k, nProbe = nProbe, shortlist = 1000)
        .collect().map(_.getLong(2)).toSeq
    }
    val codesBefore = codeRows()
    val coldLists3 = fileState("lists", 3L)
    val coldCodes4 = fileState("codes", 4L)

    // delete two of cell 1's members, one of cell 2's; 999 matches
    // nothing (ignored); cells 3 and 4 are cold
    val del = Seq(10L, 11L, 20L, 999L).toDF("neighbor_id")
    assert(Ann.ivfDelete(spark, path, del) == Seq(1L, 2L))

    // touched partitions dropped in BOTH tiers; survivors re-keyed under
    // fresh ids carrying the SAME centroid vectors (routing unchanged)
    assert(!new java.io.File(s"$path/lists/cent_id=1").exists)
    assert(!new java.io.File(s"$path/codes/cent_id=1").exists)
    assert(!new java.io.File(s"$path/lists/cent_id=2").exists)
    assert(!new java.io.File(s"$path/codes/cent_id=2").exists)
    val q1 = quant()
    assert(q1.keySet == Set(3L, 4L, 5L, 6L))
    assert(q1(5L) == vec(1, 0, 0, 0) && q1(6L) == vec(0, 1, 0, 0))
    // cold cells bit-identical in both tiers
    assert(fileState("lists", 3L) == coldLists3)
    assert(fileState("codes", 4L) == coldCodes4)

    // survivor set exact; codes byte-equal to their pre-delete values
    // (re-derived under the FROZEN codebook) and tier-consistent
    val expect = base.map(_._1).toSet -- Set(10L, 11L, 20L)
    assert(listIds() == expect)
    val codesAfter = codeRows()
    assert(codesAfter.keySet == expect)
    assert(codesAfter.forall { case (id, (code, _)) => codesBefore(id)._1 == code })

    // the probe forgets exactly the deleted ids: cell 1's region now
    // serves only its survivors, and the full-probe route equals brute
    // force over the survivor corpus
    val near1 = probe(vec(1, 0.05, 0, 0), nProbe = 1)
    assert(near1.toSet == Set(12L, 13L))
    val survivors = corpusDf(base.filter(t => expect(t._1)))
    val qDf = Ann.withNorm(
      Seq(0L -> vec(1.0, 0.3, 0.2, 0.1)).toDF("query_id", "q_v"), "q_v", "q_nrm")
    val brute = Ann.bruteForceTopK(qDf, survivors, k = 5)
      .collect().map(_.getLong(2)).toSeq
    assert(probe(vec(1, 0.3, 0.2, 0.1), nProbe = 4) == brute)

    // retry with the same delete set: nothing matches → no-op
    assert(Ann.ivfDelete(spark, path, del).isEmpty)
    assert(listIds() == expect)

    // crash idempotence: a planted quantizer-absent orphan (the crash
    // window's signature) is cleared by the recovery pass a delete runs
    // first, and the delete itself proceeds correctly
    spark.read.parquet(s"$path/lists").where(col("cent_id") === 3)
      .select("neighbor_id", "c_v", "c_nrm")
      .write.parquet(s"$path/lists/cent_id=88")
    assert(Ann.ivfDelete(spark, path, Seq(30L).toDF("neighbor_id")) == Seq(3L))
    assert(!new java.io.File(s"$path/lists/cent_id=88").exists)
    assert(listIds() == expect - 30L)

    // deleting an ENTIRE cell leaves an empty (partition-less) cell:
    // probes routed there return nothing, everything else unaffected
    assert(Ann.ivfDelete(
      spark, path, Seq(40L, 41L, 42L, 43L).toDF("neighbor_id")).nonEmpty)
    assert(probe(vec(0, 0, 0, 1), nProbe = 1).isEmpty)
    assert(listIds() == expect - 30L -- Set(40L, 41L, 42L, 43L))
    // one more delete on the two-tier index: both tiers stay consistent
    assert(Ann.ivfDelete(spark, path, Seq(31L).toDF("neighbor_id")).nonEmpty)
    assert(codeRows().keySet == listIds())
  }

  test("ivfQuantizerStaleness trips on planted drift; ivfPqRebuild recovers recall the codes-only retrain cannot") {
    val corpus = embs.filter(col("vec_id") >= 10 && col("vec_id") < 300)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val same = embs.filter(col("vec_id") >= 300)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    val cents = embs.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select(col("vec_id").as("cent_id"), col("v").as("cent_v"), col("nrm").as("cent_nrm"))
    val cb = Ann.pqTrain(corpus, 8, 8, 64, iters = 2)
    val dir = tempDir("graft_ivfpq_rebuild").toString
    Ann.ivfPqBuild(corpus, cents, cb, dir)
    // fresh build reads exactly 1 (baseline == current)
    assert(Ann.ivfQuantizerStaleness(spark, dir) == 1.0)
    // same-distribution append stays under the rebuild fence
    Ann.ivfAppend(spark, same, dir)
    val sSame = Ann.ivfQuantizerStaleness(spark, dir)
    assert(sSame < Ann.IvfRebuildFence, s"same-distribution staleness $sSame")
    // the planted drift trips it: a +0.25/dim HALF of the
    // q_ann_recall_ivfpq_drift shift — mild enough that the cloud
    // straddles frozen-cell boundaries (the routing-damage regime)
    // while already reading ~1.7 on the MSE ratio
    val drifted = same.select(
      (col("neighbor_id") + 100000L).as("neighbor_id"),
      org.apache.spark.sql.functions.transform(col("c_v"), x => x + lit(0.25d)).as("c_v"))
      .withColumn("c_nrm", VectorFns.norm(col("c_v")))
    Ann.ivfAppend(spark, drifted, dir)
    val sDrift = Ann.ivfQuantizerStaleness(spark, dir)
    assert(
      sDrift > Ann.IvfRebuildFence,
      s"planted drift must trip the rebuild fence, got $sDrift")

    // drifted queries against the stored corpus: recall@5 of the probe
    // route vs exact brute force over EXACTLY the stored rows. The
    // shortlist covers any probed cell, so the readout isolates the
    // ROUTING axis (exact rerank recovers every admitted candidate):
    // at nProbe = 1 the frozen quantizer splits the drifted cloud
    // across cell boundaries its queries do not probe.
    val dq = embs.filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.transform(col("v"), x => x + lit(0.25d)).as("q_v"))
      .withColumn("q_nrm", VectorFns.norm(col("q_v")))
    def recallHits(): Long = {
      val stored = spark.read.parquet(s"$dir/lists")
        .select("neighbor_id", "c_v", "c_nrm")
      val exact = Ann.bruteForceTopK(dq, stored, k = 5)
        .select("query_id", "neighbor_id")
      val got = Ann.ivfPqProbe(spark, dir, dq, k = 5, nProbe = 1, shortlist = 1000)
        .select("query_id", "neighbor_id")
      exact.join(got, Seq("query_id", "neighbor_id"), "left_semi").count()
    }
    val stale = recallHits()
    assert(stale < 45, s"fixture sanity: stale routing should lose hits, got $stale/50")
    // codes-only retrain refreshes ADC scoring but NOT routing: the
    // quantizer axis stays tripped and (shortlist ⊇ cell) the hit
    // count is bit-identical — the retrain CANNOT touch this axis
    Ann.ivfPqRetrain(spark, dir)
    val afterRetrain = recallHits()
    assert(afterRetrain == stale, s"retrain changed routing-only recall: $stale -> $afterRetrain")
    assert(
      Ann.ivfQuantizerStaleness(spark, dir) > Ann.IvfRebuildFence,
      "codes-only retrain must not repair quantizer staleness")
    // the full rebuild re-trains the quantizer on the current corpus:
    // staleness re-arms at 1 and drifted-query recall recovers past
    // both stale arms
    Ann.ivfPqRebuild(spark, dir)
    assert(Ann.ivfQuantizerStaleness(spark, dir) == 1.0)
    val rebuilt = recallHits()
    assert(
      rebuilt > afterRetrain,
      s"rebuild must recover recall: stale=$stale retrain=$afterRetrain rebuilt=$rebuilt")
    // the rebuilt index still serves the whole corpus (nothing lost)
    val n = spark.read.parquet(s"$dir/lists").count()
    assert(n == corpus.count() + same.count() + drifted.count())
  }

  // ---- one write path into a stored index --------------------------------

  /** The ivfMaintain fixture: four unit-axis 4-dim centroids, 16 base
    * vectors (4 per cell) and a 20-vector skew into cell 1. */
  private object FourCells {
    import spark.implicits._
    def vec(xs: Double*): Seq[Double] = xs.toSeq
    def corpusDf(rows: Seq[(Long, Seq[Double])]) = Ann.withNorm(
      rows.toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    def cents = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0, 0, 1)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    val dirA = (id: Long, eps: Double) => id -> vec(1, 0.3 + eps, 0, 0)
    val dirB = (id: Long, eps: Double) => id -> vec(1, 0, 0.3 + eps, 0)
    val base = Seq(
      dirA(1L, 0.0), dirB(2L, 0.0), dirA(3L, 0.01), dirB(4L, 0.01),
      5L -> vec(0, 1, 0.01, 0), 6L -> vec(0, 1, 0.02, 0),
      7L -> vec(0, 1, 0.03, 0), 8L -> vec(0, 1, 0.04, 0),
      9L -> vec(0, 0.01, 1, 0), 10L -> vec(0, 0.02, 1, 0),
      11L -> vec(0, 0.03, 1, 0), 12L -> vec(0, 0.04, 1, 0),
      13L -> vec(0, 0, 0.01, 1), 14L -> vec(0, 0, 0.02, 1),
      15L -> vec(0, 0, 0.03, 1), 16L -> vec(0, 0, 0.04, 1))
    val skew =
      (101L to 110L).map(i => dirA(i, 0.001 * (i - 101))) ++
        (111L to 120L).map(i => dirB(i, 0.001 * (i - 111)))
    def pqIndex(prefix: String): String = {
      val path = tempDir(prefix).toString
      val cb = Ann.pqTrain(corpusDf(base), m = 2, ks = 2, dim = 4, iters = 1)
      Ann.ivfPqBuild(corpusDf(base), cents, cb, path)
      path
    }
    def ids(path: String, tier: String): Seq[Long] =
      spark.read.parquet(s"$path/$tier").select("neighbor_id")
        .collect().map(_.getLong(0)).toSeq.sorted
  }

  test("ivfAppend on an IVF-PQ index lands the batch in codes/ and ivfPqProbe finds it") {
    import spark.implicits._
    import FourCells._
    val path = pqIndex("graft_ivfpq_append")
    val added = Seq(501L -> vec(0.2, 0, 0.1, 1), 502L -> vec(0, 1, 0.3, 0.2))
    Ann.ivfAppend(spark, corpusDf(added), path)
    val all = (base ++ added).map(_._1).sorted
    assert(ids(path, "lists") == all)
    assert(ids(path, "codes") == all)
    val qs = Ann.withNorm(
      added.map { case (id, v) => id -> v }.toDF("query_id", "q_v"), "q_v", "q_nrm")
    val top1 = Ann.ivfPqProbe(spark, path, qs, k = 1, nProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1 == Map(501L -> 501L, 502L -> 502L))
  }

  test("ivfMaintain and ivfAppendMaintained with default arguments rebalance the 4-dim fixture") {
    import FourCells._
    val path = tempDir("graft_ivf_defaults").toString
    Ann.ivfBuild(corpusDf(base), cents, path)
    Ann.ivfAppend(spark, corpusDf(skew), path)
    assert(Ann.ivfImbalance(spark, path) > 2.0)
    assert(Ann.ivfMaintain(spark, path))
    assert(Ann.ivfImbalance(spark, path) <= 2.0)
    assert(!Ann.ivfMaintain(spark, path))
    // sub-centroids keep the members' length: no truncation, no padding
    val lens = spark.read.parquet(s"$path/centroids").select(size(col("cent_v")))
      .collect().map(_.getInt(0)).toSet
    assert(lens == Set(4))
    val surge = corpusDf((401L to 460L).map(i => dirA(i, 0.0001 * (i - 401))))
    assert(Ann.ivfAppendMaintained(spark, surge, path))
    assert(Ann.ivfImbalance(spark, path) <= 2.0)
    assert(ids(path, "lists") ==
      (base.map(_._1) ++ skew.map(_._1) ++ (401L to 460L)).sorted)
  }

  test("two concurrent ivfAppend calls on one index land every vector exactly once") {
    import FourCells._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val path = pqIndex("graft_ivfpq_concurrent")
    val left = (1001L to 1040L).map(i => i -> vec(1, 0.01 * (i % 7), 0.02 * (i % 5), 0))
    val right = (2001L to 2040L).map(i => i -> vec(0, 0.03 * (i % 3), 1, 0.01 * (i % 11)))
    val runs = Seq(left, right).map(b => Future(Ann.ivfAppend(spark, corpusDf(b), path)))
    runs.foreach(Await.result(_, 5.minutes))
    val all = (base ++ left ++ right).map(_._1).sorted
    assert(ids(path, "lists") == all)
    assert(ids(path, "codes") == all)
    assert(!new java.io.File(s"$path/_staging").exists ||
      new java.io.File(s"$path/_staging").list().isEmpty)
  }
}
