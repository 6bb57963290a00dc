package graft

import org.apache.spark.sql.functions._

import graft.queries.PipelineQueries

/** Cross-validates the sketch-based near-dup operators against their
  * exact counterparts on sf0.001 — LSH candidate generation must not
  * lose any pair the exact computation confirms. */
class PipelineSpec extends SparkSpec {

  test("minhash-LSH finds every ngram-Jaccard pair at threshold 0.8") {
    val exact = PipelineQueries.qDedupNgram(spark, SfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = PipelineQueries.qDedupMinhash(spark, SfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both verify with exact Jaccard >= 0.8; LSH may only differ by
    // missing candidates — with 8 bands of 2 over sig-16 at j>=0.8 the
    // miss probability is ~(1-(1-0.8^2)^8) -> negligible
    assert(lsh == exact)
  }

  test("simhash near-dups overlap ngram near-dups") {
    val ngram = PipelineQueries.qDedupNgram(spark, SfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = PipelineQueries.qDedupSimhash(spark, SfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hamming<=6 on 60-bit simhash is a coarser net: it should catch
    // most >=0.8-Jaccard pairs
    if (ngram.nonEmpty)
      assert(ngram.intersect(sim).size.toDouble / ngram.size >= 0.5)
  }

  test("brute-force ANN returns 5 ranked neighbors per query, no self-matches") {
    val rows = PipelineQueries.qAnnTopk(spark, SfDir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(1)).toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L))
      assert(rs.forall(_.getLong(2) >= 10)) // corpus only
      // ranks ordered by descending cosine
      val byRank = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH ANN results are a subset of brute-force candidates with correct ranks") {
    val lsh = PipelineQueries.qAnnLsh(spark, SfDir).collect()
    assert(lsh.nonEmpty)
    // within each query, ranks are 1..n and cosines descend
    lsh.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq)
      val cs = sorted.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF ANN returns well-formed ranked lists whose cosines match brute force") {
    val ivf = PipelineQueries.qAnnIvf(spark, SfDir).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq)
      val cs = sorted.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(rs.forall(_.getLong(2) >= 10)) // no query returned as neighbor
    }
    // cosines agree with the brute-force query for the same (q, n) pairs
    val bf = PipelineQueries
      .qAnnTopk(spark, SfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    ivf.foreach { r =>
      bf.get((r.getLong(0), r.getLong(2))).foreach(c => assert(c == r.getDouble(3)))
    }
  }

  test("hash sampling is deterministic, disjoint, and covering") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val sample = Sampling.sampleByHash(docs, "doc_id", 0.1)
    val rest = Sampling.complement(docs, "doc_id", 0.1)
    val n = docs.count()
    assert(sample.count() + rest.count() == n)
    // same call → same rows (content-hash determinism)
    assert(
      sample.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
        Sampling.sampleByHash(docs, "doc_id", 0.1)
          .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // a 10% target lands near 10% (hash uniformity; wide tolerance)
    val frac = sample.count().toDouble / n
    assert(frac > 0.02 && frac < 0.25, s"sample fraction $frac")
    // fraction monotonicity: 10% sample ⊂ 20% sample
    val wider = Sampling.sampleByHash(docs, "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sample.select("doc_id").collect().map(_.getLong(0)).forall(wider))
  }

  test("weightedMix keeps listed strata at their rate and drops the rest") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val mixed = Sampling.weightedMix(
      docs, "doc_id", "source", Map("src0" -> 1.0, "src1" -> 0.0))
    val bySource = mixed
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val src0Total = docs.filter(col("source") === "src0").count()
    assert(bySource.get("src0").contains(src0Total)) // weight 1.0 keeps all
    assert(!bySource.contains("src1")) // weight 0.0 drops all
    assert(bySource.keySet == Set("src0")) // unlisted sources dropped
    // mixture rows are a subset of a plain hash sample at the same rate
    val half = Sampling.weightedMix(docs, "doc_id", "source", Map("src0" -> 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sample = Sampling.sampleByHash(docs, "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(half.subsetOf(sample))
  }

  test("repetition metrics flag a looping doc and pass a varied one") {
    import graft.queries.PipelineQueries._
    val dir = tempDir("graft-rep").toString
    spark
      .createDataFrame(Seq(
        // 10× repeated bigram: top_bigram_frac ≈ 0.5, dup trigrams high
        (1L, ("spam ham " * 10).trim, "en", "src0", 89L),
        // 30 distinct words: every bigram unique (frac 1/29 < 0.04),
        // no repeated trigram
        (2L, (1 to 30).map(i => s"w$i").mkString(" "), "en", "src0", 120L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = qRepetition(spark, dir).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    val loop = byId(1L)
    assert(loop.getAs[String]("top_bigram") == "spam ham")
    assert(loop.getAs[Long]("top_bigram_n") == 10L)
    assert(loop.getAs[Boolean]("repetitive"))
    val varied = byId(2L)
    assert(varied.getAs[Long]("top_bigram_n") == 1L)
    assert(varied.getAs[Double]("dup_trigram_frac") == 0.0)
    assert(!varied.getAs[Boolean]("repetitive"))
    // invariants on the real corpus: fracs in [0,1], flag matches terms
    val corpus = qRepetition(spark, SfDir).collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall { r =>
      val tb = r.getAs[Double]("top_bigram_frac")
      val dt = r.getAs[Double]("dup_trigram_frac")
      tb >= 0 && tb <= 1 && dt >= 0 && dt <= 1 &&
      r.getAs[Long]("top_bigram_n") <= r.getAs[Long]("n_bigrams") &&
      r.getAs[Boolean]("repetitive") ==
        (tb > RepTopBigramFrac || dt > RepDupTrigramFrac)
    })
  }

  test("ngram counts sum to total bigram occurrences on a crafted corpus") {
    import graft.queries.PipelineQueries._
    val dir = tempDir("graft-ng").toString
    spark
      .createDataFrame(Seq(
        (1L, "a b a b", "en", "src0", 7L),
        (2L, "b a", "en", "src0", 3L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val counts = qNgramCounts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a b" -> 2L, "b a" -> 2L))
  }

  test("sequence packing: dense offsets, straddle math, per-bucket contiguity") {
    val L = PipelineQueries.PackSeqLen
    val rows = PipelineQueries.qPack(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, first, last, off) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(off >= 0 && off < L)
      // the doc occupies tokens [first*L + off, first*L + off + n) —
      // its last token's sequence must be exactly last_seq
      assert((first * L + off + n - 1) / L == last)
      assert(first <= last)
    }
    // contiguity per bucket: docs tile the token axis with no gaps, so
    // the highest sequence index equals (bucket token total - 1) / L
    rows.groupBy(_.getLong(1)).foreach { case (_, rs) =>
      val total = rs.map(_.getLong(2)).sum
      assert(rs.map(_.getLong(4)).max == (total - 1) / L)
    }
    // multi-sequence straddles exist at sf0.001 (docs can exceed L)
    assert(rows.exists(r => r.getLong(4) > r.getLong(3)))
  }

  test("chunking: full windows, stride spacing, pulled-back tail, total coverage") {
    val (c, s) = (PipelineQueries.ChunkLen, PipelineQueries.ChunkStride)
    val byDoc = PipelineQueries
      .qChunk(spark, SfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (_, chunks) =>
      val sorted = chunks.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq)
      val n = sorted.head._5 + sorted.last._3 // least(C, n) of first + last start
      sorted.zipWithIndex.foreach { case ((_, _, start, text, nTok), k) =>
        // every window is full-size (min(C, doc length)) and starts on
        // the stride grid except the pulled-back tail
        assert(nTok == math.min(c.toLong, n))
        assert(text.split(" ").count(_.nonEmpty) == nTok)
        if (k < sorted.length - 1) assert(start == k.toLong * s)
        else assert(start == math.max(n - c, 0L))
      }
      // windows cover the whole doc: last window ends at n
      assert(sorted.last._3 + sorted.last._5 == n)
      // stride ≤ C ⇒ no gaps between consecutive windows
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 <= a._3 + c)
        case _           => ()
      }
    }
  }

  test("graft_topk heavy hitters honor the Misra-Gries guarantees") {
    import graft.queries.PipelineQueries._
    val toks = spark.read.parquet(s"$SfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val out = qHeavyHitters(spark, SfDir).collect()
    assert(out.nonEmpty && out.length <= HeavyK)
    // bounds: count_lo ≤ true ≤ count_hi for every reported item
    assert(out.forall { r =>
      val t = exact(r.getAs[String]("tok"))
      r.getAs[Long]("count_lo") <= t && t <= r.getAs[Long]("count_hi")
    })
    // completeness: every item with true count > n/(k+1) is reported
    val reported = out.map(_.getAs[String]("tok")).toSet
    val guaranteed = exact.filter(_._2 > n / (HeavyK + 1.0)).keySet
    assert(guaranteed.subsetOf(reported),
      s"missing guaranteed heavy hitters: ${guaranteed -- reported}")
    // ranks are 1..m by descending lower bound
    assert(out.map(_.getAs[Long]("rank")).toSeq == (1L to out.length).toSeq)
    val los = out.map(_.getAs[Long]("count_lo")).toSeq
    assert(los == los.sorted.reverse)
  }

  test("Count-Min sketch is one-sided: estimate >= exact for EVERY token") {
    import graft.queries.PipelineQueries._
    // the oracle checks the top-20 report; the CMS guarantee is
    // universal, so probe the WHOLE vocabulary against the grid
    val toks = spark.read.parquet(s"$SfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    val hashed = (0 until CmsDepth)
      .map(r => tf.select(
        col("tok"), col("tf"), lit(r).as("r"),
        pmod(graft.functions.Hashing.md5LongSeeded(CmsSeedBase + r, col("tok")),
          lit(CmsWidth.toLong)).as("b")))
      .reduce(_.unionByName(_))
    val counters = hashed.groupBy("r", "b").agg(sum("tf").as("c"))
    val est = hashed.join(counters, Seq("r", "b"))
      .groupBy("tok", "tf").agg(min("c").as("est"))
      .collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("tf"),
        s"CMS undercounted ${r.getAs[String]("tok")}")
    }
    // every counter row's value is the sum of its bucket's tokens —
    // total mass per depth row equals the corpus token count
    val n = tf.agg(sum("tf")).collect()(0).getLong(0)
    val perRow = counters.groupBy("r").agg(sum("c").as("mass")).collect()
    assert(perRow.length == CmsDepth)
    perRow.foreach(r => assert(r.getAs[Long]("mass") == n))
  }

  test("graft_topk is exact when capacity covers the key space") {
    GraftExtensions.register(spark)
    val df = spark.range(0, 1000)
      .select(concat(lit("k"), (col("id") % 7)).as("tok"))
    val out = df.agg(expr("graft_topk(tok, 16)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.count_lo"), col("e.count_hi"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // no counter ever evicted → decr = 0 → lo = hi = exact
    assert(out.length == 7)
    assert(out.forall { case (_, lo, hi) => lo == hi })
    val exact = df.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.forall { case (t, lo, _) => exact(t) == lo })
  }

  test("contamination report only names corpus docs sharing bench shingles") {
    val rows = PipelineQueries
      .qContamination(spark, SfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty) // the synthetic corpus repeats phrases
    assert(rows.forall { case (id, shared) =>
      id >= 10 && shared >= PipelineQueries.ContaminationMinShared
    })
  }

  test("bloom contamination path matches the exact result and prunes the join") {
    val exact = PipelineQueries
      .qContamination(spark, SfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    val bloomQ = PipelineQueries.qContaminationBloom(spark, SfDir)
    val bloom = bloomQ.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the confirm join removes false positives → bit-identical result
    assert(bloom == exact)
    // the scale shape: the codegen'd bloom probe sits in the plan
    // before the confirm join
    assert(bloomQ.queryExecution.executedPlan.toString.contains("might_contain"))

    // measure the prefilter's selectivity with the same construction
    // (driver-side is fine at spec scale): no false negatives, and the
    // false-positive rate stays within ~5× the 1% fpp budget
    import graft.dedup.Dedup
    import graft.functions.Hashing
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val ex = Dedup
      .shingleRows(docs, "doc_id", "text", 3)
      .select(col("doc_id"), Hashing.md5Long(col("shingle")).as("h"))
      .localCheckpoint()
    val benchSet = ex
      .filter(col("doc_id") < 10)
      .select("h")
      .collect()
      .map(_.getLong(0))
      .toSet
    val bf = ex
      .filter(col("doc_id") < 10)
      .select("h")
      .distinct()
      .stat
      .bloomFilter("h", math.max(benchSet.size, 1).toLong, 0.01)
    val corpus = ex
      .filter(col("doc_id") >= 10)
      .select("h")
      .collect()
      .map(_.getLong(0))
    val trueMatches = corpus.count(benchSet)
    val kept = corpus.count(bf.mightContainLong)
    assert(trueMatches < corpus.length, "test corpus should not be fully contaminated")
    assert(kept >= trueMatches) // Bloom guarantee: no false negatives
    assert(kept <= trueMatches + (0.05 * corpus.length).toLong + 1)
  }

  test("exact dedup keeps one id per distinct text") {
    val out = PipelineQueries.qDedupExact(spark, SfDir)
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    assert(out.count() == docs.select(md5(col("text"))).distinct().count())
  }

  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("graft-pipe").toString
    rows.toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("the full evals answer NULL ratios, not DIVIDE_BY_ZERO, when one arm is empty") {
    // doc 2 is doc 1 plus 300 new words: it shares every winnowed
    // fingerprint of doc 1 (a winnow candidate) but its 3-shingle
    // Jaccard is 98/398, below the 0.5 ground-truth threshold
    val a = words("w", 100)
    val dir = writeDocs(Seq((1L, a, "web"), (2L, s"$a ${words("x", 300)}", "web")))
    val w = PipelineQueries.qWinnowEval(spark, dir).collect().head
    assert((w.getAs[Long]("n_cand"), w.getAs[Long]("n_exact"), w.getAs[Long]("tp")) == ((1L, 0L, 0L)))
    assert(w.getAs[Double]("precision") == 0.0)
    assert(w.isNullAt(w.fieldIndex("recall")))
    assert(w.getAs[Double]("f1") == 0.0)
    // the other full evals run on the same corpus; a ratio is NULL
    // exactly where its divisor is zero (or the fold saw no pair)
    def guarded(df: org.apache.spark.sql.DataFrame, ratios: (String, String)*): Unit = {
      val r = df.collect().head
      for ((divisor, ratio) <- ratios) {
        val zero = r.isNullAt(r.fieldIndex(divisor)) || r.getAs[Long](divisor) == 0L
        assert(r.isNullAt(r.fieldIndex(ratio)) == zero, s"$ratio over $divisor")
      }
    }
    guarded(PipelineQueries.qSimhashEval(spark, dir), "n_cand" -> "precision", "n_exact" -> "recall")
    guarded(PipelineQueries.qSimhashEvalWide(spark, dir), "n_cand" -> "precision", "n_exact" -> "recall")
    guarded(PipelineQueries.qLshEval(spark, dir), "n_cand" -> "cand_precision", "n_exact" -> "cand_recall")
  }

  test("passage dedup drops cross-doc duplicated spans and reassembles in order") {
    val shared = words("dup", 10) // one exact 10-token passage in 3 docs
    val dir = writeDocs(Seq(
      (1L, s"$shared ${words("uniqa", 10)} tail1 tail2 tail3", "s"),
      (2L, s"$shared ${words("uniqb", 10)}", "s"),
      (3L, shared, "s"))) // doc that is ONLY the hot passage
    val out = graft.dedup.Dedup
      .passageDedup(spark.read.parquet(s"$dir/documents.parquet"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((s"${words("uniqa", 10)} tail1 tail2 tail3", 2L, 1L)))
    assert(out(2L) == ((words("uniqb", 10), 1L, 1L)))
    assert(out(3L) == (("", 0L, 1L))) // nothing survives, doc still reported
  }

  test("pairRank: path-graph hub outranks its symmetric leaves") {
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("a_id", "b_id", "jaccard")
    val pr = graft.dedup.Dedup
      .pairRank(pairs, iters = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(pr.keySet == Set(1L, 2L, 3L))
    assert(pr(1L)._1 == 1 && pr(2L)._1 == 2 && pr(3L)._1 == 1) // degrees
    assert(pr(1L)._2 == pr(3L)._2) // symmetric leaves agree exactly
    assert(pr(2L)._2 > pr(1L)._2) // the hub is most central
    // fixed-point arithmetic ⇒ bit-stable across runs
    val again = graft.dedup.Dedup.pairRank(pairs, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == pr.map { case (k, v) => k -> v._2 })
  }

  test("quality model scores match the hand-computed linear form") {
    val dir = writeDocs(Seq(
      (1L, "the the the", "s"), // stopwords 1.0, distinct 1/3, punct 0
      (2L, "!!!!!!", "s"))) // one token of pure punctuation
    val out = PipelineQueries.qQualityModel(spark, dir)
      .select("doc_id", "score", "keep")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
      .toMap
    // 1.2·1.0 + 0.8·round(1/3,6) + 0.002·3 = 1.4726664 → 1.4727
    assert(out(1L) == ((1.4727, true)))
    // 0.8·1.0 − 6.0·1.0 + 0.002·1 = −5.198
    assert(out(2L) == ((-5.198, false)))
  }

  test("PMI lift singles out the always-together bigram with hand-checked counts") {
    val dir = writeDocs(
      (1 to 5).map(i => (i.toLong, "alpha beta", "s")) :+
        (6L, "beta alpha beta alpha beta", "s"))
    // N=15 tokens, M=9 bigrams; (alpha,beta): c_xy=7, c_x=7, c_y=8
    // (beta,alpha) occurs 2 < PmiMinCount and is filtered
    val rows = PipelineQueries.qPmiTerms(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1)) == (("alpha", "beta")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((7L, 7L, 8L)))
    // lift = 7·(15/9)·15/7/8 = 3.125
    assert(math.abs(r.getDouble(5) - 3.125) < 1e-6)
  }

  test("token budget keeps a per-source hash prefix and never exceeds the cap") {
    val dir = writeDocs(Seq(
      (1L, words("a", 300), "srcA"),
      (2L, words("b", 300), "srcA"),
      (3L, words("c", 300), "srcA"), // any 2 of 3 fit the 800 budget
      (4L, words("d", 900), "srcB"))) // even the first doc busts the cap
    val rows = PipelineQueries.qTokenBudget(spark, dir).collect()
    assert(rows.forall(_.getLong(3) <= PipelineQueries.TokenBudget))
    val bySource = rows.groupBy(_.getString(1))
    assert(bySource("srcA").length == 2)
    assert(!bySource.contains("srcB"))
    // the two kept docs are the hash-rank prefix: deterministic repeat
    val again = PipelineQueries.qTokenBudget(spark, dir).collect()
    assert(again.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq)
  }

  test("line dedup drops corpus-hot lines, keeps blanks and doc order") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter"
    val docsDf = Seq(
      (1L, s"alpha one\n$boiler\nalpha two"),
      (2L, s"$boiler\nbeta only\n\nbeta tail"),
      (3L, "gamma solo")).toDF("doc_id", "text")
    val out = graft.dedup.Dedup
      .lineDedup(docsDf, minDocs = 2)
      .orderBy("doc_id")
      .collect()
    assert(out.map(_.getString(1)).toSeq == Seq(
      "alpha one\nalpha two", // boilerplate line gone, order kept
      "beta only\n\nbeta tail", // blank line survives (never hot)
      "gamma solo"))
    assert(out.map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((2L, 1L), (3L, 1L), (1L, 0L)))
  }

  test("corpus shuffle positions are a dense permutation in global key order") {
    val out = PipelineQueries.qCorpusShuffle(spark, SfDir).collect()
    val pos = out.map(_.getLong(3))
    assert(pos.toSeq == (0L until out.length.toLong).toSeq) // dense, 0-based, already pos-ordered
    val keys = out.map(_.getString(1))
    assert(keys.toSeq == keys.sorted.toSeq) // pos order IS md5-key order
    // shard ranges are contiguous: shard is monotone along the order
    val shards = out.map(_.getInt(2))
    assert(shards.toSeq == shards.sorted.toSeq)
    // salt change yields a different permutation of the same ids
    val docsDf = spark.read.parquet(s"$SfDir/documents.parquet")
    val other = graft.operators.Sampling
      .corpusShuffle(docsDf, "doc_id", shards = 16, salt = "ep1")
      .orderBy("pos").collect().map(_.getLong(0))
    assert(other.toSeq != out.map(_.getLong(0)).toSeq)
    assert(other.sorted.toSeq == out.map(_.getLong(0)).sorted.toSeq)
  }

  test("int8 quantization reconstructs within one quantum per component") {
    val rows = PipelineQueries.qQuantizeEmbed(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val rmse = r.getDouble(3)
      val cos = r.getDouble(4)
      assert(scale > 0)
      assert(rmse <= scale / 2 + 1e-9, s"rmse $rmse > half-quantum of $scale") // per-component error <= scale/2
      assert(cos > 0.99, s"cosine after int8 dequant should be ~1, got $cos")
    }
  }

  test("profile counts nulls and distincts per column") {
    import spark.implicits._
    val dir = tempDir("graft-prof").toString
    Seq(
      (1L, "aa", null.asInstanceOf[String], "s1", 2L),
      (2L, "bb", "en", "s1", 2L),
      (3L, "aa", "en", null.asInstanceOf[String], 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val m = PipelineQueries.qProfile(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    assert(m("doc_id") == ((3L, 0L, 3L, "1", "3")))
    assert(m("text") == ((3L, 0L, 2L, "aa", "bb")))
    assert(m("lang") == ((3L, 1L, 1L, "en", "en")))
    assert(m("source") == ((3L, 1L, 1L, "s1", "s1")))
    assert(m("n_chars") == ((3L, 0L, 1L, "2", "2")))
  }

  test("source vocabulary overlap computes exact pairwise Jaccard") {
    import spark.implicits._
    val dir = tempDir("graft-ovl").toString
    Seq(
      (1L, "a b c", "s1"),
      (2L, "b c d", "s2"),
      (3L, "c d", "s2"), // s2 vocab = {b,c,d}
      (4L, "x y", "s3")) // disjoint from s1: pair absent from output
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val byPair = PipelineQueries.qSourceOverlap(spark, dir).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("inter"), r.getAs[Double]("jaccard")))).toMap
    assert(byPair == Map(
      ("s1", "s2") -> ((2L, 0.5)))) // {b,c} of {a,b,c,d}; s3 disjoint from both -> no rows
  }

  test("lm score ranks a doc of corpus-typical bigrams below one of rare bigrams") {
    import spark.implicits._
    val dir = tempDir("graft-lm").toString
    val common = "the cat sat" // bigrams repeated across many docs
    Seq(
      (1L, common, "s"), (2L, common, "s"), (3L, common, "s"), (4L, common, "s"),
      (5L, "the cat sat the cat sat", "s"), // all common bigrams (+ one novel join "sat the")
      (6L, "zq xv wk", "s"), // bigrams seen nowhere else
      (7L, "solo", "s")) // < 2 tokens: no row
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val rows = PipelineQueries.qLmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!rows.contains(7L))
    assert(rows(1L)._1 == 2 && rows(5L)._1 == 5 && rows(6L)._1 == 2)
    // typical text scores lower (more likely) than unseen-bigram text
    assert(rows(1L)._2 < rows(6L)._2, s"common ${rows(1L)._2} !< rare ${rows(6L)._2}")
    // identical docs get identical scores
    assert(rows(1L)._2 == rows(2L)._2 && rows(2L)._2 == rows(3L)._2)
  }

  test("script profile counts and dominant-script tie rule on mixed-script docs") {
    import spark.implicits._
    val dir = tempDir("graft-script").toString
    Seq(
      (1L, "hello world", "s"), // latin only
      (2L, "土地人 hi", "s"), // 3 han, 2 latin -> han
      (3L, "Абв ab", "s"), // 3 cyrillic vs 2 latin -> cyrillic
      (4L, "12 34", "s"), // digits only: no script -> none
      (5L, "土地 ab", "s")) // 2 han, 2 latin: tie -> latin (class order)
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val m = PipelineQueries.qScriptProfile(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_latin"), r.getAs[Long]("n_han"),
        r.getAs[Long]("n_digit"), r.getAs[String]("dominant")))).toMap
    assert(m(1L) == ((10L, 0L, 0L, "latin")))
    assert(m(2L) == ((2L, 3L, 0L, "han")))
    assert(m(3L)._4 == "cyrillic")
    assert(m(4L) == ((0L, 0L, 4L, "none")))
    assert(m(5L) == ((2L, 2L, 0L, "latin"))) // tie breaks to the earlier class
  }

  /** 10 docs where the score separates perfectly: 5 English all-stopword
    * docs (high score, distinct per doc), 5 punct-heavy German docs
    * (strongly negative score, distinct per doc). */
  private def writeScoredCorpus(): String = {
    import spark.implicits._
    val dir = tempDir("graft-scored").toString
    val pos = (5 to 9).map(i =>
      (i.toLong, ("the and is of to " * i).trim, "en", "s", 0L))
    val neg = (5 to 9).map(j =>
      ((10 + j).toLong, ("%%% " * j).trim, "de", "s", 0L))
    (pos ++ neg)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("lift table: a perfectly separating score captures all positives by depth 5 at lift 2") {
    val dir = writeScoredCorpus()
    val rows = PipelineQueries.qLiftTable(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows.size == 10)
    assert(rows(1L) == ((1L, 1L, 0.2, 2.0))) // top decile: 1 of 5 positives
    assert(rows(5L) == ((5L, 5L, 1.0, 2.0))) // all positives by half depth
    assert(rows(6L)._3 == 1.0 && rows(6L)._4 < 2.0) // capture saturates, lift decays
    assert(rows(10L) == ((10L, 5L, 1.0, 1.0))) // full depth = base rate
  }

  test("calibration: separated classes land in opposite bins with exact observed rates") {
    val dir = writeScoredCorpus()
    val rows = PipelineQueries.qCalibration(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    // negative scores squash toward p≈0 (bin 0), positives toward p≈0.87 (bin 8)
    assert(rows.keySet == Set(0L, 8L))
    assert(rows(0L) == ((5L, 0.0)))
    assert(rows(8L) == ((5L, 1.0)))
  }

  test("langid eval: diagonal hits and mass leaking to a wrong language, with row shares") {
    import spark.implicits._
    val dir = tempDir("graft-langeval").toString
    Seq(
      (1L, "the and is of to", "en", "s", 0L), // predicted en: diagonal
      (2L, "le les des est une", "en", "s", 0L), // labeled en, predicted fr
      (3L, "und der die das nicht", "de", "s", 0L)) // diagonal de
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val cells = PipelineQueries.qLangidEval(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(cells == Map(
      ("de", "de") -> ((1L, 1.0)),
      ("en", "en") -> ((1L, 0.5)),
      ("en", "fr") -> ((1L, 0.5))))
  }

  test("embed outliers: the far vector ranks first in its label") {
    import spark.implicits._
    val dir = tempDir("graft-outl").toString
    val dim = PipelineQueries.EmbDim
    def vec(head: Float): Array[Float] =
      (head +: Array.fill(dim - 1)(0.0f)).toArray
    // label 0: three vectors near 1.0, one at 9.0 (the outlier)
    val rows = Seq(
      (1L, vec(1.0f), 0), (2L, vec(1.1f), 0), (3L, vec(0.9f), 0),
      (4L, vec(9.0f), 0),
      // label 1: two identical vectors — both distances 0, id tiebreak
      (5L, vec(2.0f), 1), (6L, vec(2.0f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = PipelineQueries.qEmbedOutliers(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.filter(_._1 == 0).map(x => (x._2, x._3)).take(1).toSeq == Seq((1L, 4L)))
    assert(out.filter(_._1 == 1).map(x => (x._2, x._3)).toSeq == Seq((1L, 5L), (2L, 6L)))
  }

  test("expectations: violations are reported per rule, never thrown") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val dir = tempDir("graft-expect").toString
    Seq((1L, 10.0, 5.0), (2L, 99.0, -1.0)) // quantity 99 and price −1 violate
      .toDF("l_orderkey", "l_quantity", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 100.0, "1995-06-01 00:00:00"), (2L, 50.0, "2001-08-01 00:00:00"))
      .toDF("o_orderkey", "o_totalprice", "s")
      .select(col("o_orderkey"), col("o_totalprice"),
        to_timestamp(col("s")).as("o_orderdate"))
      .write.parquet(s"$dir/orders.parquet")
    Seq(10L, 11L, 11L) // duplicate key 11
      .toDF("c_custkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, "2024-01-01 00:00:00", 1.0))
      .toDF("event_id", "s", "value")
      .select(col("event_id"), to_timestamp(col("s")).as("ts"), col("value"))
      .write.parquet(s"$dir/events.parquet")
    Seq((1L, "ok text", "en"), (2L, "", "xx")) // empty text + bad lang
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    val rows = PipelineQueries.qExpectations(spark, dir).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(rows == Map(
      "l_quantity_in_1_50" -> ((2L, 1L, false)),
      "l_extendedprice_positive" -> ((2L, 1L, false)),
      "o_totalprice_positive" -> ((2L, 0L, true)),
      "o_orderdate_in_range" -> ((2L, 1L, false)),
      "c_custkey_unique" -> ((3L, 1L, false)),
      "ts_not_null" -> ((1L, 0L, true)),
      "value_positive" -> ((1L, 0L, true)),
      "text_nonempty" -> ((2L, 1L, false)),
      "lang_accepted" -> ((2L, 1L, false))))
  }

  test("evalSampleCut: √n rule — whole corpus at/below the budget, monotone shrink above") {
    import PipelineQueries.evalSampleCut
    assert(evalSampleCut(0L) == 10000L)
    assert(evalSampleCut(500L) == 10000L) // below budget: sample everything
    assert(evalSampleCut(2000L) == 10000L) // boundary: √(B/n) = 1
    assert(evalSampleCut(5000L) == 6325L) // ceil(10000·√0.4)
    assert(evalSampleCut(5000000L) == 200L) // fifth decade: 2% of docs
    val cuts = Seq(2000L, 5000L, 50000L, 500000L, 5000000L).map(evalSampleCut)
    assert(cuts == cuts.sorted.reverse, s"cut must shrink with corpus size: $cuts")
  }

  test("exact eval arms fence oversized corpora toward the sampled twins; under-fence equals opt-out") {
    // an under-sized budget trips each fence with an error naming the
    // sampled twin (the SimhashNarrowFenceDocs pattern)
    val e1 = intercept[IllegalArgumentException](
      PipelineQueries.simhashEvalFenced(spark, SfDir, fenceDocs = 10))
    assert(e1.getMessage.contains("q_simhash_eval_sampled"))
    assert(e1.getMessage.contains("n^1.44"))
    val e2 = intercept[IllegalArgumentException](
      PipelineQueries.simhashEvalWideFenced(spark, SfDir, fenceDocs = 10))
    assert(e2.getMessage.contains("q_simhash_eval_sampled"))
    val e3 = intercept[IllegalArgumentException](
      PipelineQueries.winnowEvalFenced(spark, SfDir, fenceDocs = 10))
    assert(e3.getMessage.contains("q_winnow_eval_sampled"))
    // under the fence the registered entry point ≡ explicit opt-out:
    // the fence only ever adds the require, never changes a result
    val fenced = PipelineQueries.qSimhashEvalWide(spark, SfDir).collect().toSeq
    val optOut = PipelineQueries
      .simhashEvalWideFenced(spark, SfDir, fenceDocs = 0L).collect().toSeq
    assert(fenced == optOut)
  }

  test("AutoPartitions: board SFs keep the core count, the 19 GiB fifth decade meets the probe convention") {
    import graft.operators.AutoPartitions._
    // the measured four-leg board (sf0.01 ≈ 1.9 MB … sf10 ≈ 1.9 GB at
    // 32 cores): plans unchanged — partitions stay at the core count
    assert(derive(1877762L, 32) == 32)
    assert(derive(17508506L, 32) == 32)
    assert(derive(1900000000L, 32) == 32)
    // the 5M-doc / ~19 GiB fifth decade picks at least the probe
    // convention's 256 (SPARK_GRAFT_SHUFFLE_PARTITIONS=256 at sf100)
    assert(derive(19L * 1024 * 1024 * 1024, 32) >= 256)
    // monotone in bytes, floored at cores, capped
    val seq = Seq(0L, 1L << 20, 1L << 30, 1L << 34, 1L << 40, 1L << 50).map(derive(_, 32))
    assert(seq == seq.sorted)
    assert(seq.head == 32 && seq.last == MaxPartitions)
    // a real input dir measures > 0; a missing one degrades to the floor
    assert(dirBytes("/root/testdata/sf0.01") > 0L)
    assert(dirBytes("/nonexistent/graft") == 0L && derive(0L, 32) == 32)
  }

  test("sampled-eval CI brackets the full-corpus recall at sf0.1") {
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$dir/documents.parquet").exists)
    // (n_cand, n_exact, tp, precision, recall, recall_lo, recall_hi)
    val s = PipelineQueries.qSimhashEvalSampled(spark, dir).head()
    val nExact = s.getLong(1)
    val lo = s.getDouble(5)
    val hi = s.getDouble(6)
    assert(nExact > 30L, s"√n budget must keep a usable pair count, got $nExact")
    assert(lo < hi && lo >= 0.0 && hi <= 1.0)
    // the estimator's whole point: the cheap sampled arm's CI contains
    // the expensive full-corpus ground-truth recall
    val fullRecall = PipelineQueries.qSimhashEvalWide(spark, dir).head().getDouble(4)
    assert(
      lo <= fullRecall && fullRecall <= hi,
      s"full recall $fullRecall outside sampled CI [$lo, $hi]")
    // the winnow twin (the other measured n^1.44 exact arm) brackets too
    val w = PipelineQueries.qWinnowEvalSampled(spark, dir).head()
    val wFull = PipelineQueries.qWinnowEval(spark, dir).head().getDouble(4)
    assert(
      w.getDouble(5) <= wFull && wFull <= w.getDouble(6),
      s"full winnow recall $wFull outside sampled CI [${w.getDouble(5)}, ${w.getDouble(6)}]")
  }
}
