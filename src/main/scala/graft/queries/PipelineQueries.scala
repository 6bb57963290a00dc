package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.functions.{Hashing, TextFns, VectorFns}
import graft.functions.expressions.{BpeTokens, DeflateLen, NormalizeText, Tokens, TopKSketch}
import graft.similarity.Ann
import graft.sources.Tables

/** Training-data pipeline operators (SURVEY §2c): dedup, similarity
  * search, text analysis — each with a DuckDB oracle built on the shared
  * md5-derived hash family so results match bit-for-bit.
  *
  * Scale notes: near-dup candidate generation is always bounded (shingle
  * buckets / LSH bands / simhash tables), never all-pairs — the all-pairs
  * joins below appear only inside oracle-sized verification steps and the
  * brute-force ANN baseline.
  */
object PipelineQueries {

  /** String-column adapter over the shared small-output sort (see
    * [[graft.operators.SortUtil.sortSmall]] for the rationale). */
  private def sortSmall(df: DataFrame, cols: String*): DataFrame =
    graft.operators.SortUtil.sortSmall(df, cols.map(col): _*)

  /** Shingle CTEs (`toks<x>`/`sh<x>`/`ex<x>`) over an arbitrary base
    * relation — parameterized so composed oracles (q_pipeline_e2e) can
    * shingle an intermediate CTE under non-clashing names. */
  private def shingleCtes(base: String, x: String): String =
    s"""toks$x AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t FROM $base),
       |sh$x AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM toks$x WHERE len(t) >= 3),
       |ex$x AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS sz, unnest(s) AS shingle FROM sh$x)""".stripMargin

  private val ShingleCte = "WITH " + shingleCtes("documents", "").stripMargin

  /** Sampled-docs CTEs (`nd`/`cutv`/`sdocs`) for the sampled
    * ground-truth evals: the √n hash-sample whose cutoff re-derives
    * from `count(*)` with the same IEEE divide/sqrt/ceil as
    * [[evalSampleCut]]. */
  private def sampledDocsCtes: String = {
    val idh = Hashing.duckMd5Long("CAST(doc_id AS VARCHAR)")
    s"""nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |cutv AS (
       |  SELECT CASE WHEN n <= 0 THEN CAST(10000 AS BIGINT)
       |              ELSE least(CAST(10000 AS BIGINT),
       |                         CAST(ceil(10000.0 * sqrt($EvalSampleBudget / CAST(n AS DOUBLE))) AS BIGINT))
       |         END AS cut
       |  FROM nd),
       |sdocs AS (SELECT d.* FROM documents d, cutv WHERE $idh % 10000 < cutv.cut)""".stripMargin
  }

  /** The sampled-eval confusion + CI tail ([[confusionWithCi]]'s SQL
    * twin): pair full-outer join of `candRel`/`exactRel` (both
    * `(a_id, b_id)`), one-row counts, precision/recall and the 95%
    * binomial CI on recall with the identical IEEE operation order. */
  private def sampledCiTailSql(candRel: String, exactRel: String): String =
    s"""conf AS (
       |  SELECT coalesce(s.a_id, e.a_id) AS a_id,
       |         (s.a_id IS NOT NULL) AS in_cand, (e.a_id IS NOT NULL) AS in_exact
       |  FROM $candRel s FULL OUTER JOIN $exactRel e
       |    ON s.a_id = e.a_id AND s.b_id = e.b_id),
       |agg AS (
       |  SELECT CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |         CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |         CAST(sum(CASE WHEN in_cand AND in_exact THEN 1 ELSE 0 END) AS BIGINT) AS tp
       |  FROM conf),
       |sel AS (
       |  SELECT n_cand, n_exact, tp,
       |         CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE) AS p,
       |         CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE) AS r,
       |         CAST(1.96 AS DOUBLE) * sqrt(CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE) * (1.0 - CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)) AS half
       |  FROM agg)
       |SELECT n_cand, n_exact, tp,
       |       CASE WHEN n_cand > 0 THEN floor(p * 1000000.0 + 0.5) / 1000000.0 END AS precision,
       |       CASE WHEN n_exact > 0 THEN floor(r * 1000000.0 + 0.5) / 1000000.0 END AS recall,
       |       CASE WHEN n_exact > 0 THEN floor(greatest(0.0, r - half) * 1000000.0 + 0.5) / 1000000.0 END AS recall_lo,
       |       CASE WHEN n_exact > 0 THEN floor(least(1.0, r + half) * 1000000.0 + 0.5) / 1000000.0 END AS recall_hi
       |FROM sel""".stripMargin

  // ---------------------------------------------------------------- dedup
  // Thin bindings of graft.dedup.Dedup / graft.similarity.Ann to the
  // driver's test tables — parameters fixed to the oracle's values, plus
  // a deterministic output order. The operator logic lives in the
  // library modules.

  def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables(s, d, "documents")).orderBy("h")

  def qDedupNgram(s: SparkSession, d: String): DataFrame =
    Dedup
      .ngramJaccard(Tables(s, d, "documents"), k = 3, threshold = 0.8)
      .transform(sortSmall(_, "a_id", "b_id"))

  val MinhashSeeds = 16
  val MinhashBands = 8 // 2 rows per band

  /** The near-dup pair table `(a_id, b_id, jaccard)`: minhash LSH over
    * `documents` at [[MinhashSeeds]]/[[MinhashBands]], verified at
    * Jaccard ≥ 0.8. Every key that reads near-dup pairs builds them
    * here, inside its own call, so a result is a function of the tables
    * as they stand; a key whose several jobs read the table cuts it. */
  private def dupPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLsh(
      Tables(s, d, "documents"),
      k = 3,
      numHashes = MinhashSeeds,
      bands = MinhashBands,
      threshold = 0.8)

  def qDedupMinhash(s: SparkSession, d: String): DataFrame =
    dupPairs(s, d).transform(sortSmall(_, "a_id", "b_id"))

  /** Near-duplication rate per source — the intake-dashboard line that
    * decides which feed gets a dedup pass first: of each source's docs,
    * how many sit in at least one minhash near-dup pair. Rides the
    * SAME pair pipeline as [[qDedupMinhash]] (bucketed bands, never
    * all-pairs); the dup-id set is pair-sized, the join back to
    * sources is a semi join, and the report is |sources| rows. */
  def qDupRateBySource(s: SparkSession, d: String): DataFrame = {
    val pairs = dupPairs(s, d)
    // one explode pass, not a two-select union: each union branch
    // would embed (and run) the whole pair pipeline
    val dupIds = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    // ONE corpus pass: a left join + conditional count replaces the
    // r13 semi-join-then-right-join shape (which aggregated the doc
    // table twice); zero-dup sources fall out of the same aggregate
    Tables(s, d, "documents")
      .select("doc_id", "source")
      .join(dupIds.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("dup")).as("n_dup"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_dup"),
        round(
          col("n_dup").cast("double") / col("n_docs").cast("double"),
          6).as("dup_rate"))
      .transform(sortSmall(_, "source"))
  }

  val SimhashBits = 60 // md5Long is a 60-bit hash
  val SimhashMaxHamming = 6

  /** [[Dedup.simhashPairs]]' pigeonhole bit-bands as a DuckDB VALUES
    * table `(band_id, bit offset, mask)` — derived with the IDENTICAL
    * base/extra arithmetic over `maxHamming + 1` bands, so the oracles
    * replay the same banded equi-join the Spark side plans instead of
    * an all-pairs hamming scan. This is what makes the simhash oracles
    * replayable at sf1+ (the all-pairs replay was sf0.1-bounded). */
  private def simhashBandVals: String = {
    val nBands = SimhashMaxHamming + 1
    val base = SimhashBits / nBands
    val extra = SimhashBits % nBands
    val offsets = (0 until nBands).scanLeft(0) { (off, j) =>
      off + base + (if (j < extra) 1 else 0)
    }
    (0 until nBands)
      .map { j =>
        val len = base + (if (j < extra) 1 else 0)
        s"($j, ${offsets(j)}, ${(1L << len) - 1})"
      }
      .mkString(", ")
  }

  /** Banded simhash pair CTEs over a `sims(doc_id, simhash)` CTE:
    * `sbands` explodes the band table, `name` is the exact ≤ maxHamming
    * pair relation `(a_id, b_id, hamming)` — pigeonhole makes the band
    * equi-join lossless at the radius, as in [[Dedup.simhashPairs]]. */
  private def simhashPairCtes(name: String): String =
    s"""sbands AS (
       |  SELECT doc_id, simhash, band_id, (simhash >> off) & msk AS band_bits
       |  FROM sims CROSS JOIN (VALUES $simhashBandVals) AS bnd(band_id, off, msk)),
       |$name AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM sbands a JOIN sbands b
       |    ON a.band_id = b.band_id AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming)""".stripMargin

  def qDedupSimhash(s: SparkSession, d: String): DataFrame = {
    // signatures are a shuffle-free per-row fold over the token array —
    // the only exchange in the whole query is the band self-join's
    val toks = Tables(s, d, "documents")
      .select(col("doc_id"), Tokens.of(col("text")).as("tk"))
    Dedup
      .simhashPairs(
        Dedup.simhashSignaturesFromTokens(toks, "doc_id", "tk", SimhashBits),
        bits = SimhashBits,
        maxHamming = SimhashMaxHamming)
      .transform(sortSmall(_, "a_id", "b_id"))
  }

  /** Wide-band simhash band table for the DuckDB oracles, derived from
    * the IDENTICAL [[Dedup.wideBandLayout]] — generalized stitch
    * coefficients `(band_id, lo_off, lo_msk, hi_off, hi_msk, shl)` so
    * one formula `((sim_lo >> lo_off) & lo_msk) |
    * (((sim_hi >> hi_off) & hi_msk) << shl)` replays every band,
    * including the ones that SPAN the word boundary. */
  private def simhashWideBandVals: String =
    Dedup
      .wideBandLayout(SimhashMaxHamming)
      .map { case (bid, off, len) =>
        if (off + len <= 60)
          s"($bid, $off, ${(1L << len) - 1}, 0, 0, 0)"
        else if (off >= 60)
          s"($bid, 0, 0, ${off - 60}, ${(1L << len) - 1}, 0)"
        else {
          val takeLo = 60 - off
          s"($bid, $off, ${(1L << takeLo) - 1}, 0, ${(1L << (len - takeLo)) - 1}, $takeLo)"
        }
      }
      .mkString(", ")

  /** 120-bit signature CTEs (`wsims(doc_id, sim_lo, sim_hi)`) — both
    * 60-bit halves replayed off ONE md5 per token, like the Spark-side
    * [[graft.functions.expressions.SimhashTokensWide]] fold. `base` is
    * the doc relation (parameterized for the sampled eval). */
  private def simhashWideSimsCtes(base: String = "documents"): String = {
    val hl = Hashing.duckMd5Long("tok")
    val hh = Hashing.duckMd5LongHi("tok")
    s"""wtoksx AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
       |  FROM $base),
       |whx AS (SELECT doc_id, $hl AS hl, $hh AS hh FROM wtoksx),
       |wbits AS (
       |  SELECT doc_id, j,
       |         SUM(CASE WHEN (hl >> j) & 1 = 1 THEN 1 ELSE -1 END) AS wl,
       |         SUM(CASE WHEN (hh >> j) & 1 = 1 THEN 1 ELSE -1 END) AS wh
       |  FROM whx CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j)
       |  GROUP BY doc_id, j),
       |wsims AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN wl > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sim_lo,
       |         CAST(SUM(CASE WHEN wh > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sim_hi
       |  FROM wbits GROUP BY doc_id)""".stripMargin
  }

  /** Banded 120-bit pair CTEs over `wsims`: the exact ≤ maxHamming pair
    * relation via the even (word-boundary-spanning) pigeonhole band
    * join — the wide twin of [[simhashPairCtes]]. */
  private def simhashWidePairCtes(name: String): String =
    s"""swbands AS (
       |  SELECT doc_id, sim_lo, sim_hi, band_id,
       |         ((sim_lo >> lo_off) & lo_msk) | (((sim_hi >> hi_off) & hi_msk) << shl) AS band_bits
       |  FROM wsims CROSS JOIN (VALUES $simhashWideBandVals) AS bnd(band_id, lo_off, lo_msk, hi_off, hi_msk, shl)),
       |$name AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
       |  FROM swbands a JOIN swbands b
       |    ON a.band_id = b.band_id AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)) <= $SimhashMaxHamming)""".stripMargin

  /** [[qDedupSimhash]] on the 120-bit fingerprint — the DEFAULT pair
    * path at corpus scale: radius-6 over 120 bits keeps band buckets
    * 2¹⁵–2²⁰ wide where the 60-bit bands saturate (≤2⁹ buckets) past
    * ~10⁵ docs and candidates grow ~n²/2816. Same query shape — one
    * codegen'd signature fold (no extra md5: both halves ride one
    * digest), band explode, shuffle_hash self-join, exact hamming
    * verify summed over the two words. The 60-bit key stays available
    * for oracle-pinned legacy consumers. */
  def qDedupSimhashWide(s: SparkSession, d: String): DataFrame = {
    val toks = Tables(s, d, "documents")
      .select(col("doc_id"), Tokens.of(col("text")).as("tk"))
    Dedup
      .simhashPairsWide(
        Dedup.simhashSignaturesWide(toks, "doc_id", "tk"),
        maxHamming = SimhashMaxHamming)
      .transform(sortSmall(_, "a_id", "b_id"))
  }

  /** Embeddings with per-vector norm precomputed once. */
  private def normedEmbs(s: SparkSession, dir: String): DataFrame =
    Ann.withNorm(
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), VectorFns.asDouble(col("embedding")).as("v")),
      "v")

  /** Duplicate clusters over the minhash near-dup pairs: (id, comp)
    * with comp = the component's canonical (minimum) id. Iterative
    * fixpoint → no SQL oracle (rows-only check); the spec asserts the
    * component semantics. */
  def qDedupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateClusters(dupPairs(s, d)).transform(sortSmall(_, "id", "comp"))

  /** Duplicate clusters via large-star/small-star contraction
    * (Kiveris et al., SoCC'14) — the O(log² n)-round scale path of
    * [[qDedupClusters]], for corpora whose dup-graph diameter makes
    * min-label propagation's O(diameter) rounds bind (long chain
    * components: versioned docs, quote-expansion chains). Same
    * `(id, comp = component min id)` contract, same oracle. */
  def qCcBigstar(s: SparkSession, d: String): DataFrame =
    Dedup.connectedComponentsBigStar(dupPairs(s, d)).transform(sortSmall(_, "id", "comp"))

  /** Duplicate-family size distribution: how many near-dup clusters of
    * each size the corpus carries (and how many docs they bind) — the
    * "are my duplicates pairs or thousand-doc template families"
    * report that decides between keep-one dedup and template-aware
    * filtering. Rides [[Dedup.duplicateClusters]]' fixpoint; both
    * rollups are cluster-sized statistic tables. */
  def qClusterSizes(s: SparkSession, d: String): DataFrame =
    Dedup
      .duplicateClusters(dupPairs(s, d))
      .groupBy("comp")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"))
      .transform(sortSmall(_, "cluster_size"))

  /** Composed duplicate-graph dashboard: degrees, per-node triangle
    * counts, k-core survivors (in-core degree), and the cluster-size
    * histogram — all four consumers fanning out from ONE materialized
    * pair table ([[dupPairs]]), the way a production curation pipeline
    * runs them (the standalone `q_dup_degree`/`q_triangles`/`q_kcore`/
    * `q_cluster_sizes` entries each verify their operator end-to-end;
    * this entry verifies the composition and carries the
    * materialize-once cost profile). Output is one tall
    * (section, id, v) table: section `degree` keys doc_id → neighbor
    * count, `triangles` keys doc_id → incident triangles, `kcore` keys
    * doc_id → within-core degree, `cluster_size` keys the family size →
    * number of families. */
  def qDupGraphReport(s: SparkSession, d: String): DataFrame = {
    // cut: actions — the k-core and cluster loops' jobs and the report plan read it
    val pairs = dupPairs(s, d).transform(graft.operators.Materialize.cut)
    val deg = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("v"))
      .select(lit("degree").as("section"), col("id"), col("v"))
    val tri = Dedup
      .triangleCounts(pairs)
      .select(
        lit("triangles").as("section"),
        col("doc_id").as("id"),
        col("n_triangles").as("v"))
    val kc = Dedup
      .kCore(pairs, k = KcoreK, rounds = KcoreRounds)
      .select(
        lit("kcore").as("section"),
        col("doc_id").as("id"),
        col("degree").as("v"))
    val cl = Dedup
      .duplicateClusters(pairs)
      .groupBy("comp")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("v"))
      .select(lit("cluster_size").as("section"), col("sz").as("id"), col("v"))
    deg
      .unionByName(tri)
      .unionByName(kc)
      .unionByName(cl)
      .transform(sortSmall(_, "section", "id"))
  }

  /** Per-source duplicate-cluster overlap: for each source pair, how
    * many near-dup families contain documents from BOTH — the "which
    * feeds share templates with which" report a curation team reads
    * before choosing per-source dedup policy. Builds the same pair
    * table as [[qDupGraphReport]] ([[dupPairs]]); membership is
    * (family, source)-distinct so the self-join is family-count-sized,
    * never corpus-sized, and its two sides share one exchange. */
  def qDupSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val memb = Dedup
      .duplicateClusters(dupPairs(s, d))
      .join(
        Tables(s, d, "documents").select(col("doc_id").as("id"), col("source")),
        "id")
      .select("comp", "source")
      .distinct()
    memb
      .select(col("comp"), col("source").as("source_a"))
      .join(
        memb.select(col("comp"), col("source").as("source_b")),
        "comp")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_clusters"))
      .transform(sortSmall(_, "source_a", "source_b"))
  }

  /** Pair-similarity histogram of the near-dup table (2-point bins over
    * the verified Jaccard): the "how near are my near-dups" intake
    * panel — a mass at 0.80–0.84 means threshold-sensitive marginal
    * pairs (tune bands before trusting counts); a mass at 0.96–1.00
    * means true clones. Reads the [[dupPairs]] table; binning
    * is integer percent (floor(j·100+0.5)) so bucket edges are exact in
    * both engines. */
  def qDupJaccardHist(s: SparkSession, d: String): DataFrame =
    dupPairs(s, d)
      .select(floor(col("jaccard") * 100.0d + 0.5d).cast("long").as("jc"))
      .select((col("jc") - col("jc") % 2).as("bin_pct"))
      .groupBy("bin_pct")
      .agg(count(lit(1)).as("n_pairs"))
      .transform(sortSmall(_, "bin_pct"))

  val DedupEmbedThreshold = 0.45

  /** Embedding near-dup pairs through the THRESHOLD-ROUTED front-end
    * ([[Dedup.embeddingNearDups]]) — at the registered 0.45 threshold
    * (below [[Dedup.EmbeddingLshCrossover]]) the dispatcher takes the
    * SemDeDup co-cluster route with corpus-scaled k, the plan whose
    * candidates stay ∝ n where banded LSH at this threshold measured
    * ~n^1.6 (r7 sf1 flag); bands remain the registered plan for
    * high-similarity thresholds (spec-asserted routing, DedupAnnApiSpec).
    * No cartesian anywhere; the all-pairs [[Dedup.embeddingCosine]]
    * baseline is spec-only. */
  def qDedupEmbed(s: SparkSession, d: String): DataFrame =
    Dedup
      .embeddingNearDups(
        // cut: actions — the router's count, k-means rounds and the pair plan read it
        normedEmbs(s, d).transform(graft.operators.Materialize.cut),
        threshold = DedupEmbedThreshold,
        dim = EmbDim,
        targetClusterSize = DedupEmbedClusterSize,
        minClusters = KmeansK,
        kmeansIters = KmeansIters)
      .transform(sortSmall(_, "a_id", "b_id"))

  /** High-similarity clone sweep at 0.9 — the template/clone-pass
    * threshold, ≥ the routing crossover. */
  val DedupEmbedHiThreshold = 0.9
  val DedupEmbedPlantN = 25
  val DedupEmbedPlantOffset = 100000L

  /** The OTHER branch of the routed front-end, as a clone-sweep
    * EVALUATION: the synthetic corpus has no organic cos ≥ 0.9 pairs
    * (max pairwise cos ≈ 0.48), so the query deterministically PLANTS
    * exact clones of the first [[DedupEmbedPlantN]] vectors under
    * offset ids — both engines replant identically — and the ≥-crossover
    * dispatch (banded cosine LSH, [[Dedup.lshTune]]d geometry) must
    * recover exactly those pairs: identical vectors share every band
    * signature (pigeonhole recall 1 at ANY tuning), and any collateral
    * band collision is killed by the exact verify. Keeps BOTH routes of
    * [[Dedup.embeddingNearDups]] under a full DuckDB oracle (this one
    * replays the tuned hyperplane bands bit-for-bit), not just the
    * routing spec. */
  def qDedupEmbedHi(s: SparkSession, d: String): DataFrame = {
    val base = normedEmbs(s, d)
    val planted = base
      .filter(col("vec_id") < DedupEmbedPlantN)
      .select(
        (col("vec_id") + DedupEmbedPlantOffset).as("vec_id"),
        col("v"),
        col("nrm"))
    Dedup
      .embeddingNearDups(
        // cut: actions — lshTune's count and the pair plan read it
        base.unionByName(planted).transform(graft.operators.Materialize.cut),
        threshold = DedupEmbedHiThreshold,
        dim = EmbDim,
        targetClusterSize = DedupEmbedClusterSize,
        minClusters = KmeansK,
        kmeansIters = KmeansIters)
      .transform(sortSmall(_, "a_id", "b_id"))
  }

  // ----------------------------------------------------------- similarity

  private def querySide(s: SparkSession, d: String): DataFrame =
    normedEmbs(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))

  private def corpusSide(s: SparkSession, d: String): DataFrame =
    normedEmbs(s, d)
      .filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))

  /** Brute-force cosine top-k: first 10 vectors are the query set, the
    * rest the corpus. */
  def qAnnTopk(s: SparkSession, d: String): DataFrame =
    Ann
      .bruteForceTopK(querySide(s, d), corpusSide(s, d), k = 5)
      .transform(sortSmall(_, "query_id", "rank"))

  /** ANN recall evaluation — the tuning report for the LSH scale path:
    * per query, how many of the exact brute-force top-5 the LSH bucket
    * search recovered (recall@5). The ANN twin of the dedup-side LSH
    * evaluation (115): run BOTH paths (deliberately — this is an
    * evaluation operator), semi-join approx hits against the exact
    * set, and report per-query recall. Both paths are deterministic
    * (md5-derived hyperplanes), so the report is fully oracle-checked —
    * this is what a 100 TB deployment runs on a sample before trusting
    * nBits/k settings corpus-wide. */
  def qAnnRecall(s: SparkSession, d: String): DataFrame = {
    val exact = Ann
      .bruteForceTopK(querySide(s, d), corpusSide(s, d), k = 5)
      .select("query_id", "neighbor_id")
    val approx = Ann
      .lshTopK(querySide(s, d), corpusSide(s, d), k = 5, nBits = LshBits, dim = EmbDim)
      .select("query_id", "neighbor_id")
    exact
      // broadcast the |Q|·k-row route output — see recallReport
      .join(broadcast(approx), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(
        col("query_id"),
        col("n_hits"),
        round(col("n_hits").cast("double") / 5.0d, 6).as("recall_at_5"))
      .transform(sortSmall(_, "query_id"))
  }

  /** Hard-negative mining: per anchor (first 10 vectors), the top-5
    * most-similar corpus vectors with a DIFFERENT label — contrastive
    * training's near-miss negatives. Same broadcast-anchor product and
    * exact-cosine ranking as [[qAnnTopk]], plus the label-mismatch
    * predicate. */
  def qHardNegatives(s: SparkSession, d: String): DataFrame = {
    val base = Ann.withNorm(
      Tables(s, d, "embeddings").select(
        col("vec_id"),
        col("label"),
        VectorFns.asDouble(col("embedding")).as("v")),
      "v")
    val anchors = base
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("q_v"), col("nrm").as("q_nrm"))
    val corpus = base
      .filter(col("vec_id") >= 10)
      .select(
        col("vec_id").as("neighbor_id"), col("label").as("c_label"),
        col("v").as("c_v"), col("nrm").as("c_nrm"))
    Ann
      .hardNegativesTopK(anchors, corpus, k = 5)
      .transform(sortSmall(_, "query_id", "rank"))
  }

  val LshBits = 4
  val EmbDim = 64

  /** LSH-bucketed ANN (scale path). Deterministic end to end — the
    * hyperplanes are md5-derived literals — so it gets a full DuckDB
    * oracle, not just a rows-only check. */
  def qAnnLsh(s: SparkSession, d: String): DataFrame =
    Ann
      .lshTopK(querySide(s, d), corpusSide(s, d), k = 5, nBits = LshBits, dim = EmbDim)
      .transform(sortSmall(_, "query_id", "rank"))

  /** MIPS ANN via the norm-augmented reduction (Bachrach et al.,
    * RecSys 2014 — see [[Ann.mipsLshTopK]]): top-k by raw INNER PRODUCT
    * (the recommender objective, where magnitude encodes
    * popularity/confidence and cosine is the wrong order), candidates
    * from the sign-bucket LSH over `sqrt(M² − ‖x‖²)`-augmented vectors,
    * exact-dot rerank. Same bucket-equi-join scale shape as q_ann_lsh;
    * the max-norm M² is one control-plane aggregate the oracle
    * recomputes from the parquet. */
  def qAnnMips(s: SparkSession, d: String): DataFrame =
    Ann
      .mipsLshTopK(
        querySide(s, d), corpusSide(s, d),
        k = 5, bands = MipsBands, bitsPerBand = LshBits, dim = EmbDim)
      .transform(sortSmall(_, "query_id", "rank"))

  val MipsBands = 4

  val IvfCentroids = 8
  val IvfProbes = 2

  /** The IVF coarse quantizer both IVF queries share: the first
    * `IvfCentroids` corpus vectors (training-free deterministic init,
    * same convention as the PQ codebook — what lets DuckDB rebuild the
    * identical quantizer from the parquet alone). */
  private def ivfCents(s: SparkSession, d: String): DataFrame =
    normedEmbs(s, d)
      .filter(col("vec_id") >= 10 && col("vec_id") < lit(10 + IvfCentroids))
      .select(col("vec_id").as("cent_id"), col("v").as("cent_v"), col("nrm").as("cent_nrm"))

  /** IVF ANN (the other scale path) — deterministic end to end, full
    * DuckDB oracle. Rebuilds the cell assignment inline — the one-shot
    * query shape; [[qAnnIvfStored]] is the build-once/probe-many twin. */
  def qAnnIvf(s: SparkSession, d: String): DataFrame =
    Ann
      .ivfTopK(querySide(s, d), corpusSide(s, d), ivfCents(s, d), k = 5, nProbe = IvfProbes)
      .transform(sortSmall(_, "query_id", "rank"))

  /** The one DuckDB oracle both IVF queries check against (see
    * [[qAnnIvfStored]]: the stored probe replays the same quantizer and
    * assignment as the inline query, so the results are identical). */
  private lazy val IvfOracleCtes: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cents AS (SELECT vec_id AS cent_id, v AS cent_v, nrm AS cent_nrm
       |          FROM n WHERE vec_id >= 10 AND vec_id < ${10 + IvfCentroids}),
       |qn AS (
       |  SELECT query_id, q_v, q_nrm, cent_id FROM (
       |    SELECT q.vec_id AS query_id, q.v AS q_v, q.nrm AS q_nrm, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_dot_product(q.v, c.cent_v) / greatest(q.nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS cent_rank
       |    FROM n q CROSS JOIN cents c WHERE q.vec_id < 10)
       |  WHERE cent_rank <= $IvfProbes),
       |cn AS (
       |  SELECT neighbor_id, c_v, c_nrm, cent_id FROM (
       |    SELECT x.vec_id AS neighbor_id, x.v AS c_v, x.nrm AS c_nrm, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |             ORDER BY list_dot_product(x.v, c.cent_v) / greatest(x.nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS cent_rank
       |    FROM n x CROSS JOIN cents c WHERE x.vec_id >= 10)
       |  WHERE cent_rank <= 1),
       |ivfsc AS (
       |  SELECT qn.query_id, cn.neighbor_id,
       |         round(list_dot_product(qn.q_v, cn.c_v) / greatest(qn.q_nrm * cn.c_nrm, 1e-300), 6) AS cos
       |  FROM qn JOIN cn USING (cent_id)),
       |ivftop AS (
       |  SELECT query_id,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
       |         neighbor_id, cos
       |  FROM ivfsc
       |  QUALIFY rank <= 5)""".stripMargin

  private lazy val IvfOracleSql: String =
    s"""WITH $IvfOracleCtes
       |SELECT query_id, rank, neighbor_id, cos
       |FROM ivftop
       |ORDER BY query_id, rank""".stripMargin

  /** Process scratch root for the stored-index keys, created on first
    * use; one shutdown hook deletes it at JVM exit (best-effort: kill -9
    * skips the hook, and a leftover never collides with a live run,
    * since the root and every index dir under it are fresh temp dirs). */
  private lazy val storedIndexRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_ann_")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(root.toFile)))
    root
  }

  /** A fresh directory for one call's stored index. The stored-index
    * keys build their index on every call, so a result always reflects
    * the tables as they stand and a key's wall time is build + probe;
    * the probe reads the index lazily, so the dir lives until exit. */
  private def freshIndexDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(storedIndexRoot, prefix).toString

  /** IVF ANN against a PERSISTED index — the serving shape at 100 TB:
    * [[Ann.ivfBuild]] writes the quantizer + cell-partitioned lists to
    * parquet (a fresh index per call); [[Ann.ivfProbe]] then plans
    * against the stored index with no re-training and a scan pruned to
    * the probed cells' files (a literal cell-id filter from a
    * control-plane collect). Same quantizer + assignment rule as
    * [[qAnnIvf]] → identical results, checked by the identical oracle. */
  def qAnnIvfStored(s: SparkSession, d: String): DataFrame = {
    val path = freshIndexDir("graft_ivf_")
    Ann.ivfBuild(corpusSide(s, d), ivfCents(s, d), path)
    Ann
      .ivfProbe(s, path, querySide(s, d), k = 5, nProbe = IvfProbes)
      .transform(sortSmall(_, "query_id", "rank"))
  }

  /** Metadata-filtered vector search — the "where label = X" RAG shape:
    * the predicate restricts the CORPUS before any scoring (filter →
    * bucket join → rank, so the label filter reaches the parquet scan
    * and the LSH path stays cartesian-free); top-k is then exact cosine
    * within the filtered bucket. */
  val AnnFilterLabel = 1

  def qAnnFiltered(s: SparkSession, d: String): DataFrame = {
    val corpus = Ann
      .withNorm(
        Tables(s, d, "embeddings")
          .filter(col("vec_id") >= 10 && col("label") === AnnFilterLabel)
          .select(col("vec_id"), VectorFns.asDouble(col("embedding")).as("v")),
        "v")
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    Ann
      .lshTopK(querySide(s, d), corpus, k = 5, nBits = LshBits, dim = EmbDim)
      .transform(sortSmall(_, "query_id", "rank"))
  }

  val PqM = 8
  val PqKs = 8
  val PqShortlist = 20
  val PqK = 5

  /** Lloyd rounds for the PQ codebook (per-subspace k-means,
    * [[Ann.pqTrain]]) — fixed and replayed by the DuckDB oracle. */
  val PqTrainIters = 2

  /** The trained PQ codebook — the serving convention's INDEX (scoring
    * is the query), trained inside each call that scores with it. */
  private def pqCb(s: SparkSession, d: String): Ann.PqCodebook =
    Ann.pqTrain(corpusSide(s, d), PqM, PqKs, EmbDim, PqTrainIters)

  /** Product-quantization ANN with exact rerank — the third scale path
    * (codes are ~16 B/vector; the candidate scan never touches raw
    * vectors). The codebook is TRAINED: [[PqTrainIters]] per-subspace
    * Lloyd rounds from the lowest-id seeds ([[Ann.pqTrain]] — exact
    * fixed-point means, so the oracle replays the identical training).
    * Deterministic end to end → full DuckDB oracle. */
  def qAnnPq(s: SparkSession, d: String): DataFrame =
    Ann
      .pqTopKWith(
        querySide(s, d),
        corpusSide(s, d),
        pqCb(s, d),
        shortlist = PqShortlist,
        k = PqK)
      .transform(sortSmall(_, "query_id", "rank"))

  /** Shared recall@5 fold of the eval family: exact top-5 semi-joined
    * against a route's top-5, hits counted per query (queries with zero
    * recovered neighbors drop out, the [[qAnnRecall]] contract). */
  private def recallReport(exact: DataFrame, approx: DataFrame): DataFrame =
    exact
      .select("query_id", "neighbor_id")
      // broadcast the route's top-k: it is |Q|·k rows BY CONSTRUCTION
      // (query sets are bounded — the Ann contract), so the semi join
      // needs no exchange at any corpus scale; without the hint the
      // planner SMJ'd two ~50-row sides through full-key re-shuffles
      // (requireAllClusterKeysForCoPartition), 3 extra AQE stages per
      // recall key (r15, guide §3.1)
      .join(
        broadcast(approx.select("query_id", "neighbor_id")),
        Seq("query_id", "neighbor_id"),
        "left_semi")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(
        col("query_id"),
        col("n_hits"),
        round(col("n_hits").cast("double") / 5.0d, 6).as("recall_at_5"))
      .transform(sortSmall(_, "query_id"))

  /** Recall@5 of the PQ+ADC route (37d convention extended to the PQ
    * serving path): how many of the exact cosine top-5 survive the
    * trained codebook's ADC shortlist + rerank. The number a
    * billion-vector deployment reads before trusting m/ks/shortlist
    * settings. Deterministic both arms → full DuckDB oracle. */
  def qAnnRecallPq(s: SparkSession, d: String): DataFrame =
    recallReport(
      Ann.bruteForceTopK(querySide(s, d), corpusSide(s, d), k = PqK),
      Ann.pqTopKWith(
        querySide(s, d),
        corpusSide(s, d),
        pqCb(s, d),
        shortlist = PqShortlist,
        k = PqK))

  /** Recall@5 of the stored-IVF probe route vs exact brute force — what
    * nProbe actually buys. The stored probe replays [[qAnnIvf]]'s
    * quantizer + assignment, so this also scores the inline IVF path.
    * Deterministic → full DuckDB oracle. */
  def qAnnRecallIvf(s: SparkSession, d: String): DataFrame =
    recallReport(
      Ann.bruteForceTopK(querySide(s, d), corpusSide(s, d), k = 5),
      qAnnIvfStored(s, d))

  /** Recall@5 of the norm-augmented MIPS LSH route vs the exact
    * max-inner-product top-5 — the missing measured row behind the
    * "well above the tuning floor" comment ([[Ann.mipsLshTopK]]).
    * Deterministic → full DuckDB oracle. */
  def qAnnRecallMips(s: SparkSession, d: String): DataFrame =
    recallReport(
      Ann.mipsTopK(querySide(s, d), corpusSide(s, d), k = 5),
      Ann.mipsLshTopK(
        querySide(s, d), corpusSide(s, d),
        k = 5, bands = MipsBands, bitsPerBand = LshBits, dim = EmbDim))

  /** Cells each query probes on the combined route (the IVF axis). */
  val IvfPqProbes = 2

  /** IVF-PQ ANN — the combined billion-scale serving route (Jégou et
    * al., TPAMI 2011 §IV "IVFADC"): the [[qAnnIvf]] coarse quantizer
    * prunes candidates to [[IvfPqProbes]] cells, the [[qAnnPq]] trained
    * codebook scores the survivors from 16-byte codes (no raw-vector
    * reads), and only the ADC shortlist pays an exact rerank. The two
    * pruning axes compose multiplicatively — candidate COUNT × bytes
    * PER candidate — which is the memory-bandwidth shape a
    * billion-vector deployment actually serves. Same quantizer, same
    * codebook, same tie rules as the component routes → deterministic
    * end to end, full DuckDB oracle ([[Ann.ivfPqTopKWith]]: probing all
    * cells recovers q_ann_pq exactly, spec-asserted). */
  def qAnnIvfPq(s: SparkSession, d: String): DataFrame =
    Ann
      .ivfPqTopKWith(
        querySide(s, d),
        corpusSide(s, d),
        ivfCents(s, d),
        pqCb(s, d),
        k = PqK,
        nProbe = IvfPqProbes,
        shortlist = PqShortlist)
      .transform(sortSmall(_, "query_id", "rank"))

  /** IVF-PQ against a PERSISTED index — the combined route's full
    * serving story: quantizer + cell-partitioned raw `lists/` + a
    * cell-partitioned ~16-byte `codes/` tier + the persisted codebook,
    * built fresh per call ([[Ann.ivfPqBuild]]); probes prune
    * BOTH tiers to the probed cells' files and retrain nothing
    * ([[Ann.ivfPqProbe]]). Same quantizer, codebook, and tie rules as
    * [[qAnnIvfPq]] → identical results, checked by the identical
    * oracle (the q_ann_ivf_stored convention). */
  def qAnnIvfPqStored(s: SparkSession, d: String): DataFrame = {
    val path = freshIndexDir("graft_ivfpq_")
    Ann.ivfPqBuild(corpusSide(s, d), ivfCents(s, d), pqCb(s, d), path)
    Ann
      .ivfPqProbe(
        s, path, querySide(s, d),
        k = PqK, nProbe = IvfPqProbes, shortlist = PqShortlist)
      .transform(sortSmall(_, "query_id", "rank"))
  }

  /** Modulus/residue of the planted deletion set for
    * [[qAnnIvfPqDeleted]]: every corpus vector with
    * `neighbor_id % AnnDeleteMod == AnnDeleteRem` is deleted — a
    * deterministic ~14% spread across cells, so the delete touches
    * several cells AND leaves several untouched (both contract halves
    * exercised), and the DuckDB oracle derives the identical set. */
  val AnnDeleteMod = 7L
  val AnnDeleteRem = 3L

  /** IVF-PQ probe AFTER vector deletion — the serving index's removal
    * lifecycle ([[Ann.ivfDelete]]): a fresh two-tier index is built,
    * the planted [[AnnDeleteMod]]-residue set is deleted (touched cells
    * rewritten under fresh ids in BOTH tiers, quantizer re-keyed, cold
    * cells untouched), and the standard probe runs against the result.
    * Correctness claim the oracle checks: the probe equals the inline
    * combined route over the corpus MINUS the deleted set — deleted
    * vectors are out of candidacy entirely (not merely filtered from
    * the output), so shortlist ranks re-close over survivors.
    * Deterministic end to end → full DuckDB oracle. */
  def qAnnIvfPqDeleted(s: SparkSession, d: String): DataFrame = {
    val path = freshIndexDir("graft_ivfpqdel_")
    Ann.ivfPqBuild(corpusSide(s, d), ivfCents(s, d), pqCb(s, d), path)
    Ann.ivfDelete(
      s, path,
      corpusSide(s, d)
        .select("neighbor_id")
        .filter(col("neighbor_id") % AnnDeleteMod === AnnDeleteRem))
    Ann
      .ivfPqProbe(
        s, path, querySide(s, d),
        k = PqK, nProbe = IvfPqProbes, shortlist = PqShortlist)
      .transform(sortSmall(_, "query_id", "rank"))
  }

  /** Recall@5 of the combined IVF-PQ route vs exact brute force — the
    * compounded-loss readout (cell pruning CAN drop a true neighbor the
    * PQ shortlist would have kept, and vice versa; a deployment tunes
    * nProbe and shortlist against THIS number, not the per-axis ones).
    * Deterministic → full DuckDB oracle. */
  def qAnnRecallIvfPq(s: SparkSession, d: String): DataFrame =
    recallReport(
      Ann.bruteForceTopK(querySide(s, d), corpusSide(s, d), k = PqK),
      Ann.ivfPqTopKWith(
        querySide(s, d),
        corpusSide(s, d),
        ivfCents(s, d),
        pqCb(s, d),
        k = PqK,
        nProbe = IvfPqProbes,
        shortlist = PqShortlist))

  /** Planted distribution shift for the codebook-staleness eval: a
    * constant +[[DriftShift]] added to EVERY dimension — ≈ 4σ of the
    * synthetic embeddings' per-dim spread, the "the upstream encoder
    * changed" scenario. Deterministic and elementwise, so the DuckDB
    * oracle replays it with one `list_transform`. */
  val DriftShift = 0.5d

  /** Id offset that keeps the drifted twin rows distinct from their
    * originals in the union corpus. */
  val DriftIdOffset = 1000000L

  /** Recall@5 of the IVF-PQ route over an index AFTER a planted
    * distribution-shifted append — the codebook-staleness readout
    * behind [[graft.similarity.Ann.IvfPqRetrainFence]]: quantizer and
    * codebook stay FROZEN at build time (trained on the original corpus
    * only, exactly what [[graft.similarity.Ann.ivfAppend]] does),
    * while the serving corpus is original ∪ shifted twins and the
    * queries live in the shifted region. The number says what silent
    * drift costs the route — compare against q_ann_recall_ivfpq (the
    * same fold on same-distribution data) before trusting append-only
    * ingest under encoder churn; past the fence, retrain. Deterministic
    * end to end → full DuckDB oracle. */
  def qAnnRecallIvfPqDrift(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusSide(s, d)
    // collision fence: a corpus id at/past the offset would make a
    // drifted twin's id DUPLICATE a real vector in the union serving
    // corpus — and the oracle replays the identical collision, so the
    // parity gate could never catch the silent corruption. One max
    // aggregate (control plane) buys the loud failure instead.
    val maxId = Option(corpus.agg(max(col("neighbor_id"))).head().get(0))
      .map(_.asInstanceOf[Long])
      .getOrElse(0L)
    require(
      maxId < DriftIdOffset,
      s"q_ann_recall_ivfpq_drift: max corpus id $maxId >= DriftIdOffset " +
        s"$DriftIdOffset — drifted-twin ids would collide with real " +
        "vectors; raise the offset past the corpus id range")
    val drift = corpus
      .select(
        (col("neighbor_id") + DriftIdOffset).as("neighbor_id"),
        transform(col("c_v"), x => x + lit(DriftShift)).as("c_v"))
      .withColumn("c_nrm", VectorFns.norm(col("c_v")))
    val serving = corpus.select("neighbor_id", "c_v", "c_nrm").unionByName(drift)
    val dq = querySide(s, d)
      .select(
        col("query_id"),
        transform(col("q_v"), x => x + lit(DriftShift)).as("q_v"))
      .withColumn("q_nrm", VectorFns.norm(col("q_v")))
    recallReport(
      Ann.bruteForceTopK(dq, serving, k = PqK),
      Ann.ivfPqTopKWith(
        dq,
        serving,
        ivfCents(s, d),
        pqCb(s, d),
        k = PqK,
        nProbe = IvfPqProbes,
        shortlist = PqShortlist))
  }

  /** Recall@5 as a FUNCTION of nProbe (1..[[IvfCentroids]]) — the IVF
    * tuning curve a deployment reads before fixing its probe budget
    * (each probe buys latency; the curve says what it buys in recall).
    * ONE corpus pass total: instead of running the route per probe
    * setting, every (query, cell) gets its probe RANK
    * ([[Ann.cellRanks]]), each exact-top-5 pair is tagged with the rank
    * of the probe that would first reach its neighbor's cell, and the
    * curve is the cumulative count over that 8-value histogram. The
    * exact-rerank routes recover any candidate the cell set admits, so
    * hits-at-rank ≡ the route's recall at that nProbe (the
    * [[qAnnRecallIvf]] identity, spec-asserted at the default probe).
    * Deterministic → full DuckDB oracle. */
  def qIvfProbeCurve(s: SparkSession, d: String): DataFrame = {
    val q = querySide(s, d)
    val c = corpusSide(s, d)
    val cents = broadcast(ivfCents(s, d))
    val qr = Ann
      .cellRanks(q, cents, "query_id", "q_v", "q_nrm")
      .select(col("query_id"), col("cent_id"), col("cent_rank").as("pr"))
    val cn = Ann
      .cellRanks(c, cents, "neighbor_id", "c_v", "c_nrm")
      .filter(col("cent_rank") === 1)
      .select("neighbor_id", "cent_id")
    val needed = Ann
      .bruteForceTopK(q, c, k = 5)
      .select("query_id", "neighbor_id")
      .join(cn.hint("shuffle_hash"), "neighbor_id")
      .join(broadcast(qr), Seq("query_id", "cent_id"))
    val perRank = needed.groupBy(col("pr").as("n_probe")).agg(count(lit(1)).as("h"))
    val grid = s.range(1, IvfCentroids + 1L).select(col("id").as("n_probe"))
    val nq = q.agg(count(lit(1)).as("n_queries"))
    val wCum = Window
      .orderBy("n_probe")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(perRank, Seq("n_probe"), "left")
      .withColumn("n_hits", sum(coalesce(col("h"), lit(0L))).over(wCum))
      .crossJoin(broadcast(nq))
      .select(
        col("n_probe"),
        col("n_hits"),
        round(
          col("n_hits").cast("double") /
            (lit(5.0d) * col("n_queries").cast("double")),
          6).as("recall_at_5"))
      .transform(sortSmall(_, "n_probe"))
  }

  /** Shortlist sizes the IVF-PQ shortlist curve evaluates — fixed and
    * replayed by the DuckDB oracle; contains [[PqShortlist]] so the
    * curve pins the route's default. */
  val IvfPqShortlistGrid = Seq(5, 10, 20, 40)

  /** Recall@5 as a FUNCTION of the ADC shortlist size — the OTHER
    * tuning axis of the combined route (q_ivf_probe_curve covers
    * nProbe): each shortlist slot costs one raw-vector rerank row per
    * query; the curve says what it buys in recall. ONE corpus pass
    * ([[Ann.ivfPqScoredCandidates]] capped at the grid max): the
    * route's top-5 at shortlist s is exactly the cosine top-5 among
    * candidates with ADC rank ≤ s (the rerank is exact, so shortlist
    * membership is all s changes), so the whole grid evaluates off the
    * one materialized candidate table. Monotone by construction — a
    * wider shortlist can only swap a true hit for another true hit
    * (any displacer outranks a top-5 cosine, hence is itself top-5);
    * at s = [[PqShortlist]] the hits equal q_ann_recall_ivfpq's
    * aggregate (the route identity, spec-asserted). Deterministic →
    * full DuckDB oracle. */
  def qIvfPqShortlistCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = querySide(s, d)
    val c = corpusSide(s, d)
    // ONE window pass for the whole grid (r15, guide §2.4): each
    // candidate row explodes to the grid points whose shortlist admits
    // it (srk ≤ sl), and one (query, shortlist)-partitioned rank
    // replaces the former per-grid-arm window+semi-join+aggregate
    // union (4 windows + 4 aggregates + 2 lineage cuts → 1 + 1 + 0;
    // the per-arm plan ran ~31 AQE jobs for 400 candidate rows). Each
    // (q, sl) group ranks exactly the rows the old `srk ≤ sl` filter
    // kept, so the per-shortlist top-5 — and therefore every count —
    // is unchanged.
    val cand = Ann
      .ivfPqScoredCandidates(
        q, c, ivfCents(s, d), pqCb(s, d),
        nProbe = IvfPqProbes, cap = IvfPqShortlistGrid.max)
    val exact = Ann
      .bruteForceTopK(q, c, k = PqK)
      .select("query_id", "neighbor_id")
    val w = Window
      .partitionBy("query_id", "shortlist")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val tops = cand
      .select(
        col("query_id"),
        col("neighbor_id"),
        col("cos"),
        explode(
          filter(
            typedLit(IvfPqShortlistGrid.map(_.toLong)),
            sl => col("srk") <= sl)).as("shortlist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PqK)
      .select("query_id", "neighbor_id", "shortlist")
    // candidate (query, neighbor) rows are unique per shortlist (each
    // vector lives in one cell; ranks are row_numbers), so the inner
    // join counts exactly the rows the old left-semi counted
    val hits = exact
      .join(tops, Seq("query_id", "neighbor_id"))
      .groupBy("shortlist")
      .agg(count(lit(1)).as("h"))
    val nq = q.agg(count(lit(1)).as("n_queries"))
    IvfPqShortlistGrid.map(_.toLong)
      .toDF("shortlist")
      .join(hits, Seq("shortlist"), "left")
      .crossJoin(broadcast(nq))
      .select(
        col("shortlist"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        round(
          coalesce(col("h"), lit(0L)).cast("double") /
            (lit(5.0d) * col("n_queries").cast("double")),
          6).as("recall_at_5"))
      .transform(sortSmall(_, "shortlist"))
  }

  // ------------------------------------------------------------- text ops

  /** Tokens are projected once through the codegen'd [[Tokens]]
    * expression; the marker counts are then materialized in their own
    * projection so the language CASE doesn't re-evaluate each filter. */
  def qLangId(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(col("doc_id"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        col("doc_id"),
        col("text"),
        TextFns.markerCount(col("t"), TextFns.EnMarkers).as("en"),
        TextFns.markerCount(col("t"), TextFns.DeMarkers).as("de"),
        TextFns.markerCount(col("t"), TextFns.FrMarkers).as("fr"),
        TextFns.markerCount(col("t"), TextFns.EsMarkers).as("es"))
      .select(
        col("doc_id"),
        TextFns
          .langIdFromCounts(
            col("text"), col("en"), col("de"), col("fr"), col("es"))
          .as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Purity evidence floor: docs with fewer marker hits than this are
    * 'sparse' — too little signal to call pure vs mixed either way. */
  val PurityMinMarkers = 5L

  /** Mixed-language (code-switching) detection — the CCNet-style
    * purity gate that [[qLangId]]'s single-label answer hides: per doc,
    * the four marker counts; with ≥ [[PurityMinMarkers]] total
    * evidence the doc is 'pure' when the top language holds ≥ 80% of
    * the marker mass (integer fence `top·5 ≥ total·4` — no float
    * compare), else 'mixed'; below the floor it is 'sparse'. Reported
    * per (source, purity) with the within-source share — the "which
    * feeds ship code-switched text" intake panel. One corpus scan, one
    * alphabet-sized aggregate, one source-partitioned window. */
  def qLangPurity(s: SparkSession, d: String): DataFrame = {
    val marked = Tables(s, d, "documents")
      .select(col("source"), Tokens.of(col("text")).as("t"))
      .select(
        col("source"),
        TextFns.markerCount(col("t"), TextFns.EnMarkers).as("en"),
        TextFns.markerCount(col("t"), TextFns.DeMarkers).as("de"),
        TextFns.markerCount(col("t"), TextFns.FrMarkers).as("fr"),
        TextFns.markerCount(col("t"), TextFns.EsMarkers).as("es"))
      .select(
        col("source"),
        greatest(col("en"), col("de"), col("fr"), col("es")).as("top"),
        (col("en") + col("de") + col("fr") + col("es")).as("tot"))
      .select(
        col("source"),
        when(col("tot") < lit(PurityMinMarkers), lit("sparse"))
          .when(col("top") * 5L >= col("tot") * 4L, lit("pure"))
          .otherwise(lit("mixed"))
          .as("purity"))
    val w = Window.partitionBy("source")
    marked
      .groupBy("source", "purity")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn(
        "share",
        round(col("n_docs").cast("double") / sum("n_docs").over(w).cast("double"), 6))
      .transform(sortSmall(_, "source", "purity"))
  }

  def qTextQuality(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(col("doc_id"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        round(TextFns.meanTokenLenFrom(col("t")), 4).as("mean_token_len"),
        round(TextFns.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFns.stopwordRatioFrom(col("t")), 6).as("stopword_ratio"),
        round(TextFns.distinctTokenRatioFrom(col("t")), 6).as("distinct_ratio"))
      .withColumn(
        "quality_ok",
        col("n_tokens") >= 10 && col("n_tokens") <= 1000 &&
          col("punct_ratio") < 0.1 && col("distinct_ratio") > 0.3)
      .orderBy("doc_id")
  }

  /** Gopher-style rule-based quality flags (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A1.1 heuristics) — the RULE
    * complement of the linear [[qQualityModel]]: per doc, word count
    * bounds, mean word length in [3, 10], ≥ 80% of words containing an
    * alphabetic character, and ≥ 2 distinct required stopwords present.
    * Each signal is emitted alongside the combined keep bit so a
    * curation run can audit WHICH rule fired. One projection pass per
    * doc (narrow, no shuffle beyond the output sort); arithmetic is
    * sum/count + round(6) so the DuckDB oracle matches bit-for-bit. */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

  def qGopherRules(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(col("doc_id"), Tokens.of(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_words"),
        round(
          aggregate(transform(col("t"), w => length(w).cast("long")), lit(0L), _ + _)
            .cast("double") / size(col("t")),
          6).as("mean_word_len"),
        round(
          size(filter(col("t"), w => w.rlike("[A-Za-z]"))).cast("double") /
            size(col("t")),
          6).as("alpha_frac"),
        size(array_intersect(
          array_distinct(col("t")),
          array(GopherStopwords.map(lit): _*))).cast("long").as("stop_hits"))
      .withColumn(
        "keep",
        col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("alpha_frac") >= 0.8 && col("stop_hits") >= 2L)
      .orderBy("doc_id")
  }

  /** Near-dup graph degrees: how many LSH-verified neighbors each doc
    * has. High degree = template/boilerplate family; organic dups sit
    * at 1–2 — the complement of [[qDedupClusters]]'s membership view.
    * One explode pass over the pair table (NOT two selects unioned,
    * which would embed the whole LSH subplan twice). */
  def qDupDegree(s: SparkSession, d: String): DataFrame =
    dupPairs(s, d)
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("doc_id"))
      .limit(10)
      .transform(
        graft.operators.SortUtil.sortSmall(_, col("degree").desc, col("doc_id")))

  /** Passage-level exact dedup: non-overlapping 10-token spans shared
    * by ≥ 2 docs are dropped corpus-wide and docs reassembled — see
    * [[graft.dedup.Dedup.passageDedup]] for the scale shape. */
  def qPassageDedup(s: SparkSession, d: String): DataFrame =
    Dedup
      .passageDedup(Tables(s, d, "documents"), window = 10, minDocs = 2)
      // cut: actions — the sort's range-sampling job and the write read it
      .transform(graft.operators.Materialize.cut)
      .orderBy("doc_id")

  /** Line-level corpus dedup (RefinedWeb "remove duplicated lines") —
    * newline-granularity complement of [[qPassageDedup]]'s token
    * windows. The testdata corpus is single-line documents, so here the
    * operator degenerates to whole-text df counting (nothing hot at 500
    * distinct texts); DedupAnnApiSpec drives the multi-line behavior on
    * crafted docs — this entry pins the cross-engine parity of the
    * split/count/reassemble machinery. */
  def qLineDedup(s: SparkSession, d: String): DataFrame =
    Dedup
      .lineDedup(Tables(s, d, "documents"), minDocs = 2)
      // cut: actions — the sort's range-sampling job and the write read it
      .transform(graft.operators.Materialize.cut)
      .orderBy("doc_id")

  val ShuffleShards = 16
  val ShuffleSalt = "ep0"

  /** Deterministic corpus shuffle: stable (shard, pos) for every doc in
    * the md5(id ++ salt) total order — the reproducible "epoch
    * permutation" a trainer replays on any cluster size. Range-aligned
    * shards + broadcast prefix sums; no global single-partition sort
    * (see [[graft.operators.Sampling.corpusShuffle]]). */
  def qCorpusShuffle(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .corpusShuffle(Tables(s, d, "documents"), "doc_id", shards = ShuffleShards, salt = ShuffleSalt)
      .orderBy("pos")

  /** Per-vector int8 scalar quantization with reconstruction-error
    * report (rmse via the three bit-reproducible dot products, cosine
    * against the dequantized vector). The 4× compression that keeps
    * billion-vector shortlists in executor memory; codes stay exact
    * under the explicit floor(x/s + 0.5) tie rule in both engines. */
  def qQuantizeEmbed(s: SparkSession, d: String): DataFrame = {
    val e = Tables(s, d, "embeddings")
      .select(col("vec_id"), VectorFns.asDouble(col("embedding")).as("v"))
    val q = e
      .withColumn("scale", VectorFns.quantizeScale(col("v")))
      .withColumn(
        "deq",
        VectorFns.dequantize(
          VectorFns.quantizeCodes(col("v"), col("scale")),
          col("scale")))
    q.select(
      col("vec_id"),
      round(col("scale"), 6).as("scale"),
      size(col("v")).as("n_dims"),
      round(
        sqrt(
          greatest(
            VectorFns.dot(col("v"), col("v"))
              - lit(2.0) * VectorFns.dot(col("v"), col("deq"))
              + VectorFns.dot(col("deq"), col("deq")),
            lit(0.0)) / size(col("v"))),
        6).as("rmse"),
      round(VectorFns.cosine(col("v"), col("deq")), 6).as("cos_deq"))
      .orderBy("vec_id")
  }

  /** HTML boilerplate strip over the shared rule chain
    * ([[TextFns.HtmlRules]]) — tags, script/style bodies, comments,
    * entity decodes, whitespace collapse. Linear scan, no shuffle; a
    * near-no-op on this markup-free corpus (the crafted-HTML behavior
    * lives in TextFnsSpec), so the entry pins the 11-rule regex-chain
    * parity between engines. */
  def qHtmlStrip(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"), TextFns.stripHtml(col("text")).as("clean"))
      .withColumn("n_chars_clean", length(col("clean")).cast("long"))
      .orderBy("doc_id")

  /** One-pass ANALYZE-style profile of every documents column: row /
    * null / exact-distinct counts and lexicographic min/max of the
    * string form. Two-phase over (column, value) so the distinct count
    * never funnels a column's whole value set through one reducer —
    * the profile of a 100 TB table is one narrow shuffle. */
  def qProfile(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(expr(
        """stack(5,
          |  'doc_id', CAST(doc_id AS STRING),
          |  'text', text,
          |  'lang', lang,
          |  'source', source,
          |  'n_chars', CAST(n_chars AS STRING)) AS (column_name, val)""".stripMargin))
      .groupBy("column_name", "val")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("column_name")
      .agg(
        sum("cnt").as("n_rows"),
        sum(when(col("val").isNull, col("cnt")).otherwise(lit(0L)))
          .as("n_nulls"),
        count(when(col("val").isNotNull, 1)).as("n_distinct"),
        min("val").as("min_val"),
        max("val").as("max_val"))
      .orderBy("column_name")

  /** Data-quality expectation suite (the dbt-test / Great-Expectations
    * gate): a fixed rule catalog — range, positivity, non-null,
    * accepted-values, key-uniqueness — evaluated across five tables in
    * ONE aggregate scan per table, each scan folding all of its rules
    * into conditional sums before a `stack` explodes them to rule rows.
    * The output is the pipeline's go/no-go table: rows-checked,
    * violations, pass bit per rule. Integer-exact; violations are
    * REPORTED, not asserted (a failing rule is a red row, not a crashed
    * job). */
  def qExpectations(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem")
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END"))
          .as("v1"),
        sum(expr("CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END"))
          .as("v2"))
      .select(expr(
        """stack(2,
          |  'lineitem', 'l_quantity_in_1_50', n, v1,
          |  'lineitem', 'l_extendedprice_positive', n, v2)
          |  AS (table_name, rule, n_rows, n_violations)""".stripMargin))
    val ord = Tables(s, d, "orders")
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END"))
          .as("v1"),
        sum(expr(
          "CASE WHEN NOT (o_orderdate BETWEEN TIMESTAMP '1992-01-01 00:00:00'" +
            " AND TIMESTAMP '2000-12-31 00:00:00') THEN 1 ELSE 0 END")).as("v2"))
      .select(expr(
        """stack(2,
          |  'orders', 'o_totalprice_positive', n, v1,
          |  'orders', 'o_orderdate_in_range', n, v2)
          |  AS (table_name, rule, n_rows, n_violations)""".stripMargin))
    val cust = Tables(s, d, "customer")
      .agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("v1"))
      .select(expr(
        """stack(1, 'customer', 'c_custkey_unique', n, v1)
          |  AS (table_name, rule, n_rows, n_violations)""".stripMargin))
    val ev = Tables(s, d, "events")
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CASE WHEN ts IS NULL THEN 1 ELSE 0 END")).as("v1"),
        sum(expr("CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END")).as("v2"))
      .select(expr(
        """stack(2,
          |  'events', 'ts_not_null', n, v1,
          |  'events', 'value_positive', n, v2)
          |  AS (table_name, rule, n_rows, n_violations)""".stripMargin))
    val dc = Tables(s, d, "documents")
      .agg(
        count(lit(1)).as("n"),
        sum(expr(
          "CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END"))
          .as("v1"),
        sum(expr(
          "CASE WHEN lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END"))
          .as("v2"))
      .select(expr(
        """stack(2,
          |  'documents', 'text_nonempty', n, v1,
          |  'documents', 'lang_accepted', n, v2)
          |  AS (table_name, rule, n_rows, n_violations)""".stripMargin))
    li.unionByName(ord)
      .unionByName(cust)
      .unionByName(ev)
      .unionByName(dc)
      .select(
        col("table_name"),
        col("rule"),
        col("n_rows"),
        col("n_violations").cast("long").as("n_violations"),
        (col("n_violations") === 0L).as("pass"))
      .transform(sortSmall(_, "table_name", "rule"))
  }

  /** Pairwise vocabulary Jaccard between sources — the corpus-
    * comparison view ("how much does crawl A share with crawl B").
    * Candidates come from a token-key equi-join of the per-source
    * distinct-token table against itself: cost ∝ Σ_token (sources
    * containing it)², bounded by |vocab| · |sources|² — never a doc-
    * level cross product. Set sizes broadcast (|sources| rows). */
  def qSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val toks = Tables(s, d, "documents")
      .select(
        col("source"),
        explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("tok"))
      .distinct()
    val sizes = toks.groupBy("source").agg(count(lit(1)).as("n"))
    toks.as("a")
      .join(
        toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("inter"))
      .join(
        broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))),
        Seq("src_a"))
      .join(
        broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))),
        Seq("src_b"))
      .select(
        col("src_a"),
        col("src_b"),
        col("inter"),
        round(
          col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")),
          6).as("jaccard"))
      .transform(sortSmall(_, "src_a", "src_b"))
  }

  /** Per-document Unicode script profile: character counts for each
    * class in [[TextFns.ScriptClasses]] plus the dominant script (ties
    * break by the fixed class order) — the writing-system complement of
    * language ID, one linear strip-and-diff pass per class, no
    * shuffle. */
  def qScriptProfile(s: SparkSession, d: String): DataFrame = {
    val counted = Tables(s, d, "documents").select(
      col("doc_id") +:
        length(col("text")).cast("long").as("n_chars") +:
        TextFns.ScriptClasses.map { case (name, javaP, _) =>
          TextFns.classCount(col("text"), javaP).as(s"n_$name")
        }: _*)
    val m = greatest(
      col("n_latin"), col("n_han"), col("n_cyrillic"), col("n_arabic"))
    counted
      .withColumn(
        "dominant",
        when(m === 0, "none")
          .when(col("n_latin") === m, "latin")
          .when(col("n_han") === m, "han")
          .when(col("n_cyrillic") === m, "cyrillic")
          .otherwise("arabic"))
      .orderBy("doc_id")
  }

  /** CCNet-style statistical quality score: a Laplace-smoothed bigram
    * language model is fit on the corpus itself and every doc is scored
    * by its mean negative log-likelihood (lower = more typical text —
    * the filtering signal perplexity-based pipelines threshold on).
    * p(w2|w1) = (c(w1 w2)+1) / (c(w1·)+V), V = distinct-next-token
    * vocabulary. Docs with < 2 tokens have no bigram and no row.
    *
    * Scale shape: bigrams counted twice (bigram key, history key) —
    * both two-phase aggregations; the scoring join is an
    * equi-join per key; V rides a one-row broadcast cross product (the
    * same bounded product as the pmi/tfidf totals, allow-listed in
    * PlanSpec). */
  def qLmScore(s: SparkSession, d: String): DataFrame =
    lmScores(s, d).orderBy("doc_id")

  /** The (doc_id, n_bigrams, lm_score) table behind [[qLmScore]] and
    * the CCNet-style bucket mixer [[qCcnetBuckets]] — one definition
    * of the corpus LM quality score. */
  private def lmScores(s: SparkSession, d: String): DataFrame = {
    val bi = Tables(s, d, "documents")
      .select(col("doc_id"), explode(TextFns.ngramsAll(col("text"), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val cb = bi.groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val cu = bi.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val vocab = bi
      .select(split(col("bg"), " ").getItem(1).as("w2"))
      .distinct()
      .agg(count(lit(1)).as("v"))
    bi.join(cb, Seq("bg"))
      .join(cu, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(
          -avg(log(
            (col("c_bg") + 1).cast("double") /
              (col("c_w1") + col("v")).cast("double"))),
          4).as("lm_score"))
  }

  /** CCNet-style perplexity-bucket mixing report (Wenzek et al. 2020):
    * the corpus split into head/middle/tail TERCILES of the bigram-LM
    * score (lower = more fluent), rolled up per source with doc and
    * token mass — the table a curation pass reads to decide per-source
    * head/middle keep rates. The fences are rank picks over the
    * 10⁻⁴-quantized SCORE HISTOGRAM (value-alphabet cumulative window,
    * never a corpus sort); bucket assignment is then two integer
    * compares per doc, and every rollup number is an exact integer
    * except the one share division. */
  def qCcnetBuckets(s: SparkSession, d: String): DataFrame = {
    val scored = lmScores(s, d)
      .select(
        col("doc_id"),
        expr("CAST(round(lm_score * 10000) AS BIGINT)").as("sq"))
      // cut: measured — uncut, the LM score is recomputed per consumer: sf0.01 best 1.491 → 1.935 s
      .transform(graft.operators.Materialize.cut(_))
    val hist = scored.groupBy("sq").agg(count(lit(1)).as("m"))
    val cum = hist
      .withColumn(
        "cm",
        sum("m").over(
          Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
    val fences = cum
      .agg(
        min(when(col("cm") >= expr("(n + 2) DIV 3"), col("sq"))).as("f1"),
        min(when(col("cm") >= expr("(2 * n + 2) DIV 3"), col("sq"))).as("f2"))
    val toks = Tables(s, d, "documents")
      .select(
        col("doc_id"),
        col("source"),
        expr("CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT)")
          .as("tokens"))
    val bucketed = scored
      .join(toks.hint("shuffle_hash"), "doc_id")
      .crossJoin(broadcast(fences))
      .select(
        col("source"),
        when(col("sq") <= col("f1"), "head")
          .when(col("sq") <= col("f2"), "middle")
          .otherwise("tail").as("bucket"),
        col("tokens"))
    // ONE pass over the bucketed rows: src_tokens is the sum of the
    // per-bucket sums (exact long addition), taken as a window over the
    // |sources|×|buckets| rollup — the old per-source aggregate re-ran
    // the whole score-join + corpus re-tokenize a second time (r14)
    bucketed
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("tokens"))
      .withColumn(
        "src_tokens",
        sum(col("tokens")).over(Window.partitionBy("source")))
      .select(
        col("source"),
        col("bucket"),
        col("n_docs"),
        col("tokens"),
        floor6(col("tokens").cast("double") / col("src_tokens").cast("double"))
          .as("token_share"))
      .transform(sortSmall(_, "source", "bucket"))
  }

  /** Benchmark-contamination OVERLAP profile (the PaLM/GPT-3 style
    * refinement of [[qContamination]]'s hit list): per corpus doc
    * sharing ≥ 1 shingle with the benchmark set, the SHARE of its
    * distinct shingles that are benchmark shingles — the number that
    * separates a quoted sentence from a wholesale inclusion, deciding
    * drop-vs-keep. Same broadcast-confirm shape as the decontamination
    * pass (benchmark side is MBs at any corpus scale); the share is
    * one division of exact counts. */
  def qContamOverlap(s: SparkSession, d: String): DataFrame = {
    val ex = Dedup
      .shingleRows(Tables(s, d, "documents"), "doc_id", "text", 3)
      .select(col("doc_id"), Hashing.md5Long(col("shingle")).as("h"))
    val bench = ex.filter(col("doc_id") < 10).select("h").distinct()
    val corpus = ex.filter(col("doc_id") >= 10)
    val tot = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val shared = corpus
      .join(broadcast(bench), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(tot.hint("shuffle_hash"), "doc_id")
      .select(
        col("doc_id"),
        col("n_shingles"),
        col("n_shared"),
        floor6(col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("overlap_share"))
      .transform(sortSmall(_, "doc_id"))
  }

  val JlDim = 16
  val JlSample = 50L
  val JlFp = 1048576L // 2^20: exact-binary fixed point for the quantized vectors

  /** The deterministic ±1 Achlioptas/JL sign matrix, flattened
    * [[JlDim]]×[[EmbDim]] row-major — one md5 bit per cell, built
    * driver-side and interpolated as the SAME literal into the Spark
    * plan and the DuckDB oracle. */
  private lazy val jlSigns: Array[Long] =
    Array.tabulate(JlDim * EmbDim) { n =>
      if ((Hashing.md5LongJvm(s"jl:${n / EmbDim}:${n % EmbDim}") & 1L) == 1L) 1L else -1L
    }

  /** Johnson–Lindenstrauss random-projection audit: project the
    * embedding space 64 → 16 dims through a deterministic ±1 sign
    * matrix (Achlioptas 2003 — a database-friendly projection: no
    * Gaussians, just signed sums) and measure pairwise
    * distance-squared distortion on a fixed 50-vector evaluation
    * sample — the report that says whether the cheap 4× -smaller index
    * (ANN shortlists, dedup pre-filters) preserves geometry. All in
    * 2^20 fixed point: quantized components are exact int64, every
    * projected coordinate and both distance sums are ORDER-FREE
    * integer folds (no float accumulation anywhere), and each pair's
    * distortion ratio is one double division µ-quantized before the
    * summary fold. */
  def qJlProject(s: SparkSession, d: String): DataFrame = {
    val sArr = s"array(${jlSigns.mkString("L,")}L)"
    val sample = Tables(s, d, "embeddings")
      .filter(col("vec_id") < JlSample)
      .select(
        col("vec_id"),
        expr(s"transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * $JlFp.0) AS BIGINT))")
          .as("qv"))
      .withColumn(
        "y",
        expr(
          s"transform(sequence(0, ${JlDim - 1}), k -> " +
            s"aggregate(sequence(0, ${EmbDim - 1}), CAST(0 AS BIGINT), " +
            s"(acc, i) -> acc + element_at($sArr, k * $EmbDim + i + 1) * qv[i]))"))
    val pairs = sample
      .select(col("vec_id").as("a_id"), col("qv").as("qa"), col("y").as("ya"))
      .join(
        broadcast(
          sample.select(col("vec_id").as("b_id"), col("qv").as("qb"), col("y").as("yb"))),
        col("a_id") < col("b_id"))
      .select(
        expr(
          s"aggregate(sequence(0, ${EmbDim - 1}), CAST(0 AS BIGINT), " +
            "(acc, i) -> acc + (qa[i] - qb[i]) * (qa[i] - qb[i]))").as("d2x"),
        expr(
          s"aggregate(sequence(0, ${JlDim - 1}), CAST(0 AS DECIMAL(38,0)), " +
            "(acc, k) -> acc + CAST(ya[k] - yb[k] AS DECIMAL(38,0)) * (ya[k] - yb[k]))")
          .as("d2y"))
      .filter(col("d2x") > 0L)
      .select(
        expr(s"CAST(floor(CAST(d2y AS DOUBLE) / $JlDim.0 / CAST(d2x AS DOUBLE) * 1000000.0) AS BIGINT)")
          .as("rq"))
    pairs
      .agg(
        count(lit(1)).as("n_pairs"),
        sum("rq").as("srq"),
        min("rq").as("min_rq"),
        max("rq").as("max_rq"),
        sum(when(col("rq").between(700000L, 1300000L), 1L).otherwise(0L)).as("n_within"))
      .select(
        col("n_pairs"),
        floor6(
          col("srq").cast("double") / col("n_pairs").cast("double") / lit(1000000.0d))
          .as("mean_ratio"),
        (col("min_rq").cast("double") / 1000000.0d).as("min_ratio"),
        (col("max_rq").cast("double") / 1000000.0d).as("max_ratio"),
        floor6(col("n_within").cast("double") / col("n_pairs").cast("double"))
          .as("share_within_30pct"))
  }

  /** IVF index shard-balance report: the cluster-size distribution of
    * the k-means quantizer behind [[qAnnIvf]] — THE production ANN
    * health number (a hot cell serves most probes and caps index
    * throughput; empty cells waste probe budget). Assignment is the
    * deterministic in-plan-centroid k-means shared with q_kmeans; the
    * report is one alphabet-sized rollup: sizes, the imbalance factor
    * max/mean, and how many probes the hottest cell would absorb. */
  def qIvfBalance(s: SparkSession, d: String): DataFrame = {
    val sizes = graft.clustering.Clustering
      .kmeansAssign(
        // cut: actions — every Lloyd round's centroid collect and the report read it
        normedEmbs(s, d).transform(graft.operators.Materialize.cut(_)),
        k = KmeansK,
        iters = KmeansIters,
        dim = EmbDim)
      .groupBy("cluster")
      .agg(count(lit(1)).as("sz"))
    sizes
      .agg(
        count(lit(1)).as("k_used"),
        sum("sz").as("n_vectors"),
        min("sz").as("min_size"),
        max("sz").as("max_size"))
      .select(
        col("n_vectors"),
        col("k_used"),
        col("min_size"),
        col("max_size"),
        floor6(col("n_vectors").cast("double") / col("k_used").cast("double"))
          .as("mean_size"),
        floor6(
          col("max_size").cast("double") * col("k_used").cast("double") /
            col("n_vectors").cast("double")).as("imbalance"))
  }

  /** Common-neighbor / Adamic–Adar link prediction on the SIMHASH
    * near-dup graph (hamming ≤ [[SimhashMaxHamming]] is not
    * transitive, so it HAS missing links — the 0.8-Jaccard minhash
    * graph is all cliques): non-adjacent doc pairs sharing confirmed
    * neighbors are the pairs a transitive-closure dedup would merge
    * next, ranked by the standard missing-link score. One wedge join
    * (adjacency ⋈ adjacency on the middle node, shuffle_hash),
    * existing edges removed by an anti join, each wedge's 1/ln(deg w)
    * term µ-quantized to int64 BEFORE the sum (the q_power_law ln
    * convention), top 20 on the exact (common, aa, id) order. */
  def qGraphCommonNeighbors(s: SparkSession, d: String): DataFrame = {
    val toks = Tables(s, d, "documents")
      .select(col("doc_id"), Tokens.of(col("text")).as("tk"))
    val pairs = Dedup
      .simhashPairs(
        Dedup.simhashSignaturesFromTokens(toks, "doc_id", "tk", SimhashBits),
        bits = SimhashBits,
        maxHamming = SimhashMaxHamming)
      .select("a_id", "b_id")
    commonNeighborsOver(pairs)
  }

  /** [[qGraphCommonNeighbors]] on the 120-bit near-dup graph — the
    * scale default: the pair TABLE this query rides is the superlinear
    * input at 60 bits (band saturation past ~10⁵ docs), so the wide
    * fingerprint fixes the upstream geometry rather than the (already
    * sound) wedge + anti-join plan. */
  def qGraphCommonNeighborsWide(s: SparkSession, d: String): DataFrame = {
    val toks = Tables(s, d, "documents")
      .select(col("doc_id"), Tokens.of(col("text")).as("tk"))
    val pairs = Dedup
      .simhashPairsWide(
        Dedup.simhashSignaturesWide(toks, "doc_id", "tk"),
        maxHamming = SimhashMaxHamming)
      .select("a_id", "b_id")
      // cut: measured — every wedge/degree consumer re-runs the pair build uncut: sf0.01 best 0.752 → 1.074 s
      .transform(graft.operators.Materialize.cut(_))
    commonNeighborsOver(pairs)
  }

  /** The shared wedge + anti-join + Adamic–Adar rank over an
    * `(a_id, b_id)` edge table (extracted so the 60-bit and 120-bit
    * graphs run the IDENTICAL downstream plan). */
  private def commonNeighborsOver(pairs: DataFrame): DataFrame = {
    val adj = pairs
      .select(col("a_id").as("w"), col("b_id").as("v"))
      .unionAll(pairs.select(col("b_id").as("w"), col("a_id").as("v")))
    val deg = adj
      .groupBy("w")
      .agg(count(lit(1)).as("degree"))
      // a wedge middle always has degree >= 2, so this filter changes
      // nothing semantically — it keeps ln(1) = 0 out of the division
      .filter(col("degree") >= 2L)
      .select(
        col("w"),
        expr("CAST(floor(1000000.0 / ln(CAST(degree AS DOUBLE))) AS BIGINT)").as("aa_q"))
    val wedges = adj
      .select(col("w"), col("v").as("a_id"))
      .join(adj.select(col("w"), col("v").as("b_id")).hint("shuffle_hash"), "w")
      .filter(col("a_id") < col("b_id"))
      .join(deg.hint("shuffle_hash"), "w")
    wedges
      .join(pairs.hint("shuffle_hash"), Seq("a_id", "b_id"), "left_anti")
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"), sum("aa_q").as("aa_sum"))
      .select(
        col("a_id"),
        col("b_id"),
        col("common"),
        (col("aa_sum").cast("double") / 1000000.0d).as("adamic_adar"))
      .orderBy(col("common").desc, col("aa_sum").desc, col("a_id"), col("b_id"))
      .limit(20)
      .transform(
        graft.operators.SortUtil
          .sortSmall(_, col("common").desc, col("aa_sum").desc, col("a_id"), col("b_id")))
  }

  /** Mojibake (double-encoding artifact) repair over the shared
    * literal table [[TextFns.MojibakeRules]] — a linear `replace`
    * chain, no regex engine, identity on clean text (this corpus —
    * the crafted-artifact behavior lives in FunctionsSpec). */
  def qFixMojibake(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        col("text"),
        TextFns.fixMojibake(col("text")).as("fixed"))
      .select(
        col("doc_id"),
        col("fixed"),
        (col("fixed") =!= col("text")).as("changed"))
      .orderBy("doc_id")

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms = Seq("spark", "query", "join")
  val Bm25TopK = 20

  /** BM25 full-text retrieval scoring (the inverted-index consumer,
    * row 75's ranking sibling): Okapi BM25 with the Lucene idf
    * (`ln((N−df+0.5)/(df+0.5)+1)` — never negative) for a fixed query
    * term set, top-[[Bm25TopK]] docs. Scale shape: one token table
    * feeds doc lengths and term tf;
    * the query-term filter cuts tf to |terms|·matching docs BEFORE any
    * join; df/idf and the corpus totals ride broadcasts; per-doc
    * summation is a fixed-association column sum over the literal term
    * list (one slot per term), so the float total is bit-identical in
    * both engines — no order-nondeterministic double sum. */
  /** Full BM25 scoring of every matching doc — `(doc_id, n_terms,
    * bm25)` with bm25 rounded to 4 places — shared by [[qBm25]]'s
    * top-k head and [[qNdcg]]'s ranking evaluation. Per-term
    * contributions land in fixed slot columns so the total sums in
    * TERM order (never partition order): the score is bit-stable. */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables(s, d, "documents")
      .select(col("doc_id"), explode(Tokens.of(col("text"))).as("tok"))
    bm25ScoresFrom(pairs)
  }

  /** [[bm25Scores]] over a caller's token table — shared
    * with [[qRrfFusion]] so the fused rankers ride ONE token pass. */
  private def bm25ScoresFrom(pairs: DataFrame): DataFrame = {
    val dl = pairs.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    val tf = pairs
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val contribs = tf
      .join(broadcast(df), "tok")
      .join(dl.hint("shuffle_hash"), "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("avgdl", col("total_len").cast("double") / col("n_docs"))
      .withColumn(
        "idf",
        log(
          (col("n_docs").cast("double") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn(
        "contrib",
        col("idf") * (col("tf").cast("double") * lit(Bm25K1 + 1.0)) /
          (col("tf").cast("double") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") / col("avgdl"))))
    val slots = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("contrib"))).as(s"c$i")
    }
    val total = Bm25Terms.indices
      .map(i => coalesce(col(s"c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val aggs = count(lit(1)).as("n_terms") +: slots
    contribs
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bm25", round(total, 4))
      .select("doc_id", "n_terms", "bm25")
  }

  def qBm25(s: SparkSession, d: String): DataFrame =
    bm25Scores(s, d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)

  /** PII redaction audit per source ([[graft.functions.TextScrub]] —
    * §2c row 65's scrub, upgraded from spec-only to oracle-checked):
    * per-category hit counts with the scrub's exact precedence (each
    * category counted on text with higher-precedence categories
    * already redacted) plus the redaction's character delta. The
    * corpus carries no organic PII, so the query deterministically
    * PLANTS it — every 83rd doc an email, 97th an IPv4, 101st a
    * phone, 89th a long digit run (the q_mirror_detect replant
    * convention: both engines plant identically, the audit must
    * recover exactly those counts). Patterns are RE2-portable and
    * shared verbatim with the oracle via the [[TextScrub]] constants.
    * Scale shape: one codegen'd regexp pass per row fused into the
    * scan, then an alphabet-sized rollup. */
  def qPiiAudit(s: SparkSession, d: String): DataFrame = {
    val planted = Tables(s, d, "documents").select(
      col("doc_id"),
      col("source"),
      concat(
        col("text"),
        when(
          col("doc_id") % 83 === 0,
          concat(lit(" reach me at user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(
          col("doc_id") % 97 === 0,
          concat(lit(" host 10.0."), col("doc_id") % 256, lit(".7")))
          .otherwise(lit("")),
        when(
          col("doc_id") % 101 === 0,
          concat(
            lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit("-123")))
          .otherwise(lit("")),
        when(
          col("doc_id") % 89 === 0,
          concat(lit(" acct 90210"), col("doc_id")))
          .otherwise(lit(""))).as("text"))
    val counted = planted.select(
      col("source") +:
        (graft.functions.TextScrub.piiCounts(col("text")) :+
          (length(col("text")) -
            length(graft.functions.TextScrub.scrub(col("text"))))
            .cast("long")
            .as("delta")): _*)
    counted
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(
          when(
            col("n_emails") + col("n_ips") + col("n_phones") + col("n_digit_runs") > 0,
            1L).otherwise(0L)).as("docs_with_pii"),
        sum(col("n_emails").cast("long")).as("n_emails"),
        sum(col("n_ips").cast("long")).as("n_ips"),
        sum(col("n_phones").cast("long")).as("n_phones"),
        sum(col("n_digit_runs").cast("long")).as("n_digit_runs"),
        sum("delta").as("chars_redacted_delta"))
      .transform(sortSmall(_, "source"))
  }

  /** RRF discount constant (Cormack–Clarke–Buettcher 2009's k = 60). */
  val RrfK = 60

  /** Hybrid-retrieval fusion by Reciprocal Rank Fusion (Cormack et al.,
    * SIGIR 2009): two independent rankers over the same query terms —
    * BM25 (length-normalized, saturating tf) and a plain TF-IDF sum
    * (no length normalization, a genuinely different ordering) — fused
    * by RRF(d) = Σᵣ 1/(k + rankᵣ(d)), k = [[RrfK]]. RRF is the
    * standard score-free fusion for hybrid search (lexical + second
    * signal) because it needs no score calibration — only ranks.
    * Both rankers score exactly the docs matching ≥ 1 query term, so
    * membership is identical and the fuse is an equi-join. Scale
    * shape: ONE token pass feeds both rankers (materialized once);
    * the two rank windows ride the statistic-sized matched set (the
    * qNdcg convention); per-term contributions sum in fixed slot
    * order, so both rankings are bit-stable and the fused score is
    * two IEEE divisions in fixed order. */
  def qRrfFusion(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables(s, d, "documents")
      .select(col("doc_id"), explode(Tokens.of(col("text"))).as("tok"))
      .transform(graft.operators.Materialize.cut) // cut: actions — the nDocs count and the fused plan read it
    val bm = bm25ScoresFrom(pairs)
    // TF-IDF ranker: tf·ln(N/df) per term, slot-summed like bm25
    val tf = pairs
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = pairs.select("doc_id").distinct().count() // control-plane scalar
    val contribs = tf
      .join(broadcast(df), "tok")
      .withColumn(
        "contrib",
        col("tf").cast("double") * log(lit(nDocs.toDouble) / col("df").cast("double")))
    val slots = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("contrib"))).as(s"c$i")
    }
    val total = Bm25Terms.indices
      .map(i => coalesce(col(s"c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val ti = contribs
      .groupBy("doc_id")
      .agg(slots.head, slots.tail: _*)
      .withColumn("tfidf", round(total, 4))
      .select("doc_id", "tfidf")
    val w1 = Window.orderBy(col("bm25").desc, col("doc_id"))
    val w2 = Window.orderBy(col("tfidf").desc, col("doc_id"))
    val r1 = bm.withColumn("rank_bm25", row_number().over(w1).cast("long"))
    val r2 = ti.withColumn("rank_tfidf", row_number().over(w2).cast("long"))
    r1.join(r2, "doc_id") // identical membership: docs matching ≥1 term
      .withColumn(
        "rrf",
        floor6(
          lit(1.0) / (lit(RrfK.toDouble) + col("rank_bm25").cast("double")) +
            lit(1.0) / (lit(RrfK.toDouble) + col("rank_tfidf").cast("double"))))
      .select("doc_id", "rank_bm25", "rank_tfidf", "rrf")
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  val NdcgKs = Seq(1, 5, 10)

  /** NDCG@k of the BM25 ranking (the retrieval-quality number that
    * judges the row-75/109 index+scorer as a SYSTEM, not per-doc):
    * graded relevance = the count of distinct query terms a doc
    * matches (gain 2^rel − 1), ranking ties broken by doc_id, ideal
    * ordering over the SAME retrieved set (local NDCG — both engines
    * enumerate the identical scored set, so no corpus-wide relevance
    * pass is needed). Each DCG term floor-quantizes to int64
    * BEFORE the sum, so the sums are order-free and engine-exact;
    * NDCG is log-base-invariant, so natural log serves both engines.
    * Scale shape: the scored set (docs matching ≥1 term) is the only
    * windowed table; the two row_numbers ride one statistic-sized
    * single-partition sort each, and the three k-cuts share the cut
    * ranked table. */
  def qNdcg(s: SparkSession, d: String): DataFrame = {
    val wRank = Window.orderBy(col("bm25").desc, col("doc_id"))
    val wIdeal = Window.orderBy(col("n_terms").desc, col("doc_id"))
    val ranked = bm25Scores(s, d)
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("irk", row_number().over(wIdeal).cast("long"))
      .withColumn(
        "gain",
        pow(lit(2.0), col("n_terms").cast("double")) - lit(1.0))
      // cut: measured — each k's aggregate re-ranks the scores uncut: sf0.01 best 1.312 → 1.736 s
      .transform(graft.operators.Materialize.cut)
    NdcgKs
      .map { k =>
        ranked
          .agg(
            count(lit(1)).as("n_scored"),
            sum(
              when(
                col("rk") <= k,
                expr("CAST(floor(gain / ln(CAST(rk AS DOUBLE) + 1.0) * 1.0e9) AS BIGINT)"))
                .otherwise(0L)).as("dcg_q"),
            sum(
              when(
                col("irk") <= k,
                expr("CAST(floor(gain / ln(CAST(irk AS DOUBLE) + 1.0) * 1.0e9) AS BIGINT)"))
                .otherwise(0L)).as("idcg_q"))
          .select(
            lit(k.toLong).as("k"),
            col("n_scored"),
            (col("dcg_q").cast("double") / 1.0e9d).as("dcg"),
            (col("idcg_q").cast("double") / 1.0e9d).as("idcg"),
            round(col("dcg_q").cast("double") / col("idcg_q").cast("double"), 6)
              .as("ndcg"))
      }
      .reduce(_.unionByName(_))
      // Degenerate-corpus parity: a global agg over an EMPTY scored set
      // still emits one row per k (null dcg/idcg), while the oracle's
      // GROUP BY over the empty relation emits zero rows — drop the
      // all-null rows so both engines agree on empty input.
      .filter(col("n_scored") > 0)
      .transform(sortSmall(_, "k"))
  }

  /** ROC-AUC of the linear quality score as a ranking signal for
    * English text (label = `lang = 'en'`) — the standard check that a
    * filtering score actually orders the corpus, by the tie-corrected
    * rank-sum (Mann–Whitney) formula computed on the GROUPED score
    * histogram: AUC = Σ_g pos_g·(neg_below_g + neg_g/2) / (P·N),
    * kept in integers (doubled) until the single final division, so
    * the statistic is bit-exact. Scale shape: one (score) aggregate
    * shrinks the corpus to its distinct-score histogram; the ordered
    * prefix-sum window runs over that statistic-sized table, never the
    * corpus. */
  def qScoreAuc(s: SparkSession, d: String): DataFrame = {
    val scored = Tables(s, d, "documents")
      .select(col("lang"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        (col("lang") === "en").cast("long").as("pos"),
        TextFns.qualityScore(
          size(col("t")).cast("long"),
          round(TextFns.stopwordRatioFrom(col("t")), 6),
          round(TextFns.distinctTokenRatioFrom(col("t")), 6),
          round(TextFns.punctRatio(col("text")), 6)).as("score"))
    val g = scored
      .groupBy("score")
      .agg(sum("pos").as("pos"), (count(lit(1)) - sum("pos")).as("neg"))
    val w = Window
      .orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cum_neg", coalesce(sum("neg").over(w), lit(0L)))
      .agg(
        sum("pos").as("n_pos"),
        sum("neg").as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cum_neg") + col("neg"))).as("num2"))
      .select(
        col("n_pos"),
        col("n_neg"),
        round(
          col("num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")),
          6).as("auc"))
  }

  /** Per-source unigram-distribution report: token entropy (the
    * diversity signal) and KL divergence to the corpus-wide mix (the
    * drift signal — which sources look least like the blend they feed).
    * KL against the GLOBAL distribution needs no union-vocabulary
    * gymnastics: every source term exists globally, so one equi-join
    * scores everything. Scale shape: per-(source, token) counts feed
    * the global rollup and the scoring; source totals are a broadcast;
    * the global total is the
    * allow-listed one-row product. */
  def qSourceDivergence(s: SparkSession, d: String): DataFrame = {
    val st = Tables(s, d, "documents")
      .select(col("source"), explode(Tokens.of(col("text"))).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("c"))
    val gt = st.groupBy("tok").agg(sum("c").as("gc"))
    val gtot = gt.agg(sum("gc").as("gtot"))
    val stot = st.groupBy("source").agg(sum("c").as("tot"))
    st.join(gt.hint("shuffle_hash"), "tok")
      .join(broadcast(stot), "source")
      .crossJoin(broadcast(gtot))
      .withColumn("p", col("c").cast("double") / col("tot"))
      .withColumn("g", col("gc").cast("double") / col("gtot"))
      .groupBy("source")
      .agg(
        max("tot").as("n_tokens"),
        count(lit(1)).as("vocab"),
        round(-sum(col("p") * log(col("p"))), 4).as("entropy"),
        round(sum(col("p") * log(col("p") / col("g"))), 4).as("kl_corpus"))
      .orderBy("source")
  }

  val RendezvousShards = 8

  /** Rendezvous (highest-random-weight) sharding balance report: every
    * doc goes to `argmax_shard md5(doc_id:shard)` — the assignment that
    * moves only 1/S of keys when a shard joins or leaves (consistent
    * hashing without the ring). The argmax is a `max(struct(h, shard))`
    * aggregate over an S-way literal explode — S·N narrow rows, one
    * (doc_id) reduce, deterministic even on hash ties (shard breaks
    * them). Output is the per-shard doc/char load — the balance numbers
    * a placement layer actually consumes. */
  def qShardRendezvous(s: SparkSession, d: String): DataFrame = {
    val shards = array((0 until RendezvousShards).map(i => lit(i.toLong)): _*)
    Tables(s, d, "documents")
      .select(col("doc_id"), col("n_chars"), explode(shards).as("shard"))
      .withColumn(
        "h",
        Hashing.md5Long(
          concat(col("doc_id").cast("string"), lit(":"), col("shard").cast("string"))))
      .groupBy("doc_id")
      .agg(
        max(struct(col("h"), col("shard"))).getField("shard").as("shard"),
        max("n_chars").as("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("shard_chars"))
      .orderBy("shard")
  }

  val PagerankIters = 5

  /** PageRank centrality over the minhash near-dup graph (fixed-point
    * integer iterations — see [[graft.dedup.Dedup.pairRank]]): ranks
    * duplicate-family members by how central they are, the
    * graph-analytics complement of [[qDupDegree]]'s raw degrees. */
  def qDupRank(s: SparkSession, d: String): DataFrame =
    Dedup
      .pairRank(dupPairs(s, d), iters = PagerankIters)
      .transform(
        graft.operators.SortUtil.sortSmall(_, col("pr").desc, col("doc_id")))

  /** Asymmetric containment pairs (see [[Dedup.containment]] — the
    * partial-duplicate shape Jaccard misses; prefix-filtered on the
    * contained side only, lossless). */
  def qContainment(s: SparkSession, d: String): DataFrame =
    Dedup
      .containment(Tables(s, d, "documents"), k = 3, threshold = 0.9)
      .transform(sortSmall(_, "a_id", "b_id"))

  /** LSH candidate-quality report: the minhash band-collision pair set
    * evaluated against the exact n-gram-Jaccard ground truth (the
    * AllPairs+PPJoin output is lossless, so it IS the truth at the
    * threshold) — TP/FP/FN plus precision/recall, the numbers a
    * bands×rows tuning pass actually reads. FN here are genuine LSH
    * band misses; FP are band collisions below the threshold (the work
    * the verify step discards). One full-outer join of two
    * pair-key-sized tables; each side is the already-bounded candidate
    * generator, never all-pairs. The two pipelines scan the corpus
    * independently (shared-nothing by design — this query EVALUATES
    * one against the other). */
  def qLshEval(s: SparkSession, d: String): DataFrame = {
    // ONE shingle+hash pass feeds both the banding under test and the
    // exact ground truth — the evaluation costs one corpus scan, not
    // two (r14: the shared spine is the materialized (id, h, h2) hash
    // rows, so neither arm re-tokenizes or re-hashes)
    val ex = Dedup.hashedShinglePairs(
      Dedup.shingled(Tables(s, d, "documents"), "doc_id", "text", k = 3), "doc_id")
      .transform(graft.operators.Materialize.cut) // cut: actions — the exact arm's hash-set job and the eval plan read it
    val cand = Dedup
      .minhashCandidatesFromHashedPairs(
        ex, "doc_id", numHashes = MinhashSeeds, bands = MinhashBands)
    val exact = Dedup
      .ngramJaccardFromHashed(ex, "doc_id", threshold = 0.8)
      .select(col("a_id"), col("b_id"))
    confusion(cand, exact)
      .withColumn("fp", col("n_cand") - col("tp"))
      .withColumn("fn", col("n_exact") - col("tp"))
      .withColumn(
        "cand_precision",
        when(col("n_cand") > 0L, round(col("tp").cast("double") / col("n_cand"), 6)))
      .withColumn(
        "cand_recall",
        when(col("n_exact") > 0L, round(col("tp").cast("double") / col("n_exact"), 6)))
  }

  /** Simhash candidate-quality evaluation (the [[qLshEval]] twin for
    * the OTHER near-dup family): simhash pairs at hamming ≤
    * [[SimhashMaxHamming]] scored against the exact 3-shingle Jaccard
    * ≥ 0.5 ground truth — precision says how much verify work the
    * pigeonhole bands save, recall says what the bit-flip model
    * misses. ONE materialized token pass feeds BOTH the signatures
    * under test and the shingle ground truth (the [[qLshEval]]
    * one-scan pattern — shingles re-derive exactly from the token
    * arrays via [[Dedup.shingledFromTokens]]); the full-outer
    * confusion fold is pair-table-sized. */
  /** Doc-count fence for the EXACT ground-truth eval arms
    * ([[qSimhashEval]]/[[qSimhashEvalWide]]/[[qWinnowEval]]): their
    * shared exact n-gram-Jaccard arm measures ≈ n^1.44
    * (BENCH_SCALING.md eval-family disposition) and exhausts scratch at
    * the fifth decade (5M docs), so past this many docs the full arms
    * throw toward their √n-sampled twins
    * ([[qSimhashEvalSampled]]/[[qWinnowEvalSampled]] — same confusion
    * fold, CONSTANT expected pair budget per decade) instead of
    * silently going superlinear. The [[Dedup.SimhashNarrowFenceDocs]]
    * pattern; `fenceDocs = 0` on the fenced entry points opts out. */
  val EvalExactFenceDocs = 1000000L

  /** The shared fence check: one count (parquet-metadata cheap) against
    * the budget, error naming the sampled twin. */
  private def fenceExactEval(
      all: DataFrame,
      fenceDocs: Long,
      key: String,
      twin: String): Unit =
    if (fenceDocs > 0L) {
      val n = all.count()
      require(
        n <= fenceDocs,
        s"$key: $n docs exceed the $fenceDocs-doc fence of the exact " +
          "ground-truth arm (measured ~n^1.44 — the n-gram Jaccard " +
          s"ground truth is all-candidate-pairs exact). Use $twin (the " +
          "sampled twin: same confusion fold over a deterministic " +
          "sqrt-n doc sample, constant pair budget per decade, 95% CI " +
          "on recall), or pass fenceDocs = 0 to opt out.")
    }

  def qSimhashEval(s: SparkSession, d: String): DataFrame =
    simhashEvalFenced(s, d, EvalExactFenceDocs)

  /** [[qSimhashEval]] with an explicit fence budget (0 opts out). */
  def simhashEvalFenced(s: SparkSession, d: String, fenceDocs: Long): DataFrame = {
    fenceExactEval(Tables(s, d, "documents"), fenceDocs, "q_simhash_eval", "q_simhash_eval_sampled")
    val toks = Tables(s, d, "documents")
      .select(col("doc_id"), Tokens.of(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      // cut: actions — the exact arm's hashed-shingle job and the eval plan read it
      .transform(graft.operators.Materialize.cut)
    val cand = Dedup
      .simhashPairs(
        Dedup.simhashSignaturesFromTokens(toks, "doc_id", "tk", SimhashBits),
        bits = SimhashBits,
        maxHamming = SimhashMaxHamming)
      .select(col("a_id"), col("b_id"))
    val exact = Dedup
      .ngramJaccardFromShingled(
        Dedup.shingledFromTokens(toks, "doc_id", "tk", k = 3),
        "doc_id",
        threshold = 0.5)
      .select(col("a_id"), col("b_id"))
    precisionRecallF1(confusion(cand, exact))
  }

  /** [[qSimhashEval]] for the 120-bit fingerprint — precision/recall/F1
    * of the corpus-scale default geometry against the SAME exact
    * 3-shingle Jaccard ≥ 0.5 ground truth. This is the number that says
    * what the wider fingerprint TRADES for its bucket headroom: radius
    * 6 over 120 bits is ~2× tighter in relative hamming than over 60,
    * so candidates are fewer/cleaner (precision up) and borderline
    * near-dups are missed more often (recall down) — the tuning fact a
    * deployment needs before flipping the wide keys on. Same one-scan
    * shape as the narrow eval: ONE materialized token pass feeds the
    * wide signatures AND the shingle ground truth. */
  def qSimhashEvalWide(s: SparkSession, d: String): DataFrame =
    simhashEvalWideFenced(s, d, EvalExactFenceDocs)

  /** [[qSimhashEvalWide]] with an explicit fence budget (0 opts out). */
  def simhashEvalWideFenced(
      s: SparkSession,
      d: String,
      fenceDocs: Long): DataFrame = {
    fenceExactEval(
      Tables(s, d, "documents"), fenceDocs, "q_simhash_eval_wide", "q_simhash_eval_sampled")
    val toks = Tables(s, d, "documents")
      .select(col("doc_id"), Tokens.of(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      // cut: actions — the exact arm's hashed-shingle job and the eval plan read it
      .transform(graft.operators.Materialize.cut)
    val cand = Dedup
      .simhashPairsWide(
        Dedup.simhashSignaturesWide(toks, "doc_id", "tk"),
        maxHamming = SimhashMaxHamming)
      .select(col("a_id"), col("b_id"))
    val exact = Dedup
      .ngramJaccardFromShingled(
        Dedup.shingledFromTokens(toks, "doc_id", "tk", k = 3),
        "doc_id",
        threshold = 0.5)
      .select(col("a_id"), col("b_id"))
    precisionRecallF1(confusion(cand, exact))
  }

  /** Expected ground-truth-pair budget of the SAMPLED eval: the doc
    * sample keeps ≈ √([[EvalSampleBudget]]·n) docs, so the expected
    * number of ground-truth pairs surviving the sample — pairs thin
    * QUADRATICALLY under doc sampling, both endpoints must survive —
    * stays ≈ pairRate·[[EvalSampleBudget]], CONSTANT at every corpus
    * decade. That makes the exact arm's cost ∝ (√n)^1.44 ≈ n^0.72 —
    * sublinear, where the full exact arm is the measured n^1.44
    * scale-killer (BENCH_SCALING.md eval-family disposition). */
  val EvalSampleBudget = 2000.0d

  /** The deterministic hash-bucket cutoff (out of
    * [[graft.operators.Sampling.hashBucket]]'s 10000 buckets) that keeps
    * ≈ √([[EvalSampleBudget]]·n) docs: `ceil(10000·√(B/n))`, capped at
    * everything. Pure double arithmetic (one divide, one IEEE sqrt, one
    * ceil) so the DuckDB oracle derives the identical cutoff from its
    * own `count(*)`. */
  def evalSampleCut(nDocs: Long): Long =
    if (nDocs <= 0L) 10000L
    else
      math.min(
        10000L,
        math.ceil(10000.0d * math.sqrt(EvalSampleBudget / nDocs.toDouble)).toLong)

  /** SAMPLED ground-truth eval — the affordable-at-any-decade arm of
    * [[qSimhashEvalWide]]: a deterministic md5 doc-sample
    * ([[graft.operators.Sampling.hashBucket]], cutoff
    * [[evalSampleCut]]) upstream of the SAME wide-simhash candidates +
    * exact 3-shingle-Jaccard ≥ 0.5 confusion fold, reporting
    * precision/recall plus a 95% binomial CI on recall. Both membership
    * predicates are PAIRWISE (a pair's candidacy and its ground truth
    * depend only on its two docs), so the sampled confusion is exactly
    * the full-corpus confusion restricted to pairs whose endpoints both
    * survive — recall_hat is a binomial draw of n_exact sampled
    * ground-truth pairs from the full-population proportion, and the
    * normal-approximation CI `r ± 1.96·√(r(1−r)/n_exact)` applies (the
    * endpoint-sharing dependence makes it approximate; the spec asserts
    * the full sf0.1 recall falls inside it). √n-sampling keeps the
    * expected pair count CONSTANT per decade (see [[EvalSampleBudget]]),
    * so geometry re-tuning gets a quality readout at the fifth decade
    * where the exact arm exhausts scratch. Deterministic end to end →
    * full DuckDB oracle. */
  def qSimhashEvalSampled(s: SparkSession, d: String): DataFrame = {
    val all = Tables(s, d, "documents")
    // one metadata-cheap count; the cutoff is driver-baked as a literal
    // so the sample filter reaches the scan
    val cut = evalSampleCut(all.count())
    val toks = all
      .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < cut)
      .select(col("doc_id"), Tokens.of(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      // cut: actions — the exact arm's hashed-shingle job and the eval plan read it
      .transform(graft.operators.Materialize.cut)
    val cand = Dedup
      .simhashPairsWide(
        Dedup.simhashSignaturesWide(toks, "doc_id", "tk"),
        maxHamming = SimhashMaxHamming)
      .select(col("a_id"), col("b_id"))
    val exact = Dedup
      .ngramJaccardFromShingled(
        Dedup.shingledFromTokens(toks, "doc_id", "tk", k = 3),
        "doc_id",
        threshold = 0.5)
      .select(col("a_id"), col("b_id"))
    confusionWithCi(cand, exact)
  }

  /** The eval family's confusion fold: the full-outer join of the
    * candidate and ground-truth `(a_id, b_id)` pair sets, folded to one
    * row of `n_cand`, `n_exact` and `tp`. */
  private def confusion(cand: DataFrame, exact: DataFrame): DataFrame =
    cand
      .withColumn("in_cand", lit(true))
      .join(exact.withColumn("in_exact", lit(true)), Seq("a_id", "b_id"), "full_outer")
      .select(
        coalesce(col("in_cand"), lit(false)).as("in_cand"),
        coalesce(col("in_exact"), lit(false)).as("in_exact"))
      .agg(
        sum(when(col("in_cand"), 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("in_exact"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("in_cand") && col("in_exact"), 1L).otherwise(0L)).as("tp"))

  /** The full evals' tail over [[confusion]]: floor6 precision, recall
    * and F1. Each ratio is guarded by its divisor (→ NULL when an arm is
    * empty): with ANSI mode on, Spark throws `DIVIDE_BY_ZERO` on a
    * double `/ 0`, while DuckDB returns NULL, so the guard makes the
    * two engines agree. F1 is 0 when no pair is a true positive. */
  private def precisionRecallF1(counts: DataFrame): DataFrame = {
    val p = col("tp").cast("double") / col("n_cand").cast("double")
    val r = col("tp").cast("double") / col("n_exact").cast("double")
    counts.select(
      col("n_cand"),
      col("n_exact"),
      col("tp"),
      when(col("n_cand") > 0L, floor6(p)).as("precision"),
      when(col("n_exact") > 0L, floor6(r)).as("recall"),
      when(col("tp") > 0L, floor6(lit(2.0d) * p * r / (p + r))).otherwise(lit(0.0d)).as("f1"))
  }

  /** The sampled evals' tail over [[confusion]]: precision/recall + the
    * 95% normal-approximation binomial CI on recall
    * (`r ± 1.96·√(r(1−r)/n_exact)`, clamped to [0, 1]) — shared by both
    * sampled ground-truth arms so their statistics are definitionally
    * identical. */
  private def confusionWithCi(cand: DataFrame, exact: DataFrame): DataFrame = {
    val ne = col("n_exact").cast("double")
    val p = col("tp").cast("double") / col("n_cand").cast("double")
    val r = col("tp").cast("double") / ne
    val half = lit(1.96d) * sqrt(r * (lit(1.0d) - r) / ne)
    confusion(cand, exact)
      .select(
        col("n_cand"),
        col("n_exact"),
        col("tp"),
        // zero-divisor guards (→ NULL on both engines): with ANSI mode
        // on, Spark throws DIVIDE_BY_ZERO on a double `/ 0` while DuckDB
        // returns NULL, so a degenerate sample (zero candidate or
        // ground-truth pairs) would otherwise fail the query
        when(col("n_cand") > 0L, floor6(p)).as("precision"),
        when(col("n_exact") > 0L, floor6(r)).as("recall"),
        when(col("n_exact") > 0L, floor6(greatest(lit(0.0d), r - half)))
          .as("recall_lo"),
        when(col("n_exact") > 0L, floor6(least(lit(1.0d), r + half)))
          .as("recall_hi"))
  }

  /** Pairwise cosine similarity between per-label embedding CENTROIDS
    * — the corpus-drift-in-embedding-space report (which labels/topics
    * overlap, which are far apart; the input to merge/split curation
    * decisions). Centroid means use the k-means fixed-point trick
    * (int64 sums of floor(x·10⁷), one double division) so every
    * component — and therefore every cosine — is bit-identical across
    * engines. Scale shape: ONE corpus aggregate down to |labels| rows
    * (dim int64 sums each, map-side combinable); the pairwise step is
    * a broadcast self-join of the label-sized table (|labels|²/2 rows
    * — a statistic, not corpus work). */
  def qLabelSim(s: SparkSession, d: String): DataFrame = {
    val Q = 10000000L
    val sums = (1 to EmbDim).map(j =>
      sum(floor(element_at(col("v"), j) * lit(Q.toDouble)).cast("long"))
        .as(s"s$j"))
    val aggs = count(lit(1)).as("n") +: sums
    val cents = Tables(s, d, "embeddings")
      .select(col("label"), VectorFns.asDouble(col("embedding")).as("v"))
      .groupBy("label")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(
        "cv",
        array((1 to EmbDim).map(j =>
          col(s"s$j").cast("double") / (col("n") * lit(Q)).cast("double")): _*))
      .select(col("label"), col("n"), col("cv"))
    val a = cents
      .select(col("label").as("label_a"), col("n").as("n_a"), col("cv").as("va"))
    val b = cents
      .select(col("label").as("label_b"), col("n").as("n_b"), col("cv").as("vb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .withColumn("cos", round(VectorFns.cosine(col("va"), col("vb")), 6))
      .select("label_a", "label_b", "n_a", "n_b", "cos")
      .transform(sortSmall(_, "label_a", "label_b"))
  }

  /** Per-node triangle counts over the near-dup pair graph (see
    * [[Dedup.triangleCounts]] for the degree-orientation scale
    * argument) — how clique-like each doc's duplicate neighborhood
    * is. */
  def qTriangles(s: SparkSession, d: String): DataFrame =
    Dedup
      .triangleCounts(dupPairs(s, d))
      .transform(
        graft.operators.SortUtil
          .sortSmall(_, col("n_triangles").desc, col("doc_id")))

  val BfsHops = 3

  /** Hop distances from a seed set over the near-dup graph (see
    * [[Dedup.bfsDistances]] — level-synchronous multi-source BFS): the
    * "blast radius" of a flagged-document set through duplicate edges,
    * capped at [[BfsHops]]. Seeds here are the fixed doc_id % 10 rule
    * so both engines pick the identical set without any exchange. */
  def qGraphBfs(s: SparkSession, d: String): DataFrame = {
    val dd = Tables(s, d, "documents")
    Dedup
      .bfsDistances(
        Dedup.minhashLsh(
          dd,
          k = 3,
          numHashes = MinhashSeeds,
          bands = MinhashBands,
          threshold = 0.8),
        dd.select("doc_id").filter(col("doc_id") % 10 === 0),
        maxHops = BfsHops)
      .orderBy("doc_id")
  }

  val KcoreK = 2
  val KcoreRounds = 4

  /** 2-core of the near-dup graph ([[Dedup.kCore]]): docs that survive
    * iterative degree-<2 peeling — the dense template clusters, with
    * stray pairwise matches peeled away. Fixed [[KcoreRounds]] rounds
    * (≥ observed convergence depth at both test SFs, spec-pinned
    * stable) keep the DAG deterministic and straight-line. */
  def qKcore(s: SparkSession, d: String): DataFrame =
    Dedup
      .kCore(dupPairs(s, d), k = KcoreK, rounds = KcoreRounds)
      .orderBy("doc_id")

  /** Convergence audit for [[qKcore]]'s FIXED [[KcoreRounds]] peeling
    * depth: true iff one more round changes nothing. The fixed depth
    * keeps the query a deterministic straight-line DAG, but at a larger
    * SF a longer degree-<k chain would silently leave non-core nodes in
    * the result — this check makes that observable (Bench runs it at
    * the bench SF and flags the JSON). Both peel chains read one
    * [[dupPairs]] table cut inside this call; the collected survivor
    * sets are core-sized. */
  def kcoreConverged(s: SparkSession, d: String): Boolean = {
    // cut: actions — both peel chains' jobs and collects read it
    val pairs = dupPairs(s, d).transform(graft.operators.Materialize.cut)
    def survivors(rounds: Int): Array[String] =
      Dedup
        .kCore(pairs, k = KcoreK, rounds = rounds)
        .collect()
        .map(_.toString)
        .sorted
    survivors(KcoreRounds).sameElements(survivors(KcoreRounds + 1))
  }

  /** Informative-Dirichlet prior mass for the log-odds statistic (the
    * Monroe et al. "fightin' words" α₀) — spread over tokens
    * proportionally to their corpus frequency. */
  val LogOddsPriorA0 = 1000.0
  val DistinctiveTopK = 5

  /** Distinctive vocabulary per source — the z-scored log-odds-ratio
    * with an informative Dirichlet prior (Monroe/Colaresi/Quinn): for
    * each (source, token), the log-odds of the token in that source vs
    * the REST of the corpus, shrunk toward the corpus distribution by
    * a frequency-proportional prior and normalized by its estimated
    * variance. Unlike TF-IDF ([[qTfidfTerms]]), rare-token noise is
    * suppressed by the prior and common-but-skewed tokens surface.
    * Ranking runs on the ROUNDED z (tie-broken by token) so the top-k
    * cut is engine-stable. Scale shape: one token-explode aggregate;
    * per-token corpus counts join on the token key (shuffle_hash);
    * per-source totals and the one-row corpus total broadcast. */
  def qDistinctiveTerms(s: SparkSession, d: String): DataFrame = {
    val ySi = Tables(s, d, "documents")
      .select(
        col("source"),
        explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("y_si"))
    val yI = ySi.groupBy("tok").agg(sum("y_si").as("y_i"))
    val nS = ySi.groupBy("source").agg(sum("y_si").as("n_s"))
    val nTot = ySi.agg(sum("y_si").as("n"))
    val a0 = lit(LogOddsPriorA0)
    val ai = col("y_i").cast("double") * a0 / col("n").cast("double")
    val ysi = col("y_si").cast("double")
    val yri = (col("y_i") - col("y_si")).cast("double")
    val ns = col("n_s").cast("double")
    val nr = (col("n") - col("n_s")).cast("double")
    val delta =
      log((ysi + ai) / (ns + a0 - ysi - ai)) -
        log((yri + ai) / (nr + a0 - yri - ai))
    val z = delta / sqrt(lit(1.0) / (ysi + ai) + lit(1.0) / (yri + ai))
    val w = Window.partitionBy("source").orderBy(col("z").desc, col("tok"))
    ySi
      .join(yI.hint("shuffle_hash"), "tok")
      .join(broadcast(nS), "source")
      .crossJoin(broadcast(nTot))
      .select(
        col("source"), col("tok"), col("y_si"), col("y_i"),
        round(z, 4).as("z"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= DistinctiveTopK)
      .select("source", "rank", "tok", "y_si", "y_i", "z")
      .transform(sortSmall(_, "source", "rank"))
  }

  val GtestTopK = 5

  /** Dunning log-likelihood (G²) distinctive terms per source — the
    * frequentist sibling of [[qDistinctiveTerms]]'s Bayesian log-odds:
    * G² = 2·Σ O·ln(O/E) over each (token, source) 2×2 table, the
    * statistic Dunning (1993) showed stays calibrated on the rare
    * counts that break χ². Every cell/margin is an exact int64 from
    * ONE token-explode aggregate; each G² is a FIXED IEEE tree on
    * those ints (per-term only — no cross-term float sums anywhere),
    * the enriched/depleted sign is an exact integer cross-product
    * compare (a·(n−n_s) vs c·n_s — no rate division), and the top-k
    * cut ranks the ROUNDED statistic with a token tiebreak. Scale
    * shape identical to the log-odds query: explode-aggregate, token
    * join shuffle_hash, margins broadcast. */
  def qGtestTerms(s: SparkSession, d: String): DataFrame = {
    val ySi = Tables(s, d, "documents")
      .select(
        col("source"),
        explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("y_si"))
    val yI = ySi.groupBy("tok").agg(sum("y_si").as("y_i"))
    val nS = ySi.groupBy("source").agg(sum("y_si").as("n_s"))
    val nTot = ySi.agg(sum("y_si").as("n"))
    def xlx(c: Column): Column =
      when(c > 0L, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0d))
    val a = col("y_si")
    val b = col("n_s") - col("y_si")
    val c = col("y_i") - col("y_si")
    val dd = col("n") - col("n_s") - c
    val g2 = lit(2.0d) * (xlx(a) + xlx(b) + xlx(c) + xlx(dd) + xlx(col("n")) -
      xlx(a + b) - xlx(a + c) - xlx(b + dd) - xlx(c + dd))
    val enriched =
      a.cast("decimal(38,0)") * (col("n") - col("n_s")) >
        c.cast("decimal(38,0)") * col("n_s")
    val w = Window.partitionBy("source").orderBy(col("g2").desc, col("tok"))
    ySi
      .join(yI.hint("shuffle_hash"), "tok")
      .join(broadcast(nS), "source")
      .crossJoin(broadcast(nTot))
      .select(
        col("source"), col("tok"), col("y_si"), col("y_i"),
        round(g2, 4).as("g2"),
        enriched.as("enriched"))
      .filter(col("enriched")) // report over-represented terms, the keyword use case
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= GtestTopK)
      .select("source", "rank", "tok", "y_si", "y_i", "g2")
      .transform(sortSmall(_, "source", "rank"))
  }

  /** Degree assortativity of the near-dup graph — the Pearson
    * correlation of endpoint degrees over edges (Newman 2002):
    * positive means template hubs link to other hubs (one boilerplate
    * family), negative means hubs link to leaves (star-shaped
    * spam-farm copies) — a one-number shape summary the degree
    * histogram ([[qDupDegree]]) can't give. The pair table is
    * materialized ONCE, degrees come from one explode aggregate, each
    * directed edge picks up both endpoint degrees via two shuffle_hash
    * joins, and all five sufficient statistics are exact decimal
    * folds; r is one scalar IEEE tree. */
  def qGraphAssortativity(s: SparkSession, d: String): DataFrame = {
    val pairs = dupPairs(s, d)
      .select("a_id", "b_id")
      // cut: measured — degrees and directed edges each run the pair pipeline uncut: sf0.01 best 1.317 → 1.704 s
      .transform(graft.operators.Materialize.cut)
    val deg = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("degree"))
    val directed = pairs
      .select(
        explode(
          array(
            struct(col("a_id").as("src"), col("b_id").as("dst")),
            struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val dx = deg.select(col("doc_id").as("src"), col("degree").as("x"))
    val dy = deg.select(col("doc_id").as("dst"), col("degree").as("y"))
    directed
      .join(dx.hint("shuffle_hash"), "src")
      .join(dy.hint("shuffle_hash"), "dst")
      .agg(
        count(lit(1)).as("n_ends"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      // degenerate guard (mirrored in the oracle): an empty pair set or
      // a zero-variance degree sequence makes r undefined (0/0) —
      // emit zero rows instead of an engine-dependent NaN/null row.
      .filter(
        col("n_ends") > 0 &&
          (col("n_ends").cast("decimal(38,0)") * col("sxx") - col("sx") * col("sx")) > 0 &&
          (col("n_ends").cast("decimal(38,0)") * col("syy") - col("sy") * col("sy")) > 0)
      .crossJoin(
        broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(
        col("n_nodes"),
        expr("n_ends DIV 2").as("n_edges"),
        (floor(
          (col("n_ends").cast("decimal(38,0)") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            sqrt(
              (col("n_ends").cast("decimal(38,0)") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("n_ends").cast("decimal(38,0)") * col("syy") - col("sy") * col("sy"))
                  .cast("double")) * 1000000.0d + 0.5d) / 1000000.0d)
          .as("assortativity"))
  }

  /** Newman modularity of the SOURCE partition on the near-dup graph:
    * is duplication an intra-feed phenomenon (mirrors re-crawled, Q→1)
    * or do templates cross feeds (Q→0/negative — the dedup must be
    * global, not per-source)? Q = Σ_s (m_s/m − (d_s/2m)²) over source
    * communities, where m_s counts intra-source edges and d_s sums
    * member degrees. Both endpoint sources are picked up via
    * shuffle_hash joins against the doc dimension and that edge table
    * is materialized once for its three rollups; everything after is source-alphabet-sized exact integers; Q is
    * one quantize-before-sum fold. */
  def qDupModularity(s: SparkSession, d: String): DataFrame = {
    val pairs = dupPairs(s, d)
      .select("a_id", "b_id")
    val src = Tables(s, d, "documents").select(col("doc_id"), col("source"))
    val withSrc = pairs
      .join(
        src.select(col("doc_id").as("a_id"), col("source").as("sa")).hint("shuffle_hash"),
        Seq("a_id"))
      .join(
        src.select(col("doc_id").as("b_id"), col("source").as("sb")).hint("shuffle_hash"),
        Seq("b_id"))
      // cut: measured — m, intra and degSum each re-run the pair joins uncut: sf0.01 best 1.182 → 1.585 s
      .transform(graft.operators.Materialize.cut(_))
    val m = withSrc.agg(count(lit(1)).as("m"))
    val intra = withSrc
      .filter(col("sa") === col("sb"))
      .groupBy(col("sa").as("source"))
      .agg(count(lit(1)).as("m_s"))
    val degSum = withSrc
      .select(explode(array(col("sa"), col("sb"))).as("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("d_s"))
    val perSource = degSum
      .join(intra, Seq("source"), "left")
      .na.fill(0L, Seq("m_s"))
      .crossJoin(broadcast(m))
      .select(
        col("source"),
        col("m_s"),
        col("d_s"),
        // per-source contribution, µ-quantized before the exact sum
        floor(
          (col("m_s").cast("double") / col("m").cast("double") -
            (col("d_s").cast("double") / (lit(2.0d) * col("m").cast("double"))) *
              (col("d_s").cast("double") / (lit(2.0d) * col("m").cast("double")))) *
            lit(1000000.0d)).cast("long").as("qc"))
    perSource
      .agg(
        count(lit(1)).as("n_sources"),
        sum("m_s").as("intra_edges"),
        sum("qc").as("qsum"))
      // degenerate guard (mirrored in the oracle): with no near-dup
      // pairs Q is undefined (division by m = 0) — emit zero rows
      // like the oracle's GROUP BY, not a single all-null row.
      .filter(col("n_sources") > 0)
      .crossJoin(broadcast(m))
      .select(
        col("m").as("n_edges"),
        col("n_sources"),
        col("intra_edges"),
        (floor(
          (col("qsum").cast("double") / lit(1000000.0d)) * 1000000.0d + 0.5d) /
          1000000.0d).as("modularity"))
  }

  /** Continuous-MLE power-law exponent of the dup-graph degree
    * distribution (Clauset–Shalizi–Newman 2009): α = 1 + n/Σ ln(dᵢ/
    * (d_min−½)) — is the duplicate graph scale-free (a few giant
    * template families) or exponential-ish (organic pairs)? The
    * per-degree ln terms are computed ONCE per distinct degree on the
    * degree histogram (alphabet-sized), floor-quantized to µ-unit int64
    * BEFORE the count-weighted sum (the q_ndcg trick → order-free
    * exact decimal fold); α is one scalar IEEE tree. */
  def qPowerLaw(s: SparkSession, d: String): DataFrame = {
    val hist = dupPairs(s, d)
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("cnt"))
    val dmin = hist.agg(min("degree").as("d_min"), max("degree").as("d_max"))
    hist
      .crossJoin(broadcast(dmin))
      .select(
        col("d_min"),
        col("d_max"),
        col("cnt"),
        (col("cnt").cast("decimal(38,0)") *
          floor(
            log(col("degree").cast("double") / (col("d_min").cast("double") - lit(0.5d))) *
              lit(1000000.0d)).cast("long")).as("wq"))
      .groupBy("d_min", "d_max")
      .agg(sum("cnt").as("n_nodes"), sum("wq").as("sumq"))
      .select(
        col("n_nodes"),
        col("d_min"),
        col("d_max"),
        (floor(
          (lit(1.0d) + col("n_nodes").cast("double") * lit(1000000.0d) /
            col("sumq").cast("double")) * 1000000.0d + 0.5d) / 1000000.0d)
          .as("alpha"))
  }

  /** Sorted-neighborhood near-dup (see [[Dedup.sortedNeighborhood]] —
    * the order-based third blocking family beside LSH buckets and
    * AllPairs prefixes): 4-char prefix blocks, window 3, exact 3-gram
    * Jaccard ≥ 0.5 verify. */
  def qSnmDedup(s: SparkSession, d: String): DataFrame =
    Dedup
      .sortedNeighborhood(
        Tables(s, d, "documents"),
        window = 3,
        blockChars = 4,
        k = 3,
        threshold = 0.5)
      .transform(sortSmall(_, "a_id", "b_id"))

  val OutlierTopK = 3

  /** Farthest-from-centroid embedding audit per label — the "these
    * vectors probably don't belong to their class" curation report
    * (mislabeled examples, encoder glitches, adversarial points).
    * Centroids use the k-means fixed-point trick (int64 floor(x·10⁷)
    * sums → bit-identical across engines); the squared distance is the
    * three-sequential-dot identity ‖x‖² − 2·x·c + ‖c‖² in one fixed
    * association order; ranking runs on the ROUNDED distance (vec_id
    * tiebreak). One corpus aggregate to |labels| centroids
    * (broadcast), one scoring projection, a label-partitioned top-k
    * window — no pairwise work anywhere. */
  def qEmbedOutliers(s: SparkSession, d: String): DataFrame = {
    val Q = 10000000L
    val sums = (1 to EmbDim).map(j =>
      sum(floor(element_at(col("v"), j) * lit(Q.toDouble)).cast("long"))
        .as(s"s$j"))
    val aggs = count(lit(1)).as("n") +: sums
    val cents = Tables(s, d, "embeddings")
      .select(col("label"), VectorFns.asDouble(col("embedding")).as("v"))
      .groupBy("label")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(
        "cv",
        array((1 to EmbDim).map(j =>
          col(s"s$j").cast("double") / (col("n") * lit(Q)).cast("double")): _*))
      .select(col("label"), col("cv"))
    val d2 =
      VectorFns.dot(col("v"), col("v")) -
        lit(2.0d) * VectorFns.dot(col("v"), col("cv")) +
        VectorFns.dot(col("cv"), col("cv"))
    val w = Window.partitionBy("label").orderBy(col("dist2").desc, col("vec_id"))
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"), VectorFns.asDouble(col("embedding")).as("v"))
      .join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"), round(d2, 6).as("dist2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= OutlierTopK)
      .select("label", "rank", "vec_id", "dist2")
      .transform(sortSmall(_, "label", "rank"))
  }

  val MahalTopK = 20

  /** Diagonal-covariance Mahalanobis outliers: top-k vectors by
    * variance-normalized distance from the GLOBAL mean — the whitened
    * complement of [[qEmbedOutliers]] (a dimension that barely varies
    * counts for more when it deviates). Per-dim means/variances come
    * from ONE wide aggregate over quantized components (exact int64 /
    * decimal sums → deterministic doubles); the per-row distance is a
    * sequential left fold over the dim terms in LIST ORDER — the same
    * bit-for-bit float contract as q_embed_stats' norm — and the top-k
    * cut ranks the ROUNDED distance with a vec_id tiebreak
    * (TakeOrdered, no global sort materialization). */
  def qMahalanobis(s: SparkSession, d: String): DataFrame = {
    val Q = EmbFp
    val sums = (1 to EmbDim).flatMap { j =>
      val qj = floor(element_at(col("v"), j) * lit(Q.toDouble)).cast("long")
      Seq(
        sum(qj).as(s"s$j"),
        // qj² ≤ (EmbFp·|x|)² ≈ 10¹⁴ fits long (same headroom contract
        // as the QuantizedPairProducts kernel); the int128 sum replaces
        // a per-row Decimal multiply + Decimal add
        sum128(qj * qj).as(s"q$j"))
    }
    val aggs = count(lit(1)).as("n") +: sums
    val stats = Tables(s, d, "embeddings")
      .select(VectorFns.asDouble(col("embedding")).as("v"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        array((1 to EmbDim).map(j =>
          col(s"s$j").cast("double") / (col("n") * lit(Q)).cast("double")): _*)
          .as("mu"),
        array((1 to EmbDim).map(j =>
          (col(s"q$j").cast("double") -
            col(s"s$j").cast("double") * col(s"s$j").cast("double") /
              col("n").cast("double")) /
            ((col("n").cast("double") - lit(1.0d)) *
              lit(Q.toDouble) * lit(Q.toDouble))): _*).as("vr"))
    val distExpr =
      s"aggregate(transform(sequence(1, $EmbDim), j -> " +
        "(element_at(v, j) - element_at(mu, j)) * (element_at(v, j) - element_at(mu, j)) / element_at(vr, j)), " +
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"), VectorFns.asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(stats))
      .select(
        col("vec_id"),
        col("label"),
        (floor(expr(distExpr) * 1000000.0d + 0.5d) / 1000000.0d).as("dist2"))
      .orderBy(col("dist2").desc, col("vec_id"))
      .limit(MahalTopK)
  }

  /** Model-based quality filter: a linear scorer with literal weights
    * over the [[qTextQuality]] feature set (the fasttext-style
    * "classifier filter" stage of a data pipeline, with the model
    * weights baked into the plan as literals — scoring is pure
    * per-row codegen, no shuffle, no model-serving join). Features are
    * rounded BEFORE weighting and the weighted sum is written in one
    * fixed association order, so both engines evaluate identical IEEE
    * arithmetic. */
  def qQualityModel(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(col("doc_id"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        round(TextFns.stopwordRatioFrom(col("t")), 6).as("stopword_ratio"),
        round(TextFns.distinctTokenRatioFrom(col("t")), 6).as("distinct_ratio"),
        round(TextFns.punctRatio(col("text")), 6).as("punct_ratio"))
      .withColumn(
        "score",
        TextFns.qualityScore(
          col("n_tokens"),
          col("stopword_ratio"),
          col("distinct_ratio"),
          col("punct_ratio")))
      .withColumn("keep", col("score") >= TextFns.QualityThreshold)
      .orderBy("doc_id")
  }

  val TokenBudget = 800L

  /** Per-source token-budget selection (epoch mixing with hard caps):
    * docs are hash-ranked within each source and taken until the
    * source's cumulative token count reaches the budget — a
    * reproducible, layout-independent draw (same argument as
    * [[graft.operators.Sampling.sampleByHash]]). One (source) shuffle
    * for the running-sum window; the running sum cannot be
    * group-limited (every row's inclusion depends on the full prefix),
    * which is why the budget is in tokens, not rows — the window input
    * is one narrow long per doc. */
  def qTokenBudget(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("source")
      .orderBy("hrank", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        col("source"),
        size(Tokens.of(col("text"))).cast("long").as("n_tokens"),
        Hashing.md5Long(col("doc_id").cast("string")).as("hrank"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= TokenBudget)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .transform(
        graft.operators.SortUtil
          .sortSmall(_, col("source"), col("cum_tokens"), col("doc_id")))
  }

  val PackSeqLen = 128L
  val PackBuckets = 8L

  /** Training-sequence packing (concat-and-chunk): documents are
    * concatenated in a deterministic hash order and cut into
    * fixed-`PackSeqLen`-token training sequences; each doc reports the
    * sequence range it lands in and its offset in the first one — the
    * map a sequence-building writer follows. Docs are first split into
    * `PackBuckets` hash buckets and sequences never cross buckets, so
    * packing parallelizes: one (bucket) shuffle for the running-sum
    * window over one narrow long per doc, everything after is integer
    * arithmetic. Choose buckets ∝ cluster size at scale (each bucket
    * packs independently; quality is unaffected because a bucket's
    * final partial sequence is the only waste, amortized over the
    * bucket's token mass). All-integer → bit-exact oracle. */
  def qPack(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("bucket")
      .orderBy("hrank", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        size(Tokens.of(col("text"))).cast("long").as("n_tokens"),
        Hashing.md5Long(col("doc_id").cast("string")).as("hrank"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket", pmod(col("hrank"), lit(PackBuckets)))
      .withColumn("cum_end", sum("n_tokens").over(w))
      .select(
        col("doc_id"),
        col("bucket"),
        col("n_tokens"),
        expr(s"(cum_end - n_tokens) DIV $PackSeqLen").as("first_seq"),
        expr(s"(cum_end - 1) DIV $PackSeqLen").as("last_seq"),
        expr(s"(cum_end - n_tokens) % $PackSeqLen").as("start_off"))
      .orderBy("doc_id")
  }

  val ChunkLen = 64
  val ChunkStride = 48

  /** Overlapping-window document chunking (the embed-long-docs stage):
    * each doc yields `ChunkLen`-token windows every `ChunkStride`
    * tokens, the last window pulled back so it ends exactly at the
    * doc's end (no short tail, standard for embedding models with a
    * fixed input size; docs ≤ `ChunkLen` yield one full-doc chunk).
    * Pure per-row explode — no shuffle, output rows ∝ corpus tokens /
    * stride; the chunk count is closed-form integer arithmetic so both
    * engines enumerate identical windows. */
  def qChunk(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(col("doc_id"), Tokens.of(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(
        col("doc_id"),
        expr(s"""posexplode(transform(
                |  sequence(0, CASE WHEN size(t) <= $ChunkLen THEN 0
                |                   ELSE CAST((size(t) - $ChunkLen + $ChunkStride - 1) DIV $ChunkStride AS INT) END),
                |  k -> named_struct(
                |    'start_tok', CAST(least(k * $ChunkStride, greatest(size(t) - $ChunkLen, 0)) AS BIGINT),
                |    'chunk_text', array_join(slice(t, least(k * $ChunkStride, greatest(size(t) - $ChunkLen, 0)) + 1, $ChunkLen), ' '),
                |    'n_chunk_tokens', CAST(least($ChunkLen, size(t)) AS BIGINT))))""".stripMargin)
          .as(Seq("chunk_idx", "c")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.start_tok"),
        col("c.chunk_text"),
        col("c.n_chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Tokenizer-accurate token counting via the greedy BPE merge loop
    * ([[graft.functions.expressions.BpeTokens]]): per-doc subword
    * counts and the chars-per-token compression ratio a token-budget
    * planner actually needs (the regex count in [[qTokenCount]] is the
    * cheap approximation; this one is exact for the compiled-in merge
    * table). Oracle-backed: the greedy loop equals rank-order
    * replace-all passes because the merge table is topologically
    * ranked (see the `q_bpe_tokens` oracle comment for the argument),
    * so DuckDB replays it as one chained replace over distinct
    * words. */
  def qBpeTokens(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        col("n_chars"),
        size(BpeTokens.of(col("text"))).cast("long").as("bpe_tokens"))
      .withColumn(
        "chars_per_token",
        round(col("n_chars") / col("bpe_tokens"), 4))
      .orderBy("doc_id")
  }

  val BpeTrainMerges = 12

  /** BPE vocabulary TRAINING over the corpus — the learning step that
    * produces the merge table [[qBpeTokens]]' encoder consumes (see
    * [[graft.functions.BpeTrainer]] for the scale shape and the
    * bracketed-hex portability encoding). One corpus scan into a
    * word-frequency table; every round after that is vocabulary-sized.
    * Fully oracle-backed: the unrolled per-round CTEs replay pair
    * counting, the (count DESC, pair ASC) argmax, and the plain-string
    * `replace` merge application bit-for-bit in DuckDB. */
  def qBpeTrain(s: SparkSession, d: String): DataFrame =
    graft.functions.BpeTrainer
      .train(Tables(s, d, "documents"), merges = BpeTrainMerges)
      .orderBy("rank")

  /** Corpus vocabulary head: top-20 tokens by document frequency (ties
    * by token). Two-phase: distinct (doc, tok) pairs shrink map-side
    * before the df count — the [[graft.operators.Skew]] countDistinct
    * shape, since token frequency is exactly the skewed case. */
  def qVocabTopk(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables(s, d, "documents")
      .select(col("doc_id"), explode(Tokens.of(col("text"))).as("tok"))
    val tf = pairs.groupBy("tok").agg(count(lit(1)).as("tf"))
    val df = pairs.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(df, "tok")
      .orderBy(col("df").desc, col("tok"))
      .limit(20)
      .select("tok", "tf", "df")
  }

  /** Inverted-index head: for the 20 highest-df tokens, the document
    * frequency and the first 10 postings (ascending doc_ids,
    * comma-joined). Scale shape: df over distinct (doc, tok) pairs
    * (key includes doc_id — no hot token key), top-20 via
    * TakeOrderedAndProject, then the posting pass keeps only the
    * broadcast top tokens and WindowGroupLimit caps each token at 10
    * rows BEFORE the collect — nothing vocabulary- or
    * posting-list-sized is materialized per group. The pair table is
    * materialized once (Materialize.cut) for its two consumers (df aggregate +
    * posting scan). */
  def qInvertedIndex(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables(s, d, "documents")
      .select(col("doc_id"), explode(Tokens.of(col("text"))).as("tok"))
      .distinct()
      // cut: measured — the df top-k and the posting pass each re-tokenize uncut: sf0.01 best 0.635 → 0.840 s
      .transform(graft.operators.Materialize.cut)
    val top = pairs
      .groupBy("tok")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok"))
      .limit(20)
    val w = Window.partitionBy("tok").orderBy("doc_id")
    pairs
      .join(broadcast(top), "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .groupBy("tok")
      .agg(
        max("df").as("df"),
        array_join(
          transform(array_sort(collect_list(col("doc_id"))), _.cast("string")),
          ",").as("postings"))
      .transform(
        graft.operators.SortUtil.sortSmall(_, col("df").desc, col("tok")))
  }

  def qTokenCount(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        size(Tokens.of(col("text"))).cast("long").as("ws_tokens"),
        TextFns.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language: BPE-ish tokens per whitespace
    * word and chars per token — the "how expensive is this language
    * for the tokenizer" report every multilingual training-mix
    * decision reads (high fertility → more compute per word of signal).
    * Exact integer sums per language (map-side combinable), two IEEE
    * divisions per group at the end, zero-guarded for languages the
    * word splitter can't segment. */
  def qTokenFertility(s: SparkSession, d: String): DataFrame = {
    val floor6 = (c: Column) => floor(c * 1000000.0d + 0.5d) / 1000000.0d
    Tables(s, d, "documents")
      .select(
        col("lang"),
        size(Tokens.of(col("text"))).cast("long").as("w"),
        TextFns.bpeTokenCount(col("text")).cast("long").as("b"),
        length(col("text")).cast("long").as("ch"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("w").as("words"),
        sum("b").as("bpe_tokens"),
        sum("ch").as("chars"))
      .select(
        col("lang"),
        col("n_docs"),
        col("words"),
        col("bpe_tokens"),
        when(
          col("words") > 0,
          floor6(col("bpe_tokens").cast("double") / col("words").cast("double")))
          .as("fertility"),
        when(
          col("bpe_tokens") > 0,
          floor6(col("chars").cast("double") / col("bpe_tokens").cast("double")))
          .as("chars_per_token"))
      .transform(sortSmall(_, "lang"))
  }

  /** Unicode normalization pass (the fix-encoding stage ahead of every
    * tokenizer): NFC composition + control/whitespace-run collapse as
    * ONE codegen'd scan per row
    * ([[graft.functions.expressions.NormalizeText]]) with a no-copy
    * fast path for already-clean rows. Pure per-row projection — no
    * shuffle; `changed` counts how much of the corpus actually needed
    * fixing. */
  def qNormalize(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        NormalizeText.of(col("text")).as("norm_text"),
        (NormalizeText.of(col("text")) =!= col("text")).as("changed"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Shingle-hash document fingerprint: min-hash + xor-fold (order
    * independent, so engine-portable). Explode+aggregate rather than
    * array HOFs: min/bit_xor get map-side partials and stay codegen'd. */
  def qFingerprint(s: SparkSession, d: String): DataFrame =
    Dedup.shingleRows(Tables(s, d, "documents"), "doc_id", "text", 3)
      .withColumn("h", Hashing.md5Long(col("shingle")))
      .groupBy("doc_id")
      .agg(
        min("h").as("fp_min"),
        expr("bit_xor(h)").as("fp_xor"),
        count(lit(1)).as("n_shingles"))
      .orderBy("doc_id")

  /** Winnowed-fingerprint match report (Schleimer–Wilkerson–Aiken 2003,
    * the MOSS scheme — see [[Dedup.winnowFingerprints]]): doc pairs
    * ranked by how many selected fingerprints they share. Winnowing's
    * guarantee makes the report a SUBSTRING-match detector with a tuned
    * floor: any shared run of ≥ w+k−1 = 6 tokens is caught, yet only
    * ≈ 2/(w+1) of positions are indexed — the sparse middle ground
    * between q_fingerprint's one-hash-per-doc and q_dup_spans' full
    * shingle index. Fingerprints in > 64 docs are dropped before the
    * posting self-join (the MOSS stop-fingerprint rule — template
    * boilerplate must not quadratically inflate the pair build). The
    * selected-fingerprint table fans out to three consumers (df filter +
    * both join sides), so it is materialized ONCE — without the cut the
    * token-hash selection scan runs three times. */
  def qWinnow(s: SparkSession, d: String): DataFrame = {
    val (kept, pinned) = winnowKept(s, d)
    kept
      .select(col("fp"), col("doc_id").as("a_id"))
      .join(pinned(kept.select(col("fp"), col("doc_id").as("b_id"))), "fp")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared_fps"))
      .orderBy(col("shared_fps").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** The shared winnow posting table of [[qWinnow]]/[[qWinnowEval]]:
    * per-doc distinct selected fingerprints, df ≤ 64 stop-fingerprint
    * rule applied over the materialized fingerprint table — paired with the
    * [[Dedup.shjPinned]] decision for its n-scaling joins (the
    * fingerprint tables grow ∝ corpus, so the pinned non-spillable
    * hash build holds only while the per-partition share fits — the
    * sf100 lesson). */
  private def winnowKept(
      s: SparkSession,
      d: String): (DataFrame, DataFrame => DataFrame) =
    winnowKeptFrom(Tables(s, d, "documents"), s)

  /** [[winnowKept]] over an arbitrary doc relation — the seam the
    * SAMPLED eval reuses (the df ≤ 64 stop rule is corpus-dependent, so
    * the sampled eval applies the geometry AT the sampled corpus). */
  private def winnowKeptFrom(
      base: DataFrame,
      s: SparkSession): (DataFrame, DataFrame => DataFrame) = {
    val fp = Dedup
      .winnowFingerprints(base, "doc_id", "text", k = 3, w = 4)
      .select(col("doc_id"), col("fp"))
      .distinct()
      .transform(graft.operators.Materialize.cut(_)) // cut: actions — the fence's count and the posting plan read it
    // fence in FP-ROW units (≈ 2/(w+1) of tokens, ~40 rows/doc here):
    // measured GOOD at 625k fp rows/partition (sf10 at 32 partitions,
    // the whole board), hash-build OOM by 6.25M (sf100/32); 1.25M is
    // 2× the measured-good density, 5× under the wall — the same
    // margins as Dedup.ShjDocsPerPartitionFence in its unit
    val pinned = Dedup.shjPinned(fp.count(), s, fencePerPartition = 1250000L)
    val rare = fp
      .groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64)
      .select("fp")
    (fp.join(pinned(rare), "fp"), pinned)
  }

  /** Minimum shared winnowed fingerprints for [[qWinnowEval]]'s
    * candidate rule — one shared fingerprint is a single ≥ 6-token run
    * (often boilerplate); three is a near-dup signal. */
  val WinnowEvalMinShared = 3

  /** Winnowing candidate-quality evaluation — the 115-family twin for
    * the MOSS fingerprints (115 = minhash-LSH, 115b/c = simhash):
    * pairs sharing ≥ [[WinnowEvalMinShared]] winnowed fingerprints,
    * scored against the exact 3-shingle Jaccard ≥ 0.5 ground truth.
    * Winnowing detects SHARED RUNS, not set similarity, so this is the
    * cross-model honesty check: how well does substring evidence proxy
    * for the set-similarity duplicates the pipeline actually removes.
    * Same one-scan eval shape; the posting join is the q_winnow plan
    * without its top-20 head. */
  /** The winnow candidate-pair rule (pairs sharing ≥
    * [[WinnowEvalMinShared]] winnowed fingerprints) over a
    * [[winnowKeptFrom]] posting table — ONE definition for the full and
    * sampled evals, so the sampled CI always brackets the SAME
    * candidate rule it claims to estimate. */
  private def winnowCandPairs(
      kept: DataFrame,
      pinned: DataFrame => DataFrame): DataFrame =
    kept
      .select(col("fp"), col("doc_id").as("a_id"))
      .join(pinned(kept.select(col("fp"), col("doc_id").as("b_id"))), "fp")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowEvalMinShared)
      .select(col("a_id"), col("b_id"))

  def qWinnowEval(s: SparkSession, d: String): DataFrame =
    winnowEvalFenced(s, d, EvalExactFenceDocs)

  /** [[qWinnowEval]] with an explicit fence budget (0 opts out). */
  def winnowEvalFenced(s: SparkSession, d: String, fenceDocs: Long): DataFrame = {
    fenceExactEval(
      Tables(s, d, "documents"), fenceDocs, "q_winnow_eval", "q_winnow_eval_sampled")
    val (kept, pinned) = winnowKept(s, d)
    val cand = winnowCandPairs(kept, pinned)
    val exact = Dedup
      .ngramJaccard(Tables(s, d, "documents"), k = 3, threshold = 0.5)
      .select(col("a_id"), col("b_id"))
    precisionRecallF1(confusion(cand, exact))
  }

  /** SAMPLED arm of [[qWinnowEval]] — the second of the two measured
    * n^1.44 exact-ground-truth rows, fixed the same way as
    * [[qSimhashEvalSampled]]: the √n md5 doc-sample ([[evalSampleCut]])
    * upstream of the IDENTICAL winnow-candidate + exact-Jaccard
    * confusion fold, reported with the 95% binomial CI on recall. One
    * honesty note the simhash twin does not need: the df ≤ 64
    * stop-fingerprint rule is CORPUS-dependent, so candidacy is not
    * purely pairwise here — the sampled eval scores the winnow geometry
    * AT the sampled corpus (the standard practice for
    * corpus-dependent features), and the CI quantifies pair-sampling
    * error conditional on that geometry. The shared exact arm — the
    * whole measured cost — is the thing the sample buys down. */
  def qWinnowEvalSampled(s: SparkSession, d: String): DataFrame = {
    val all = Tables(s, d, "documents")
    val cut = evalSampleCut(all.count())
    val sampled =
      all.filter(graft.operators.Sampling.hashBucket(col("doc_id")) < cut)
    val (kept, pinned) = winnowKeptFrom(sampled, s)
    val cand = winnowCandPairs(kept, pinned)
    val exact = Dedup
      .ngramJaccard(sampled, k = 3, threshold = 0.5)
      .select(col("a_id"), col("b_id"))
    confusionWithCi(cand, exact)
  }

  /** Multimodal metadata rollup over the asset table (the codec-free
    * column path — digest/size stay in codegen; see
    * [[graft.multimodal.Multimodal.assetStats]]). */
  def qAssetStats(s: SparkSession, d: String): DataFrame =
    Multimodal.assetStats(
      Multimodal.assetsFromDocuments(s, d).toDF())

  /** Deterministic 10% held-out split by id hash (see
    * [[graft.operators.Sampling]]) — reproducible across engines, so it
    * gets a full DuckDB oracle. */
  def qDocSample(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .sampleByHash(Tables(s, d, "documents"), "doc_id", 0.1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Snapshot diff (the table-versioning / CDC audit shape): given two
    * corpus versions, classify every id as added / removed / changed /
    * unchanged by comparing content hashes — ONE full-outer equi-join
    * on the id, with both sides reduced to (id, hash) first so the
    * join moves 16-byte rows, never documents. The two versions here
    * are derived deterministically from the corpus (previous is
    * missing every 7th doc → 'added'; current is missing every 5th →
    * 'removed'; every 11th is mutated → 'changed') so the oracle can
    * rebuild both; in production they are real snapshots. Output is the per-class
    * row count plus a bounded id sample per class (sort_array of a
    * WindowGroupLimit'd collect — never the full id list). */
  def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val cur = Tables(s, d, "documents")
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val prev = Tables(s, d, "documents")
      .filter(col("doc_id") % 7 =!= 0)
      .select(
        col("doc_id"),
        md5(
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h"))
    val joined = prev
      .select(col("doc_id"), col("h").as("prev_h"))
      .join(
        cur.select(col("doc_id"), col("h").as("cur_h")),
        Seq("doc_id"),
        "full_outer")
      .withColumn(
        "status",
        when(col("prev_h").isNull, lit("added"))
          .when(col("cur_h").isNull, lit("removed"))
          .when(col("prev_h") === col("cur_h"), lit("unchanged"))
          .otherwise(lit("changed")))
    val w = Window.partitionBy("status").orderBy("doc_id")
    joined
      .withColumn("rn", row_number().over(w))
      .groupBy("status")
      .agg(
        count(lit(1)).as("n"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") <= 5, col("doc_id")))),
            _.cast("string")),
          ",").as("sample_ids"))
      .orderBy("status")
  }

  val WeightedSampleK = 50

  /** Weighted priority sample (see
    * [[graft.operators.Sampling.priorityColumn]] — Duffield et al.
    * priority sampling, inclusion probability ∝ n_chars, reproducible
    * on any layout, engine-exact because the only float ops are an
    * IEEE multiply and divide). Top-[[WeightedSampleK]] by priority. */
  def qWeightedSample(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        col("n_chars"),
        graft.operators.Sampling
          .priorityColumn(col("doc_id"), col("n_chars"))
          .as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(WeightedSampleK)
      .transform(
        graft.operators.SortUtil.sortSmall(_, col("priority").desc, col("doc_id")))

  /** Leakage-safe split: near-dup clusters (same minhash parameters as
    * `q_dedup_clusters`) pin every near-duplicate family to ONE side of
    * the train/held-out boundary; the oracle replays the clustering
    * with the recursive-CTE components and the split with the shared
    * hash family. */
  def qSplitLeakage(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .leakageSafeSplit(
        Tables(s, d, "documents"),
        Dedup.duplicateClusters(dupPairs(s, d)),
        "doc_id",
        fraction = 0.8)
      .select("doc_id", "grp", "split")
      .orderBy("doc_id")

  /** Mixture weights for the source-mix query: four strata with
    * distinct sampling rates, everything else dropped. */
  val MixWeights: Seq[(String, Double)] = Seq(
    "src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

  /** Source-weighted dataset mixing (see
    * [[graft.operators.Sampling.weightedMix]]) — deterministic, so
    * fully oracle-checked. */
  def qSourceMix(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .weightedMix(Tables(s, d, "documents"), "doc_id", "source", MixWeights.toMap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .transform(sortSmall(_, "source"))

  /** Share of corpus TOKEN MASS sitting inside near-dup structure —
    * the intake dashboard's "how much duplicated weight am I carrying"
    * number ([[qDupRateBySource]] counts documents; token mass is what
    * the training run actually pays for). Docs in ≥1 LSH pair are
    * "duplicated"; their whitespace-token mass over the total, per
    * source and overall (the `ALL` row). Exact integer sums, one IEEE
    * division per row. */
  def qDupTokenShare(s: SparkSession, d: String): DataFrame = {
    val pairs = dupPairs(s, d)
    // one explode pass, not a two-select union (see qDupRateBySource)
    val dupIds = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val base = Tables(s, d, "documents")
      .select(
        col("doc_id"),
        col("source"),
        size(Tokens.of(col("text"))).cast("long").as("tok"))
      .join(dupIds.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
    // ONE rollup pass: the per-source rows and the ALL row are grand
    // totals of the same integer sums (r14 — the old per-source +
    // whole-table union tokenized and joined the corpus TWICE); long
    // addition is associative, so the rolled-up totals are bit-equal
    base
      .rollup(col("source"))
      .agg(
        sum("tok").as("total_tokens"),
        sum(when(col("dup").isNotNull, col("tok")).otherwise(0L)).as("dup_tokens"),
        grouping(col("source")).as("g"))
      .select(
        when(col("g") === 1, lit("ALL"))
          .otherwise(col("source")).as("source"),
        col("total_tokens"),
        col("dup_tokens"))
      .select(
        col("source"),
        col("total_tokens"),
        col("dup_tokens"),
        (floor(
          col("dup_tokens").cast("double") / col("total_tokens").cast("double") *
            1000000.0d + 0.5d) / 1000000.0d).as("dup_token_share"))
      .transform(sortSmall(_, "source"))
  }

  val HeapsCheckpoints = 10

  /** Heaps'-law vocabulary growth: V(n) ≈ K·n^β measured at
    * [[HeapsCheckpoints]] doc-order prefixes — the "how fast does new
    * vocabulary appear" curve that sizes tokenizers and predicts
    * OOV rates as a corpus grows. The insight that makes prefixes
    * distributable: a token is IN prefix p iff its FIRST-APPEARANCE
    * doc id ≤ p, so one (token) min-aggregate + a 10-bucket histogram
    * + a 10-row cumulative sum replaces any sequential scan. β comes
    * from least squares on the log-log checkpoints with every sum
    * taken over FLOOR-QUANTIZED int64 logs (the only float inputs are
    * single ln calls, emitted through the established quantize rule —
    * no float accumulates). */
  def qHeapsLaw(s: SparkSession, d: String): DataFrame = {
    val toks = Tables(s, d, "documents")
      .select(col("doc_id"), explode(Tokens.of(col("text"))).as("tok"))
    val mx = Tables(s, d, "documents").agg(max("doc_id").as("mx"))
    // checkpoint index of a doc id: 1..HeapsCheckpoints, upper-inclusive
    def ck(name: String): Column =
      least(
        expr(s"($name * $HeapsCheckpoints) DIV (mx + 1) + 1"),
        lit(HeapsCheckpoints.toLong))
    val vocabByCk = toks
      .groupBy("tok")
      .agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(mx))
      .groupBy(ck("first_doc").as("ck"))
      .agg(count(lit(1)).as("new_types"))
    val tokensByCk = toks
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"))
      .crossJoin(broadcast(mx))
      .groupBy(ck("doc_id").as("ck"))
      .agg(sum("n_tok").as("toks"), count(lit(1)).as("docs"))
    val grid = vocabByCk
      .join(tokensByCk, Seq("ck"), "full_outer")
      .select(
        col("ck"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("docs"), lit(0L)).as("docs"))
    val w = Window.orderBy("ck").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("n_docs_prefix", sum("docs").over(w))
      .withColumn("n_tokens_prefix", sum("toks").over(w))
      .withColumn("vocab_prefix", sum("new_types").over(w))
      .select("ck", "n_docs_prefix", "n_tokens_prefix", "vocab_prefix")
      // quantized log-log point: single ln calls, floored to int64 e6
      .withColumn("x", floor(log(col("n_tokens_prefix").cast("double")) * 1000000.0d).cast("long"))
      .withColumn("y", floor(log(col("vocab_prefix").cast("double")) * 1000000.0d).cast("long"))
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val fit = cum.agg(
      count(lit(1)).as("np"),
      sum("x").as("sx"),
      sum("y").as("sy"),
      sum(dec38(col("x")) * col("x")).as("sxx"),
      sum(dec38(col("x")) * col("y")).as("sxy"))
    cum
      .crossJoin(broadcast(fit))
      .select(
        col("ck"),
        col("n_docs_prefix"),
        col("n_tokens_prefix"),
        col("vocab_prefix"),
        (floor(
          (col("np").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("np").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            1000000.0d + 0.5d) / 1000000.0d).as("beta"))
      .transform(sortSmall(_, "ck"))
  }

  /** Exponent denominator for [[qTempMix]]: α = 1/2 — temperature-
    * scaled multinomial mixing weights wₛ ∝ nₛ^α (the mT5/XLM-R
    * low-resource-upsampling standard). α = ½ specifically because
    * sqrt is IEEE-correctly-rounded in every engine, where a general
    * pow(n, α) = exp(α·ln n) can differ by an ulp between libms. */
  val TempMixScale = 1000000L

  /** Temperature-scaled source mixing weights: wₛ = √nₛ / Σ√n over
    * per-source token counts, plus the implied upsampling factor vs
    * proportional mixing. The Σ√n the engines must agree on is a sum
    * of FLOOR-QUANTIZED square roots (int64) — never a float sum —
    * and each weight is one IEEE division of exact integers. */
  def qTempMix(s: SparkSession, d: String): DataFrame = {
    val src = Tables(s, d, "documents")
      .select(col("source"), size(Tokens.of(col("text"))).cast("long").as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .withColumn(
        "q",
        floor(sqrt(col("n_tokens").cast("double")) * TempMixScale.toDouble)
          .cast("long"))
    val tot = src.agg(
      sum("q").as("qsum"),
      sum("n_tokens").as("tok_total"))
    src
      .crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        (floor(
          col("q").cast("double") / col("qsum").cast("double") * 1000000.0d +
            0.5d) / 1000000.0d).as("weight"),
        // upsampling factor vs proportional: weight / (n_tokens/total)
        (floor(
          col("q").cast("double") * col("tok_total").cast("double") /
            (col("qsum").cast("double") * col("n_tokens").cast("double")) *
            1000000.0d + 0.5d) / 1000000.0d).as("upsample_factor"))
      .transform(sortSmall(_, "source"))
  }

  val StratSampleN = 5

  /** Deterministic fixed-size sample per source stratum — the
    * train-set curation shape ("n examples from every source, chosen
    * uniformly, reproducibly"). See
    * [[graft.operators.Sampling.stratifiedSample]] for the scale
    * argument (WindowGroupLimit caps shuffle traffic at n per group per
    * map partition). */
  def qStratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .stratifiedSample(Tables(s, d, "documents"), "source", "doc_id", StratSampleN)
      .select("source", "rank", "doc_id")
      .transform(sortSmall(_, "source", "rank"))

  val HistBucketWidth = 100

  /** Document-length histogram in fixed-width buckets (corpus shape
    * diagnostics). Integer-division bucketing (`DIV`) keeps the bucket
    * id engine-exact; one map-side-combinable aggregate, output is
    * bucket-count-sized. */
  def qLenHistogram(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .groupBy(expr(s"n_chars DIV $HistBucketWidth").as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .transform(sortSmall(_, "bucket"))

  /** Repetition-flag thresholds (Gopher §A.1.1-style filters, scaled to
    * the synthetic corpus's ~40-word vocabulary). */
  val RepTopBigramFrac = 0.04
  val RepDupTrigramFrac = 0.02

  /** Gopher-style n-gram repetition metrics per document: the share of
    * bigram slots taken by the single most-repeated bigram, and the
    * share of trigram occurrences that are repeats of an earlier one.
    * Documents over either threshold are flagged `repetitive` (the
    * standard boilerplate/loop filter for LLM training corpora —
    * word-level duplication is already covered by
    * [[qTextQuality]]'s `distinct_ratio`).
    *
    * Shape at scale: the trigram fractions need NO explode at all —
    * `size(all k-grams)` vs `size(distinct k-grams)` are two codegen'd
    * per-row expressions. Only the top-bigram needs per-bigram counts:
    * one explode into a (doc, bigram) aggregate with map-side partials,
    * then a per-doc `max(struct(c, bigram))` whose exchange moves only
    * already-aggregated doc×bigram rows. The per-doc scalars are
    * carried through the aggregates as `min(...)` rather than
    * re-joined — a wider shuffle row beats a second corpus-wide join
    * at any scale. */
  def qRepetition(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents")
      .select(
        col("doc_id"),
        TextFns.ngramsAll(col("text"), 2).as("bgs"),
        size(TextFns.ngramsAll(col("text"), 3)).cast("long").as("n_tri"),
        size(TextFns.ngramsDistinct(col("text"), 3)).cast("long")
          .as("n_tri_d"))
      .filter(size(col("bgs")) > 0)
    val perBigram = base
      .select(
        col("doc_id"),
        col("n_tri"),
        col("n_tri_d"),
        explode(col("bgs")).as("bg"))
      .groupBy("doc_id", "bg")
      .agg(
        count(lit(1)).as("c"),
        min("n_tri").as("n_tri"),
        min("n_tri_d").as("n_tri_d"))
    perBigram
      .groupBy("doc_id")
      .agg(
        max(struct(col("c"), col("bg"))).as("top"),
        // n_bigrams = Σ per-bigram counts — derived here instead of
        // carried through the wider (doc, bigram) exchange
        sum("c").as("n_bigrams"),
        min("n_tri").as("n_tri"),
        min("n_tri_d").as("n_tri_d"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("top.bg").as("top_bigram"),
        col("top.c").as("top_bigram_n"),
        round(col("top.c") / col("n_bigrams"), 6).as("top_bigram_frac"),
        when(col("n_tri") === 0, lit(0.0))
          .otherwise(round(lit(1.0) - col("n_tri_d") / col("n_tri"), 6))
          .as("dup_trigram_frac"))
      .withColumn(
        "repetitive",
        col("top_bigram_frac") > RepTopBigramFrac ||
          col("dup_trigram_frac") > RepDupTrigramFrac)
      .transform(sortSmall(_, "doc_id"))
  }

  val HeavyK = 16

  /** Approximate heavy-hitter tokens via the [[TopKSketch]] Misra–Gries
    * aggregate: one pass, ≤ `HeavyK` counters per task, partials merge —
    * nothing proportional to the vocabulary is shuffled (the sketch
    * complement of the exact [[qVocabTopk]], the same way
    * [[graft.queries.OlapQueries]]'s approx-distinct complements
    * `q_distinct_users`). Summary contents are stream-order-sensitive
    * within the MG guarantees, so this is spec-verified against exact
    * counts (PipelineSpec) rather than hash-compared to an oracle. */
  def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(explode(Tokens.of(col("text"))).as("tok"))
      .agg(TopKSketch.of(col("tok"), HeavyK).as("hh"))
      .select(posexplode(col("hh")).as(Seq("rank", "e")))
      .select(
        (col("rank") + 1).cast("long").as("rank"),
        col("e.item").as("tok"),
        col("e.count_lo").as("count_lo"),
        col("e.count_hi").as("count_hi"))
  }

  val CmsDepth = 4
  val CmsWidth = 1024
  val CmsSeedBase = 9000
  val CmsTopK = 20

  /** Count-Min sketch (Cormode–Muthukrishnan 2005) over corpus token
    * frequencies, evaluated against exact counts — the THIRD sketch
    * family beside KMV (distinct counts) and Misra–Gries (heavy
    * hitters), and like KMV it is fully HASH-CHECKABLE: the md5 hash
    * family is deterministic, so the DuckDB oracle rebuilds the
    * identical 4×1024 counter grid and the identical min-probe
    * estimates. CMS guarantees est ≥ exact (one-sided error ≤ εN with
    * ε = e/width at depth ln(1/δ)); the report shows the top-20 tokens'
    * exact tf, the sketch estimate, and the overcount.
    *
    * Scale shape: the corpus folds ONCE to its (tok, tf) vocabulary
    * (map-side combine — the q_vocab_topk shape); the ×depth hash
    * explode runs over the VOCABULARY, not the corpus, and the counter
    * grid is depth×width rows no matter the data. At 100 TB the grid is
    * the only thing two corpora need exchange to compare frequency
    * profiles — counters are mergeable by addition. */
  def qCmsCounts(s: SparkSession, d: String): DataFrame = {
    val tf = Tables(s, d, "documents")
      .select(explode(Tokens.of(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"))
      // cut: measured — the depth-way union and top-k each re-run it uncut: sf0.01 best 0.917 → 1.213 s
      .transform(graft.operators.Materialize.cut)
    def hashed(src: DataFrame) = (0 until CmsDepth)
      .map(r =>
        src.select(
          col("tok"),
          col("tf"),
          lit(r).as("r"),
          pmod(Hashing.md5LongSeeded(CmsSeedBase + r, col("tok")), lit(CmsWidth.toLong))
            .as("b")))
      .reduce(_.unionByName(_))
    val counters = hashed(tf).groupBy("r", "b").agg(sum("tf").as("c"))
    val top = tf.orderBy(col("tf").desc, col("tok")).limit(CmsTopK)
    hashed(top)
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy("tok", "tf")
      .agg(min("c").as("cms_est"))
      .select(
        col("tok"),
        col("tf").as("exact_tf"),
        col("cms_est"),
        (col("cms_est") - col("tf")).as("overcount"))
      .transform(sortSmall(_, "tok"))
  }

  val NgramTopK = 20

  /** Corpus-level bigram count head — the LM n-gram-statistics shape:
    * one explode into one map-side-combinable aggregate; the global
    * top-k is a TakeOrderedAndProject (no range-partition sort). */
  def qNgramCounts(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(explode(TextFns.ngramsAll(col("text"), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(NgramTopK)

  /** Compression-ratio quality signal (Gopher/FineWeb-style): DEFLATE
    * length over raw length per doc — near-0 ratios flag boilerplate /
    * looping text that token-level heuristics can miss. One codegen'd
    * pass over the text bytes ([[graft.functions.expressions
    * .DeflateLen]]); zlib output is not cross-engine portable →
    * rows-only at the driver gate, invariants spec-asserted. */
  def qCompressRatio(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        col("n_chars"),
        DeflateLen.of(col("text")).as("deflate_len"))
      .withColumn("ratio", round(col("deflate_len") / col("n_chars"), 4))
      .orderBy("doc_id")
  }

  /** Per-source curation report — the dashboard a data-curation team
    * runs before mixing: doc/token volume, mean quality-model score,
    * and the exact-duplicate fraction, per source. ONE corpus scan into
    * one (source) aggregate: the duplicate count is
    * `n_docs − count(distinct md5)` inside the same groupBy (source
    * cardinality is small, so the distinct-digest state per group is
    * the dedup cost — for per-source dedup at 100 TB use the two-phase
    * [[graft.operators.Skew.countDistinct]] shape instead). */
  def qSourceReport(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(col("source"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        col("source"),
        md5(col("text")).as("h"),
        size(col("t")).cast("long").as("n_tokens"),
        TextFns.qualityScore(
          size(col("t")).cast("long"),
          round(TextFns.stopwordRatioFrom(col("t")), 6),
          round(TextFns.distinctTokenRatioFrom(col("t")), 6),
          round(TextFns.punctRatio(col("text")), 6)).as("score"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("score"), 4).as("avg_score"),
        (count(lit(1)) - count_distinct(col("h"))).as("n_dup_docs"))
      .transform(sortSmall(_, "source"))
  }

  /** Synthetic-but-messy URL per doc, derived deterministically from
    * (doc_id, source): the shared testdata carries no URL column and is
    * immutable, so BOTH engines derive the identical URL in-query (the
    * q_dedup_embed_hi planting convention). Deliberately exercises
    * every [[TextFns.normalizeUrl]] rule: scheme/host case, `www.`,
    * default port, trailing slash, tracking params. Spark spelling;
    * the oracle carries the literal DuckDB twin below. */
  private val SyntheticUrlSpark =
    """concat(
      |  CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
      |  CASE WHEN doc_id % 5 = 0 THEN 'WWW.' WHEN doc_id % 5 = 1 THEN 'www.' ELSE '' END,
      |  CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END,
      |  '.example.',
      |  CASE WHEN doc_id % 3 = 0 THEN 'com' WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END,
      |  CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
      |  '/docs/', CAST(doc_id % 50 AS STRING),
      |  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
      |  CASE WHEN doc_id % 2 = 0 THEN concat('?utm_source=feed&page=', CAST(doc_id % 9 AS STRING))
      |       WHEN doc_id % 11 = 0 THEN '?gclid=x&page=2' ELSE '' END)""".stripMargin

  /** DuckDB twin of [[SyntheticUrlSpark]] (VARCHAR casts instead of
    * STRING; semantics identical term for term). */
  private val syntheticUrlDuck =
    """concat(
      |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
      |    CASE WHEN doc_id % 5 = 0 THEN 'WWW.' WHEN doc_id % 5 = 1 THEN 'www.' ELSE '' END,
      |    CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END,
      |    '.example.',
      |    CASE WHEN doc_id % 3 = 0 THEN 'com' WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END,
      |    CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
      |    '/docs/', CAST(doc_id % 50 AS VARCHAR),
      |    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
      |    CASE WHEN doc_id % 2 = 0 THEN concat('?utm_source=feed&page=', CAST(doc_id % 9 AS VARCHAR))
      |         WHEN doc_id % 11 = 0 THEN '?gclid=x&page=2' ELSE '' END)""".stripMargin

  /** [[graft.functions.TextFns.normalizeUrl]]'s rule table as DuckDB
    * CTEs `n1..n4` over a CTE `u` carrying `url` — the same fixed
    * rules, RE2 spellings, shared by every URL-keyed oracle. Consumers
    * finish with their own `n5` projecting `host/path/kept` into
    * `norm_url`/`domain`. */
  private def urlNormCtes: String =
    s"""n1 AS (
       |  SELECT *,
       |         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |         regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       |  FROM u),
       |n2 AS (
       |  SELECT *, lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
       |         regexp_replace(rest, '^[^/?#]*', '') AS tl
       |  FROM n1),
       |n3 AS (
       |  SELECT *,
       |         CASE WHEN scheme = 'https' THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$$', '')
       |              WHEN scheme = 'http' THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$$', '')
       |              ELSE regexp_replace(hostport, '^www\\.', '') END AS host,
       |         regexp_replace(regexp_extract(tl, '^([^?#]*)', 1), '/+$$', '') AS path,
       |         regexp_extract(tl, '\\?([^#]*)', 1) AS query
       |  FROM n2),
       |n4 AS (
       |  SELECT *, array_to_string(
       |           list_filter(string_split(query, '&'),
       |                       p -> NOT regexp_matches(p, '${TextFns.TrackingParamsRe}')), '&') AS kept
       |  FROM n3)""".stripMargin

  /** URL/domain-level curation rollup — the CCNet/RefinedWeb stage
    * between raw ingest and mixing: normalize every doc URL with the
    * fixed rule table ([[TextFns.normalizeUrl]]), key by registrable
    * domain ([[TextFns.urlDomain]]), and emit the blocklist/allowlist
    * decision report — doc/URL/token counts, exact-dup share, mean
    * quality, and an integer-arithmetic keep/review/block action (no
    * float compare at the fence). Quality is [[TextFns.qualityScore]]
    * µ-quantized to int64 BEFORE the cross-row mean (the q_ndcg trick),
    * so the domain average is engine-exact. One corpus pass, one
    * domain-sized aggregate. */
  def qDomainReport(s: SparkSession, d: String): DataFrame = {
    val withUrl = Tables(s, d, "documents")
      .select(
        col("doc_id"),
        col("source"),
        col("text"),
        expr(SyntheticUrlSpark).as("url"),
        Tokens.of(col("text")).as("t"))
    val normed = withUrl.select(
      TextFns.urlDomain(TextFns.normalizeUrl(col("url"))).as("domain"),
      TextFns.normalizeUrl(col("url")).as("norm_url"),
      md5(col("text")).as("h"),
      size(col("t")).cast("long").as("n_tokens"),
      floor(
        TextFns.qualityScore(
          size(col("t")).cast("long"),
          round(TextFns.stopwordRatioFrom(col("t")), 6),
          round(TextFns.distinctTokenRatioFrom(col("t")), 6),
          round(TextFns.punctRatio(col("text")), 6)) * lit(10000.0d) + lit(0.5d))
        .cast("long")
        .as("score4"))
    normed
      .groupBy("domain")
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("norm_url")).as("n_urls"),
        sum("n_tokens").as("total_tokens"),
        sum("score4").as("sc4"),
        (count(lit(1)) - count_distinct(col("h"))).as("n_dup_docs"))
      .select(
        col("domain"),
        col("n_docs"),
        col("n_urls"),
        col("total_tokens"),
        round(
          col("sc4").cast("double") / col("n_docs").cast("double") / lit(10000.0d),
          4).as("avg_score"),
        col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"),
        when(col("n_dup_docs") * 2 >= col("n_docs"), lit("block"))
          .when(col("n_dup_docs") * 10 >= col("n_docs"), lit("review"))
          .otherwise(lit("keep"))
          .as("action"))
      .transform(sortSmall(_, "domain"))
  }

  /** URL-level dedup (the crawl-dedup stage upstream of content dedup):
    * group by NORMALIZED URL — casing/www/port/tracking variants of one
    * address collapse — keep the lowest doc_id, and report both group
    * size and the distinct-content count (n_texts > 1 on one URL =
    * version churn / re-crawl drift, the rows a crawl-frontier audit
    * reads). Emits only groups with a duplicate to keep the report
    * decision-sized. Same synthetic URL derivation as
    * [[qDomainReport]]. */
  def qUrlDedup(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        md5(col("text")).as("h"),
        TextFns.normalizeUrl(expr(SyntheticUrlSpark)).as("norm_url"))
      .groupBy("norm_url")
      .agg(
        min("doc_id").as("keep_id"),
        count(lit(1)).as("n_docs"),
        count_distinct(col("h")).as("n_texts"))
      .filter(col("n_docs") >= 2L)
      .transform(sortSmall(_, "norm_url"))

  /** Cross-domain mirror detection (the RefinedWeb "same content, many
    * hosts" case that URL-level dedup cannot see and content dedup
    * cannot explain): exact-content groups spanning ≥ 2 DOMAINS, with
    * the canonical keep (lowest doc_id) and the spread — the input to
    * a mirror-blocklist decision. One content-hash aggregate carrying
    * the [[TextFns.urlDomain]] key. The synthetic corpus has no exact
    * text duplicates, so (the [[qDedupEmbedHi]] planting convention)
    * every 97th doc is replanted under an offset id — the offset
    * rotates doc_id mod 3, so the plant lands on a DIFFERENT domain by
    * construction; both engines replant identically and the detector
    * must recover exactly those groups. */
  def qMirrorDetect(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents").select(col("doc_id"), col("text"), col("source"))
    val plants = base
      .filter(col("doc_id") % 97L === 0L)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"), col("source"))
    base
      .unionByName(plants)
      .select(
        col("doc_id"),
        md5(col("text")).as("h"),
        TextFns.urlDomain(TextFns.normalizeUrl(expr(SyntheticUrlSpark))).as("domain"))
      .groupBy("h")
      .agg(
        min("doc_id").as("keep_id"),
        count(lit(1)).as("n_docs"),
        count_distinct(col("domain")).as("n_domains"))
      .filter(col("n_domains") >= 2L)
      .transform(sortSmall(_, "h"))
  }

  val PmiMinCount = 5
  val PmiTopK = 20

  /** PMI collocation mining: the top bigrams by lift
    * `P(x,y) / (P(x)·P(y))` — "words that occur together far more than
    * chance", the collocation-extraction complement of the raw
    * [[qNgramCounts]] head. log-free like tf-idf: lift is one chain of
    * IEEE ops over exact integer counts, written in one fixed
    * association order on both engines (ln's last ulp is not portable;
    * a division chain is).
    *
    * Shape at scale: the corpus is tokenized ONCE (checkpointed array
    * table; bigrams come from the arrays, not a re-scan); unigram and
    * bigram counts are map-side-combinable aggregates over vocab-sized
    * keys; the count lookups join the (small) vocab table against the
    * bigram table on token keys — hot tokens have one vocab row, so no
    * row explosion; totals are one-row broadcasts. */
  def qPmiTerms(s: SparkSession, d: String): DataFrame = {
    val toks = Tables(s, d, "documents")
      .select(Tokens.of(col("text")).as("t"))
      // cut: measured — the unigram and bigram counts each re-tokenize uncut: sf0.01 best 0.770 → 0.996 s
      .transform(graft.operators.Materialize.cut)
    val uni = toks
      .select(explode(col("t")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("c"))
    val big = toks
      .filter(size(col("t")) >= 2) // sequence(1, 0) would be DESCENDING, not empty
      .select(
        explode(
          expr("""transform(
                 |  sequence(1, size(t) - 1),
                 |  i -> struct(element_at(t, i) AS x, element_at(t, i + 1) AS y))""".stripMargin))
          .as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("c_xy"))
    val totals = uni
      .agg(sum("c").as("nn"))
      .crossJoin(big.agg(sum("c_xy").as("mm")))
    big
      .filter(col("c_xy") >= PmiMinCount)
      .join(uni.select(col("tok").as("x"), col("c").as("c_x")), "x")
      .join(uni.select(col("tok").as("y"), col("c").as("c_y")), "y")
      .crossJoin(broadcast(totals))
      .withColumn(
        "lift",
        round(
          col("c_xy").cast("double") * col("nn") / col("mm")
            * col("nn") / col("c_x") / col("c_y"),
          6))
      .select("x", "y", "c_xy", "c_x", "c_y", "lift")
      .orderBy(col("lift").desc, col("x"), col("y"))
      .limit(PmiTopK)
      .transform(
        graft.operators.SortUtil
          .sortSmall(_, col("lift").desc, col("x"), col("y")))
  }

  val TfidfTopK = 3

  /** Top-`TfidfTopK` characteristic terms per document by tf·(N/df) —
    * the log-free tf-idf variant: same "frequent here, rare elsewhere"
    * ranking, but the score is one correctly-rounded division of exact
    * integers (tf·N and df), so it is bit-identical across engines
    * (ln's last ulp is not portable; an integer ratio is).
    *
    * Shape at scale: tf is one (doc, tok) aggregate with map-side
    * partials; df is then derived FROM tf (tf's keys ARE the distinct
    * (doc, tok) pairs — the two-phase distinct shape for the skewed
    * token key). The tf⋈df join shuffles on tok
    * (shuffle_hash — the df table is vocabulary-sized, too big to
    * broadcast at corpus scale); the per-doc top-k gets Spark's
    * WindowGroupLimit pushdown, so no doc's full term list crosses the
    * final shuffle. */
  def qTfidfTerms(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents")
    val pairs = base
      .select(col("doc_id"), explode(Tokens.of(col("text"))).as("tok"))
    val tf = pairs
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = base.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
    tf.join(df.hint("shuffle_hash"), "tok")
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        round((col("tf") * col("n")).cast("double") / col("df"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfidfTopK)
      .select("doc_id", "rank", "tok", "tf", "df", "tfidf")
      .transform(sortSmall(_, "doc_id", "rank"))
  }

  val KmeansK = 10
  val KmeansIters = 2
  val SemThreshold = 0.45

  /** Target k-means cell size for the routed embedding-dedup plan: k =
    * max(KmeansK, ceil(n/200)), so at the sf0.01 correctness scale
    * (500 vectors) k = KmeansK and the static DuckDB oracle replays the
    * identical clustering, while at bench scales k grows with the corpus
    * and candidate volume stays linear. */
  val DedupEmbedClusterSize = 200

  /** Fixed-iteration k-means over the embedding corpus (see
    * [[graft.clustering.Clustering.kmeansAssign]]) — deterministic
    * fixed-point centroid math, so the whole Lloyd run gets a full
    * DuckDB oracle (unrolled per-iteration CTEs). The normed corpus is
    * materialized once; the k-means rounds re-scan the checkpoint, not
    * the parquet. */
  def qKmeans(s: SparkSession, d: String): DataFrame =
    graft.clustering.Clustering
      .kmeansAssign(
        // cut: actions — every Lloyd round's centroid collect and the assignment read it
        normedEmbs(s, d).transform(graft.operators.Materialize.cut),
        k = KmeansK,
        iters = KmeansIters,
        dim = EmbDim)
      .transform(sortSmall(_, "vec_id"))

  /** SemDeDup: cosine near-dup pairs restricted to k-means co-cluster
    * members (see [[graft.clustering.Clustering.semanticPairs]]) — a
    * second scale path for embedding dedup (quadratic only within
    * clusters; `q_dedup_embed` buckets by cosine-LSH bands instead). */
  def qSemdedup(s: SparkSession, d: String): DataFrame = {
    // cut: actions — every Lloyd round's centroid collect and the pair plan read it
    val e = normedEmbs(s, d).transform(graft.operators.Materialize.cut)
    val assign = graft.clustering.Clustering
      .kmeansAssign(e, k = KmeansK, iters = KmeansIters, dim = EmbDim)
    graft.clustering.Clustering
      .semanticPairs(e, assign, threshold = SemThreshold)
      .transform(sortSmall(_, "a_id", "b_id"))
  }

  /** Duplicate-span report: per document, how many of its distinct
    * 3-shingles occur in at least one OTHER document, and the duplicated
    * fraction (see [[graft.dedup.Dedup.duplicateSpans]] — the span-level
    * view of exact substring dedup, Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22). */
  def qDupSpans(s: SparkSession, d: String): DataFrame =
    Dedup
      .duplicateSpans(Tables(s, d, "documents"), k = 3)
      .orderBy("doc_id")

  /** Incremental cross-corpus near-dup: a ~10% hash-selected "new batch"
    * deduped AGAINST the remaining corpus (never batch×batch or
    * corpus×corpus) — the shape of admitting a crawl increment into an
    * existing deduplicated corpus. See
    * [[graft.dedup.Dedup.minhashLshAgainst]]. */
  def qDedupIncr(s: SparkSession, d: String): DataFrame = {
    val all = Tables(s, d, "documents")
    val batch = graft.operators.Sampling.sampleByHash(all, "doc_id", 0.1)
    val corpus = graft.operators.Sampling.complement(all, "doc_id", 0.1)
    Dedup
      .minhashLshAgainst(
        batch,
        corpus,
        k = 3,
        numHashes = MinhashSeeds,
        bands = MinhashBands,
        threshold = 0.8)
      .transform(sortSmall(_, "new_id", "dup_of"))
  }

  val ContaminationMinShared = 5

  /** The full corpus-preparation pipeline (decontaminate → exact dedup →
    * near-dup cluster keep-canonical → quality filter → 50% sample) as
    * ONE oracle-checked query — see
    * [[graft.pipeline.TrainingPipeline]]. */
  def qPipelineE2e(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TrainingPipeline
      .prepare(Tables(s, d, "documents"))
      .select("doc_id", "lang", "source", "n_chars")
      // cut: actions — the sort's range-sampling job and the write read it
      // (the output is ~half the corpus, too big for sortSmall's head)
      .transform(graft.operators.Materialize.cut)
      .orderBy("doc_id")

  /** Benchmark decontamination report: corpus docs sharing ≥ N distinct
    * 3-shingles with ANY benchmark doc (here: doc_id < 10 stands in for
    * the benchmark set). The benchmark shingle set is broadcast — the
    * corpus side stays a linear scan + local hash probe, no corpus
    * shuffle before the per-doc count. One shared definition with the
    * e2e pipeline: [[graft.pipeline.TrainingPipeline.contaminatedIds]]. */
  def qContamination(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TrainingPipeline
      .contaminatedIds(
        Tables(s, d, "documents"),
        benchMaxId = 10,
        shingleK = 3,
        minShared = ContaminationMinShared)
      .transform(sortSmall(_, "doc_id"))

  /** [[qContamination]] through the Bloom-prefilter scale path: a
    * driver-built filter over the benchmark shingle hashes probed by
    * the codegen'd `might_contain` before the exact confirm join.
    * Same result, same oracle — the plan is what changes. */
  def qContaminationBloom(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TrainingPipeline
      .bloomContaminatedIds(
        Tables(s, d, "documents"),
        benchMaxId = 10,
        shingleK = 3,
        minShared = ContaminationMinShared)
      .transform(sortSmall(_, "doc_id"))

  /** CDC merge applier (the write half of [[qSnapshotDiff]]'s audit):
    * apply a deterministic changeset — deletes (id%13), updates (id%11,
    * text+' v2'), inserts (id%17 cloned to id+1000000) — to the corpus
    * with ONE full-outer equi-join on the id, then report the applied
    * state per source. The merge never compares documents, only join
    * keys; updated text lengths are recomputed, so the per-source char
    * totals verify the content actually merged (not just the row
    * counts). */
  def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents")
    val deletes = base
      .filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit("delete").as("op"), lit(null).cast("string").as("new_text"),
        lit(null).cast("string").as("new_source"))
    val updates = base
      .filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), lit("update").as("op"),
        concat(col("text"), lit(" v2")).as("new_text"),
        lit(null).cast("string").as("new_source"))
    val inserts = base
      .filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), lit("insert").as("op"),
        concat(col("text"), lit(" new")).as("new_text"), lit("src_new").as("new_source"))
    val changes = deletes.unionAll(updates).unionAll(inserts)
    base
      .select(col("doc_id"), col("text"), col("source"))
      .join(changes, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op"), lit("keep")) =!= "delete")
      .select(
        col("doc_id"),
        coalesce(col("new_text"), col("text")).as("text"),
        coalesce(col("new_source"), col("source")).as("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy("source")
  }

  /** Zipf coverage curve for tokenizer/vocab sizing: the share of all
    * token OCCURRENCES covered by the top-k types at standard vocab
    * cutoffs, in one row. Rank is `row_number` over (count desc, token
    * asc) on the VOCABULARY-sized count table (types, not occurrences —
    * the only sequential structure is statistic-sized), and each
    * cutoff's covered mass is a conditional sum in the SAME final
    * aggregate — no per-cutoff pass, no window over the corpus. */
  def qVocabCoverage(s: SparkSession, d: String): DataFrame = {
    val counts = Tables(s, d, "documents")
      .select(explode(Tokens.of(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("c"))
    val ranked = counts.withColumn(
      "rk",
      row_number().over(Window.orderBy(col("c").desc, col("tok"))))
    def covered(k: Int): Column =
      round(
        sum(when(col("rk") <= k, col("c")).otherwise(0L)).cast("double") /
          sum("c"), 6)
    ranked.agg(
      count(lit(1)).as("n_types"),
      sum("c").as("total_tokens"),
      covered(10).as("cov_top10"),
      covered(100).as("cov_top100"),
      covered(1000).as("cov_top1000"))
  }

  /** Pronunciation-complexity profile per source — syllables
    * approximated as vowel-group runs (the standard readability-formula
    * estimator), words from the shared tokenizer, plus a Flesch-style
    * composite adapted to unpunctuated corpora (words-per-DOC stands in
    * for words-per-sentence). Both counts are codegen'd per-row regexp/
    * split expressions feeding one narrow aggregate; integer sums,
    * float only in the two final ratios. */
  def qSyllables(s: SparkSession, d: String): DataFrame = {
    val perDoc = Tables(s, d, "documents").select(
      col("source"),
      size(Tokens.of(col("text"))).cast("long").as("words"),
      regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long").as("syllables"))
    val sylPerWord = col("syl").cast("double") / col("w")
    val wordsPerDoc = col("w").cast("double") / col("n_docs")
    perDoc
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("words").as("w"),
        sum("syllables").as("syl"))
      .select(
        col("source"),
        col("n_docs"),
        col("w").as("total_words"),
        col("syl").as("total_syllables"),
        round(sylPerWord, 4).as("syl_per_word"),
        round(
          lit(206.835) - lit(1.015) * wordsPerDoc - lit(84.6) * sylPerWord,
          2).as("flesch_doc"))
      .orderBy("source")
  }

  /** Fixed-point quantization scale shared by the covariance / PCA
    * pair: components become int64 ten-millionths, so every corpus sum
    * the engines must agree on is exact integer arithmetic. */
  val EmbFp = 10000000L

  /** Exact integer sum as decimal(38,0) via the two-long int128
    * accumulator ([[graft.functions.expressions.Sum128]]) — same value,
    * same type as `sum(CAST(x AS DECIMAL(38,0)))` but five primitive
    * long ops per row instead of a Decimal allocation + BigDecimal add
    * (r15: the covariance/Mahalanobis statistic sums were ~10 s of
    * summed task time per bench pass in Decimal arithmetic). */
  private def sum128(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.Sum128(
        org.apache.spark.sql.graft.ColumnBridge.expression(c))
        .toAggregateExpression())

  private def floor9(c: Column): Column =
    floor(c * 1.0e9d + 0.5d) / 1.0e9d

  /** Upper-triangle covariance sums of the quantized embedding: ONE
    * map-side explode per vector (dim·(dim+1)/2 structs — no join, no
    * shuffle until the 2080-group aggregate), products summed in
    * decimal-38 (a quantized product is ~10¹⁴ — a long sum wraps at
    * corpus scale). Returns (j, k, s_jk) with 1-based dims.
    *
    * The input repartition is load-bearing: the vectors table is TINY
    * on disk (a few MB per million rows) so a file-split scan gives it
    * 1-2 tasks, but the explode amplifies each row 2,080× — without
    * the spread the whole n·d² compute runs on one core (measured
    * 40.8 s at sf1, cpu/wall 1.3 of 32). Shuffling the narrow input
    * rows costs ~nothing; the blow-up map then uses the cluster. The
    * general rule: repartition BEFORE a high-amplification map whose
    * input is small. Decimal sums are order-free, so the round-robin
    * placement cannot change a bit of the result. */
  private def covPairSums(s: SparkSession, d: String): DataFrame = {
    val dim = EmbDim
    // one PRIMITIVE long[2080] per row from the codegen'd kernel
    // ([[graft.functions.expressions.QuantizedPairProducts]] — bit-equal
    // quantization/products, spec-pinned) instead of 2080 struct
    // allocations per row (r14: measured 24-72 s summed task time per
    // pass at sf0.1, nearly all allocation); the (pos → j,k) map is a
    // 2080-row broadcast literal joined AFTER the statistic-sized
    // aggregate, so the hot explode carries a single int key
    import s.implicits._
    val posMap = (for { j <- 0 until dim; k <- j until dim } yield (j, k)).zipWithIndex
      .map { case ((j, k), p) => (p, (j + 1).toLong, (k + 1).toLong) }
      .toDF("pos", "j", "k")
    Tables(s, d, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        posexplode(
          org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.expressions.QuantizedPairProducts(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
              EmbFp,
              dim))).as(Seq("pos", "p")))
      .groupBy("pos")
      .agg(sum128(col("p")).as("s_jk"))
      .join(broadcast(posMap), "pos")
      .select(col("j").cast("int").as("j"), col("k").cast("int").as("k"), col("s_jk"))
  }

  /** Per-dimension sums + the vector count of the quantized embedding
    * (64 + 1 statistic rows from one scan; same pre-explode
    * repartition rationale as [[covPairSums]]). */
  private def covDimSums(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        expr(s"transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * $EmbFp.0) AS BIGINT))")
          .as("qv"))
      .select(explode(expr(
        s"transform(sequence(0, ${EmbDim - 1}), j -> named_struct('j', j + 1, 'v', qv[j]))"))
        .as("t"))
      .select(col("t.j").as("dj"), col("t.v").as("v"))
      .groupBy("dj")
      .agg(sum128(col("v")).as("s_d"), count(lit(1)).as("n"))

  /** The covariance FORMULA shared by q_embed_cov and q_pca_top —
    * scalar IEEE arithmetic on exact decimal sums, rescaled back from
    * the fixed-point domain. */
  private val CovExprSql =
    "(CAST(s_jk AS DOUBLE) - CAST(s_j AS DOUBLE) * CAST(s_k AS DOUBLE) / CAST(n AS DOUBLE)) / ((CAST(n AS DOUBLE) - 1.0) * 1.0e14)"

  /** The upper-triangle (j ≤ k) covariance table of the embedding
    * columns with j/k/cov, as one corpus pass. */
  private def covTable(s: SparkSession, d: String): DataFrame = {
    val dims = covDimSums(s, d)
    covPairSums(s, d)
      .join(
        broadcast(dims.select(col("dj"), col("s_d").as("s_j"), col("n"))),
        col("j") === col("dj"))
      .drop("dj")
      .join(
        broadcast(dims.select(col("dj"), col("s_d").as("s_k"))),
        col("k") === col("dj"))
      .selectExpr("j", "k", s"$CovExprSql AS cov")
  }

  /** Sample covariance matrix of the embedding columns (upper
    * triangle): the one-pass sufficient-statistics shape — quantized
    * components, Σqⱼqₖ per dim pair via a map-side struct explode
    * (never a self-join), the covariance formula applied to the exact
    * sums at the end. The feeding stage for any downstream PCA /
    * whitening / Mahalanobis work. */
  def qEmbedCov(s: SparkSession, d: String): DataFrame =
    covTable(s, d)
      // BIGINT like the oracle: sequence() yields int32, and the
      // driver's hash is type-sensitive (the q_cms_counts bug class)
      .select(col("j").cast("long").as("j"), col("k").cast("long").as("k"),
        floor9(col("cov")).as("cov"))
      .transform(sortSmall(_, "j", "k"))

  val PcaIters = 8

  /** Top principal component by power iteration: w ← normalize(C·w),
    * [[PcaIters]] fixed rounds from the uniform unit start (0.125 per
    * dim — exact binary). The corpus touches ONE pass (the covariance
    * sufficient statistics collected as dim·(dim+1)/2 statistic-sized
    * rows — the k-means/IVF/BpeTrainer control-plane pattern,
    * Clustering.scala:97); the iteration itself runs driver-side in
    * scalar code, so the whole query is a single Spark job instead of
    * 8×(join+agg+normalize) micro-jobs over 64-row tables. Each
    * matrix-vector product element floors to int64 BEFORE the sum —
    * float accumulation order can never leak in (integer sums are
    * order-free, so the distributed and scalar loops are bit-equal) —
    * and the normalization is one scalar sqrt of a decimal-exact Σs².
    * The Rayleigh quotient (eigenvalue) uses the same floor-then-sum
    * rule at 10⁻¹². */
  def qPcaTop(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val halfRows = covTable(s, d)
      .select(col("j").cast("int"), col("k").cast("int"), col("cov").cast("double"))
      .collect()
    val entries = halfRows.flatMap { r =>
      val (j, k, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      if (j == k) Seq((j, k, c)) else Seq((j, k, c), (k, j, c))
    }
    val dims = entries.map(_._1).distinct.sorted
    val pos = dims.zipWithIndex.toMap
    val n = dims.length
    val cov = Array.ofDim[Double](n, n)
    entries.foreach { case (j, k, c) => cov(pos(j))(pos(k)) = c }
    var w = Array.fill(n)(0.125d)
    for (_ <- 1 to PcaIters) {
      val sg = Array.tabulate(n) { i =>
        var acc = 0L
        var kk = 0
        while (kk < n) { acc += math.floor(cov(i)(kk) * w(kk) * 1.0e9d).toLong; kk += 1 }
        acc
      }
      // Σ sg² in exact decimal, then ONE double conversion — matches
      // the oracle's HUGEINT sum cast to DOUBLE
      val nsq = sg.foldLeft(java.math.BigDecimal.ZERO) { (a, x) =>
        val bx = java.math.BigDecimal.valueOf(x)
        a.add(bx.multiply(bx))
      }
      val nrm = math.sqrt(nsq.doubleValue)
      w = sg.map(_.toDouble / nrm)
    }
    var se = 0L
    var i = 0
    while (i < n) {
      var kk = 0
      while (kk < n) {
        se += math.floor(cov(i)(kk) * w(i) * w(kk) * 1.0e12d).toLong
        kk += 1
      }
      i += 1
    }
    val eig = se.toDouble / 1.0e12d
    dims.indices
      .map(i => (dims(i).toLong, math.floor(w(i) * 1000000.0d + 0.5d) / 1000000.0d, eig))
      .toDF("dim", "loading", "eigenvalue")
  }

  private def floor6(c: Column): Column =
    floor(c * 1000000.0d + 0.5d) / 1000000.0d

  /** Embedding-column data-quality audit per label: vector count, dim
    * spread, and the L2-norm distribution (min/mean/max + degenerate
    * near-zero vectors). The norm is a codegen'd sequential fold over
    * the array — float32 values squared and summed in float64 in LIST
    * ORDER, exactly how the oracle's `list_aggregate` folds, so
    * per-row norms agree bit-for-bit; only the group mean rides a
    * (commutative-rounding) double sum, rounded for display. The scan
    * touches each vector once; output is label-sized. */
  def qEmbedStats(s: SparkSession, d: String): DataFrame = {
    val norm = sqrt(aggregate(
      col("embedding"),
      lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    Tables(s, d, "embeddings")
      .select(col("label"), size(col("embedding")).cast("long").as("dim"), norm.as("norm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        min("dim").as("min_dim"),
        max("dim").as("max_dim"),
        round(min("norm"), 4).as("min_norm"),
        round(avg("norm"), 4).as("mean_norm"),
        round(max("norm"), 4).as("max_norm"),
        sum(when(col("norm") < 1e-6, 1L).otherwise(0L)).as("n_degenerate"))
      .orderBy("label")
  }

  /** Canonical-document selection: C4-style "fuzzy exact" dedup — group
    * by the md5 of the NORMALIZED text (lowercase, punctuation→space,
    * whitespace collapse), keep the highest-quality raw variant
    * (max-struct argmax on the shared [[TextFns.qualityScore]], lowest
    * doc_id on ties). Normalization lets raw variants that differ only
    * in case/punctuation/spacing land in one group — where exact-hash
    * dedup sees distinct texts — and quality actually varies inside a
    * group (punct ratio differs), so the argmax is meaningful. One
    * (content-key) shuffle with map-side partial max; the struct
    * comparison ranks on identically-computed doubles, so both engines
    * pick the same winner. */
  def qDedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val norm = trim(
      regexp_replace(
        regexp_replace(lower(col("text")), TextFns.PunctClass, " "),
        "\\s+",
        " "))
    Tables(s, d, "documents")
      .select(col("doc_id"), col("source"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        col("doc_id"),
        col("source"),
        md5(norm).as("ck"),
        TextFns
          .qualityScore(
            size(col("t")).cast("long"),
            round(TextFns.stopwordRatioFrom(col("t")), 6),
            round(TextFns.distinctTokenRatioFrom(col("t")), 6),
            round(TextFns.punctRatio(col("text")), 6))
          .as("score"))
      .groupBy("ck")
      .agg(
        count(lit(1)).as("n_variants"),
        max(
          struct(
            col("score"),
            (-col("doc_id")).as("nid"),
            col("doc_id").as("id"),
            col("source").as("src"))).as("best"))
      .select(
        col("best.id").as("doc_id"),
        col("best.src").as("source"),
        col("n_variants"),
        col("best.score").as("score"))
      .orderBy("doc_id")
  }

  /** Empirical-Bayes per-source quality: each source's mean quality
    * score shrunk toward the corpus mean with K=50 pseudo-docs — the
    * smoothing that keeps a 30-doc source from outranking a 3M-doc
    * source on mean alone (the source-weighting input for mixture
    * sampling). Scores become exact 1e-4-unit int64s before summing, so
    * the per-source sums are order-independent; the corpus totals ride
    * a single-partition window over the ≤|sources|-row aggregate (NOT
    * the corpus); the only floating arithmetic is the final fixed-order
    * shrinkage formula. */
  def qQualityShrunk(s: SparkSession, d: String): DataFrame = {
    val per = Tables(s, d, "documents")
      .select(col("source"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        col("source"),
        round(
          TextFns.qualityScore(
            size(col("t")).cast("long"),
            round(TextFns.stopwordRatioFrom(col("t")), 6),
            round(TextFns.distinctTokenRatioFrom(col("t")), 6),
            round(TextFns.punctRatio(col("text")), 6)) * 10000)
          .cast("long")
          .as("qc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("qc").as("sq"))
    val all = Window.partitionBy()
    per
      .withColumn("n_total", sum("n").over(all))
      .withColumn("sq_total", sum("sq").over(all))
      .select(
        col("source"),
        col("n"),
        round(col("sq").cast("double") / 10000.0 / col("n"), 6).as("raw_mean"),
        round(
          (col("sq").cast("double") / 10000.0 +
            lit(50.0) * (col("sq_total").cast("double") / 10000.0 / col("n_total"))) /
            (col("n") + lit(50.0)),
          6).as("shrunk_mean"))
      .transform(sortSmall(_, "source"))
  }

  /** Shared scored-corpus projection for the filter-signal evaluation
    * family ([[qScoreAuc]], [[qLiftTable]], [[qCalibration]]): each doc
    * as (positive = `lang = 'en'`, linear quality score). */
  private def scoredEn(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(col("lang"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        (col("lang") === "en").cast("long").as("pos"),
        TextFns.qualityScore(
          size(col("t")).cast("long"),
          round(TextFns.stopwordRatioFrom(col("t")), 6),
          round(TextFns.distinctTokenRatioFrom(col("t")), 6),
          round(TextFns.punctRatio(col("text")), 6)).as("score"))
  }

  /** Decile gains/lift table for the quality score as an English-text
    * ranking signal — "if we keep only the top k/10 of the corpus by
    * score, what fraction of the good documents did we capture, and at
    * what lift over random?" — the go/no-go report behind every
    * filter-threshold decision ([[qScoreAuc]] condenses the same curve
    * to one number). Rank semantics: docs ordered by (score DESC, pos
    * ASC, …) — ties at a depth boundary count their negatives first, so
    * the capture figure is the deterministic pessimistic one. Computed
    * entirely from the GROUPED score histogram (the [[qScoreAuc]] scale
    * shape): the prefix-sum window and the 10-row non-equi boundary
    * join run over distinct-score rows, never the corpus — no
    * corpus-sized single-partition window. Integer arithmetic widened
    * to decimal(38,0) with one final division per metric → bit-exact
    * oracle. */
  def qLiftTable(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = scoredEn(s, d)
      .groupBy("score")
      .agg(
        count(lit(1)).as("n_g"),
        sum("pos").as("pos_g"))
      .withColumn("neg_g", col("n_g") - col("pos_g"))
    val w = Window
      .orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = g
      .withColumn("cum_n", coalesce(sum("n_g").over(w), lit(0L)))
      .withColumn("cum_pos", coalesce(sum("pos_g").over(w), lit(0L)))
    val totals = g.agg(
      sum("n_g").as("n_total"),
      sum("pos_g").as("p_total"))
    val deciles = s
      .range(1, 11)
      .select(col("id").as("decile"))
      .crossJoin(totals)
      .withColumn("depth", expr("n_total * decile DIV 10"))
    cum
      .join(
        broadcast(deciles),
        col("cum_n") < col("depth") &&
          col("depth") <= col("cum_n") + col("n_g"))
      .withColumn(
        "captured_pos",
        col("cum_pos") +
          greatest(lit(0L), col("depth") - col("cum_n") - col("neg_g")))
      .select(
        col("decile"),
        col("depth"),
        col("captured_pos"),
        round(
          col("captured_pos").cast("double") / col("p_total").cast("double"),
          6).as("capture_rate"),
        round(
          (dec(col("captured_pos")) * col("n_total")).cast("double") /
            (dec(col("depth")) * col("p_total")).cast("double"),
          6).as("lift"))
      .transform(graft.operators.SortUtil.sortSmall(_, col("decile")))
  }

  /** Reliability (calibration) table for the quality score squashed to
    * a probability — per fixed-width probability bin: how confident the
    * model was vs how often it was right, plus the per-bin Brier term —
    * the diagram behind "is this filter's score a probability or just a
    * ranking?". The squash is the ALGEBRAIC sigmoid p = ½ + ½·z/(1+|z|)
    * with z = 4·(score − [[TextFns.QualityThreshold]]) — centered at
    * the keep threshold so the table spans its bins, and +,·,/ only
    * (bit-identical across engines, where exp() could differ in the
    * last ulp and flip a round). p is then fixed to
    * integer MICRO-units: every aggregate below is an exact integer sum
    * (widened to decimal(38,0) for the squared Brier terms, the
    * [[graft.queries.OlapQueries.qGini]] convention) with ONE final
    * division per metric → bit-exact oracle. One projection + one
    * 10-group aggregate: nothing here outgrows a dashboard at 100 TB. */
  def qCalibration(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    scoredEn(s, d)
      .withColumn(
        "p_micro",
        expr(
          "CAST(round((0.5 + 0.5 * ((4.0 * (score - 0.7)) / (1.0 + abs(4.0 * (score - 0.7))))) * 1000000.0) AS BIGINT)"))
      .withColumn("bin", least(expr("p_micro DIV 100000"), lit(9L)))
      .withColumn("err", col("p_micro") - col("pos") * lit(1000000L))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("p_micro").as("spm"),
        sum("pos").as("n_pos"),
        sum(dec(col("err")) * col("err")).as("brier_num"))
      .select(
        col("bin"),
        col("n_docs"),
        round(col("spm").cast("double") / (col("n_docs") * lit(1000000.0d)), 6)
          .as("mean_pred"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double"), 6)
          .as("obs_rate"),
        round(
          col("brier_num").cast("double") /
            (col("n_docs") * lit(1000000000000.0d)),
          6).as("brier"))
      .transform(graft.operators.SortUtil.sortSmall(_, col("bin")))
  }

  /** Language-ID confusion matrix: the [[qLangId]] heuristic's
    * predictions crossed with the labeled `lang` column — per (actual,
    * predicted) cell, the count and its share of the actual language's
    * row (the recall diagonal and where the mass leaks when it misses)
    * — the evaluation every classifier stage ships with. One projection
    * pass, one cell-sized aggregate, per-actual totals via a broadcast
    * — nothing corpus-shaped after the scan. */
  /** (actual_lang, pred_lang) per doc under the q_lang_id heuristic —
    * shared by the confusion matrix and the kappa summary. */
  private def langidPred(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "documents")
      .select(col("lang"), col("text"), Tokens.of(col("text")).as("t"))
      .select(
        col("lang").as("actual_lang"),
        TextFns
          .langIdFromCounts(
            col("text"),
            TextFns.markerCount(col("t"), TextFns.EnMarkers),
            TextFns.markerCount(col("t"), TextFns.DeMarkers),
            TextFns.markerCount(col("t"), TextFns.FrMarkers),
            TextFns.markerCount(col("t"), TextFns.EsMarkers))
          .as("pred_lang"))
  }

  def qLangidEval(s: SparkSession, d: String): DataFrame = {
    val pred = langidPred(s, d)
    val cells = pred
      .groupBy("actual_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val totals =
      cells.groupBy("actual_lang").agg(sum("n").as("n_actual"))
    cells
      .join(broadcast(totals), "actual_lang")
      .select(
        col("actual_lang"),
        col("pred_lang"),
        col("n"),
        round(col("n").cast("double") / col("n_actual").cast("double"), 6)
          .as("row_share"))
      .transform(sortSmall(_, "actual_lang", "pred_lang"))
  }

  /** Cohen's kappa of the language-ID heuristic vs the labeled lang —
    * the chance-corrected ONE-NUMBER agreement summary of
    * [[qLangidEval]]'s confusion matrix (accuracy looks great when one
    * class dominates; kappa doesn't). Fully integer until the final
    * division: κ = (N·agree − Σ row_k·col_k) / (N² − Σ row_k·col_k),
    * the identity that clears both fractions — margins, the agreement
    * diagonal, and both products are exact decimal folds of the
    * alphabet-sized confusion table. One corpus exchange (the
    * prediction aggregate); everything after is |langs|². */
  def qCohensKappa(s: SparkSession, d: String): DataFrame = {
    val cells = langidPred(s, d)
      .groupBy("actual_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("actual_lang").agg(sum("n").as("rn"))
    val cols = cells.groupBy("pred_lang").agg(sum("n").as("cn"))
    val agree = cells
      .filter(col("actual_lang") === col("pred_lang"))
      .agg(coalesce(sum("n"), lit(0L)).as("agree"))
    val rc = rows
      .join(
        cols.withColumnRenamed("pred_lang", "actual_lang").hint("shuffle_hash"),
        Seq("actual_lang"),
        "inner")
      .agg(sum(col("rn").cast("decimal(38,0)") * col("cn")).as("src"))
    val tot = cells.agg(sum("n").as("nn"))
    tot
      .crossJoin(broadcast(agree))
      .crossJoin(broadcast(rc))
      .selectExpr(
        "nn AS n_docs",
        "agree AS n_agree",
        "CAST(CAST(nn AS DECIMAL(38,0)) * agree - src AS DOUBLE) / CAST(CAST(nn AS DECIMAL(38,0)) * nn - src AS DOUBLE) AS kappa_raw",
        "CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE) AS po_raw")
      .select(
        col("n_docs"),
        col("n_agree"),
        (floor(col("po_raw") * 1000000.0d + 0.5d) / 1000000.0d).as("accuracy"),
        (floor(col("kappa_raw") * 1000000.0d + 0.5d) / 1000000.0d).as("kappa"))
  }

  val FuzzyEditMax = 2

  /** Edit-distance fuzzy join over part names — the entity-resolution
    * primitive (catalog reconciliation, vendor-name matching): all
    * DISTINCT name pairs within Levenshtein distance ≤ 2. NEVER
    * all-pairs: names dedupe to a vocabulary first, candidates come
    * from a shared-bigram equi-join (for d ≤ 2 and |s| ≥ 6 two strings
    * within distance d share ≥ max|s|−1−d·2 ≥ 1 bigrams — Gravano et
    * al. 2001, so the block has recall 1 here) plus the |len(a)−len(b)|
    * ≤ d length fence, and only candidates pay the O(|a|·|b|) exact
    * verify. Both engines' levenshtein are unit-cost
    * insert/delete/substitute, so the distance — and the pair set — is
    * engine-exact. */
  def qFuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val names = Tables(s, d, "part")
      .select(col("p_name"))
      .distinct()
      // The recall-1 guarantee (shared bigrams ≥ max|s|−1−2d ≥ 1) only
      // holds when every name has length ≥ 6; enforce the blocking
      // precondition in the len column itself (threaded through every
      // downstream use, so pruning can't drop the check) instead of
      // assuming it — a short name would need an all-pairs fallback.
      .withColumn(
        "len",
        when(length(col("p_name")) >= 6, length(col("p_name")).cast("long"))
          .otherwise(raise_error(
            lit("qFuzzyJoin: bigram blocking requires length(p_name) >= 6"))))
    val grams = names.select(
      col("p_name"),
      col("len"),
      explode(
        expr(
          "array_distinct(transform(sequence(1, length(p_name) - 1), i -> substring(p_name, i, 2)))"))
        .as("g"))
    val a = grams.select(col("p_name").as("a_name"), col("len").as("a_len"), col("g"))
    val b = grams.select(col("p_name").as("b_name"), col("len").as("b_len"), col("g"))
    a.join(b.hint("shuffle_hash"), Seq("g"))
      .filter(
        col("a_name") < col("b_name") &&
          abs(col("a_len") - col("b_len")) <= FuzzyEditMax)
      .select("a_name", "b_name")
      .distinct()
      .withColumn(
        "edit_distance",
        levenshtein(col("a_name"), col("b_name")).cast("long"))
      .filter(col("edit_distance") <= FuzzyEditMax)
      .transform(sortSmall(_, "a_name", "b_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_asset_stats" -> qAssetStats _,
    "q_doc_sample" -> qDocSample _,
    "q_split_leakage" -> qSplitLeakage _,
    "q_source_mix" -> qSourceMix _,
    "q_contamination" -> qContamination _,
    "q_contamination_bloom" -> qContaminationBloom _,
    "q_pipeline_e2e" -> qPipelineE2e _,
    "q_dedup_exact" -> qDedupExact _,
    "q_dedup_ngram" -> qDedupNgram _,
    "q_dedup_minhash" -> qDedupMinhash _,
    "q_dup_degree" -> qDupDegree _,
    "q_dedup_simhash" -> qDedupSimhash _,
    "q_dedup_simhash_wide" -> qDedupSimhashWide _,
    "q_dedup_embed" -> qDedupEmbed _,
    "q_dedup_embed_hi" -> qDedupEmbedHi _,
    "q_dedup_clusters" -> qDedupClusters _,
    "q_cc_bigstar" -> qCcBigstar _,
    "q_ann_topk" -> qAnnTopk _,
    "q_hard_negatives" -> qHardNegatives _,
    "q_ann_recall" -> qAnnRecall _,
    "q_ann_recall_pq" -> qAnnRecallPq _,
    "q_ann_recall_ivf" -> qAnnRecallIvf _,
    "q_ann_recall_mips" -> qAnnRecallMips _,
    "q_ann_ivfpq" -> qAnnIvfPq _,
    "q_ann_ivfpq_stored" -> qAnnIvfPqStored _,
    "q_ann_ivfpq_deleted" -> qAnnIvfPqDeleted _,
    "q_ann_recall_ivfpq" -> qAnnRecallIvfPq _,
    "q_ann_recall_ivfpq_drift" -> qAnnRecallIvfPqDrift _,
    "q_ivf_probe_curve" -> qIvfProbeCurve _,
    "q_ivfpq_shortlist_curve" -> qIvfPqShortlistCurve _,
    "q_ann_lsh" -> qAnnLsh _,
    "q_ann_mips" -> qAnnMips _,
    "q_ann_filtered" -> qAnnFiltered _,
    "q_ann_ivf" -> qAnnIvf _,
    "q_ann_ivf_stored" -> qAnnIvfStored _,
    "q_domain_report" -> qDomainReport _,
    "q_url_dedup" -> qUrlDedup _,
    "q_mirror_detect" -> qMirrorDetect _,
    "q_lang_purity" -> qLangPurity _,
    "q_ann_pq" -> qAnnPq _,
    "q_lang_id" -> qLangId _,
    "q_text_quality" -> qTextQuality _,
    "q_gopher_rules" -> qGopherRules _,
    "q_token_count" -> qTokenCount _,
    "q_token_fertility" -> qTokenFertility _,
    "q_normalize" -> qNormalize _,
    "q_vocab_topk" -> qVocabTopk _,
    "q_inverted_index" -> qInvertedIndex _,
    "q_fingerprint" -> qFingerprint _,
    "q_winnow" -> qWinnow _,
    "q_winnow_eval" -> qWinnowEval _,
    "q_winnow_eval_sampled" -> qWinnowEvalSampled _,
    "q_kmeans" -> qKmeans _,
    "q_semdedup" -> qSemdedup _,
    "q_dup_spans" -> qDupSpans _,
    "q_dedup_incr" -> qDedupIncr _,
    "q_tfidf_terms" -> qTfidfTerms _,
    "q_stratified_sample" -> qStratifiedSample _,
    "q_len_histogram" -> qLenHistogram _,
    "q_repetition" -> qRepetition _,
    "q_ngram_counts" -> qNgramCounts _,
    "q_heavy_hitters" -> qHeavyHitters _,
    "q_cms_counts" -> qCmsCounts _,
    "q_passage_dedup" -> qPassageDedup _,
    "q_line_dedup" -> qLineDedup _,
    "q_corpus_shuffle" -> qCorpusShuffle _,
    "q_quantize_embed" -> qQuantizeEmbed _,
    "q_html_strip" -> qHtmlStrip _,
    "q_profile" -> qProfile _,
    "q_source_overlap" -> qSourceOverlap _,
    "q_script_profile" -> qScriptProfile _,
    "q_lm_score" -> qLmScore _,
    "q_ccnet_buckets" -> qCcnetBuckets _,
    "q_contam_overlap" -> qContamOverlap _,
    "q_ivf_balance" -> qIvfBalance _,
    "q_common_neighbors" -> qGraphCommonNeighbors _,
    "q_common_neighbors_wide" -> qGraphCommonNeighborsWide _,
    "q_jl_project" -> qJlProject _,
    "q_simhash_eval" -> qSimhashEval _,
    "q_simhash_eval_wide" -> qSimhashEvalWide _,
    "q_simhash_eval_sampled" -> qSimhashEvalSampled _,
    "q_bm25" -> qBm25 _,
    "q_rrf_fusion" -> qRrfFusion _,
    "q_pii_audit" -> qPiiAudit _,
    "q_score_auc" -> qScoreAuc _,
    "q_source_divergence" -> qSourceDivergence _,
    "q_shard_rendezvous" -> qShardRendezvous _,
    "q_triangles" -> qTriangles _,
    "q_label_sim" -> qLabelSim _,
    "q_lsh_eval" -> qLshEval _,
    "q_containment" -> qContainment _,
    "q_weighted_sample" -> qWeightedSample _,
    "q_snapshot_diff" -> qSnapshotDiff _,
    "q_merge_upsert" -> qMergeUpsert _,
    "q_vocab_coverage" -> qVocabCoverage _,
    "q_syllables" -> qSyllables _,
    "q_embed_stats" -> qEmbedStats _,
    "q_embed_cov" -> qEmbedCov _,
    "q_pca_top" -> qPcaTop _,
    "q_mahalanobis" -> qMahalanobis _,
    "q_dup_token_share" -> qDupTokenShare _,
    "q_temp_mix" -> qTempMix _,
    "q_heaps_law" -> qHeapsLaw _,
    "q_fix_mojibake" -> qFixMojibake _,
    "q_dup_rank" -> qDupRank _,
    "q_quality_model" -> qQualityModel _,
    "q_token_budget" -> qTokenBudget _,
    "q_pack" -> qPack _,
    "q_chunk" -> qChunk _,
    "q_bpe_tokens" -> qBpeTokens _,
    "q_bpe_train" -> qBpeTrain _,
    "q_pmi_terms" -> qPmiTerms _,
    "q_compress_ratio" -> qCompressRatio _,
    "q_source_report" -> qSourceReport _,
    "q_dedup_keep_best" -> qDedupKeepBest _,
    "q_quality_shrunk" -> qQualityShrunk _,
    "q_dup_rate_by_source" -> qDupRateBySource _,
    "q_lift_table" -> qLiftTable _,
    "q_calibration" -> qCalibration _,
    "q_langid_eval" -> qLangidEval _,
    "q_expectations" -> qExpectations _,
    "q_graph_bfs" -> qGraphBfs _,
    "q_kcore" -> qKcore _,
    "q_cluster_sizes" -> qClusterSizes _,
    "q_distinctive_terms" -> qDistinctiveTerms _,
    "q_gtest_terms" -> qGtestTerms _,
    "q_graph_assortativity" -> qGraphAssortativity _,
    "q_cohens_kappa" -> qCohensKappa _,
    "q_fuzzy_join" -> qFuzzyJoin _,
    "q_power_law" -> qPowerLaw _,
    "q_dup_modularity" -> qDupModularity _,
    "q_snm_dedup" -> qSnmDedup _,
    "q_embed_outliers" -> qEmbedOutliers _,
    "q_dup_graph_report" -> qDupGraphReport _,
    "q_dup_source_overlap" -> qDupSourceOverlap _,
    "q_dup_jaccard_hist" -> qDupJaccardHist _,
    "q_ndcg" -> qNdcg _
  )

  private def minhashCtes(x: String): String = {
    val a = Hashing.duckMd5Long("shingle")
    val b = Hashing.duckMd5Long2("shingle")
    val perSeed = (0 until MinhashSeeds)
      .map(i => s"min(a + $i * b) AS mh$i")
      .mkString(", ")
    s"""mhx$x AS (SELECT doc_id, $a AS a, $b AS b FROM ex$x),
       |mh$x AS (SELECT doc_id, $perSeed FROM mhx$x GROUP BY doc_id)""".stripMargin
  }

  private def bandCtes(x: String): String = {
    // rows-per-band DERIVED like Dedup.bandedFromHashedPairs derives it, so
    // retuning MinhashSeeds/MinhashBands re-shapes both engines in
    // lockstep (a hardcoded 2 here would desync every minhash oracle)
    val rowsPerBand = MinhashSeeds / MinhashBands
    val bands = (0 until MinhashBands)
      .map { j =>
        val sig = (0 until rowsPerBand)
          .map(r => s"CAST(mh${rowsPerBand * j + r} AS VARCHAR)")
          .mkString(" || ':' || ")
        val h = Hashing.duckMd5Long(sig)
        s"SELECT doc_id, $j AS band_id, $h AS band_hash FROM mh$x"
      }
      .mkString(" UNION ALL ")
    s"""bands$x AS ($bands)"""
  }

  /** The full minhash near-dup pipeline as CTEs ending in
    * `mpairs(a_id, b_id, jaccard)` — shared by the q_dedup_minhash and
    * q_dedup_clusters oracles. */
  private def minhashPairsCtesFrom(base: String, x: String): String =
    s"""${shingleCtes(base, x)},
       |${minhashCtes(x)},
       |${bandCtes(x)},
       |cand$x AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands$x x JOIN bands$x y
       |    ON x.band_id = y.band_id AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
       |common$x AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
       |  FROM ex$x a JOIN ex$x b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |mpairs$x AS (
       |  SELECT cand$x.a_id AS a_id, cand$x.b_id AS b_id,
       |         round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) AS jaccard
       |  FROM cand$x JOIN common$x ON cand$x.a_id = common$x.a_id AND cand$x.b_id = common$x.b_id
       |  WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.8)""".stripMargin

  private val minhashPairsCtes = "WITH " + minhashPairsCtesFrom("documents", "")

  // -------------------------------------------------- covariance oracle CTEs
  // Mirrors covPairSums/covDimSums/covTable: quantized components,
  // exact pair/dim sums, then the shared [[CovExprSql]] formula.

  private def covOracleCtes: String =
    s"""q AS (
       |  SELECT list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * $EmbFp.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |px AS (
       |  SELECT unnest(flatten(list_transform(range(1, ${EmbDim + 1}), j -> list_transform(range(j, ${EmbDim + 1}), k -> {'j': j, 'k': k, 'p': qv[j] * qv[k]})))) AS t
       |  FROM q),
       |ps AS (SELECT t.j AS j, t.k AS k, sum(t.p) AS s_jk FROM px GROUP BY 1, 2),
       |dx AS (
       |  SELECT unnest(list_transform(range(1, ${EmbDim + 1}), j -> {'j': j, 'v': qv[j]})) AS t
       |  FROM q),
       |ds AS (SELECT t.j AS dj, sum(t.v) AS s_d, count(*) AS n FROM dx GROUP BY 1),
       |cj AS (
       |  SELECT j, k, s_jk, a.s_d AS s_j, b.s_d AS s_k, a.n AS n
       |  FROM ps JOIN ds a ON j = a.dj JOIN ds b ON k = b.dj),
       |c2 AS MATERIALIZED (SELECT j, k, $CovExprSql AS cov FROM cj)""".stripMargin

  // -------------------------------------------------- k-means oracle CTEs
  // Mirrors Clustering.kmeansAssign exactly: fixed-point centroid means
  // (floor(x·10⁷) summed as int64, one double division) make every
  // centroid component bit-identical across engines, so assignments and
  // sims replay exactly. Each Lloyd round unrolls to 4 CTEs.

  private def kmeansSumCols: String =
    (1 to EmbDim)
      .map(j => s"sum(CAST(floor(v[$j] * 10000000.0) AS BIGINT)) AS s$j")
      .mkString(", ")

  private def kmeansMeanArr: String =
    (1 to EmbDim)
      .map(j => s"CAST(s$j AS DOUBLE) / CAST(cnt * 10000000 AS DOUBLE)")
      .mkString("[", ", ", "]")

  /** Argmax-cosine assignment CTE `name(vec_id, v, nrm, cluster, sim)`
    * of the normed corpus `n` against centroid relation `centRel` —
    * rank ties break toward the lowest cent_id, matching the Spark
    * side's first-match CASE chain. */
  private def kmeansAssignCte(name: String, centRel: String): String =
    s"""$name AS (
       |  SELECT vec_id, v, nrm, cent_id AS cluster, sim FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.cent_id,
       |           list_dot_product(n.v, c.cent_v) / greatest(n.nrm * c.cent_nrm, 1e-300) AS sim,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_dot_product(n.v, c.cent_v) / greatest(n.nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS rk
       |    FROM n CROSS JOIN $centRel c)
       |  WHERE rk = 1)""".stripMargin

  /** CTE chain `e, n, c0, a0, [s_i, m_i, c_i, a_i]×iters` ending in the
    * final assignment `a$iters`. */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val init =
      s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |c0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cent_id,
         |         v AS cent_v, nrm AS cent_nrm
         |  FROM (SELECT * FROM n ORDER BY vec_id LIMIT $k)),
         |${kmeansAssignCte("a0", "c0")}""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""s$i AS (SELECT cluster, count(*) AS cnt, $kmeansSumCols FROM a${i - 1} GROUP BY cluster),
         |m$i AS (SELECT cluster AS cent_id, $kmeansMeanArr AS cent_v FROM s$i),
         |c$i AS (SELECT cent_id, cent_v, sqrt(list_dot_product(cent_v, cent_v)) AS cent_nrm FROM m$i),
         |${kmeansAssignCte(s"a$i", s"c$i")}""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** Recursive min-label reachability over a `(a_id, b_id)` pair
    * relation — `edges` + `walk(id, comp)`, shared by the clustering
    * oracles (requires WITH RECURSIVE in the enclosing query). No
    * trailing comma: callers joining further CTEs add their own. */
  private def componentsCtes(pairsRel: String): String =
    s"""edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM $pairsRel
       |  UNION
       |  SELECT b_id AS src, a_id AS dst FROM $pairsRel),
       |walk(id, comp) AS (
       |  SELECT DISTINCT src AS id, src AS comp FROM edges
       |  UNION
       |  SELECT e.dst AS id, w.comp FROM walk w JOIN edges e ON e.src = w.id)""".stripMargin

  private val enL = TextFns.EnMarkers.map(m => s"'$m'").mkString(", ")
  private val deL = TextFns.DeMarkers.map(m => s"'$m'").mkString(", ")
  private val frL = TextFns.FrMarkers.map(m => s"'$m'").mkString(", ")
  private val esL = TextFns.EsMarkers.map(m => s"'$m'").mkString(", ")
  private val allL = (TextFns.EnMarkers ++ TextFns.DeMarkers ++
    TextFns.FrMarkers ++ TextFns.EsMarkers).map(m => s"'$m'").mkString(", ")

  /** DuckDB literal array for hyperplane i — the exact doubles the Spark
    * plan bakes in via typedLit (Double.toString round-trips). */
  private def planeLit(i: Int): String =
    (0 until EmbDim).map(j => VectorFns.hpComponent(i, j)).mkString("[", ", ", "]")

  private val lshBucketSql = (0 until LshBits)
    .map(i =>
      s"CASE WHEN list_dot_product(v, ${planeLit(i)}) > 0 THEN ${1L << i} ELSE 0 END")
    .mkString(" + ")

  /** Sign signature of band `b` at `bits` planes per band — planes
    * `b*bits + bit`, the same family/offset
    * [[Dedup.embeddingCosineLsh]] bakes into its plan. */
  private def bandBucketSql(b: Int, bits: Int): String = (0 until bits)
    .map(i =>
      s"CASE WHEN list_dot_product(v, ${planeLit(b * bits + i)}) > 0 THEN ${1L << i} ELSE 0 END")
    .mkString(" + ")

  // ------------------------------------------------- ANN oracle CTE chains
  // Each route's full pipeline as a CTE chain ending in a ranked `*top`
  // relation, shared between the route query's oracle and its recall
  // eval's (37d family). The exact arms replay Spark's rounded scores.

  /** Exact cosine top-5 CTE `exact(query_id, neighbor_id)` over the
    * normed relation `n` — the ground-truth arm of the recall evals. */
  private val ExactCosTop5Cte: String =
    """exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |             round(list_dot_product(q.v, c.v) / greatest(q.nrm * c.nrm, 1e-300), 6) DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10)
      |  WHERE rank <= 5)""".stripMargin

  /** The recall@5 fold: `exact` semi-joined against the route's ranked
    * `topRel`, hits per query ([[recallReport]]'s SQL twin). */
  private def recallSelect(topRel: String): String =
    s"""SELECT x.query_id, count(*) AS n_hits,
       |       round(CAST(count(*) AS DOUBLE) / 5.0, 6) AS recall_at_5
       |FROM exact x JOIN $topRel a
       |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** PQ pipeline CTEs ending in `pqtop(query_id, rank, neighbor_id,
    * cos, adc)`: seeds cb0 → [[PqTrainIters]] unrolled Lloyd rounds
    * (the [[Ann.pqTrain]] replay — argmin re-code, exact fixed-point
    * means, empty code keeps its centroid) → encode → ADC shortlist →
    * exact rerank. */
  private lazy val PqOracleCtes: String = {
    val sd = EmbDim / PqM
    val cbUnion = (0 until PqM)
      .map { j =>
        val lo = j * sd + 1
        val hi = j * sd + sd
        s"""SELECT $j AS sub_id, CAST(vec_id - 10 AS INTEGER) AS cent_id,
           |         list_slice(v, $lo, $hi) AS cent_v,
           |         list_dot_product(list_slice(v, $lo, $hi), list_slice(v, $lo, $hi)) AS cent_sq
           |  FROM n WHERE vec_id >= 10 AND vec_id < ${10 + PqKs}""".stripMargin
      }
      .mkString("\n  UNION ALL\n  ")
    val trainRounds = (1 to PqTrainIters).map { i =>
      val sumCols = (1 to sd)
        .map(dd =>
          s"sum(CAST(floor(c.c_v[p.sub_id * $sd + $dd] * 10000000.0) AS BIGINT)) AS s$dd")
        .mkString(", ")
      val meanArr = (1 to sd)
        .map(dd => s"CAST(t.s$dd AS DOUBLE) / CAST(t.cnt * 10000000 AS DOUBLE)")
        .mkString("[", ", ", "]")
      s"""pqc$i AS (
         |  SELECT neighbor_id, sub_id, cent_id FROM (
         |    SELECT c.neighbor_id, b.sub_id, b.cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY c.neighbor_id, b.sub_id ORDER BY
         |             b.cent_sq - 2 * list_dot_product(list_slice(c.c_v, b.sub_id * $sd + 1, b.sub_id * $sd + $sd), b.cent_v) ASC, b.cent_id ASC) AS rk
         |    FROM corp c CROSS JOIN cb${i - 1} b)
         |  WHERE rk = 1),
         |pqs$i AS (
         |  SELECT p.sub_id, p.cent_id, count(*) AS cnt, $sumCols
         |  FROM pqc$i p JOIN corp c USING (neighbor_id)
         |  GROUP BY 1, 2),
         |pqm$i AS (
         |  SELECT b.sub_id, b.cent_id,
         |         CASE WHEN t.cnt IS NULL THEN b.cent_v ELSE $meanArr END AS cent_v
         |  FROM cb${i - 1} b LEFT JOIN pqs$i t
         |    ON b.sub_id = t.sub_id AND b.cent_id = t.cent_id),
         |cb$i AS (
         |  SELECT sub_id, cent_id, cent_v,
         |         list_dot_product(cent_v, cent_v) AS cent_sq
         |  FROM pqm$i)""".stripMargin
    }
    val rPivot = (0 until PqM)
      .map(j => s"max(CASE WHEN sub_id = $j THEN cent_sq END) AS r$j")
      .mkString(", ")
    val rSum = (0 until PqM).map(j => s"r$j").mkString(" + ")
    val dPivot = (0 until PqM)
      .map(j => s"max(CASE WHEN sub_id = $j THEN d END) AS d$j")
      .mkString(", ")
    val dSum = (0 until PqM).map(j => s"d$j").mkString(" + ")
    (Seq(
      s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |corp AS (SELECT vec_id AS neighbor_id, v AS c_v, nrm AS c_nrm FROM n WHERE vec_id >= 10),
         |qs AS (SELECT vec_id AS query_id, v AS q_v, nrm AS q_nrm FROM n WHERE vec_id < 10),
         |cb0 AS (
         |  $cbUnion)""".stripMargin) ++ trainRounds ++ Seq(
      s"""cb AS (SELECT * FROM cb$PqTrainIters),
         |sc AS (
         |  SELECT c.neighbor_id, b.sub_id, b.cent_id, b.cent_sq,
         |         b.cent_sq - 2 * list_dot_product(list_slice(c.c_v, b.sub_id * $sd + 1, b.sub_id * $sd + $sd), b.cent_v) AS score
         |  FROM corp c CROSS JOIN cb b),
         |codes AS (
         |  SELECT neighbor_id, sub_id, cent_id, cent_sq FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY neighbor_id, sub_id ORDER BY score ASC, cent_id ASC) AS rk FROM sc)
         |  WHERE rk = 1),
         |rec AS (
         |  SELECT neighbor_id, sqrt($rSum) AS recon_nrm FROM (
         |    SELECT neighbor_id, $rPivot FROM codes GROUP BY neighbor_id)),
         |dparts AS (
         |  SELECT q.query_id, cd.neighbor_id, cd.sub_id,
         |         list_dot_product(list_slice(q.q_v, cd.sub_id * $sd + 1, cd.sub_id * $sd + $sd), b.cent_v) AS d
         |  FROM qs q CROSS JOIN codes cd JOIN cb b ON b.sub_id = cd.sub_id AND b.cent_id = cd.cent_id),
         |adc AS (
         |  SELECT query_id, neighbor_id, $dSum AS adcdot FROM (
         |    SELECT query_id, neighbor_id, $dPivot FROM dparts GROUP BY query_id, neighbor_id)),
         |scored AS (
         |  SELECT a.query_id, a.neighbor_id, a.adcdot / greatest(q.q_nrm * r.recon_nrm, 1e-300) AS adc
         |  FROM adc a JOIN qs q USING (query_id) JOIN rec r USING (neighbor_id)),
         |short AS (
         |  SELECT query_id, neighbor_id, adc FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS srk FROM scored)
         |  WHERE srk <= $PqShortlist),
         |rr AS (
         |  SELECT s.query_id, s.neighbor_id,
         |         round(list_dot_product(q.q_v, c.c_v) / greatest(q.q_nrm * c.c_nrm, 1e-300), 6) AS cos,
         |         round(s.adc, 6) AS adc
         |  FROM short s JOIN qs q USING (query_id) JOIN corp c ON c.neighbor_id = s.neighbor_id),
         |pqtop AS (
         |  SELECT query_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
         |         neighbor_id, cos, adc
         |  FROM rr
         |  QUALIFY rank <= $PqK)""".stripMargin)).mkString(",\n")
  }

  /** IVF-PQ pipeline CTEs ending in `ivfpqtop(query_id, rank,
    * neighbor_id, cos, adc)`: [[PqOracleCtes]]' trained codebook +
    * codes, the [[IvfOracleCtes]] quantizer replayed under `p`-prefixed
    * names, ADC restricted to the probed cells' candidates, shortlist,
    * exact rerank — the [[Ann.ivfPqTopKWith]] replay. */
  private lazy val IvfPqOracleCtes: String = ivfPqOracleCtesFor("")

  /** [[IvfPqOracleCtes]] with an extra predicate on the CANDIDATE
    * corpus (injected into the cell-assignment CTE `pcn`) — the
    * deletion replay: a deleted vector is out of both stored tiers, so
    * it can never become an ADC candidate; everything downstream
    * (shortlist ranks, rerank, top-k) reorders exactly as the probe
    * over the physically-smaller index does. Deletion re-keys cells
    * without moving centroids, so routing CTEs are unchanged. */
  private def ivfPqOracleCtesFor(candPred: String): String = {
    val sd = EmbDim / PqM
    val dPivot = (0 until PqM)
      .map(j => s"max(CASE WHEN sub_id = $j THEN d END) AS d$j")
      .mkString(", ")
    val dSum = (0 until PqM).map(j => s"d$j").mkString(" + ")
    s"""$PqOracleCtes,
       |pcents AS (SELECT vec_id AS cent_id, v AS cent_v, nrm AS cent_nrm
       |           FROM n WHERE vec_id >= 10 AND vec_id < ${10 + IvfCentroids}),
       |pqn AS (
       |  SELECT query_id, cent_id FROM (
       |    SELECT q.vec_id AS query_id, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_dot_product(q.v, c.cent_v) / greatest(q.nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS cent_rank
       |    FROM n q CROSS JOIN pcents c WHERE q.vec_id < 10)
       |  WHERE cent_rank <= $IvfPqProbes),
       |pcn AS (
       |  SELECT neighbor_id, cent_id FROM (
       |    SELECT x.vec_id AS neighbor_id, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |             ORDER BY list_dot_product(x.v, c.cent_v) / greatest(x.nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS cent_rank
       |    FROM n x CROSS JOIN pcents c WHERE x.vec_id >= 10 $candPred)
       |  WHERE cent_rank <= 1),
       |pcand AS (SELECT q.query_id, c.neighbor_id FROM pqn q JOIN pcn c USING (cent_id)),
       |pdp AS (
       |  SELECT a.query_id, a.neighbor_id, cd.sub_id,
       |         list_dot_product(list_slice(q.q_v, cd.sub_id * $sd + 1, cd.sub_id * $sd + $sd), b.cent_v) AS d
       |  FROM pcand a JOIN qs q USING (query_id)
       |    JOIN codes cd ON cd.neighbor_id = a.neighbor_id
       |    JOIN cb b ON b.sub_id = cd.sub_id AND b.cent_id = cd.cent_id),
       |padc AS (
       |  SELECT query_id, neighbor_id, $dSum AS adcdot FROM (
       |    SELECT query_id, neighbor_id, $dPivot FROM pdp GROUP BY query_id, neighbor_id)),
       |pscored AS (
       |  SELECT a.query_id, a.neighbor_id, a.adcdot / greatest(q.q_nrm * r.recon_nrm, 1e-300) AS adc
       |  FROM padc a JOIN qs q USING (query_id) JOIN rec r USING (neighbor_id)),
       |pshort AS (
       |  SELECT query_id, neighbor_id, adc FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS srk FROM pscored)
       |  WHERE srk <= $PqShortlist),
       |prr AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(list_dot_product(q.q_v, c.c_v) / greatest(q.q_nrm * c.c_nrm, 1e-300), 6) AS cos,
       |         round(s.adc, 6) AS adc
       |  FROM pshort s JOIN qs q USING (query_id) JOIN corp c ON c.neighbor_id = s.neighbor_id),
       |ivfpqtop AS (
       |  SELECT query_id,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
       |         neighbor_id, cos, adc
       |  FROM prr
       |  QUALIFY rank <= $PqK)""".stripMargin
  }

  /** Probe-curve oracle: probe RANKS for every (query, cell), each
    * exact-top-5 pair tagged with the rank that first reaches its
    * neighbor's cell, cumulative hits over the probe grid — the
    * [[qIvfProbeCurve]] replay. */
  private lazy val IvfProbeCurveSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |pcents AS (SELECT vec_id AS cent_id, v AS cent_v, nrm AS cent_nrm
       |           FROM n WHERE vec_id >= 10 AND vec_id < ${10 + IvfCentroids}),
       |qr AS (
       |  SELECT q.vec_id AS query_id, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |           ORDER BY list_dot_product(q.v, c.cent_v) / greatest(q.nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS pr
       |  FROM n q CROSS JOIN pcents c WHERE q.vec_id < 10),
       |pcn AS (
       |  SELECT neighbor_id, cent_id FROM (
       |    SELECT x.vec_id AS neighbor_id, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |             ORDER BY list_dot_product(x.v, c.cent_v) / greatest(x.nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS cent_rank
       |    FROM n x CROSS JOIN pcents c WHERE x.vec_id >= 10)
       |  WHERE cent_rank <= 1),
       |$ExactCosTop5Cte,
       |needed AS (
       |  SELECT x.query_id, qr.pr
       |  FROM exact x JOIN pcn ON pcn.neighbor_id = x.neighbor_id
       |    JOIN qr ON qr.query_id = x.query_id AND qr.cent_id = pcn.cent_id),
       |grid AS (SELECT CAST(gs AS BIGINT) AS n_probe FROM generate_series(1, $IvfCentroids) t(gs)),
       |nq AS (SELECT count(*) AS n_queries FROM n WHERE vec_id < 10)
       |SELECT g.n_probe, count(nd.pr) AS n_hits,
       |       round(CAST(count(nd.pr) AS DOUBLE) / (5.0 * n_queries), 6) AS recall_at_5
       |FROM grid g LEFT JOIN needed nd ON nd.pr <= g.n_probe CROSS JOIN nq
       |GROUP BY g.n_probe, n_queries
       |ORDER BY g.n_probe""".stripMargin

  /** MIPS pipeline CTEs ending in `mipstop(query_id, rank, neighbor_id,
    * dot)`: the SAME md5-derived hyperplane family extended one
    * component (j = 64) for the augmented dimension; max-norm M² and
    * the banded augmented signatures rebuilt from the parquet alone;
    * candidates = union over bands (OR-construction), rerank by the
    * exact RAW dot (the augmentation only steers candidates). */
  private lazy val MipsOracleCtes: String = {
    val planeLit65 = (p: Int) =>
      (0 to EmbDim).map(j => VectorFns.hpComponent(p, j)).mkString("[", ", ", "]")
    def bandSql(b: Int) = (0 until LshBits)
      .map(i =>
        s"CASE WHEN list_dot_product(aug, ${planeLit65(b * LshBits + i)}) > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    val bandUnion = (0 until MipsBands)
      .map(b => s"SELECT vec_id, $b AS band_id, (${bandSql(b)}) AS band_sig FROM a")
      .mkString("\n  UNION ALL\n  ")
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |m AS (SELECT max(nrm * nrm) AS m2 FROM n WHERE vec_id >= 10),
       |a AS (SELECT vec_id, v,
       |             CASE WHEN vec_id < 10 THEN list_append(v, 0.0)
       |                  ELSE list_append(v, sqrt(m2 - nrm * nrm)) END AS aug
       |      FROM n CROSS JOIN m),
       |bs AS (
       |  $bandUnion),
       |cands AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bs q JOIN bs c
       |    ON q.vec_id < 10 AND c.vec_id >= 10
       |   AND q.band_id = c.band_id AND q.band_sig = c.band_sig),
       |mipssc AS (
       |  SELECT query_id, neighbor_id, round(list_dot_product(q.v, c.v), 6) AS dot
       |  FROM cands JOIN n q ON q.vec_id = query_id JOIN n c ON c.vec_id = neighbor_id),
       |mipstop AS (
       |  SELECT query_id,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rank,
       |         neighbor_id, dot
       |  FROM mipssc
       |  QUALIFY rank <= 5)""".stripMargin
  }

  /** Shared by q_contamination and q_contamination_bloom — the Bloom
    * path's confirm join makes it bit-identical to the exact query. */
  private val ContaminationSql = {
    val h = Hashing.duckMd5Long("shingle")
    s"""$ShingleCte,
       |hx AS (SELECT doc_id, $h AS h FROM ex),
       |bench AS (SELECT DISTINCT h FROM hx WHERE doc_id < 10)
       |SELECT doc_id, count(*) AS n_shared
       |FROM hx JOIN bench USING (h)
       |WHERE doc_id >= 10
       |GROUP BY doc_id HAVING count(*) >= $ContaminationMinShared
       |ORDER BY doc_id""".stripMargin
  }

  /** Scored-corpus CTE fragment (`t`/`m`: pos = `lang = 'en'`, linear
    * quality score) — the SQL twin of [[scoredEn]], shared by the
    * filter-signal evaluation oracles (q_lift_table, q_calibration);
    * q_score_auc predates it and inlines the same expressions. */
  private def scoredEnCtes(): String =
    s"""t AS (
       |  SELECT lang, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
       |  FROM documents),
       |m AS (
       |  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
       |         round(1.2 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains([$allL], x))) AS DOUBLE) / len(toks) END, 6)
       |               + 0.8 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
       |               - 6.0 * round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6)
       |               + 0.002 * CAST(len(toks) AS BIGINT), 4) AS score
       |  FROM t)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "q_dedup_ngram" ->
      s"""$ShingleCte,
         |ngx AS (SELECT doc_id, sz, ${Hashing.duckMd5Long("shingle")} AS h FROM ex),
         |common AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
         |  FROM ngx a JOIN ngx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a_id, b_id, round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) AS jaccard
         |FROM common
         |WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.8
         |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_minhash" ->
      s"""$minhashPairsCtes
         |SELECT a_id, b_id, jaccard FROM mpairs ORDER BY a_id, b_id""".stripMargin,
    "q_dup_degree" ->
      s"""$minhashPairsCtes,
         |ends AS (SELECT a_id AS doc_id FROM mpairs UNION ALL SELECT b_id FROM mpairs)
         |SELECT doc_id, count(*) AS degree FROM ends
         |GROUP BY doc_id ORDER BY degree DESC, doc_id LIMIT 10""".stripMargin,
    // Connected components over the minhash pairs: min-label closure as
    // a recursive reachability walk — comp = min id reachable over the
    // undirected pair edges, which in a connected component is the
    // component's minimum id (mirrors Dedup.duplicateClusters).
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |${componentsCtes("mpairs")}
         |SELECT id, min(comp) AS comp FROM walk GROUP BY id ORDER BY id""".stripMargin,
    // large-star/small-star CC computes the SAME (id, component-min)
    // labeling as the propagation fixpoint — one oracle serves both
    "q_cc_bigstar" ->
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |${componentsCtes("mpairs")}
         |SELECT id, min(comp) AS comp FROM walk GROUP BY id ORDER BY id""".stripMargin,
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |${componentsCtes("mpairs")},
         |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |szs AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM comps GROUP BY 1)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |       CAST(sum(sz) AS BIGINT) AS n_docs
         |FROM szs GROUP BY 1 ORDER BY cluster_size""".stripMargin,
    "q_split_leakage" -> {
      val h = graft.functions.Hashing.duckMd5Long("CAST(grp AS VARCHAR)")
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |${componentsCtes("mpairs")},
         |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |g AS (
         |  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS grp
         |  FROM documents d LEFT JOIN comps c ON c.id = d.doc_id)
         |SELECT doc_id, grp,
         |       CASE WHEN $h % 10000 < 8000 THEN 'train' ELSE 'heldout' END AS split
         |FROM g ORDER BY doc_id""".stripMargin
    },
    "q_dedup_simhash" -> {
      val h = Hashing.duckMd5Long("tok")
      s"""WITH toksx AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
         |  FROM documents),
         |hx AS (SELECT doc_id, $h AS h FROM toksx),
         |bits AS (
         |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS w
         |  FROM hx CROSS JOIN (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS j)
         |  GROUP BY doc_id, j),
         |sims AS (
         |  SELECT doc_id, CAST(SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |${simhashPairCtes("spairs")}
         |SELECT a_id, b_id, hamming FROM spairs
         |ORDER BY a_id, b_id""".stripMargin
    },
    "q_dedup_simhash_wide" ->
      s"""WITH ${simhashWideSimsCtes()},
         |${simhashWidePairCtes("wspairs")}
         |SELECT a_id, b_id, hamming FROM wspairs
         |ORDER BY a_id, b_id""".stripMargin,
    // routed front-end: at threshold 0.45 < EmbeddingLshCrossover the
    // dispatcher takes the k-means co-cluster route, and at the sf0.01
    // oracle scale kmeansAssignAuto resolves k = KmeansK — so the oracle
    // replays the identical clustering (same CTEs as q_semdedup) and
    // checks the WHOLE routed plan, bucketing included
    "q_dedup_embed" ->
      s"""WITH ${kmeansCtes(KmeansK, KmeansIters)}
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       round(list_dot_product(a.v, b.v) / greatest(a.nrm * b.nrm, 1e-300), 6) AS cos
         |FROM a$KmeansIters a JOIN a$KmeansIters b
         |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) / greatest(a.nrm * b.nrm, 1e-300), 6) >= $DedupEmbedThreshold
         |ORDER BY a_id, b_id""".stripMargin,
    // the high-threshold branch of the routed front-end: replants the
    // same exact clones under offset ids, then replays the TUNED
    // sign-LSH bands (identical hyperplane family) at cos ≥ 0.9. The
    // tuner is a pure function of corpus size; the correctness gate runs
    // at sf0.01 whose embeddings table is fixed at 500 rows (+ the 25
    // plants), so the oracle resolves the same geometry the Spark side
    // counts at runtime.
    "q_dedup_embed_hi" -> {
      val (hiBands, hiBits) =
        Dedup.lshTune(500L + DedupEmbedPlantN, DedupEmbedHiThreshold)
      val bandUnion = (0 until hiBands)
        .map(b =>
          s"SELECT vec_id, $b AS band_id, (${bandBucketSql(b, hiBits)}) AS band_sig FROM e")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |e AS (
         |  SELECT vec_id, v FROM base
         |  UNION ALL
         |  SELECT vec_id + $DedupEmbedPlantOffset AS vec_id, v FROM base WHERE vec_id < $DedupEmbedPlantN),
         |bands AS (
         |  $bandUnion),
         |cands AS (
         |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM bands x JOIN bands y
         |    ON x.band_id = y.band_id AND x.band_sig = y.band_sig AND x.vec_id < y.vec_id),
         |pairs AS (
         |  SELECT c.a_id, c.b_id,
         |         round(list_dot_product(a.v, b.v) / greatest(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 1e-300), 6) AS cos
         |  FROM cands c JOIN e a ON a.vec_id = c.a_id JOIN e b ON b.vec_id = c.b_id)
         |SELECT a_id, b_id, cos FROM pairs WHERE cos >= $DedupEmbedHiThreshold ORDER BY a_id, b_id""".stripMargin
    },
    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10)
        |SELECT query_id,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
        |       neighbor_id, cos
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_dup_rate_by_source" ->
      s"""$minhashPairsCtes,
         |dup_ids AS (SELECT a_id AS doc_id FROM mpairs UNION SELECT b_id FROM mpairs),
         |per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |dups AS (
         |  SELECT d.source, count(*) AS n_dup
         |  FROM documents d JOIN dup_ids USING (doc_id) GROUP BY 1)
         |SELECT p.source, p.n_docs, coalesce(n_dup, 0) AS n_dup,
         |       round(CAST(coalesce(n_dup, 0) AS DOUBLE) / CAST(p.n_docs AS DOUBLE), 6) AS dup_rate
         |FROM per p LEFT JOIN dups ON p.source = dups.source
         |ORDER BY p.source""".stripMargin,
    "q_dup_token_share" ->
      s"""$minhashPairsCtes,
         |dup_ids AS (SELECT a_id AS doc_id FROM mpairs UNION SELECT b_id FROM mpairs),
         |base AS (
         |  SELECT d.source,
         |         CAST(len(list_filter(string_split(d.text, ' '), x -> len(x) > 0)) AS BIGINT) AS tok,
         |         CASE WHEN dup_ids.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup
         |  FROM documents d LEFT JOIN dup_ids ON d.doc_id = dup_ids.doc_id),
         |rows_out AS (
         |  SELECT source, CAST(sum(tok) AS BIGINT) AS total_tokens,
         |         CAST(sum(CASE WHEN dup = 1 THEN tok ELSE 0 END) AS BIGINT) AS dup_tokens
         |  FROM base GROUP BY 1
         |  UNION ALL
         |  SELECT 'ALL' AS source, CAST(sum(tok) AS BIGINT), CAST(sum(CASE WHEN dup = 1 THEN tok ELSE 0 END) AS BIGINT)
         |  FROM base)
         |SELECT source, total_tokens, dup_tokens,
         |       floor(CAST(dup_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS dup_token_share
         |FROM rows_out ORDER BY source""".stripMargin,
    "q_heaps_law" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |mx AS (SELECT max(doc_id) AS mx FROM documents),
         |vck AS (
         |  SELECT least((first_doc * $HeapsCheckpoints) // (mx + 1) + 1, $HeapsCheckpoints) AS ck,
         |         count(*) AS new_types
         |  FROM (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY 1), mx
         |  GROUP BY 1),
         |tck AS (
         |  SELECT least((doc_id * $HeapsCheckpoints) // (mx + 1) + 1, $HeapsCheckpoints) AS ck,
         |         CAST(sum(n_tok) AS BIGINT) AS toks, count(*) AS docs
         |  FROM (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY 1), mx
         |  GROUP BY 1),
         |grid AS (
         |  SELECT coalesce(vck.ck, tck.ck) AS ck,
         |         coalesce(new_types, 0) AS new_types,
         |         coalesce(toks, 0) AS toks, coalesce(docs, 0) AS docs
         |  FROM vck FULL OUTER JOIN tck ON vck.ck = tck.ck),
         |cum AS (
         |  SELECT ck,
         |         CAST(sum(docs) OVER w AS BIGINT) AS n_docs_prefix,
         |         CAST(sum(toks) OVER w AS BIGINT) AS n_tokens_prefix,
         |         CAST(sum(new_types) OVER w AS BIGINT) AS vocab_prefix
         |  FROM grid
         |  WINDOW w AS (ORDER BY ck ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |pts AS (
         |  SELECT *,
         |         CAST(floor(ln(CAST(n_tokens_prefix AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
         |         CAST(floor(ln(CAST(vocab_prefix AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
         |  FROM cum),
         |fit AS (
         |  SELECT count(*) AS np, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         sum(x * x) AS sxx, sum(x * y) AS sxy
         |  FROM pts)
         |SELECT ck, n_docs_prefix, n_tokens_prefix, vocab_prefix,
         |       floor((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |             / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |             * 1000000.0 + 0.5) / 1000000.0 AS beta
         |FROM pts, fit ORDER BY ck""".stripMargin,
    "q_temp_mix" ->
      s"""WITH src AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |q AS (
         |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * $TempMixScale.0) AS BIGINT) AS q
         |  FROM src),
         |tot AS (SELECT CAST(sum(q) AS BIGINT) AS qsum, CAST(sum(n_tokens) AS BIGINT) AS tok_total FROM q)
         |SELECT source, n_docs, n_tokens,
         |       floor(CAST(q AS DOUBLE) / CAST(qsum AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS weight,
         |       floor(CAST(q AS DOUBLE) * CAST(tok_total AS DOUBLE) / (CAST(qsum AS DOUBLE) * CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS upsample_factor
         |FROM q, tot ORDER BY source""".stripMargin,
    "q_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |             ($lshBucketSql) AS bucket
         |      FROM e),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |             round(list_dot_product(q.v, c.v) / greatest(q.nrm * c.nrm, 1e-300), 6) DESC, c.vec_id) AS rank
         |    FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10)
         |  WHERE rank <= 5),
         |approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |             round(list_dot_product(q.v, c.v) / greatest(q.nrm * c.nrm, 1e-300), 6) DESC, c.vec_id) AS rank
         |    FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10 AND q.bucket = c.bucket)
         |  WHERE rank <= 5)
         |SELECT x.query_id, count(*) AS n_hits,
         |       round(CAST(count(*) AS DOUBLE) / 5.0, 6) AS recall_at_5
         |FROM exact x JOIN approx a
         |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS c_label,
        |         round(list_dot_product(q.v, c.v) / greatest(q.nrm * c.nrm, 1e-300), 6) AS cos
        |  FROM n q JOIN n c
        |    ON q.vec_id < 10 AND c.vec_id >= 10 AND q.label <> c.label)
        |SELECT query_id,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
        |       neighbor_id, cos, c_label
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm,
         |             ($lshBucketSql) AS bucket
         |      FROM e),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, c.v) / greatest(q.nrm * c.nrm, 1e-300), 6) AS cos
         |  FROM n q JOIN n c
         |    ON q.vec_id < 10 AND c.vec_id >= 10 AND c.label = $AnnFilterLabel
         |   AND q.bucket = c.bucket)
         |SELECT query_id,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
         |       neighbor_id, cos
         |FROM scored
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |             ($lshBucketSql) AS bucket
         |      FROM e),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, c.v) / greatest(q.nrm * c.nrm, 1e-300), 6) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10 AND q.bucket = c.bucket)
         |SELECT query_id,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
         |       neighbor_id, cos
         |FROM scored
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // MIPS replay: see MipsOracleCtes (shared with q_ann_recall_mips)
    "q_ann_mips" ->
      s"""WITH $MipsOracleCtes
         |SELECT query_id, rank, neighbor_id, dot
         |FROM mipstop
         |ORDER BY query_id, rank""".stripMargin,
    // PQ replay incl. the trained codebook: see PqOracleCtes (shared
    // with q_ann_recall_pq)
    "q_ann_pq" ->
      s"""WITH $PqOracleCtes
         |SELECT query_id, rank, neighbor_id, cos, adc
         |FROM pqtop
         |ORDER BY query_id, rank""".stripMargin,
    "q_ann_ivf" -> IvfOracleSql,
    // the stored-index probe replays the SAME quantizer + assignment as
    // the inline query — identical results by construction, so the twin
    // reuses the identical oracle
    "q_ann_ivf_stored" -> IvfOracleSql,
    // recall evals: each route's full pipeline CTEs + the exact arm +
    // the shared recall fold
    "q_ann_recall_pq" ->
      s"""WITH $PqOracleCtes,
         |$ExactCosTop5Cte
         |${recallSelect("pqtop")}""".stripMargin,
    "q_ann_recall_ivf" ->
      s"""WITH $IvfOracleCtes,
         |$ExactCosTop5Cte
         |${recallSelect("ivftop")}""".stripMargin,
    "q_ann_recall_mips" -> {
      // the exact arm ranks by the RAW inner product (the MIPS
      // objective), not cosine
      val exactMips =
        """exact AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
          |             round(list_dot_product(q.v, c.v), 6) DESC, c.vec_id) AS rank
          |    FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10)
          |  WHERE rank <= 5)""".stripMargin
      s"""WITH $MipsOracleCtes,
         |$exactMips
         |${recallSelect("mipstop")}""".stripMargin
    },
    // combined IVF-PQ route: the PQ codebook/codes CTEs + the IVF
    // quantizer replay, ADC restricted to the probed cells
    "q_ann_ivfpq" ->
      s"""WITH $IvfPqOracleCtes
         |SELECT query_id, rank, neighbor_id, cos, adc
         |FROM ivfpqtop
         |ORDER BY query_id, rank""".stripMargin,
    // the stored-index probe replays the SAME quantizer + codebook +
    // assignment as the inline combined route — identical results by
    // construction (the q_ann_ivf_stored convention), identical oracle
    "q_ann_ivfpq_stored" ->
      s"""WITH $IvfPqOracleCtes
         |SELECT query_id, rank, neighbor_id, cos, adc
         |FROM ivfpqtop
         |ORDER BY query_id, rank""".stripMargin,
    // deletion replay: the identical combined-route pipeline with the
    // planted residue set excluded from CANDIDACY (see
    // ivfPqOracleCtesFor) — deleted vectors are physically out of both
    // stored tiers, so shortlist ranks re-close over the survivors
    "q_ann_ivfpq_deleted" ->
      s"""WITH ${ivfPqOracleCtesFor(
             s"AND x.vec_id % $AnnDeleteMod <> $AnnDeleteRem")}
         |SELECT query_id, rank, neighbor_id, cos, adc
         |FROM ivfpqtop
         |ORDER BY query_id, rank""".stripMargin,
    "q_ann_recall_ivfpq" ->
      s"""WITH $IvfPqOracleCtes,
         |$ExactCosTop5Cte
         |${recallSelect("ivfpqtop")}""".stripMargin,
    // codebook-staleness eval: PqOracleCtes trains the codebook on the
    // ORIGINAL corp (the frozen build), then the d-prefixed chain
    // re-runs the whole combined route over the shifted union corpus
    // with shifted queries — encode, quantizer routing, ADC, shortlist,
    // exact rerank, recall fold
    "q_ann_recall_ivfpq_drift" -> {
      val sd = EmbDim / PqM
      val rPivot = (0 until PqM)
        .map(j => s"max(CASE WHEN sub_id = $j THEN cent_sq END) AS r$j")
        .mkString(", ")
      val rSum = (0 until PqM).map(j => s"r$j").mkString(" + ")
      val dPivot = (0 until PqM)
        .map(j => s"max(CASE WHEN sub_id = $j THEN dv END) AS d$j")
        .mkString(", ")
      val dSum = (0 until PqM).map(j => s"d$j").mkString(" + ")
      s"""WITH $PqOracleCtes,
         |dcorp0 AS (
         |  SELECT neighbor_id + $DriftIdOffset AS neighbor_id,
         |         list_transform(c_v, x -> x + $DriftShift) AS c_v
         |  FROM corp),
         |dcorp AS (SELECT neighbor_id, c_v, sqrt(list_dot_product(c_v, c_v)) AS c_nrm FROM dcorp0),
         |scorp AS (
         |  SELECT neighbor_id, c_v, c_nrm FROM corp
         |  UNION ALL
         |  SELECT neighbor_id, c_v, c_nrm FROM dcorp),
         |dqs0 AS (SELECT query_id, list_transform(q_v, x -> x + $DriftShift) AS q_v FROM qs),
         |dqs AS (SELECT query_id, q_v, sqrt(list_dot_product(q_v, q_v)) AS q_nrm FROM dqs0),
         |dpcents AS (SELECT vec_id AS cent_id, v AS cent_v, nrm AS cent_nrm
         |            FROM n WHERE vec_id >= 10 AND vec_id < ${10 + IvfCentroids}),
         |dsc AS (
         |  SELECT c.neighbor_id, b.sub_id, b.cent_id, b.cent_sq,
         |         b.cent_sq - 2 * list_dot_product(list_slice(c.c_v, b.sub_id * $sd + 1, b.sub_id * $sd + $sd), b.cent_v) AS score
         |  FROM scorp c CROSS JOIN cb b),
         |dcodes AS (
         |  SELECT neighbor_id, sub_id, cent_id, cent_sq FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY neighbor_id, sub_id ORDER BY score ASC, cent_id ASC) AS rk FROM dsc)
         |  WHERE rk = 1),
         |drec AS (
         |  SELECT neighbor_id, sqrt($rSum) AS recon_nrm FROM (
         |    SELECT neighbor_id, $rPivot FROM dcodes GROUP BY neighbor_id)),
         |dpqn AS (
         |  SELECT query_id, cent_id FROM (
         |    SELECT q.query_id, c.cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.query_id
         |             ORDER BY list_dot_product(q.q_v, c.cent_v) / greatest(q.q_nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS cent_rank
         |    FROM dqs q CROSS JOIN dpcents c)
         |  WHERE cent_rank <= $IvfPqProbes),
         |dpcn AS (
         |  SELECT neighbor_id, cent_id FROM (
         |    SELECT x.neighbor_id, c.cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY x.neighbor_id
         |             ORDER BY list_dot_product(x.c_v, c.cent_v) / greatest(x.c_nrm * c.cent_nrm, 1e-300) DESC, c.cent_id) AS cent_rank
         |    FROM scorp x CROSS JOIN dpcents c)
         |  WHERE cent_rank <= 1),
         |dcand AS (SELECT q.query_id, c.neighbor_id FROM dpqn q JOIN dpcn c USING (cent_id)),
         |ddp AS (
         |  SELECT a.query_id, a.neighbor_id, cd.sub_id,
         |         list_dot_product(list_slice(q.q_v, cd.sub_id * $sd + 1, cd.sub_id * $sd + $sd), b.cent_v) AS dv
         |  FROM dcand a JOIN dqs q USING (query_id)
         |    JOIN dcodes cd ON cd.neighbor_id = a.neighbor_id
         |    JOIN cb b ON b.sub_id = cd.sub_id AND b.cent_id = cd.cent_id),
         |dadc AS (
         |  SELECT query_id, neighbor_id, $dSum AS adcdot FROM (
         |    SELECT query_id, neighbor_id, $dPivot FROM ddp GROUP BY query_id, neighbor_id)),
         |dscored AS (
         |  SELECT a.query_id, a.neighbor_id, a.adcdot / greatest(q.q_nrm * r.recon_nrm, 1e-300) AS adc
         |  FROM dadc a JOIN dqs q USING (query_id) JOIN drec r USING (neighbor_id)),
         |dshort AS (
         |  SELECT query_id, neighbor_id, adc FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS srk FROM dscored)
         |  WHERE srk <= $PqShortlist),
         |drr AS (
         |  SELECT s.query_id, s.neighbor_id,
         |         round(list_dot_product(q.q_v, c.c_v) / greatest(q.q_nrm * c.c_nrm, 1e-300), 6) AS cos
         |  FROM dshort s JOIN dqs q USING (query_id) JOIN scorp c ON c.neighbor_id = s.neighbor_id),
         |dtop AS (
         |  SELECT query_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
         |         neighbor_id, cos
         |  FROM drr
         |  QUALIFY rank <= $PqK),
         |dexact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, c.neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
         |             round(list_dot_product(q.q_v, c.c_v) / greatest(q.q_nrm * c.c_nrm, 1e-300), 6) DESC, c.neighbor_id) AS rank
         |    FROM dqs q CROSS JOIN scorp c)
         |  WHERE rank <= 5)
         |SELECT x.query_id, count(*) AS n_hits,
         |       round(CAST(count(*) AS DOUBLE) / 5.0, 6) AS recall_at_5
         |FROM dexact x JOIN dtop a
         |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
         |GROUP BY 1
         |ORDER BY 1""".stripMargin
    },
    "q_ivf_probe_curve" -> IvfProbeCurveSql,
    // the shortlist-axis twin: the combined-route candidate CTEs, ADC
    // ranks, exact cosines for rows under the grid cap, one ranked
    // top-5 + recall fold per grid value
    "q_ivfpq_shortlist_curve" -> {
      val cap = IvfPqShortlistGrid.max
      val perS = IvfPqShortlistGrid
        .map { sl =>
          s"""  SELECT $sl AS shortlist, CAST(count(*) AS BIGINT) AS n_hits
             |  FROM exact x JOIN (
             |    SELECT query_id, neighbor_id FROM (
             |      SELECT query_id, neighbor_id,
             |             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
             |      FROM pcosv WHERE sr <= $sl)
             |    WHERE rk <= $PqK) a
             |    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id""".stripMargin
        }
        .mkString("\n  UNION ALL\n")
      s"""WITH $IvfPqOracleCtes,
         |$ExactCosTop5Cte,
         |psr AS (
         |  SELECT query_id, neighbor_id,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS sr
         |  FROM pscored),
         |pcosv AS (
         |  SELECT p.query_id, p.neighbor_id, p.sr,
         |         round(list_dot_product(q.q_v, c.c_v) / greatest(q.q_nrm * c.c_nrm, 1e-300), 6) AS cos
         |  FROM psr p JOIN qs q USING (query_id) JOIN corp c ON c.neighbor_id = p.neighbor_id
         |  WHERE p.sr <= $cap),
         |nqv AS (SELECT count(*) AS n_queries FROM qs),
         |hits AS (
         |$perS)
         |SELECT CAST(shortlist AS BIGINT) AS shortlist, n_hits,
         |       round(CAST(n_hits AS DOUBLE) / (5.0 * n_queries), 6) AS recall_at_5
         |FROM hits CROSS JOIN nqv
         |ORDER BY shortlist""".stripMargin
    },
    "q_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text,
         |         len(list_filter(toks, x -> list_contains([$enL], x))) AS en,
         |         len(list_filter(toks, x -> list_contains([$deL], x))) AS de,
         |         len(list_filter(toks, x -> list_contains([$frL], x))) AS fr,
         |         len(list_filter(toks, x -> list_contains([$esL], x))) AS es
         |  FROM t)
         |SELECT doc_id,
         |       CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |            WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |            WHEN en = greatest(en, de, fr, es) THEN 'en'
         |            WHEN de = greatest(en, de, fr, es) THEN 'de'
         |            WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |            ELSE 'es' END AS pred_lang
         |FROM scored ORDER BY doc_id""".stripMargin,
    "q_gopher_rules" -> {
      val stops = GopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(t) AS BIGINT) AS n_words,
         |         round(CAST(list_sum(list_transform(t, w -> len(w))) AS DOUBLE) / len(t), 6) AS mean_word_len,
         |         round(CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(t), 6) AS alpha_frac,
         |         CAST(len(list_intersect(list_distinct(t), $stops)) AS BIGINT) AS stop_hits
         |  FROM toks)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
         |       (n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
         |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |        AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "q_text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END, 4) AS mean_token_len,
         |         round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6) AS punct_ratio,
         |         round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains([$allL], x))) AS DOUBLE) / len(toks) END, 6) AS stopword_ratio,
         |         round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6) AS distinct_ratio
         |  FROM t)
         |SELECT *, (n_tokens >= 10 AND n_tokens <= 1000 AND punct_ratio < 0.1 AND distinct_ratio > 0.3) AS quality_ok
         |FROM m ORDER BY doc_id""".stripMargin,
    "q_vocab_topk" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
        |  FROM documents)
        |SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM t GROUP BY tok ORDER BY df DESC, tok LIMIT 20""".stripMargin,
    // Count-Min: the md5 hash family is deterministic, so the oracle
    // rebuilds the identical depth×width counter grid and min-probes
    "q_cms_counts" -> {
      val hashUnion = (0 until CmsDepth)
        .map(r =>
          s"SELECT tok, tf, $r AS r, (${Hashing.duckMd5LongSeeded(CmsSeedBase + r, "tok")}) % $CmsWidth AS b FROM tf")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH t AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |tf AS (SELECT tok, count(*) AS tf FROM t GROUP BY tok),
         |hx AS (
         |  $hashUnion),
         |counters AS (SELECT r, b, SUM(tf) AS c FROM hx GROUP BY r, b),
         |top AS (SELECT tok FROM tf ORDER BY tf DESC, tok LIMIT $CmsTopK)
         |SELECT hx.tok, hx.tf AS exact_tf, CAST(MIN(c.c) AS BIGINT) AS cms_est,
         |       CAST(MIN(c.c) - hx.tf AS BIGINT) AS overcount
         |FROM hx JOIN top USING (tok)
         |JOIN counters c ON c.r = hx.r AND c.b = hx.b
         |GROUP BY hx.tok, hx.tf
         |ORDER BY tok""".stripMargin
    },
    "q_inverted_index" ->
      """WITH p0 AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |t AS (SELECT DISTINCT doc_id, tok FROM p0),
        |dfreq AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
        |top AS (SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT 20),
        |r AS (SELECT t.tok, t.doc_id,
        |             row_number() OVER (PARTITION BY t.tok ORDER BY doc_id) AS rn
        |      FROM t JOIN top USING (tok))
        |SELECT r.tok AS tok, top.df AS df,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM r JOIN top ON r.tok = top.tok
        |WHERE rn <= 10
        |GROUP BY r.tok, top.df
        |ORDER BY df DESC, tok""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         |       CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(text, '${TextFns.BpePattern}')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_fertility" ->
      s"""WITH per AS (
         |  SELECT lang,
         |         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS w,
         |         CAST(len(regexp_extract_all(text, '${TextFns.BpePattern}')) AS BIGINT) AS b,
         |         CAST(len(text) AS BIGINT) AS ch
         |  FROM documents),
         |g AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(w) AS BIGINT) AS words,
         |         CAST(sum(b) AS BIGINT) AS bpe_tokens,
         |         CAST(sum(ch) AS BIGINT) AS chars
         |  FROM per GROUP BY 1)
         |SELECT lang, n_docs, words, bpe_tokens,
         |       CASE WHEN words > 0
         |            THEN floor((CAST(bpe_tokens AS DOUBLE) / CAST(words AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
         |            END AS fertility,
         |       CASE WHEN bpe_tokens > 0
         |            THEN floor((CAST(chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
         |            END AS chars_per_token
         |FROM g ORDER BY lang""".stripMargin,
    // NUL is pre-replaced with space: DuckDB's nfc_normalize (utf8proc)
    // truncates at an embedded U+0000 whenever any non-ASCII char makes
    // the normalization path run. NUL blocks canonical composition
    // exactly like space does and both are in the collapse class, so
    // the substitution is semantics-preserving.
    "q_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(nfc_normalize(replace(text, chr(0), ' ')), '[\x00-\x20\x7F]+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, norm_text <> text AS changed,
        |       CAST(len(norm_text) AS BIGINT) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    "q_kmeans" ->
      s"""WITH ${kmeansCtes(KmeansK, KmeansIters)}
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, round(sim, 6) AS sim
         |FROM a$KmeansIters ORDER BY vec_id""".stripMargin,
    "q_semdedup" ->
      s"""WITH ${kmeansCtes(KmeansK, KmeansIters)}
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       CAST(a.cluster AS BIGINT) AS cluster,
         |       round(list_dot_product(a.v, b.v) / greatest(a.nrm * b.nrm, 1e-300), 6) AS cos
         |FROM a$KmeansIters a JOIN a$KmeansIters b
         |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) / greatest(a.nrm * b.nrm, 1e-300), 6) >= $SemThreshold
         |ORDER BY a_id, b_id""".stripMargin,
    "q_dup_spans" -> {
      val h = Hashing.duckMd5Long("shingle")
      s"""$ShingleCte,
         |hx AS (SELECT doc_id, sz, $h AS h FROM ex),
         |freq AS (SELECT h, count(*) AS f FROM hx GROUP BY h)
         |SELECT doc_id, min(sz) AS n_shingles,
         |       CAST(sum(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       round(CAST(sum(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / min(sz), 6) AS dup_frac
         |FROM hx JOIN freq USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_dedup_incr" -> {
      val idh = Hashing.duckMd5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH nb AS (SELECT * FROM documents WHERE $idh % 10000 < 1000),
         |cb AS (SELECT * FROM documents WHERE $idh % 10000 >= 1000),
         |${shingleCtes("nb", "n")},
         |${minhashCtes("n")},
         |${bandCtes("n")},
         |${shingleCtes("cb", "c")},
         |${minhashCtes("c")},
         |${bandCtes("c")},
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS dup_of
         |  FROM bandsn x JOIN bandsc y
         |    ON x.band_id = y.band_id AND x.band_hash = y.band_hash),
         |common AS (
         |  SELECT a.doc_id AS new_id, b.doc_id AS dup_of, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
         |  FROM exn a JOIN exc b ON a.shingle = b.shingle
         |  GROUP BY 1, 2, 3, 4)
         |SELECT cand.new_id AS new_id, cand.dup_of AS dup_of,
         |       round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) AS jaccard
         |FROM cand JOIN common ON cand.new_id = common.new_id AND cand.dup_of = common.dup_of
         |WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.8
         |ORDER BY 1, 2""".stripMargin
    },
    "q_stratified_sample" -> {
      val h = Hashing.duckMd5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH r AS (
         |  SELECT source, doc_id,
         |         row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rank
         |  FROM documents)
         |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
         |FROM r WHERE rank <= $StratSampleN ORDER BY source, rank""".stripMargin
    },
    "q_len_histogram" ->
      s"""SELECT n_chars // $HistBucketWidth AS bucket,
         |       count(*) AS n_docs,
         |       min(n_chars) AS min_chars,
         |       max(n_chars) AS max_chars
         |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]) AS bgs,
         |         list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS tris
         |  FROM toks WHERE len(t) >= 2),
         |ex AS (
         |  SELECT doc_id, CAST(len(bgs) AS BIGINT) AS n_bigrams,
         |         CAST(len(tris) AS BIGINT) AS n_tri,
         |         CAST(len(list_distinct(tris)) AS BIGINT) AS n_tri_d,
         |         unnest(bgs) AS bg
         |  FROM g),
         |bc AS (
         |  SELECT doc_id, bg, count(*) AS c, min(n_bigrams) AS n_bigrams,
         |         min(n_tri) AS n_tri, min(n_tri_d) AS n_tri_d
         |  FROM ex GROUP BY doc_id, bg),
         |top AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg DESC) AS rn FROM bc),
         |sel AS (
         |  SELECT doc_id, n_bigrams, bg AS top_bigram, c AS top_bigram_n,
         |         round(c / n_bigrams, 6) AS top_bigram_frac,
         |         CASE WHEN n_tri = 0 THEN 0.0 ELSE round(1.0 - n_tri_d / n_tri, 6) END AS dup_trigram_frac
         |  FROM top WHERE rn = 1)
         |SELECT *, (top_bigram_frac > $RepTopBigramFrac OR dup_trigram_frac > $RepDupTrigramFrac) AS repetitive
         |FROM sel ORDER BY doc_id""".stripMargin,
    "q_ngram_counts" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t FROM documents),
         |g AS (
         |  SELECT list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]) AS bgs
         |  FROM toks WHERE len(t) >= 2),
         |ex AS (SELECT unnest(bgs) AS bigram FROM g)
         |SELECT bigram, count(*) AS n FROM ex
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT $NgramTopK""".stripMargin,
    "q_tfidf_terms" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT tok, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, tok FROM t) GROUP BY tok),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (
         |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         |         round(CAST(tf.tf * n.n AS DOUBLE) / df.df, 6) AS tfidf
         |  FROM tf JOIN df USING (tok) CROSS JOIN n),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
         |  FROM s)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok, tf, df, tfidf
         |FROM r WHERE rank <= $TfidfTopK ORDER BY doc_id, rank""".stripMargin,
    "q_fingerprint" -> {
      val h = Hashing.duckMd5Long("shingle")
      s"""$ShingleCte,
         |hx AS (SELECT doc_id, $h AS h FROM ex)
         |SELECT doc_id, min(h) AS fp_min,
         |       CAST(bit_xor(h) AS BIGINT) AS fp_xor,
         |       count(*) AS n_shingles
         |FROM hx GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // Winnowing replay: same ordered k-gram hashes, same w-window
    // rightmost-argmin selection (list_position over the reversed slice),
    // same df<=64 stop-fingerprint rule and posting self-join.
    "q_winnow" -> {
      val h = Hashing.duckMd5Long("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
         |  FROM documents),
         |hs AS (
         |  SELECT doc_id,
         |         list_transform(generate_series(1, len(t) - 2), i -> $h) AS h
         |  FROM toks WHERE len(t) >= 3),
         |sel AS (
         |  SELECT doc_id, h,
         |         list_distinct(list_transform(generate_series(1, len(h) - 3), j ->
         |           CAST(j + 4 AS BIGINT) -
         |           list_position(list_reverse(h[j:j+3]), list_min(h[j:j+3])))) AS ps
         |  FROM hs WHERE len(h) >= 4),
         |fp AS (
         |  SELECT DISTINCT doc_id, h[CAST(p AS INTEGER)] AS fp
         |  FROM (SELECT doc_id, h, unnest(ps) AS p FROM sel)),
         |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 64)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared_fps
         |FROM fp a JOIN fp b USING (fp) JOIN rare USING (fp)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY shared_fps DESC, a_id, b_id LIMIT 20""".stripMargin
    },
    // winnow-eval replay: the q_winnow selection CTEs (renamed to avoid
    // clashing with the shingle ground truth's toks/sh/ex), pairs at
    // shared >= WinnowEvalMinShared, the eval family's confusion tail.
    "q_winnow_eval" -> {
      val h = Hashing.duckMd5Long("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")
      val hs = Hashing.duckMd5Long("shingle")
      s"""WITH wtk AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
         |  FROM documents),
         |whs AS (
         |  SELECT doc_id,
         |         list_transform(generate_series(1, len(t) - 2), i -> $h) AS h
         |  FROM wtk WHERE len(t) >= 3),
         |wsel AS (
         |  SELECT doc_id, h,
         |         list_distinct(list_transform(generate_series(1, len(h) - 3), j ->
         |           CAST(j + 4 AS BIGINT) -
         |           list_position(list_reverse(h[j:j+3]), list_min(h[j:j+3])))) AS ps
         |  FROM whs WHERE len(h) >= 4),
         |wfp AS (
         |  SELECT DISTINCT doc_id, h[CAST(p AS INTEGER)] AS fp
         |  FROM (SELECT doc_id, h, unnest(ps) AS p FROM wsel)),
         |wrare AS (SELECT fp FROM wfp GROUP BY fp HAVING count(*) <= 64),
         |cpairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM wfp a JOIN wfp b USING (fp) JOIN wrare USING (fp)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $WinnowEvalMinShared),
         |${shingleCtes("documents", "")},
         |ngx AS (SELECT doc_id, sz, $hs AS h FROM ex),
         |common AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
         |  FROM ngx a JOIN ngx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |epairs AS (
         |  SELECT a_id, b_id FROM common
         |  WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.5),
         |conf AS (
         |  SELECT coalesce(s.a_id, e.a_id) AS a_id,
         |         (s.a_id IS NOT NULL) AS in_cand, (e.a_id IS NOT NULL) AS in_exact
         |  FROM cpairs s FULL OUTER JOIN epairs e
         |    ON s.a_id = e.a_id AND s.b_id = e.b_id),
         |agg AS (
         |  SELECT CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         |         CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |         CAST(sum(CASE WHEN in_cand AND in_exact THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM conf)
         |SELECT n_cand, n_exact, tp,
         |       floor((CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS precision,
         |       floor((CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS recall,
         |       CASE WHEN tp > 0 THEN
         |         floor((2.0 * (CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE)) /
         |                (CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE) + CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0
         |       ELSE 0.0 END AS f1
         |FROM agg""".stripMargin
    },
    // duckdb md5(VARCHAR) hashes the UTF-8 bytes = Spark md5 of the
    // UTF-8-encoded binary payload; octet_length(encode(..)) = Spark
    // length(binary).
    "q_doc_sample" -> {
      val h = Hashing.duckMd5Long("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE $h % 10000 < 1000 ORDER BY doc_id""".stripMargin
    },
    "q_source_mix" -> {
      val h = Hashing.duckMd5Long("CAST(doc_id AS VARCHAR)")
      val cases = MixWeights
        .map { case (k, w) => s"WHEN source = '$k' THEN ${(w * 10000).toLong}" }
        .mkString(" ")
      s"""SELECT source, count(*) AS n_docs FROM documents
         |WHERE $h % 10000 < (CASE $cases ELSE 0 END)
         |GROUP BY source ORDER BY source""".stripMargin
    },
    // the whole TrainingPipeline as one composed query: contamination
    // over the full shingle CTEs, exact-dedup keep set, minhash pairs
    // re-shingled over the deduped base (suffix 2), recursive min-label
    // components, quality metrics, hash sample — each stage mirrors its
    // standalone oracle exactly.
    "q_pipeline_e2e" -> {
      val p = graft.pipeline.TrainingPipeline.Params() // the Spark side's exact constants
      val h = Hashing.duckMd5Long("shingle")
      val idh = Hashing.duckMd5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH RECURSIVE ${shingleCtes("documents", "")},
         |hx AS (SELECT doc_id, $h AS h FROM ex),
         |bench AS (SELECT DISTINCT h FROM hx WHERE doc_id < ${p.benchMaxId}),
         |contaminated AS (
         |  SELECT doc_id FROM hx JOIN bench USING (h)
         |  WHERE doc_id >= ${p.benchMaxId} GROUP BY doc_id HAVING count(*) >= ${p.contaminationMinShared}),
         |decon AS (
         |  SELECT * FROM documents
         |  WHERE doc_id >= ${p.benchMaxId} AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |keep1 AS (SELECT min(doc_id) AS doc_id FROM decon GROUP BY md5(text)),
         |exact_kept AS (SELECT d.* FROM decon d JOIN keep1 USING (doc_id)),
         |${minhashPairsCtesFrom("exact_kept", "2")},
         |${componentsCtes("mpairs2")},
         |dropn AS (
         |  SELECT id FROM (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
         |  WHERE id != comp),
         |nd_kept AS (
         |  SELECT * FROM exact_kept WHERE doc_id NOT IN (SELECT id FROM dropn)),
         |q AS (
         |  SELECT doc_id, lang, source, n_chars, text,
         |         list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
         |  FROM nd_kept),
         |quality AS (
         |  SELECT doc_id, lang, source, n_chars FROM q
         |  WHERE len(tk) BETWEEN ${p.minTokens} AND ${p.maxTokens}
         |    AND round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6) < ${p.maxPunctRatio}
         |    AND round(CASE WHEN len(tk) = 0 THEN 0.0 ELSE CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) END, 6) > ${p.minDistinctRatio})
         |SELECT doc_id, lang, source, n_chars FROM quality
         |WHERE $idh % 10000 < ${(p.sampleFraction * 10000).toLong}
         |ORDER BY doc_id""".stripMargin
    },
    "q_contamination" -> ContaminationSql,
    // the Bloom prefilter is exact after the confirm join — same oracle
    "q_contamination_bloom" -> ContaminationSql,
    "q_asset_stats" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       count(*) AS n_assets,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       count(DISTINCT md5(text)) AS distinct_contents
        |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin,
    "q_passage_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, t, unnest(generate_series(0, CAST((len(t) + 9) // 10 AS INT) - 1)) AS pos
        |  FROM toks WHERE len(t) > 0),
        |ps AS (
        |  SELECT doc_id, pos, array_to_string(t[(pos*10+1):(pos*10+10)], ' ') AS passage,
        |         CAST(('0x' || substr(md5(array_to_string(t[(pos*10+1):(pos*10+10)], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM p),
        |hot AS (
        |  SELECT h FROM (SELECT DISTINCT h, doc_id FROM ps)
        |  GROUP BY h HAVING count(*) >= 2),
        |kept AS (SELECT ps.* FROM ps ANTI JOIN hot USING (h)),
        |re AS (
        |  SELECT doc_id, string_agg(passage, ' ' ORDER BY pos) AS clean_text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST((len(t) + 9) // 10 AS BIGINT) AS n_total FROM toks)
        |SELECT tot.doc_id, coalesce(re.clean_text, '') AS clean_text,
        |       coalesce(re.n_kept, 0) AS n_kept,
        |       tot.n_total - coalesce(re.n_kept, 0) AS n_dropped
        |FROM tot LEFT JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin,
    // line-granularity sibling of q_passage_dedup: hot = non-blank line
    // in >= 2 distinct docs; blank lines never count and always survive
    "q_line_dedup" ->
      """WITH l AS (
        |  SELECT doc_id, unnest(ls) AS line, unnest(generate_series(1, len(ls))) AS pos
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
        |hot AS (
        |  SELECT line FROM (SELECT DISTINCT line, doc_id FROM l WHERE trim(line) <> '')
        |  GROUP BY line HAVING count(*) >= 2),
        |kept AS (SELECT l.* FROM l ANTI JOIN hot USING (line)),
        |re AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_total FROM l GROUP BY doc_id)
        |SELECT tot.doc_id, coalesce(re.clean_text, '') AS clean_text,
        |       CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
        |       CAST(tot.n_total - coalesce(re.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM tot LEFT JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin,
    // global row_number reproduces the distributed rank (range-aligned
    // shard + per-shard row_number + prefix offsets) exactly
    "q_corpus_shuffle" ->
      s"""WITH t AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '$ShuffleSalt') AS shuffle_key
         |  FROM documents)
         |SELECT doc_id, shuffle_key,
         |       CAST((CAST(('0x' || substr(shuffle_key, 1, 2)) AS BIGINT) * $ShuffleShards) // 256 AS INT) AS shard,
         |       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS pos
         |FROM t ORDER BY pos""".stripMargin,
    // codes are floor(x/s + 0.5) in both engines (explicit tie rule, no
    // round()); rmse/cosine from the three bit-reproducible dot products
    "q_quantize_embed" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, v,
        |         greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS scale
        |  FROM e),
        |c AS (
        |  SELECT vec_id, v, scale,
        |         list_transform(v, x -> floor(x / scale + 0.5) * scale) AS deq
        |  FROM q)
        |SELECT vec_id, round(scale, 6) AS scale, CAST(len(v) AS INT) AS n_dims,
        |       round(sqrt(greatest(list_dot_product(v, v) - 2.0 * list_dot_product(v, deq) + list_dot_product(deq, deq), 0.0) / len(v)), 6) AS rmse,
        |       round(list_dot_product(v, deq) / greatest(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(deq, deq)), 1e-300), 6) AS cos_deq
        |FROM c ORDER BY vec_id""".stripMargin,
    "q_html_strip" -> {
      val chain = TextFns.HtmlRules.foldLeft("text") { case (acc, (p, r)) =>
        s"regexp_replace($acc, '${p.replace("'", "''")}', '${r.replace("'", "''")}', 'g')"
      }
      s"""SELECT doc_id, trim($chain) AS clean,
         |       CAST(len(trim($chain)) AS BIGINT) AS n_chars_clean
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_profile" ->
      """WITH s AS (
        |  SELECT 'doc_id' AS column_name, CAST(doc_id AS VARCHAR) AS val FROM documents
        |  UNION ALL SELECT 'text', text FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
        |g AS (SELECT column_name, val, count(*) AS cnt FROM s GROUP BY 1, 2)
        |SELECT column_name,
        |       CAST(sum(cnt) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN val IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
        |       count(CASE WHEN val IS NOT NULL THEN 1 END) AS n_distinct,
        |       min(val) AS min_val,
        |       max(val) AS max_val
        |FROM g GROUP BY column_name ORDER BY column_name""".stripMargin,
    "q_source_overlap" ->
      """WITH t AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
        |    FROM documents)),
        |s AS (SELECT source, count(*) AS n FROM t GROUP BY source),
        |p AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |  FROM t a JOIN t b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
        |       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
        |FROM p JOIN s sa ON sa.source = p.src_a JOIN s sb ON sb.source = p.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    // same literal replace chain as TextFns.fixMojibake, rule for rule
    "q_fix_mojibake" -> {
      val chain = TextFns.MojibakeRules.foldLeft("text") {
        case (acc, (bad, good)) =>
          s"replace($acc, '${bad.replace("'", "''")}', '${good.replace("'", "''")}')"
      }
      s"""SELECT doc_id, $chain AS fixed, ($chain <> text) AS changed
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // RE2 spells script classes \p{Han} where Java spells \p{IsHan} —
    // the pairs live side by side in TextFns.ScriptClasses
    "q_script_profile" -> {
      val counts = TextFns.ScriptClasses
        .map { case (name, _, re2) =>
          s"CAST(len(text) - len(regexp_replace(text, '$re2', '', 'g')) AS BIGINT) AS n_$name"
        }
        .mkString(",\n         |         ")
      s"""WITH c AS (
         |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
         |         $counts
         |  FROM documents),
         |m AS (SELECT *, greatest(n_latin, n_han, n_cyrillic, n_arabic) AS mx FROM c)
         |SELECT doc_id, n_chars, n_latin, n_han, n_cyrillic, n_arabic, n_digit,
         |       CASE WHEN mx = 0 THEN 'none'
         |            WHEN n_latin = mx THEN 'latin'
         |            WHEN n_han = mx THEN 'han'
         |            WHEN n_cyrillic = mx THEN 'cyrillic'
         |            ELSE 'arabic' END AS dominant
         |FROM m ORDER BY doc_id""".stripMargin
    },
    // Laplace bigram LM: history counts from the bigram table itself,
    // V = distinct next tokens; same +1 / (c_w1 + V) arithmetic
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t FROM documents),
        |p0 AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |  FROM toks WHERE len(t) >= 2),
        |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1, t[i+1] AS w2 FROM p0),
        |cb AS (SELECT bg, count(*) AS c_bg FROM bi GROUP BY bg),
        |cu AS (SELECT w1, count(*) AS c_w1 FROM bi GROUP BY w1),
        |vv AS (SELECT count(DISTINCT w2) AS v FROM bi)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-avg(ln((c_bg + 1) / CAST(c_w1 + v AS DOUBLE))), 4) AS lm_score
        |FROM bi JOIN cb USING (bg) JOIN cu USING (w1) CROSS JOIN vv
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t FROM documents),
        |p0 AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |  FROM toks WHERE len(t) >= 2),
        |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1, t[i+1] AS w2 FROM p0),
        |cb AS (SELECT bg, count(*) AS c_bg FROM bi GROUP BY bg),
        |cu AS (SELECT w1, count(*) AS c_w1 FROM bi GROUP BY w1),
        |vv AS (SELECT count(DISTINCT w2) AS v FROM bi),
        |scored AS (
        |  SELECT doc_id,
        |         CAST(round(round(-avg(ln((c_bg + 1) / CAST(c_w1 + v AS DOUBLE))), 4) * 10000) AS BIGINT) AS sq
        |  FROM bi JOIN cb USING (bg) JOIN cu USING (w1) CROSS JOIN vv
        |  GROUP BY doc_id),
        |hist AS (SELECT sq, CAST(count(*) AS BIGINT) AS m FROM scored GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
        |cum AS (
        |  SELECT sq, CAST(sum(m) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
        |  FROM hist),
        |fences AS (
        |  SELECT min(CASE WHEN cm >= (n + 2) // 3 THEN sq END) AS f1,
        |         min(CASE WHEN cm >= (2 * n + 2) // 3 THEN sq END) AS f2
        |  FROM cum, tot),
        |dtok AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS tokens
        |  FROM documents),
        |bucketed AS (
        |  SELECT d.source,
        |         CASE WHEN s.sq <= f.f1 THEN 'head' WHEN s.sq <= f.f2 THEN 'middle' ELSE 'tail' END AS bucket,
        |         d.tokens
        |  FROM scored s JOIN dtok d USING (doc_id) CROSS JOIN fences f),
        |per AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS src_tokens FROM bucketed GROUP BY 1)
        |SELECT b.source, b.bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(b.tokens) AS BIGINT) AS tokens,
        |       floor(CAST(sum(b.tokens) AS DOUBLE) / CAST(p.src_tokens AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS token_share
        |FROM bucketed b JOIN per p USING (source)
        |GROUP BY b.source, b.bucket, p.src_tokens
        |ORDER BY source, bucket""".stripMargin,
    "q_contam_overlap" -> {
      val h = Hashing.duckMd5Long("shingle")
      s"""$ShingleCte,
         |hx AS (SELECT doc_id, $h AS h FROM ex),
         |bench AS (SELECT DISTINCT h FROM hx WHERE doc_id < 10),
         |tot AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         |  FROM hx WHERE doc_id >= 10 GROUP BY 1),
         |shr AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM hx JOIN bench USING (h) WHERE doc_id >= 10 GROUP BY 1)
         |SELECT doc_id, n_shingles, n_shared,
         |       floor(CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS overlap_share
         |FROM shr JOIN tot USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    "q_simhash_eval" -> {
      val h = Hashing.duckMd5Long("tok")
      s"""WITH toksx AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
         |  FROM documents),
         |hxs AS (SELECT doc_id, $h AS h FROM toksx),
         |bits AS (
         |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS w
         |  FROM hxs CROSS JOIN (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS j)
         |  GROUP BY doc_id, j),
         |sims AS (
         |  SELECT doc_id, CAST(SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |${simhashPairCtes("spairs")},
         |${shingleCtes("documents", "")},
         |ngx AS (SELECT doc_id, sz, ${Hashing.duckMd5Long("shingle")} AS h FROM ex),
         |common AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
         |  FROM ngx a JOIN ngx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |epairs AS (
         |  SELECT a_id, b_id FROM common
         |  WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.5),
         |conf AS (
         |  SELECT coalesce(s.a_id, e.a_id) AS a_id,
         |         (s.a_id IS NOT NULL) AS in_cand, (e.a_id IS NOT NULL) AS in_exact
         |  FROM spairs s FULL OUTER JOIN epairs e
         |    ON s.a_id = e.a_id AND s.b_id = e.b_id),
         |agg AS (
         |  SELECT CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         |         CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |         CAST(sum(CASE WHEN in_cand AND in_exact THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM conf)
         |SELECT n_cand, n_exact, tp,
         |       floor((CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS precision,
         |       floor((CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS recall,
         |       CASE WHEN tp > 0 THEN
         |         floor((2.0 * (CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE)) /
         |                (CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE) + CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0
         |       ELSE 0.0 END AS f1
         |FROM agg""".stripMargin
    },
    // wide-eval replay: the 120-bit sims + even-band pair CTEs, the
    // same shingle ground truth, the same confusion fold.
    "q_simhash_eval_wide" ->
      s"""WITH ${simhashWideSimsCtes()},
         |${simhashWidePairCtes("spairs")},
         |${shingleCtes("documents", "")},
         |ngx AS (SELECT doc_id, sz, ${Hashing.duckMd5Long("shingle")} AS h FROM ex),
         |common AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
         |  FROM ngx a JOIN ngx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |epairs AS (
         |  SELECT a_id, b_id FROM common
         |  WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.5),
         |conf AS (
         |  SELECT coalesce(s.a_id, e.a_id) AS a_id,
         |         (s.a_id IS NOT NULL) AS in_cand, (e.a_id IS NOT NULL) AS in_exact
         |  FROM spairs s FULL OUTER JOIN epairs e
         |    ON s.a_id = e.a_id AND s.b_id = e.b_id),
         |agg AS (
         |  SELECT CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         |         CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |         CAST(sum(CASE WHEN in_cand AND in_exact THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM conf)
         |SELECT n_cand, n_exact, tp,
         |       floor((CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS precision,
         |       floor((CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS recall,
         |       CASE WHEN tp > 0 THEN
         |         floor((2.0 * (CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE)) /
         |                (CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE) + CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0
         |       ELSE 0.0 END AS f1
         |FROM agg""".stripMargin,
    // sampled-eval replay: the identical wide-candidate + shingle
    // ground-truth fold over the √n hash-sample; the cutoff re-derives
    // from count(*) with the same IEEE divide/sqrt/ceil as evalSampleCut
    "q_simhash_eval_sampled" ->
      s"""WITH $sampledDocsCtes,
         |${simhashWideSimsCtes("sdocs")},
         |${simhashWidePairCtes("spairs")},
         |${shingleCtes("sdocs", "")},
         |ngx AS (SELECT doc_id, sz, ${Hashing.duckMd5Long("shingle")} AS h FROM ex),
         |common AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
         |  FROM ngx a JOIN ngx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |epairs AS (
         |  SELECT a_id, b_id FROM common
         |  WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.5),
         |${sampledCiTailSql("spairs", "epairs")}""".stripMargin,
    // the winnow twin: q_winnow_eval's candidate CTEs over the SAME
    // sampled docs (the df<=64 stop rule re-derives on the sample — the
    // geometry is scored AT the sampled corpus), same CI tail
    "q_winnow_eval_sampled" -> {
      val h = Hashing.duckMd5Long("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")
      val hs = Hashing.duckMd5Long("shingle")
      s"""WITH $sampledDocsCtes,
         |wtk AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
         |  FROM sdocs),
         |whs AS (
         |  SELECT doc_id,
         |         list_transform(generate_series(1, len(t) - 2), i -> $h) AS h
         |  FROM wtk WHERE len(t) >= 3),
         |wsel AS (
         |  SELECT doc_id, h,
         |         list_distinct(list_transform(generate_series(1, len(h) - 3), j ->
         |           CAST(j + 4 AS BIGINT) -
         |           list_position(list_reverse(h[j:j+3]), list_min(h[j:j+3])))) AS ps
         |  FROM whs WHERE len(h) >= 4),
         |wfp AS (
         |  SELECT DISTINCT doc_id, h[CAST(p AS INTEGER)] AS fp
         |  FROM (SELECT doc_id, h, unnest(ps) AS p FROM wsel)),
         |wrare AS (SELECT fp FROM wfp GROUP BY fp HAVING count(*) <= 64),
         |cpairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM wfp a JOIN wfp b USING (fp) JOIN wrare USING (fp)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $WinnowEvalMinShared),
         |${shingleCtes("sdocs", "")},
         |ngx AS (SELECT doc_id, sz, $hs AS h FROM ex),
         |common AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
         |  FROM ngx a JOIN ngx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |epairs AS (
         |  SELECT a_id, b_id FROM common
         |  WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.5),
         |${sampledCiTailSql("cpairs", "epairs")}""".stripMargin
    },
    "q_jl_project" ->
      s"""WITH qvs AS (
         |  SELECT vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * $JlFp.0) AS BIGINT)) AS qv
         |  FROM embeddings WHERE vec_id < $JlSample),
         |sgn AS (SELECT [${jlSigns.mkString(",")}] AS s),
         |cells AS (
         |  SELECT vec_id, CAST((n - 1) // $EmbDim AS BIGINT) AS k,
         |         s[n] * qv[(n - 1) % $EmbDim + 1] AS t
         |  FROM qvs, sgn, (SELECT unnest(range(1, ${JlDim * EmbDim + 1})) AS n)),
         |y AS (SELECT vec_id, k, CAST(sum(t) AS BIGINT) AS yk FROM cells GROUP BY 1, 2),
         |xs AS (
         |  SELECT vec_id, i, qv[i] AS x
         |  FROM qvs, (SELECT unnest(range(1, ${EmbDim + 1})) AS i)),
         |d2xs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         CAST(sum(CAST(a.x - b.x AS HUGEINT) * (a.x - b.x)) AS HUGEINT) AS d2x
         |  FROM xs a JOIN xs b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
         |d2ys AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         CAST(sum(CAST(a.yk - b.yk AS HUGEINT) * (a.yk - b.yk)) AS HUGEINT) AS d2y
         |  FROM y a JOIN y b ON a.k = b.k AND a.vec_id < b.vec_id GROUP BY 1, 2),
         |rqs AS (
         |  SELECT CAST(floor(CAST(d2y AS DOUBLE) / $JlDim.0 / CAST(d2x AS DOUBLE) * 1000000.0) AS BIGINT) AS rq
         |  FROM d2xs JOIN d2ys USING (a_id, b_id) WHERE d2x > 0)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |       floor((CAST(sum(rq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS mean_ratio,
         |       CAST(min(rq) AS DOUBLE) / 1000000.0 AS min_ratio,
         |       CAST(max(rq) AS DOUBLE) / 1000000.0 AS max_ratio,
         |       floor((CAST(sum(CASE WHEN rq BETWEEN 700000 AND 1300000 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS share_within_30pct
         |FROM rqs""".stripMargin,
    "q_ivf_balance" ->
      s"""WITH ${kmeansCtes(KmeansK, KmeansIters)},
         |sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM a$KmeansIters GROUP BY 1),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k_used, CAST(sum(sz) AS BIGINT) AS n_vectors,
         |         CAST(min(sz) AS BIGINT) AS min_size, CAST(max(sz) AS BIGINT) AS max_size
         |  FROM sizes)
         |SELECT n_vectors, k_used, min_size, max_size,
         |       floor(CAST(n_vectors AS DOUBLE) / CAST(k_used AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mean_size,
         |       floor(CAST(max_size AS DOUBLE) * CAST(k_used AS DOUBLE) / CAST(n_vectors AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS imbalance
         |FROM agg""".stripMargin,
    "q_common_neighbors" -> {
      val h = Hashing.duckMd5Long("tok")
      s"""WITH toksx AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
         |  FROM documents),
         |hx AS (SELECT doc_id, $h AS h FROM toksx),
         |bits AS (
         |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS w
         |  FROM hx CROSS JOIN (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS j)
         |  GROUP BY doc_id, j),
         |sims AS (
         |  SELECT doc_id, CAST(SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |${simhashPairCtes("mpairs")},
         |adj AS (SELECT a_id AS w, b_id AS v FROM mpairs UNION ALL SELECT b_id, a_id FROM mpairs),
         |deg AS (
         |  SELECT w, CAST(floor(1000000.0 / ln(CAST(count(*) AS DOUBLE))) AS BIGINT) AS aa_q
         |  FROM adj GROUP BY w HAVING count(*) >= 2),
         |wedges AS (
         |  SELECT x.v AS a_id, y.v AS b_id, x.w
         |  FROM adj x JOIN adj y ON x.w = y.w AND x.v < y.v),
         |nonedges AS (
         |  SELECT wd.a_id, wd.b_id, wd.w
         |  FROM wedges wd LEFT JOIN mpairs p ON p.a_id = wd.a_id AND p.b_id = wd.b_id
         |  WHERE p.a_id IS NULL),
         |agg AS (
         |  SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS common, CAST(sum(aa_q) AS BIGINT) AS aa_sum
         |  FROM nonedges JOIN deg USING (w) GROUP BY 1, 2)
         |SELECT a_id, b_id, common, CAST(aa_sum AS DOUBLE) / 1000000.0 AS adamic_adar
         |FROM agg ORDER BY common DESC, aa_sum DESC, a_id, b_id LIMIT 20""".stripMargin
    },
    "q_common_neighbors_wide" ->
      s"""WITH ${simhashWideSimsCtes()},
         |${simhashWidePairCtes("wmpairs")},
         |adj AS (SELECT a_id AS w, b_id AS v FROM wmpairs UNION ALL SELECT b_id, a_id FROM wmpairs),
         |deg AS (
         |  SELECT w, CAST(floor(1000000.0 / ln(CAST(count(*) AS DOUBLE))) AS BIGINT) AS aa_q
         |  FROM adj GROUP BY w HAVING count(*) >= 2),
         |wedges AS (
         |  SELECT x.v AS a_id, y.v AS b_id, x.w
         |  FROM adj x JOIN adj y ON x.w = y.w AND x.v < y.v),
         |nonedges AS (
         |  SELECT wd.a_id, wd.b_id, wd.w
         |  FROM wedges wd LEFT JOIN wmpairs p ON p.a_id = wd.a_id AND p.b_id = wd.b_id
         |  WHERE p.a_id IS NULL),
         |agg AS (
         |  SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS common, CAST(sum(aa_q) AS BIGINT) AS aa_sum
         |  FROM nonedges JOIN deg USING (w) GROUP BY 1, 2)
         |SELECT a_id, b_id, common, CAST(aa_sum AS DOUBLE) / 1000000.0 AS adamic_adar
         |FROM agg ORDER BY common DESC, aa_sum DESC, a_id, b_id LIMIT 20""".stripMargin,
    // BM25 with the Lucene idf; the per-doc total is a fixed-association
    // sum over one CASE slot per literal query term (no
    // order-nondeterministic double sum)
    "q_bm25" -> {
      val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val slots = Bm25Terms.zipWithIndex
        .map { case (t, i) =>
          s"sum(CASE WHEN tok = '$t' THEN contrib END) AS c$i"
        }
        .mkString(",\n         |         ")
      val total = Bm25Terms.indices
        .map(i => s"COALESCE(c$i, 0.0)")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
         |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM t
         |  WHERE tok IN ($inList) GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |c AS (
         |  SELECT doc_id, tok,
         |         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
         |           * (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0})
         |           / (CAST(tf AS DOUBLE) + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / n_docs))) AS contrib
         |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot),
         |s AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |         $slots
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, n_terms, round($total, 4) AS bm25
         |FROM s ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin
    },
    // PII audit replay: the same deterministic planting, the same
    // RE2-portable patterns (shared constants), the same precedence
    // chain (each category counted on text with higher-precedence
    // categories already redacted). Sums CAST to BIGINT (the
    // q_ref_integrity HUGEINT bug class).
    "q_pii_audit" -> {
      import graft.functions.TextScrub._
      s"""WITH planted AS (
         |  SELECT doc_id, source,
         |    text ||
         |    CASE WHEN doc_id % 83 = 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 97 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END ||
         |    CASE WHEN doc_id % 101 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-123' ELSE '' END ||
         |    CASE WHEN doc_id % 89 = 0 THEN ' acct 90210' || CAST(doc_id AS VARCHAR) ELSE '' END AS text
         |  FROM documents),
         |st AS (
         |  SELECT source, text,
         |         len(regexp_extract_all(text, '$EmailPattern')) AS n_emails,
         |         regexp_replace(text, '$EmailPattern', '[EMAIL]', 'g') AS t1
         |  FROM planted),
         |st2 AS (
         |  SELECT *, len(regexp_extract_all(t1, '$Ipv4Pattern')) AS n_ips,
         |         regexp_replace(t1, '$Ipv4Pattern', '[IP]', 'g') AS t2
         |  FROM st),
         |st3 AS (
         |  SELECT *, len(regexp_extract_all(t2, '$PhonePattern')) AS n_phones,
         |         regexp_replace(t2, '$PhonePattern', '[PHONE]', 'g') AS t3
         |  FROM st2),
         |st4 AS (
         |  SELECT *, len(regexp_extract_all(t3, '$LongDigitPattern')) AS n_digit_runs,
         |         regexp_replace(t3, '$LongDigitPattern', '[NUMBER]', 'g') AS t4
         |  FROM st3)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN n_emails + n_ips + n_phones + n_digit_runs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
         |       CAST(sum(n_emails) AS BIGINT) AS n_emails,
         |       CAST(sum(n_ips) AS BIGINT) AS n_ips,
         |       CAST(sum(n_phones) AS BIGINT) AS n_phones,
         |       CAST(sum(n_digit_runs) AS BIGINT) AS n_digit_runs,
         |       CAST(sum(len(text) - len(t4)) AS BIGINT) AS chars_redacted_delta
         |FROM st4 GROUP BY source ORDER BY source""".stripMargin
    },
    // RRF fusion replay: the bm25 CTEs verbatim, a second slot-summed
    // TF-IDF ranker, two ranked windows, 1/(k+rank) fusion floor6'd.
    "q_rrf_fusion" -> {
      val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val slots = Bm25Terms.zipWithIndex
        .map { case (t, i) =>
          s"sum(CASE WHEN tok = '$t' THEN contrib END) AS c$i"
        }
        .mkString(",\n         |         ")
      val slots2 = Bm25Terms.zipWithIndex
        .map { case (t, i) =>
          s"sum(CASE WHEN tok = '$t' THEN contrib2 END) AS c$i"
        }
        .mkString(",\n         |         ")
      val total = Bm25Terms.indices
        .map(i => s"COALESCE(c$i, 0.0)")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
         |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM t
         |  WHERE tok IN ($inList) GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |c AS (
         |  SELECT doc_id, tok,
         |         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
         |           * (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0})
         |           / (CAST(tf AS DOUBLE) + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / n_docs))) AS contrib
         |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot),
         |s AS (
         |  SELECT doc_id,
         |         $slots
         |  FROM c GROUP BY doc_id),
         |bm AS (SELECT doc_id, round($total, 4) AS bm25 FROM s),
         |c2 AS (
         |  SELECT doc_id, tok,
         |         CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df) AS contrib2
         |  FROM tf JOIN df USING (tok) CROSS JOIN tot),
         |s2 AS (
         |  SELECT doc_id,
         |         $slots2
         |  FROM c2 GROUP BY doc_id),
         |ti AS (SELECT doc_id, round($total, 4) AS tfidf FROM s2),
         |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25 FROM bm),
         |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY tfidf DESC, doc_id) AS rank_tfidf FROM ti)
         |SELECT doc_id, CAST(rank_bm25 AS BIGINT) AS rank_bm25,
         |       CAST(rank_tfidf AS BIGINT) AS rank_tfidf,
         |       floor((1.0 / (60.0 + rank_bm25) + 1.0 / (60.0 + rank_tfidf)) * 1000000.0 + 0.5) / 1000000.0 AS rrf
         |FROM r1 JOIN r2 USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT $Bm25TopK""".stripMargin
    },
    // tie-corrected rank-sum AUC on the grouped score histogram —
    // integers (doubled) until the one final division
    "q_score_auc" ->
      s"""WITH t AS (
         |  SELECT lang, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |m AS (
         |  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
         |         round(1.2 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains([$allL], x))) AS DOUBLE) / len(toks) END, 6)
         |               + 0.8 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
         |               - 6.0 * round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6)
         |               + 0.002 * CAST(len(toks) AS BIGINT), 4) AS score
         |  FROM t),
         |g AS (
         |  SELECT score, CAST(sum(pos) AS BIGINT) AS pos,
         |         CAST(count(*) - sum(pos) AS BIGINT) AS neg
         |  FROM m GROUP BY score),
         |cg AS (
         |  SELECT *, COALESCE(CAST(SUM(neg) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_neg
         |  FROM g)
         |SELECT CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
         |       round(CAST(sum(pos * (2 * cum_neg + neg)) AS DOUBLE) / (2.0 * CAST(sum(pos) AS DOUBLE) * CAST(sum(neg) AS DOUBLE)), 6) AS auc
         |FROM cg""".stripMargin,
    // entropy + KL-to-corpus per source; KL against the GLOBAL mix needs
    // no union vocabulary — every source term exists globally
    "q_source_divergence" ->
      """WITH t AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |st AS (SELECT source, tok, count(*) AS c FROM t GROUP BY source, tok),
        |gt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS gc FROM st GROUP BY tok),
        |gtot AS (SELECT CAST(sum(gc) AS BIGINT) AS gtot FROM gt),
        |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM st GROUP BY source),
        |j AS (
        |  SELECT st.source, tot,
        |         CAST(c AS DOUBLE) / tot AS p,
        |         CAST(gc AS DOUBLE) / gtot AS g
        |  FROM st JOIN gt USING (tok) JOIN stot USING (source) CROSS JOIN gtot)
        |SELECT source, max(tot) AS n_tokens, count(*) AS vocab,
        |       round(-sum(p * ln(p)), 4) AS entropy,
        |       round(sum(p * ln(p / g)), 4) AS kl_corpus
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q_snapshot_diff" ->
      """WITH cur AS (SELECT doc_id, md5(text) AS cur_h FROM documents WHERE doc_id % 5 <> 0),
        |prev AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS prev_h
        |  FROM documents WHERE doc_id % 7 <> 0),
        |j AS (
        |  SELECT COALESCE(prev.doc_id, cur.doc_id) AS doc_id, prev_h, cur_h
        |  FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id),
        |st AS (
        |  SELECT doc_id,
        |         CASE WHEN prev_h IS NULL THEN 'added'
        |              WHEN cur_h IS NULL THEN 'removed'
        |              WHEN prev_h = cur_h THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM j),
        |r AS (SELECT status, doc_id, row_number() OVER (PARTITION BY status ORDER BY doc_id) AS rn FROM st)
        |SELECT status, count(*) AS n,
        |       array_to_string(list_transform(list_sort(list(doc_id) FILTER (WHERE rn <= 5)), x -> CAST(x AS VARCHAR)), ',') AS sample_ids
        |FROM r GROUP BY status ORDER BY status""".stripMargin,
    "q_merge_upsert" ->
      """WITH deletes AS (
        |  SELECT doc_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS new_text, CAST(NULL AS VARCHAR) AS new_source
        |  FROM documents WHERE doc_id % 13 = 0),
        |updates AS (
        |  SELECT doc_id, 'update' AS op, text || ' v2' AS new_text, CAST(NULL AS VARCHAR) AS new_source
        |  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |inserts AS (
        |  SELECT doc_id + 1000000 AS doc_id, 'insert' AS op, text || ' new' AS new_text, 'src_new' AS new_source
        |  FROM documents WHERE doc_id % 17 = 0),
        |changes AS (
        |  SELECT * FROM deletes UNION ALL SELECT * FROM updates UNION ALL SELECT * FROM inserts),
        |merged AS (
        |  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
        |         COALESCE(c.new_text, b.text) AS text,
        |         COALESCE(c.new_source, b.source) AS source
        |  FROM documents b FULL OUTER JOIN changes c ON b.doc_id = c.doc_id
        |  WHERE COALESCE(c.op, 'keep') <> 'delete')
        |SELECT source, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM merged GROUP BY source ORDER BY source""".stripMargin,
    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok FROM documents),
        |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM counts)
        |SELECT count(*) AS n_types, CAST(sum(c) AS BIGINT) AS total_tokens,
        |       round(CAST(sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS cov_top10,
        |       round(CAST(sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS cov_top100,
        |       round(CAST(sum(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS cov_top1000
        |FROM ranked""".stripMargin,
    "q_syllables" ->
      """WITH per AS (
        |  SELECT source,
        |         len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS words,
        |         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
        |  FROM documents),
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(words) AS BIGINT) AS w, CAST(sum(syllables) AS BIGINT) AS syl
        |  FROM per GROUP BY source)
        |SELECT source, n_docs, w AS total_words, syl AS total_syllables,
        |       round(CAST(syl AS DOUBLE) / w, 4) AS syl_per_word,
        |       round(206.835 - 1.015 * (CAST(w AS DOUBLE) / n_docs) - 84.6 * (CAST(syl AS DOUBLE) / w), 2) AS flesch_doc
        |FROM agg ORDER BY source""".stripMargin,
    "q_embed_cov" ->
      s"""WITH ${covOracleCtes}
         |SELECT j, k, floor(cov * 1.0e9 + 0.5) / 1.0e9 AS cov
         |FROM c2 ORDER BY j, k""".stripMargin,
    "q_mahalanobis" -> {
      val sumCols = (1 to EmbDim)
        .map(j =>
          s"CAST(sum(CAST(floor(v[$j] * $EmbFp.0) AS BIGINT)) AS BIGINT) AS s$j, " +
            s"sum(CAST(floor(v[$j] * $EmbFp.0) AS BIGINT) * CAST(floor(v[$j] * $EmbFp.0) AS BIGINT)) AS q$j")
        .mkString(", ")
      val muArr = (1 to EmbDim)
        .map(j => s"CAST(s$j AS DOUBLE) / CAST(n * $EmbFp AS DOUBLE)")
        .mkString("[", ", ", "]")
      val vrArr = (1 to EmbDim)
        .map(j =>
          s"(CAST(q$j AS DOUBLE) - CAST(s$j AS DOUBLE) * CAST(s$j AS DOUBLE) / CAST(n AS DOUBLE)) / ((CAST(n AS DOUBLE) - 1.0) * $EmbFp.0 * $EmbFp.0)")
        .mkString("[", ", ", "]")
      s"""WITH vecs AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |agg AS (SELECT count(*) AS n, $sumCols FROM vecs),
         |stats AS (SELECT $muArr AS mu, $vrArr AS vr FROM agg),
         |scored AS (
         |  SELECT vec_id, label,
         |         floor(list_aggregate(list_transform(range(1, ${EmbDim + 1}), j -> (v[j] - mu[j]) * (v[j] - mu[j]) / vr[j]), 'sum') * 1000000.0 + 0.5) / 1000000.0 AS dist2
         |  FROM vecs, stats)
         |SELECT vec_id, label, dist2 FROM scored
         |ORDER BY dist2 DESC, vec_id LIMIT $MahalTopK""".stripMargin
    },
    "q_pca_top" -> {
      val iters = (1 to PcaIters)
        .map { r =>
          s"""t$r AS (
             |  SELECT c.j, CAST(sum(CAST(floor(c.cov * w.wv * 1.0e9) AS BIGINT)) AS BIGINT) AS sg
             |  FROM covfull c JOIN w${r - 1} w ON c.k = w.wj GROUP BY 1),
             |n$r AS (SELECT sum(CAST(sg AS HUGEINT) * sg) AS nsq FROM t$r),
             |w$r AS MATERIALIZED (
             |  SELECT j AS wj, CAST(sg AS DOUBLE) / sqrt(CAST(nsq AS DOUBLE)) AS wv
             |  FROM t$r, n$r)""".stripMargin
        }
        .mkString(",\n")
      s"""WITH ${covOracleCtes},
         |covfull AS MATERIALIZED (
         |  SELECT j, k, cov FROM c2
         |  UNION ALL SELECT k AS j, j AS k, cov FROM c2 WHERE j <> k),
         |w0 AS (SELECT DISTINCT j AS wj, 0.125 AS wv FROM covfull),
         |$iters,
         |eig AS (
         |  SELECT CAST(sum(CAST(floor(c.cov * a.wv * b.wv * 1.0e12) AS BIGINT)) AS BIGINT) AS se
         |  FROM covfull c JOIN w$PcaIters a ON c.j = a.wj JOIN w$PcaIters b ON c.k = b.wj)
         |SELECT wj AS dim,
         |       floor(wv * 1000000.0 + 0.5) / 1000000.0 AS loading,
         |       CAST(se AS DOUBLE) / 1.0e12 AS eigenvalue
         |FROM w$PcaIters, eig ORDER BY dim""".stripMargin
    },
    "q_embed_stats" ->
      """WITH per AS (
        |  SELECT label, CAST(len(embedding) AS BIGINT) AS dim,
        |         sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs, min(dim) AS min_dim, max(dim) AS max_dim,
        |       round(min(norm), 4) AS min_norm, round(avg(norm), 4) AS mean_norm, round(max(norm), 4) AS max_norm,
        |       CAST(sum(CASE WHEN norm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate
        |FROM per GROUP BY label ORDER BY label""".stripMargin,
    "q_weighted_sample" -> {
      val pr = graft.operators.Sampling.prioritySql("doc_id", "n_chars")
      s"""SELECT doc_id, n_chars, $pr AS priority
         |FROM documents ORDER BY priority DESC, doc_id LIMIT $WeightedSampleK""".stripMargin
    },
    // containment's prefix filter is lossless, so the oracle needs no
    // candidate step — the exact overlap filter alone is the result
    "q_containment" ->
      s"""$ShingleCte,
         |chx AS (SELECT doc_id, sz, ${Hashing.duckMd5Long("shingle")} AS h FROM ex),
         |ccommon AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, count(*) AS c
         |  FROM chx a JOIN chx b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2, 3)
         |SELECT a_id, b_id, round(CAST(c AS DOUBLE) / a_sz, 6) AS containment
         |FROM ccommon
         |WHERE round(CAST(c AS DOUBLE) / a_sz, 6) >= 0.9
         |ORDER BY a_id, b_id""".stripMargin,
    // band candidates (cand CTE) vs exact PPJoin ground truth (hash-join
    // common, same shape as the q_dedup_ngram oracle) — full outer join,
    // confusion counts, two final divisions
    "q_lsh_eval" ->
      s"""$minhashPairsCtes,
         |ngh AS (SELECT doc_id, sz, ${Hashing.duckMd5Long("shingle")} AS h FROM ex),
         |excommon AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS c
         |  FROM ngh a JOIN ngh b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |exactp AS (
         |  SELECT a_id, b_id FROM excommon
         |  WHERE round(CAST(c AS DOUBLE) / (a_sz + b_sz - c), 6) >= 0.8),
         |f AS (
         |  SELECT (c.a_id IS NOT NULL) AS in_cand, (e.a_id IS NOT NULL) AS in_exact
         |  FROM cand c FULL OUTER JOIN exactp e ON c.a_id = e.a_id AND c.b_id = e.b_id)
         |SELECT
         |  CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         |  CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN in_cand AND in_exact THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN in_cand AND NOT in_exact THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN in_exact AND NOT in_cand THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  round(CAST(sum(CASE WHEN in_cand AND in_exact THEN 1 ELSE 0 END) AS DOUBLE) / sum(CASE WHEN in_cand THEN 1 ELSE 0 END), 6) AS cand_precision,
         |  round(CAST(sum(CASE WHEN in_cand AND in_exact THEN 1 ELSE 0 END) AS DOUBLE) / sum(CASE WHEN in_exact THEN 1 ELSE 0 END), 6) AS cand_recall
         |FROM f""".stripMargin,
    // per-label fixed-point centroids (kmeans trick) + pairwise cosine
    "q_label_sim" ->
      s"""WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |s AS (SELECT label, count(*) AS cnt, $kmeansSumCols FROM e GROUP BY label),
         |c AS (SELECT label, cnt, $kmeansMeanArr AS cv FROM s)
         |SELECT a.label AS label_a, b.label AS label_b,
         |       CAST(a.cnt AS BIGINT) AS n_a, CAST(b.cnt AS BIGINT) AS n_b,
         |       round(list_dot_product(a.cv, b.cv) / greatest(sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv)), 1e-300), 6) AS cos
         |FROM c a JOIN c b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin,
    // degree-oriented triangle enumeration over the minhash pair graph —
    // same orientation/wedge/closing-join structure as the Spark plan
    "q_triangles" ->
      s"""$minhashPairsCtes,
         |bedges AS (
         |  SELECT a_id AS src, b_id AS dst FROM mpairs
         |  UNION ALL SELECT b_id AS src, a_id AS dst FROM mpairs),
         |dg AS (SELECT src AS id, count(*) AS d FROM bedges GROUP BY src),
         |o AS (
         |  SELECT e.src, e.dst, dd.d AS dd
         |  FROM bedges e JOIN dg ds ON ds.id = e.src JOIN dg dd ON dd.id = e.dst
         |  WHERE ds.d < dd.d OR (ds.d = dd.d AND e.src < e.dst)),
         |wg AS (
         |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |  FROM o e1 JOIN o e2 ON e1.src = e2.src
         |  WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
         |tri AS (SELECT u, v, w FROM wg JOIN o e3 ON e3.src = wg.v AND e3.dst = wg.w),
         |nodes AS (
         |  SELECT u AS doc_id FROM tri
         |  UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w FROM tri)
         |SELECT doc_id, count(*) AS n_triangles
         |FROM nodes GROUP BY doc_id ORDER BY n_triangles DESC, doc_id""".stripMargin,
    // rendezvous argmax over the shared md5 family; arg_max ties are
    // impossible at 60 hash bits over 8 candidates
    "q_shard_rendezvous" -> {
      val h = Hashing.duckMd5Long(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(shard AS VARCHAR)")
      s"""WITH c AS (
         |  SELECT doc_id, n_chars, unnest(generate_series(0, ${RendezvousShards - 1})) AS shard
         |  FROM documents),
         |h AS (SELECT doc_id, n_chars, shard, $h AS h FROM c),
         |a AS (
         |  SELECT doc_id, CAST(arg_max(shard, h) AS BIGINT) AS shard, max(n_chars) AS n_chars
         |  FROM h GROUP BY doc_id)
         |SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS shard_chars
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin
    },
    // fixed-point integer PageRank over the minhash pair graph: damping
    // 17/20 as integer floor-div, contributions summed as int64 — every
    // iteration is bit-identical across engines (kmeans trick)
    "q_dup_rank" ->
      s"""$minhashPairsCtes,
         |${pagerankCtes(PagerankIters)}
         |SELECT src AS doc_id, deg, pr FROM r$PagerankIters
         |ORDER BY pr DESC, doc_id""".stripMargin,
    "q_quality_model" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains([$allL], x))) AS DOUBLE) / len(toks) END, 6) AS stopword_ratio,
         |         round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6) AS distinct_ratio,
         |         round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6) AS punct_ratio
         |  FROM t),
         |scored AS (
         |  SELECT *, round(1.2 * stopword_ratio + 0.8 * distinct_ratio - 6.0 * punct_ratio + 0.002 * n_tokens, 4) AS score
         |  FROM m)
         |SELECT doc_id, n_tokens, stopword_ratio, distinct_ratio, punct_ratio,
         |       score, score >= 0.7 AS keep
         |FROM scored ORDER BY doc_id""".stripMargin,
    "q_source_report" ->
      s"""WITH t AS (
         |  SELECT source, text, md5(text) AS h,
         |         list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |m AS (
         |  SELECT source, h,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         round(1.2 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains([$allL], x))) AS DOUBLE) / len(toks) END, 6)
         |               + 0.8 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
         |               - 6.0 * round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6)
         |               + 0.002 * CAST(len(toks) AS BIGINT), 4) AS score
         |  FROM t)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       round(avg(score), 4) AS avg_score,
         |       count(*) - count(DISTINCT h) AS n_dup_docs
         |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q_domain_report" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, text, md5(text) AS h,
         |         list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |u AS (SELECT *, $syntheticUrlDuck AS url FROM t),
         |$urlNormCtes,
         |n5 AS (
         |  SELECT doc_id, h, toks, text,
         |         regexp_replace(host, ':[0-9]+$$', '') AS domain,
         |         concat(scheme, '://', host, path,
         |                CASE WHEN len(kept) > 0 THEN concat('?', kept) ELSE '' END) AS norm_url
         |  FROM n4),
         |m AS (
         |  SELECT domain, norm_url, h,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(floor(round(1.2 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains([$allL], x))) AS DOUBLE) / len(toks) END, 6)
         |               + 0.8 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
         |               - 6.0 * round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6)
         |               + 0.002 * CAST(len(toks) AS BIGINT), 4) * 10000 + 0.5) AS BIGINT) AS score4
         |  FROM n5)
         |SELECT domain,
         |       count(*) AS n_docs,
         |       count(DISTINCT norm_url) AS n_urls,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       round(CAST(sum(score4) AS DOUBLE) / count(*) / 10000.0, 4) AS avg_score,
         |       count(*) - count(DISTINCT h) AS n_dup_docs,
         |       round(CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*), 6) AS dup_rate,
         |       CASE WHEN (count(*) - count(DISTINCT h)) * 2 >= count(*) THEN 'block'
         |            WHEN (count(*) - count(DISTINCT h)) * 10 >= count(*) THEN 'review'
         |            ELSE 'keep' END AS action
         |FROM m GROUP BY domain ORDER BY domain""".stripMargin,
    "q_url_dedup" ->
      s"""WITH t AS (SELECT doc_id, source, text, md5(text) AS h FROM documents),
         |u AS (SELECT *, $syntheticUrlDuck AS url FROM t),
         |$urlNormCtes,
         |n5 AS (
         |  SELECT doc_id, h,
         |         concat(scheme, '://', host, path,
         |                CASE WHEN len(kept) > 0 THEN concat('?', kept) ELSE '' END) AS norm_url
         |  FROM n4)
         |SELECT norm_url, min(doc_id) AS keep_id, count(*) AS n_docs,
         |       count(DISTINCT h) AS n_texts
         |FROM n5 GROUP BY norm_url HAVING count(*) >= 2
         |ORDER BY norm_url""".stripMargin,
    "q_lang_purity" ->
      s"""WITH t AS (
         |  SELECT source, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |m AS (
         |  SELECT source,
         |         len(list_filter(toks, x -> list_contains([$enL], x))) AS en,
         |         len(list_filter(toks, x -> list_contains([$deL], x))) AS de,
         |         len(list_filter(toks, x -> list_contains([$frL], x))) AS fr,
         |         len(list_filter(toks, x -> list_contains([$esL], x))) AS es
         |  FROM t),
         |c AS (SELECT source, greatest(en, de, fr, es) AS top, en + de + fr + es AS tot FROM m),
         |p AS (
         |  SELECT source,
         |         CASE WHEN tot < $PurityMinMarkers THEN 'sparse'
         |              WHEN top * 5 >= tot * 4 THEN 'pure'
         |              ELSE 'mixed' END AS purity
         |  FROM c),
         |g AS (SELECT source, purity, count(*) AS n_docs FROM p GROUP BY 1, 2)
         |SELECT source, purity, n_docs,
         |       round(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE), 6) AS share
         |FROM g ORDER BY source, purity""".stripMargin,
    "q_mirror_detect" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, text, md5(text) AS h FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000, source, text, md5(text) AS h
         |  FROM documents WHERE doc_id % 97 = 0),
         |u AS (SELECT *, $syntheticUrlDuck AS url FROM t),
         |$urlNormCtes,
         |n5 AS (SELECT doc_id, h, regexp_replace(host, ':[0-9]+$$', '') AS domain FROM n4)
         |SELECT h, min(doc_id) AS keep_id, count(*) AS n_docs,
         |       count(DISTINCT domain) AS n_domains
         |FROM n5 GROUP BY h HAVING count(DISTINCT domain) >= 2
         |ORDER BY h""".stripMargin,
    "q_pmi_terms" ->
      s"""WITH toks AS (
         |  SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS t FROM documents),
         |uni AS (
         |  SELECT tok, count(*) AS c FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
         |p0 AS (
         |  SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 2),
         |big AS (
         |  SELECT x, y, count(*) AS c_xy
         |  FROM (SELECT t[i] AS x, t[i+1] AS y FROM p0) GROUP BY x, y),
         |tot AS (
         |  SELECT (SELECT sum(c) FROM uni) AS nn, (SELECT sum(c_xy) FROM big) AS mm)
         |SELECT b.x, b.y, b.c_xy, ux.c AS c_x, uy.c AS c_y,
         |       round(CAST(b.c_xy AS DOUBLE) * nn / mm * nn / ux.c / uy.c, 6) AS lift
         |FROM big b
         |JOIN uni ux ON b.x = ux.tok
         |JOIN uni uy ON b.y = uy.tok
         |CROSS JOIN tot
         |WHERE b.c_xy >= $PmiMinCount
         |ORDER BY lift DESC, x, y LIMIT $PmiTopK""".stripMargin,
    "q_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
         |         ${Hashing.duckMd5Long("CAST(doc_id AS VARCHAR)")} AS hrank
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY hrank, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= $TokenBudget
         |ORDER BY source, cum_tokens, doc_id""".stripMargin,
    "q_bpe_train" -> bpeTrainSql(BpeTrainMerges),
    // BPE ENCODE oracle: greedy lowest-rank-first merging equals
    // applying the merge list once, in rank order, as replace-all
    // passes — valid because the table is topologically ranked (every
    // pair's multi-char component is created at a strictly earlier
    // rank, and a merge can only create new pairs that CONTAIN its
    // result symbol, which by the same property all rank later; a
    // replace pass can't resurrect its own pair since the result is
    // longer than either side). So the encoder unrolls to one chained
    // replace expression over the train oracle's bracketed-hex
    // spelling, evaluated per DISTINCT word, then weighted back per
    // doc.
    "q_bpe_tokens" -> {
      def hx(x: String): String =
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => f"$b%02X")
          .mkString
      val chain = graft.functions.expressions.BpeTokens.Merges
        .foldLeft("s") { case (acc, (a, b)) =>
          s"replace($acc, '[${hx(a)}][${hx(b)}]', '[${hx(a)}${hx(b)}]')"
        }
      s"""WITH bwords AS (
         |  SELECT doc_id, n_chars,
         |         unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w
         |  FROM documents),
         |bwc AS (SELECT doc_id, n_chars, w, count(*) AS k FROM bwords GROUP BY 1, 2, 3),
         |bvocab AS (
         |  SELECT w, '[' || array_to_string(list_transform(list_filter(string_split(w, ''), c -> c <> ''), c -> hex(c)), '][') || ']' AS s
         |  FROM (SELECT DISTINCT w FROM bwc)),
         |benc AS (
         |  SELECT w, CAST(len(string_split(trim($chain, '[]'), '][')) AS BIGINT) AS toks
         |  FROM bvocab),
         |bper AS (
         |  SELECT doc_id, n_chars, CAST(sum(k * toks) AS BIGINT) AS bpe_tokens
         |  FROM bwc JOIN benc USING (w) GROUP BY 1, 2)
         |SELECT doc_id, n_chars, bpe_tokens,
         |       round(CAST(n_chars AS DOUBLE) / bpe_tokens, 4) AS chars_per_token
         |FROM bper ORDER BY doc_id""".stripMargin
    },
    "q_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
         |         ${Hashing.duckMd5Long("CAST(doc_id AS VARCHAR)")} AS hrank
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, hrank % $PackBuckets AS bucket, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY hrank % $PackBuckets ORDER BY hrank, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, n_tokens,
         |       CAST((cum_end - n_tokens) // $PackSeqLen AS BIGINT) AS first_seq,
         |       CAST((cum_end - 1) // $PackSeqLen AS BIGINT) AS last_seq,
         |       CAST((cum_end - n_tokens) % $PackSeqLen AS BIGINT) AS start_off
         |FROM p ORDER BY doc_id""".stripMargin,
    "q_chunk" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, t,
         |         unnest(generate_series(0, CASE WHEN len(t) <= $ChunkLen THEN 0
         |                                        ELSE (len(t) - $ChunkLen + $ChunkStride - 1) // $ChunkStride END)) AS k
         |  FROM toks WHERE len(t) > 0),
         |w AS (
         |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
         |         least(k * $ChunkStride, greatest(len(t) - $ChunkLen, 0)) AS start_tok,
         |         t, len(t) AS n
         |  FROM c)
         |SELECT doc_id, chunk_idx, CAST(start_tok AS BIGINT) AS start_tok,
         |       array_to_string(t[(start_tok + 1):(start_tok + $ChunkLen)], ' ') AS chunk_text,
         |       CAST(least($ChunkLen, n) AS BIGINT) AS n_chunk_tokens
         |FROM w ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |         md5(trim(regexp_replace(regexp_replace(lower(text), '${TextFns.PunctClass}', ' ', 'g'), '\\s+', ' ', 'g'))) AS ck,
         |         list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, source, ck,
         |         round(1.2 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains([$allL], x))) AS DOUBLE) / len(toks) END, 6)
         |               + 0.8 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
         |               - 6.0 * round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6)
         |               + 0.002 * CAST(len(toks) AS BIGINT), 4) AS score
         |  FROM t),
         |g AS (
         |  SELECT ck, count(*) AS n_variants,
         |         max(struct_pack(score := score, nid := -doc_id, id := doc_id, src := source)) AS best
         |  FROM m GROUP BY ck)
         |SELECT (best).id AS doc_id, (best).src AS source, n_variants, (best).score AS score
         |FROM g ORDER BY doc_id""".stripMargin,
    "q_quality_shrunk" ->
      s"""WITH t AS (
         |  SELECT source, text,
         |         list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |m AS (
         |  SELECT source,
         |         CAST(round(round(1.2 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains([$allL], x))) AS DOUBLE) / len(toks) END, 6)
         |               + 0.8 * round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
         |               - 6.0 * round(CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '${TextFns.PunctClass}', '', 'g')) AS DOUBLE) / len(text) END, 6)
         |               + 0.002 * CAST(len(toks) AS BIGINT), 4) * 10000) AS BIGINT) AS qc
         |  FROM t),
         |per AS (
         |  SELECT source, count(*) AS n, CAST(sum(qc) AS BIGINT) AS sq FROM m GROUP BY source),
         |w AS (
         |  SELECT *, CAST(sum(n) OVER () AS BIGINT) AS n_total,
         |         CAST(sum(sq) OVER () AS BIGINT) AS sq_total
         |  FROM per)
         |SELECT source, n,
         |       round(CAST(sq AS DOUBLE) / 10000.0 / n, 6) AS raw_mean,
         |       round((CAST(sq AS DOUBLE) / 10000.0 + 50.0 * (CAST(sq_total AS DOUBLE) / 10000.0 / n_total)) / (n + 50.0), 6) AS shrunk_mean
         |FROM w ORDER BY source""".stripMargin,
    "q_lift_table" ->
      s"""WITH ${scoredEnCtes()},
         |g AS (
         |  SELECT score, count(*) AS n_g, CAST(sum(pos) AS BIGINT) AS pos_g
         |  FROM m GROUP BY score),
         |cum AS (
         |  SELECT *, n_g - pos_g AS neg_g,
         |         COALESCE(CAST(SUM(n_g) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_n,
         |         COALESCE(CAST(SUM(pos_g) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_pos
         |  FROM g),
         |tot AS (
         |  SELECT CAST(sum(n_g) AS BIGINT) AS n_total, CAST(sum(pos_g) AS BIGINT) AS p_total
         |  FROM g),
         |dd AS (
         |  SELECT CAST(decile AS BIGINT) AS decile,
         |         CAST(n_total * decile // 10 AS BIGINT) AS depth, n_total, p_total
         |  FROM (SELECT unnest(generate_series(1, 10)) AS decile), tot)
        |SELECT decile, depth,
        |       CAST(cum_pos + greatest(0, depth - cum_n - neg_g) AS BIGINT) AS captured_pos,
        |       round(CAST(cum_pos + greatest(0, depth - cum_n - neg_g) AS DOUBLE) / CAST(p_total AS DOUBLE), 6) AS capture_rate,
        |       round(CAST(CAST(cum_pos + greatest(0, depth - cum_n - neg_g) AS HUGEINT) * n_total AS DOUBLE) /
        |             CAST(CAST(depth AS HUGEINT) * p_total AS DOUBLE), 6) AS lift
        |FROM dd JOIN cum ON cum_n < depth AND depth <= cum_n + n_g
        |ORDER BY decile""".stripMargin,
    "q_calibration" ->
      s"""WITH ${scoredEnCtes()},
         |b AS (
         |  SELECT pos,
         |         CAST(round((0.5 + 0.5 * ((4.0 * (score - 0.7)) / (1.0 + abs(4.0 * (score - 0.7))))) * 1000000.0) AS BIGINT) AS p_micro
         |  FROM m),
         |c AS (
         |  SELECT least(p_micro // 100000, 9) AS bin, count(*) AS n_docs,
         |         CAST(sum(p_micro) AS BIGINT) AS spm,
         |         CAST(sum(pos) AS BIGINT) AS n_pos,
         |         sum(CAST(p_micro - pos * 1000000 AS HUGEINT) * (p_micro - pos * 1000000)) AS brier_num
         |  FROM b GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, n_docs,
        |       round(CAST(spm AS DOUBLE) / (n_docs * 1000000.0), 6) AS mean_pred,
        |       round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS obs_rate,
        |       round(CAST(brier_num AS DOUBLE) / (n_docs * 1000000000000.0), 6) AS brier
        |FROM c ORDER BY bin""".stripMargin,
    "q_langid_eval" ->
      s"""WITH t AS (
         |  SELECT lang, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |scored AS (
         |  SELECT lang, text,
         |         len(list_filter(toks, x -> list_contains([$enL], x))) AS en,
         |         len(list_filter(toks, x -> list_contains([$deL], x))) AS de,
         |         len(list_filter(toks, x -> list_contains([$frL], x))) AS fr,
         |         len(list_filter(toks, x -> list_contains([$esL], x))) AS es
         |  FROM t),
         |p AS (
         |  SELECT lang AS actual_lang,
         |         CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |              WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |              WHEN en = greatest(en, de, fr, es) THEN 'en'
         |              WHEN de = greatest(en, de, fr, es) THEN 'de'
         |              WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |              ELSE 'es' END AS pred_lang
         |  FROM scored),
         |cells AS (SELECT actual_lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
         |tot AS (SELECT actual_lang, CAST(sum(n) AS BIGINT) AS n_actual FROM cells GROUP BY 1)
        |SELECT actual_lang, pred_lang, n,
        |       round(CAST(n AS DOUBLE) / CAST(n_actual AS DOUBLE), 6) AS row_share
        |FROM cells JOIN tot USING (actual_lang)
        |ORDER BY actual_lang, pred_lang""".stripMargin,
    "q_cohens_kappa" ->
      s"""WITH t AS (
         |  SELECT lang, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
         |  FROM documents),
         |scored AS (
         |  SELECT lang, text,
         |         len(list_filter(toks, x -> list_contains([$enL], x))) AS en,
         |         len(list_filter(toks, x -> list_contains([$deL], x))) AS de,
         |         len(list_filter(toks, x -> list_contains([$frL], x))) AS fr,
         |         len(list_filter(toks, x -> list_contains([$esL], x))) AS es
         |  FROM t),
         |p AS (
         |  SELECT lang AS actual_lang,
         |         CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |              WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |              WHEN en = greatest(en, de, fr, es) THEN 'en'
         |              WHEN de = greatest(en, de, fr, es) THEN 'de'
         |              WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |              ELSE 'es' END AS pred_lang
         |  FROM scored),
         |cells AS (SELECT actual_lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
         |rows_m AS (SELECT actual_lang, CAST(sum(n) AS HUGEINT) AS rn FROM cells GROUP BY 1),
         |cols_m AS (SELECT pred_lang, CAST(sum(n) AS HUGEINT) AS cn FROM cells GROUP BY 1),
         |agree AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS agree FROM cells WHERE actual_lang = pred_lang),
         |rc AS (
         |  SELECT CAST(coalesce(sum(rn * cn), 0) AS HUGEINT) AS src
         |  FROM rows_m r JOIN cols_m c ON r.actual_lang = c.pred_lang),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells)
         |SELECT nn AS n_docs, agree AS n_agree,
         |       floor((CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS accuracy,
         |       floor((CAST(CAST(nn AS HUGEINT) * agree - src AS DOUBLE) / CAST(CAST(nn AS HUGEINT) * nn - src AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS kappa
         |FROM tot, agree, rc""".stripMargin,
    "q_fuzzy_join" ->
      s"""WITH names AS (SELECT DISTINCT p_name FROM part)
         |SELECT a.p_name AS a_name, b.p_name AS b_name,
         |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
         |FROM names a JOIN names b ON a.p_name < b.p_name
         |WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyEditMax
         |ORDER BY a_name, b_name""".stripMargin,
    "q_power_law" ->
      s"""$minhashPairsCtes,
         |ends AS (SELECT a_id AS doc_id FROM mpairs UNION ALL SELECT b_id FROM mpairs),
         |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY 1),
         |hist AS (SELECT degree, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY 1),
         |mn AS (SELECT CAST(min(degree) AS BIGINT) AS d_min, CAST(max(degree) AS BIGINT) AS d_max FROM hist),
         |w AS (
         |  SELECT d_min, d_max, cnt,
         |         CAST(cnt AS HUGEINT) *
         |           CAST(floor(ln(CAST(degree AS DOUBLE) / (CAST(d_min AS DOUBLE) - 0.5)) * 1000000.0) AS BIGINT) AS wq
         |  FROM hist, mn),
         |agg AS (
         |  SELECT d_min, d_max, CAST(sum(cnt) AS BIGINT) AS n_nodes, CAST(sum(wq) AS HUGEINT) AS sumq
         |  FROM w GROUP BY 1, 2)
         |SELECT n_nodes, d_min, d_max,
         |       floor((1.0 + CAST(n_nodes AS DOUBLE) * 1000000.0 / CAST(sumq AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS alpha
         |FROM agg""".stripMargin,
    "q_dup_modularity" ->
      s"""$minhashPairsCtes,
         |withsrc AS (
         |  SELECT p.a_id, p.b_id, da.source AS sa, db.source AS sb
         |  FROM mpairs p
         |  JOIN documents da ON da.doc_id = p.a_id
         |  JOIN documents db ON db.doc_id = p.b_id),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM withsrc),
         |intra AS (
         |  SELECT sa AS source, CAST(count(*) AS BIGINT) AS m_s
         |  FROM withsrc WHERE sa = sb GROUP BY 1),
         |degsum AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS d_s FROM (
         |    SELECT sa AS source FROM withsrc UNION ALL SELECT sb FROM withsrc) t
         |  GROUP BY 1),
         |per AS (
         |  SELECT g.source, coalesce(i.m_s, 0) AS m_s, g.d_s,
         |         CAST(floor((CAST(coalesce(i.m_s, 0) AS DOUBLE) / CAST(m AS DOUBLE)
         |                - (CAST(g.d_s AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) * (CAST(g.d_s AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))) * 1000000.0) AS BIGINT) AS qc
         |  FROM degsum g LEFT JOIN intra i USING (source) CROSS JOIN mm)
         |SELECT m AS n_edges,
         |       CAST(count(*) AS BIGINT) AS n_sources,
         |       CAST(sum(m_s) AS BIGINT) AS intra_edges,
         |       floor((CAST(sum(qc) AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS modularity
         |FROM per, mm GROUP BY m""".stripMargin,
    "q_expectations" ->
      """WITH li AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |         CAST(sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM lineitem),
        |ord AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |         CAST(sum(CASE WHEN NOT (o_orderdate BETWEEN TIMESTAMP '1992-01-01 00:00:00' AND TIMESTAMP '2000-12-31 00:00:00') THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM orders),
        |cust AS (
        |  SELECT count(*) AS n,
        |         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS v1
        |  FROM customer),
        |ev AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |         CAST(sum(CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM events),
        |dc AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |         CAST(sum(CASE WHEN lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM documents),
        |rules AS (
        |  SELECT 'lineitem' AS table_name, 'l_quantity_in_1_50' AS rule, n AS n_rows, v1 AS n_violations FROM li
        |  UNION ALL SELECT 'lineitem', 'l_extendedprice_positive', n, v2 FROM li
        |  UNION ALL SELECT 'orders', 'o_totalprice_positive', n, v1 FROM ord
        |  UNION ALL SELECT 'orders', 'o_orderdate_in_range', n, v2 FROM ord
        |  UNION ALL SELECT 'customer', 'c_custkey_unique', n, v1 FROM cust
        |  UNION ALL SELECT 'events', 'ts_not_null', n, v1 FROM ev
        |  UNION ALL SELECT 'events', 'value_positive', n, v2 FROM ev
        |  UNION ALL SELECT 'documents', 'text_nonempty', n, v1 FROM dc
        |  UNION ALL SELECT 'documents', 'lang_accepted', n, v2 FROM dc)
        |SELECT table_name, rule, n_rows, n_violations,
        |       n_violations = 0 AS pass
        |FROM rules
        |ORDER BY table_name, rule""".stripMargin,
    "q_graph_bfs" ->
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |bfsedges AS (
         |  SELECT a_id AS src, b_id AS dst FROM mpairs
         |  UNION
         |  SELECT b_id AS src, a_id AS dst FROM mpairs),
         |bfs(id, dist) AS (
         |  SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION
         |  SELECT e.dst, b.dist + 1
         |  FROM bfs b JOIN bfsedges e ON e.src = b.id
         |  WHERE b.dist < ${BfsHops})
         |SELECT id AS doc_id, CAST(min(dist) AS BIGINT) AS dist
         |FROM bfs GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_kcore" -> {
      // MATERIALIZED is load-bearing: each e{r} is referenced by both
      // the next degree aggregate and the next edge filter — without it
      // DuckDB re-inlines the whole minhash pipeline per reference and
      // the unrolled chain goes exponential.
      val rounds = (1 to KcoreRounds)
        .map { r =>
          s"""d$r AS (SELECT src, count(*) AS deg FROM e${r - 1} GROUP BY 1),
             |k$r AS (SELECT src AS node FROM d$r WHERE deg >= $KcoreK),
             |e$r AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM e${r - 1} e
             |  JOIN k$r x ON e.src = x.node JOIN k$r y ON e.dst = y.node)""".stripMargin
        }
        .mkString(",\n")
      s"""${minhashPairsCtes},
         |e0 AS MATERIALIZED (
         |  SELECT a_id AS src, b_id AS dst FROM mpairs
         |  UNION SELECT b_id AS src, a_id AS dst FROM mpairs),
         |$rounds
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS degree
         |FROM e$KcoreRounds GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    "q_distinctive_terms" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |ysi AS (SELECT source, tok, count(*) AS y_si FROM toks GROUP BY 1, 2),
         |yi AS (SELECT tok, CAST(sum(y_si) AS BIGINT) AS y_i FROM ysi GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(y_si) AS BIGINT) AS n_s FROM ysi GROUP BY 1),
         |nt AS (SELECT CAST(sum(y_si) AS BIGINT) AS n FROM ysi),
         |base AS (
         |  SELECT source, tok, y_si, y_i, n_s, n,
         |         CAST(y_i AS DOUBLE) * $LogOddsPriorA0 / CAST(n AS DOUBLE) AS a
         |  FROM ysi JOIN yi USING (tok) JOIN ns USING (source) CROSS JOIN nt),
         |sc AS (
         |  SELECT source, tok, y_si, y_i,
         |         round((ln((CAST(y_si AS DOUBLE) + a) / (CAST(n_s AS DOUBLE) + $LogOddsPriorA0 - CAST(y_si AS DOUBLE) - a))
         |                - ln((CAST(y_i - y_si AS DOUBLE) + a) / (CAST(n - n_s AS DOUBLE) + $LogOddsPriorA0 - CAST(y_i - y_si AS DOUBLE) - a)))
         |               / sqrt(1.0 / (CAST(y_si AS DOUBLE) + a) + 1.0 / (CAST(y_i - y_si AS DOUBLE) + a)), 4) AS z
         |  FROM base)
         |SELECT source,
         |       CAST(row_number() OVER (PARTITION BY source ORDER BY z DESC, tok) AS BIGINT) AS rank,
         |       tok, y_si, y_i, z
         |FROM sc
         |QUALIFY rank <= $DistinctiveTopK
         |ORDER BY source, rank""".stripMargin,
    "q_gtest_terms" -> {
      def f(e: String) =
        s"(CASE WHEN ($e) > 0 THEN CAST($e AS DOUBLE) * ln(CAST($e AS DOUBLE)) ELSE 0.0 END)"
      s"""WITH toks AS (
         |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |ysi AS (SELECT source, tok, count(*) AS y_si FROM toks GROUP BY 1, 2),
         |yi AS (SELECT tok, CAST(sum(y_si) AS BIGINT) AS y_i FROM ysi GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(y_si) AS BIGINT) AS n_s FROM ysi GROUP BY 1),
         |nt AS (SELECT CAST(sum(y_si) AS BIGINT) AS n FROM ysi),
         |cells AS (
         |  SELECT source, tok, y_si, y_i, n_s, n,
         |         y_si AS a, n_s - y_si AS b, y_i - y_si AS c, n - n_s - (y_i - y_si) AS dd
         |  FROM ysi JOIN yi USING (tok) JOIN ns USING (source) CROSS JOIN nt),
         |g AS (
         |  SELECT source, tok, y_si, y_i,
         |         round(2.0 * (${f("a")} + ${f("b")} + ${f("c")} + ${f("dd")} + ${f("n")}
         |                - ${f("a + b")} - ${f("a + c")} - ${f("b + dd")} - ${f("c + dd")}), 4) AS g2,
         |         CAST(a AS HUGEINT) * (n - n_s) > CAST(c AS HUGEINT) * n_s AS enriched
         |  FROM cells)
         |SELECT source,
         |       CAST(row_number() OVER (PARTITION BY source ORDER BY g2 DESC, tok) AS BIGINT) AS rank,
         |       tok, y_si, y_i, g2
         |FROM g WHERE enriched
         |QUALIFY rank <= $GtestTopK
         |ORDER BY source, rank""".stripMargin
    },
    "q_graph_assortativity" ->
      s"""$minhashPairsCtes,
         |ends AS (SELECT a_id AS doc_id FROM mpairs UNION ALL SELECT b_id FROM mpairs),
         |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY 1),
         |directed AS (SELECT a_id AS src, b_id AS dst FROM mpairs
         |             UNION ALL SELECT b_id, a_id FROM mpairs),
         |j AS (
         |  SELECT dx.degree AS x, dy.degree AS y
         |  FROM directed e
         |  JOIN deg dx ON dx.doc_id = e.src
         |  JOIN deg dy ON dy.doc_id = e.dst),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_ends,
         |         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |         sum(CAST(x AS HUGEINT) * y) AS sxy,
         |         sum(CAST(x AS HUGEINT) * x) AS sxx,
         |         sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM j),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
         |SELECT n_nodes, n_ends // 2 AS n_edges,
         |       floor((CAST(n_ends * sxy - sx * sy AS DOUBLE) /
         |              sqrt(CAST(n_ends * sxx - sx * sx AS DOUBLE) * CAST(n_ends * syy - sy * sy AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS assortativity
         |FROM agg, nn
         |WHERE n_ends > 0 AND n_ends * sxx - sx * sx > 0 AND n_ends * syy - sy * sy > 0""".stripMargin,
    "q_snm_dedup" -> {
      val h = Hashing.duckMd5Long("shingle")
      s"""WITH blocks AS (
         |  SELECT doc_id, text, substr(text, 1, 4) AS block,
         |         row_number() OVER (PARTITION BY substr(text, 1, 4) ORDER BY text, doc_id) AS rn
         |  FROM documents),
         |cand AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id, greatest(a.doc_id, b.doc_id) AS b_id
         |  FROM blocks a JOIN blocks b
         |    ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 2),
         |${shingleCtes("documents", "")},
         |hx AS (SELECT doc_id, sz, $h AS h FROM ex),
         |common AS (
         |  SELECT c.a_id, c.b_id, a.sz AS a_sz, b.sz AS b_sz, count(*) AS cc
         |  FROM cand c
         |  JOIN hx a ON a.doc_id = c.a_id
         |  JOIN hx b ON b.doc_id = c.b_id AND b.h = a.h
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a_id, b_id,
         |       round(CAST(cc AS DOUBLE) / CAST(a_sz + b_sz - cc AS DOUBLE), 6) AS jaccard
         |FROM common
         |WHERE CAST(cc AS DOUBLE) / CAST(a_sz + b_sz - cc AS DOUBLE) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin
    },
    "q_embed_outliers" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |s AS (SELECT label, count(*) AS cnt, $kmeansSumCols FROM e GROUP BY label),
         |c AS (SELECT label, $kmeansMeanArr AS cv FROM s),
         |sc AS (
         |  SELECT e.label, vec_id,
         |         round(list_dot_product(v, v) - 2.0 * list_dot_product(v, cv) + list_dot_product(cv, cv), 6) AS dist2
         |  FROM e JOIN c ON e.label = c.label)
         |SELECT label,
         |       CAST(row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS BIGINT) AS rank,
         |       vec_id, dist2
         |FROM sc
         |QUALIFY rank <= $OutlierTopK
         |ORDER BY label, rank""".stripMargin,
    "q_dup_jaccard_hist" ->
      s"""$minhashPairsCtes,
         |jb AS (SELECT CAST(floor(jaccard * 100 + 0.5) AS BIGINT) AS jc FROM mpairs)
         |SELECT jc - jc % 2 AS bin_pct, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM jb GROUP BY 1 ORDER BY 1""".stripMargin,
    // NDCG: replays the q_bm25 scoring CTEs, then ranks by (bm25 desc,
    // doc_id) vs ideal (n_terms desc, doc_id); each DCG term
    // floor-quantizes to int64 before the sum (order-free), ln base
    // cancels in the ratio
    "q_ndcg" -> {
      val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val slots = Bm25Terms.zipWithIndex
        .map { case (t, i) =>
          s"sum(CASE WHEN tok = '$t' THEN contrib END) AS c$i"
        }
        .mkString(",\n         |         ")
      val total = Bm25Terms.indices
        .map(i => s"COALESCE(c$i, 0.0)")
        .mkString(" + ")
      val ks = NdcgKs.mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
         |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM t
         |  WHERE tok IN ($inList) GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |c AS (
         |  SELECT doc_id, tok,
         |         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
         |           * (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0})
         |           / (CAST(tf AS DOUBLE) + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / n_docs))) AS contrib
         |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot),
         |sc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |         $slots
         |  FROM c GROUP BY doc_id),
         |scored AS (SELECT doc_id, n_terms, round($total, 4) AS bm25 FROM sc),
         |r AS (
         |  SELECT doc_id, n_terms,
         |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk,
         |         row_number() OVER (ORDER BY n_terms DESC, doc_id) AS irk,
         |         power(2, n_terms) - 1 AS gain
         |  FROM scored),
         |ks AS (SELECT unnest([$ks]) AS k)
         |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_scored,
         |       CAST(sum(CASE WHEN rk <= k THEN CAST(floor(gain / ln(rk + 1.0) * 1.0e9) AS BIGINT) ELSE 0 END) AS DOUBLE) / 1.0e9 AS dcg,
         |       CAST(sum(CASE WHEN irk <= k THEN CAST(floor(gain / ln(irk + 1.0) * 1.0e9) AS BIGINT) ELSE 0 END) AS DOUBLE) / 1.0e9 AS idcg,
         |       round(CAST(sum(CASE WHEN rk <= k THEN CAST(floor(gain / ln(rk + 1.0) * 1.0e9) AS BIGINT) ELSE 0 END) AS DOUBLE)
         |             / CAST(sum(CASE WHEN irk <= k THEN CAST(floor(gain / ln(irk + 1.0) * 1.0e9) AS BIGINT) ELSE 0 END) AS DOUBLE), 6) AS ndcg
         |FROM r CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin
    },
    // composed dashboard: degrees + triangles + k-core + cluster sizes
    // off the SAME mpairs relation — each section reuses its standalone
    // oracle's CTE structure verbatim
    "q_dup_graph_report" -> {
      val kcoreRounds = (1 to KcoreRounds)
        .map { r =>
          s"""d$r AS (SELECT src, count(*) AS deg FROM e${r - 1} GROUP BY 1),
             |k$r AS (SELECT src AS node FROM d$r WHERE deg >= $KcoreK),
             |e$r AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM e${r - 1} e
             |  JOIN k$r x ON e.src = x.node JOIN k$r y ON e.dst = y.node)""".stripMargin
        }
        .mkString(",\n")
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |${componentsCtes("mpairs")},
         |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |szs AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM comps GROUP BY 1),
         |ends AS (SELECT a_id AS doc_id FROM mpairs UNION ALL SELECT b_id FROM mpairs),
         |bedges AS (
         |  SELECT a_id AS src, b_id AS dst FROM mpairs
         |  UNION ALL SELECT b_id AS src, a_id AS dst FROM mpairs),
         |dg AS (SELECT src AS id, count(*) AS d FROM bedges GROUP BY src),
         |o AS (
         |  SELECT e.src, e.dst, dd.d AS dd
         |  FROM bedges e JOIN dg ds ON ds.id = e.src JOIN dg dd ON dd.id = e.dst
         |  WHERE ds.d < dd.d OR (ds.d = dd.d AND e.src < e.dst)),
         |wg AS (
         |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |  FROM o e1 JOIN o e2 ON e1.src = e2.src
         |  WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
         |tri AS (SELECT u, v, w FROM wg JOIN o e3 ON e3.src = wg.v AND e3.dst = wg.w),
         |tnodes AS (
         |  SELECT u AS doc_id FROM tri
         |  UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w FROM tri),
         |e0 AS MATERIALIZED (
         |  SELECT a_id AS src, b_id AS dst FROM mpairs
         |  UNION SELECT b_id AS src, a_id AS dst FROM mpairs),
         |$kcoreRounds,
         |report AS (
         |  SELECT 'degree' AS section, doc_id AS id, CAST(count(*) AS BIGINT) AS v
         |  FROM ends GROUP BY 2
         |  UNION ALL
         |  SELECT 'triangles', doc_id, CAST(count(*) AS BIGINT) FROM tnodes GROUP BY 2
         |  UNION ALL
         |  SELECT 'kcore', src, CAST(count(*) AS BIGINT) FROM e$KcoreRounds GROUP BY 2
         |  UNION ALL
         |  SELECT 'cluster_size', sz, CAST(count(*) AS BIGINT) FROM szs GROUP BY 2)
         |SELECT section, id, v FROM report ORDER BY section, id""".stripMargin
    },
    "q_dup_source_overlap" ->
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |${componentsCtes("mpairs")},
         |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |memb AS (
         |  SELECT DISTINCT c.comp, d.source
         |  FROM comps c JOIN documents d ON d.doc_id = c.id)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_shared_clusters
         |FROM memb a JOIN memb b ON a.comp = b.comp AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )

  /** BPE-training oracle: unrolled per-round CTEs mirroring
    * [[graft.functions.BpeTrainer.train]] — `w<r>` is the word table
    * after r merges (bracketed-hex spelling), `p<r>` the weighted pair
    * counts, `m<r>` the (count DESC, pair ASC) argmax. MATERIALIZED is
    * load-bearing: each `w<r>` is referenced twice (pair counting and
    * the next round's replace), so an inlining CTE planner would go
    * exponential in rounds. */
  private def bpeTrainSql(merges: Int): String = {
    val head =
      // text pre-normalized with graft_normalize's DuckDB twin (same
      // expression as the q_normalize oracle) — the trainer's Unicode
      // parity contract, see BpeTrainer's class doc
      """wf AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(trim(regexp_replace(nfc_normalize(replace(text, chr(0), ' ')), '[\x00-\x20\x7F]+', ' ', 'g')), ' '), x -> len(x) > 0)) AS w
        |    FROM documents) GROUP BY w),
        |w0 AS MATERIALIZED (
        |  SELECT '[' || array_to_string(list_transform(list_filter(string_split(w, ''), c -> c <> ''), c -> hex(c)), '][') || ']' AS s, cnt
        |  FROM wf)""".stripMargin
    val rounds = (1 to merges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT l, r, sum(cnt) AS c FROM (
         |    SELECT cnt, syms[i] AS l, syms[i+1] AS r
         |    FROM (SELECT cnt, string_split(trim(s, '[]'), '][') AS syms FROM w${r - 1}),
         |         LATERAL (SELECT unnest(generate_series(1, len(syms)-1)) AS i) t
         |  ) GROUP BY l, r),
         |m$r AS MATERIALIZED (SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),
         |w$r AS MATERIALIZED (SELECT replace(s, '['||m$r.l||']['||m$r.r||']', '['||m$r.l||m$r.r||']') AS s, cnt FROM w${r - 1}, m$r)""".stripMargin
    }
    val sel = (1 to merges)
      .map(r =>
        s"SELECT $r AS rank, decode(unhex(l)) AS left_sym, decode(unhex(r)) AS right_sym, decode(unhex(l||r)) AS merged, CAST(c AS BIGINT) AS pair_count FROM m$r")
      .mkString("\nUNION ALL\n")
    s"WITH $head,\n${rounds.mkString(",\n")}\n$sel\nORDER BY rank"
  }

  /** Unrolled PageRank iteration CTEs over `mpairs` (the shared minhash
    * pair table): `r0..r<iters>` with `(src, deg, pr)` in micro-units.
    * Mirrors [[graft.dedup.Dedup.pairRank]] exactly. */
  private def pagerankCtes(iters: Int): String = {
    val base =
      """edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM mpairs
        |  UNION ALL
        |  SELECT b_id AS src, a_id AS dst FROM mpairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT src, deg, CAST(1000000 AS BIGINT) AS pr FROM deg)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT d.src, d.deg, CAST(150000 + sum((r.pr * 17) // (20 * r.deg)) AS BIGINT) AS pr
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.src JOIN deg d ON e.dst = d.src
         |  GROUP BY d.src, d.deg)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }
}
