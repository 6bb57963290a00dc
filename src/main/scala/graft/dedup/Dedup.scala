package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, VectorFns}
import graft.functions.expressions.WordShingles
import graft.operators.Materialize
import org.apache.spark.sql.graft.ColumnBridge

/** Deduplication operators for document corpora — the parameterized
  * library surface behind the `q_dedup_*` queries.
  *
  * Input contract: a DataFrame with an id column and a text column
  * (embedding variants take an id + `array<float|double>` vector column).
  * Every operator returns candidate duplicate pairs `(a_id, b_id, score)`
  * with `a_id < b_id`, un-sorted — callers choose their own output order.
  *
  * Scale: candidate generation is always bounded (shingle-hash buckets,
  * MinHash bands, SimHash bit-bands, cosine-LSH sign bands); nothing
  * here is all-pairs except [[embeddingCosine]] without a restrict key,
  * which is the spec-only recall baseline — [[embeddingCosineLsh]] is
  * the registered embedding-dedup plan at corpus scale.
  */
object Dedup {

  /** Distinct word k-shingles per doc: `(id, s array<string>)`, docs with
    * ≥ 1 shingle. */
  def shingled(docs: DataFrame, id: String, text: String, k: Int): DataFrame =
    docs
      .select(
        col(id),
        ColumnBridge
          .column(WordShingles(ColumnBridge.expression(col(text)), k))
          .as("s"))
      .filter(size(col("s")) > 0)

  /** [[shingled]] over an ALREADY-TOKENIZED corpus (`tokArr` holds the
    * `graft_tokens` array). Both tokenizers are the same
    * split-on-`' '`/drop-empties rule, so `concat_ws(" ")` round-trips
    * exactly: `shingledFromTokens(tokens(text), k) ≡ shingled(text, k)`
    * row for row. Lets an evaluation query feed token-level signatures
    * AND the shingle ground truth from ONE materialized corpus pass
    * instead of scanning + tokenizing twice. */
  def shingledFromTokens(toks: DataFrame, id: String, tokArr: String, k: Int): DataFrame =
    toks
      .select(
        col(id),
        ColumnBridge
          .column(WordShingles(ColumnBridge.expression(concat_ws(" ", col(tokArr))), k))
          .as("s"))
      .filter(size(col("s")) > 0)

  /** Exploded `(id, sz, shingle)` — sz is the doc's distinct-shingle
    * count, carried for Jaccard denominators. */
  def shingleRows(docs: DataFrame, id: String, text: String, k: Int): DataFrame =
    shingled(docs, id, text, k)
      .select(
        col(id),
        size(col("s")).cast("long").as("sz"),
        explode(col("s")).as("shingle"))

  /** Exact duplicate groups by content hash: one row per distinct text
    * with the kept (minimum) id and the group size. */
  def exact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(text)).as("h"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Docs-per-shuffle-partition at or below which the PPJoin's
    * n-scaling joins keep the PINNED shuffle-hash build. The pin is
    * safe iff the PER-PARTITION build fits the per-task execution
    * budget — a property of docs/partitions, not of the corpus alone —
    * so the fence scales with `spark.sql.shuffle.partitions` exactly
    * as a real deployment does (partitions ∝ data). Measured on
    * 19 GiB × 32 tasks: GOOD at 15.6k docs/partition (sf10/32, the
    * whole four-leg board), OOM at 156k (sf100/32: "Can't acquire
    * 256 MiB to build hash relation" — a hash build cannot spill);
    * 32k is 2× the measured-good density and 5× under the measured
    * wall. Past the fence the joins run unhinted — sort-merge
    * (spills, completes) with AQE's
    * maxShuffledHashJoinLocalMapThreshold converting partitions that
    * fit back to the hash join at runtime. The
    * [[SimhashNarrowFenceDocs]] convention applied to a join strategy
    * instead of a geometry. */
  val ShjDocsPerPartitionFence = 32000L

  /** The [[ShjDocsPerPartitionFence]] decision as a reusable join
    * decorator: pin `shuffle_hash` while the per-partition share of
    * `nDocs` fits the measured budget, identity past it (the planner
    * then picks spillable sort-merge, AQE converting back where
    * runtime map sizes fit). Shared by every corpus-scaling pinned
    * join in the dedup/winnow family. */
  def shjPinned(
      nRows: Long,
      session: org.apache.spark.sql.SparkSession,
      fencePerPartition: Long = ShjDocsPerPartitionFence): DataFrame => DataFrame = {
    val parts =
      session.conf.get("spark.sql.shuffle.partitions", "200").toLong.max(1L)
    if (nRows <= fencePerPartition * parts)
      df => df.hint("shuffle_hash")
    else identity
  }

  /** Pairwise n-gram Jaccard ≥ `threshold` with prefix filtering
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07):
    * under a global shingle order, any pair with `J(A,B) ≥ t` shares a
    * shingle within the first `|A| − ⌈t·|A|⌉ + 1` shingles of each side —
    * so only those *prefix* rows enter the candidate join (~(1−t) of the
    * corpus per side, squaring the saving on the pair count), and exact
    * Jaccard over the full shingle sets verifies. Exact, not
    * approximate. The join key is the 60-bit shingle hash (8-byte
    * shuffle key), which also serves as the global order.
    *
    * The hashed shingle rows and the per-doc hash sets are each
    * materialized once ([[graft.operators.Materialize.cut]]): the
    * hash-set table's count (the join fence) and the verify plan both
    * read them. On a real cluster configure a session checkpoint dir
    * so every cut is a RELIABLE checkpoint (executor loss would kill
    * localCheckpoint blocks). The candidate self-join is shuffle-hash like
    * [[minhashLsh]] — but only below [[ShjDocsPerPartitionFence]]: the build
    * side grows ∝ corpus and a hash relation cannot spill, so past the
    * fence the joins run UNHINTED (sort-merge statically; AQE's
    * maxShuffledHashJoinLocalMapThreshold converts partitions that
    * fit back to the hash join at runtime). */
  def ngramJaccard(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      k: Int = 3,
      threshold: Double = 0.8): DataFrame =
    ngramJaccardFromShingled(shingled(docs, id, text, k), id, threshold)

  /** [[ngramJaccard]] over an ALREADY-MATERIALIZED shingle table — the
    * entry point for callers that reuse one shingle pass across several
    * consumers (e.g. the LSH-tuning evaluation, which also feeds the
    * minhash banding from the same table). `sh` must be the
    * [[shingled]] shape. */
  def ngramJaccardFromShingled(
      sh: DataFrame,
      id: String,
      threshold: Double): DataFrame =
    ngramJaccardFromHashed(hashedShingles(sh, id), id, threshold)

  /** Exploded per-shingle hash rows `(id, h)` from a shingled table,
    * MATERIALIZED — the spine every PPJoin stage (df table, prefix,
    * verification hash sets) reads instead of re-running
    * explode+md5 per consumer: the hash-set job (its count fences the
    * joins) and the verify plan are two actions over it. The shingle string is dropped IMMEDIATELY after
    * hashing: every downstream shuffle moves 16-byte (id, h) rows
    * instead of shingle text. A 60-bit h collision (~2^-60 per
    * distinct-shingle pair) could only inflate/deflate the candidate
    * set; the exact-Jaccard verification keeps the OUTPUT exact. */
  def hashedShingles(sh: DataFrame, id: String): DataFrame =
    sh
      .select(col(id), explode(col("s")).as("shingle"))
      .select(col(id), Hashing.md5Long(col("shingle")).as("h"))
      .transform(Materialize.cut) // cut: actions — the hash-set count and the verify plan both read it

  /** [[ngramJaccardFromShingled]] over the materialized `(id, h)`
    * spine — the entry point for callers that already hold one (the
    * minhash/eval family shares it with the banding stages). */
  def ngramJaccardFromHashed(
      ex: DataFrame,
      id: String,
      threshold: Double): DataFrame = {
    // The per-doc hash-set table doubles as the verification side and
    // the doc count for the join-strategy fence ([[ShjDocsPerPartitionFence]]).
    // cut: actions — the fence's count and the verify plan both read it
    val hs = hashSetsFromHashed(ex, id).transform(Materialize.cut)
    // fence counts docs with ≥ 1 shingle (the hs table), not raw docs:
    // shingle-free docs contribute zero rows to every joined table the
    // fence protects, so excluding them is the intended density measure
    // (r15 — documenting the r14 seed change, not altering it)
    val pinned = shjPinned(hs.count(), ex.sparkSession)
    // prefix length: the sz - ceil(t*sz) + 1 globally-RAREST shingles of
    // each doc (AllPairs' document-frequency order): rare shingles make
    // small candidate buckets, so the prefix join output stays minimal.
    // freq is distinct-shingle-sized — too big to broadcast at corpus
    // scale.
    val freq = ex.groupBy("h").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(id).orderBy("f", "h")
    // Every derived bound below (prefix length, size ratio, overlap α)
    // is RELAXED by a small epsilon before flooring/ceiling: double
    // arithmetic can overshoot an exact rational bound (0.8·35 =
    // 28.000000000000004, whose ceil prunes a TRUE pair at J exactly
    // 0.8). Relaxation only admits a few extra candidates — the exact
    // Jaccard verification stays the arbiter.
    val eps = 1e-6
    // sz (the doc's distinct-shingle count) is recovered as a count over
    // the same window partition rather than carried through both
    // shuffles. The self-join's two sides are one subtree up to the
    // (h) exchange, which AQE reuses.
    val prefix = ex
      .join(pinned(freq), "h")
      .withColumn("pos", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(id)))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold - eps) + 1)
      .select(col(id), col("h"), col("pos"), col("sz"))
      .transform(pinned)
    // Candidate pruning beyond the prefix bucket (PPJoin, Xiao et al.,
    // "Efficient Similarity Joins for Near Duplicate Detection", WWW'08):
    // J ≥ t implies t·max(|A|,|B|) ≤ min(|A|,|B|) (size filter) and
    // |A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉ = α; a shared prefix feature at
    // positions (i, j) caps the overlap at 1 + min(|A|−i, |B|−j), so
    // pairs whose cap < α are pruned (positional filter). Both are
    // supersets of the true pair set — measured 9× fewer candidates on
    // the synthetic corpus.
    val cands = prefix
      .select(col(id).as("a_id"), col("h"), col("pos").as("a_pos"), col("sz").as("a_sz"))
      .join(
        prefix.select(col(id).as("b_id"), col("h"), col("pos").as("b_pos"), col("sz").as("b_sz")),
        Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("a_sz") >= col("b_sz") * threshold - eps &&
        col("b_sz") >= col("a_sz") * threshold - eps)
      .filter(lit(1) + least(col("a_sz") - col("a_pos"), col("b_sz") - col("b_pos")) >=
        ceil((col("a_sz") + col("b_sz")) * lit(threshold / (1 + threshold)) - eps))
      .select("a_id", "b_id")
      .distinct()
    jaccardVerifySets(cands, hs, hs, id, "a_id", "b_id", threshold)
  }

  /** Per-doc 60-bit shingle hash SETS `(id, hs array<long>)` off the
    * `(id, h)` spine — ONE aggregation serving both sides of every
    * self-join verification (a caller that also counts it cuts it).
    * SORTED (r15): the sets are only ever
    * consumed by count statistics, and sorted sets let the verify run
    * the allocation-free merge kernel
    * ([[graft.functions.expressions.SortedLongIntersectCount]]) instead
    * of a hash-set `array_intersect` per candidate pair. */
  def hashSetsFromHashed(ex: DataFrame, id: String): DataFrame =
    ex
      .groupBy(id)
      .agg(sort_array(collect_list(col("h"))).as("hs"))

  /** Exact-Jaccard verification of candidate pairs `(aKey, bKey)`
    * against two shingle tables (the incremental path's batch and
    * candidate-corpus sides): keeps pairs with `round(|A∩B| / |A∪B|, 6) ≥ threshold`. One shared
    * definition for the ngram, minhash, and incremental paths — the
    * rounding here is load-bearing (it must match the oracle's
    * `round(c/(a_sz+b_sz-c), 6)` in every consumer).
    *
    * The intersected sets are the 60-bit shingle HASHES, not the
    * shingle strings — deliberately: the DuckDB oracles compute their
    * `common` CTE by joining and counting on the same md5-derived `h`,
    * so the hash-set Jaccard is the statistic BOTH engines agree on
    * bit-for-bit (a string-side intersect would diverge from the
    * oracle under a 2^-60 cross-doc hash collision, not match it
    * closer). It is also the cheaper plan by ~3×: the two
    * attach-the-set joins move 8-byte longs instead of ~25-byte
    * 3-word shingle strings, and the per-pair intersect hashes longs
    * instead of UTF8 text — at t = 0.5 the candidate set is ~20× the
    * true pair set, so verify traffic dominates the whole PPJoin. */
  private def jaccardVerify(
      cands: DataFrame,
      shA: DataFrame,
      shB: DataFrame,
      id: String,
      aKey: String,
      bKey: String,
      threshold: Double): DataFrame = {
    def hashSets(sh: DataFrame) =
      sh
        .select(col(id), explode(col("s")).as("shingle"))
        .select(col(id), Hashing.md5Long(col("shingle")).as("h"))
        .groupBy(id)
        // sorted for the merge-count verify kernel (see hashSetsFromHashed)
        .agg(sort_array(collect_list(col("h"))).as("hs"))
    jaccardVerifySets(
      cands, hashSets(shA), hashSets(shB), id, aKey, bKey, threshold)
  }

  /** [[jaccardVerify]] over prebuilt per-doc hash-set tables (`(id,
    * hs)`, SORTED ascending; for self-joins callers pass the same
    * table twice — one aggregation serves both sides).
    * The common count is the sorted-merge kernel, not a per-pair hash
    * set — the verify stage runs once per CANDIDATE, which at loose
    * thresholds is ~20× the true pair set, so its per-pair constant
    * dominates the whole PPJoin (r15, guide §4). */
  private def jaccardVerifySets(
      cands: DataFrame,
      hsA: DataFrame,
      hsB: DataFrame,
      id: String,
      aKey: String,
      bKey: String,
      threshold: Double): DataFrame = {
    cands
      .join(hsA.select(col(id).as(aKey), col("hs").as("a_hs")), aKey)
      .join(hsB.select(col(id).as(bKey), col("hs").as("b_hs")), bKey)
      .withColumn(
        "common",
        ColumnBridge.column(
          graft.functions.expressions.SortedLongIntersectCount(
            ColumnBridge.expression(col("a_hs")),
            ColumnBridge.expression(col("b_hs")))))
      .withColumn(
        "jaccard",
        round(
          col("common").cast("double") /
            (size(col("a_hs")) + size(col("b_hs")) - col("common")),
          6))
      .filter(col("jaccard") >= threshold)
      .select(col(aKey), col(bKey), col("jaccard"))
  }

  /** Exploded per-shingle hash PAIR rows `(id, h, h2)` from a shingled
    * table — the minhash-family spine: `h`/`h2` are the
    * [[Hashing.md5MinhashPair]] family bases (h = the 60-bit
    * [[Hashing.md5Long]], so the same spine feeds the signature
    * aggregation, the PPJoin exact arm, AND the verification hash sets
    * — one tokenize+shingle+hash pass per corpus where the r13 shape
    * paid three, once the caller cuts it). 24 bytes/row. */
  def hashedShinglePairs(sh: DataFrame, id: String): DataFrame =
    sh
      .select(col(id), explode(col("s")).as("shingle"))
      // one digest yields both family bases (codegen CSE shares the
      // struct across the two field reads) — half the md5 work of
      // hashing h and h2 independently
      .select(col(id), Hashing.md5MinhashPair(col("shingle")).as("ab"))
      .select(col(id), col("ab.a").as("h"), col("ab.b").as("h2"))

  /** MinHash signatures `mh0..mh{numHashes-1}` per doc off the `(id,
    * h, h2)` spine of [[hashedShinglePairs]]: the family is derived
    * arithmetically as `h_i = h + i·h2` (60-bit and 40-bit digest
    * slices — the sum stays < 2^61, overflow-safe in any int64 engine),
    * then min-aggregated with map-side partials: one shuffle of one row
    * per doc. `numHashes` ≤ 16 keeps `i·h2` < 2^44·16. */
  def minhashSignaturesFromHashedPairs(
      ex: DataFrame,
      id: String,
      numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(col("h") + lit(i.toLong) * col("h2")).as(s"mh$i"))
    ex.groupBy(id).agg(mins.head, mins.tail: _*)
  }

  /** Banded LSH rows `(id, band_id, band_hash)` off the `(id, h, h2)`
    * spine — one shared definition for every band table, mirrored 1:1
    * by the oracle's band CTEs: band `j` hashes the ':'-joined
    * signatures `mh{r·j} … mh{r·j + r − 1}` (`r = numHashes / bands`
    * rows per band) with md5Long. */
  private def bandedFromHashedPairs(
      ex: DataFrame,
      id: String,
      numHashes: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { j =>
      val sig = (0 until rowsPerBand)
        .map(r => col(s"mh${rowsPerBand * j + r}").cast("string"))
      struct(
        lit(j).as("band_id"),
        Hashing.md5Long(concat_ws(":", sig: _*)).as("band_hash"))
    }
    minhashSignaturesFromHashedPairs(ex, id, numHashes)
      .select(col(id), explode(array(bandCols: _*)).as("b"))
      .select(col(id), col("b.band_id"), col("b.band_hash"))
  }

  /** Band-collision candidate pairs `(a_id, b_id)` off the `(id, h,
    * h2)` spine. */
  def minhashCandidatesFromHashedPairs(
      ex: DataFrame,
      id: String,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // shuffle_hash: a broadcast band join would recompute the signature
    // aggregation for the build side (Broadcast- and ShuffleExchange
    // cannot reuse each other); shuffling both sides on the band key is
    // also the only shape that survives when n_docs is too big to
    // broadcast. Both sides are one subtree up to the band-key
    // exchange, which AQE reuses: the signature aggregation runs once.
    val banded = bandedFromHashedPairs(ex, id, numHashes, bands)
      .hint("shuffle_hash")
    banded
      .as("x")
      .join(
        banded.as("y"),
        col(s"x.band_id") === col(s"y.band_id") &&
          col(s"x.band_hash") === col(s"y.band_hash") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("a_id"), col(s"y.$id").as("b_id"))
      .distinct()
  }

  /** MinHash + LSH near-dup: `bands` band buckets (signature split
    * evenly) generate candidates, exact Jaccard over the shingle-hash
    * sets verifies against `threshold`, in one plan: the `(id, h, h2)`
    * spine ([[hashedShinglePairs]]) feeds the signature aggregation
    * and the verification hash sets. */
  def minhashLsh(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    val ex = hashedShinglePairs(shingled(docs, id, text, k), id)
    val cands = minhashCandidatesFromHashedPairs(ex, id, numHashes, bands)
    val hs = hashSetsFromHashed(ex, id)
    jaccardVerifySets(cands, hs, hs, id, "a_id", "b_id", threshold)
  }

  /** Per-document duplicate-span report — the span-granular view of
    * exact substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22): a span (word k-shingle) is
    * *duplicated* when it appears in ≥ 2 documents. Returns
    * `(id, n_shingles, n_dup, dup_frac)` per doc with ≥ 1 shingle.
    *
    * Shape: shingle rows are hashed to 60-bit keys immediately (8-byte
    * shuffle rows), one groupBy(h) counts document frequency with
    * map-side partials, the shuffle_hash join back is corpus-linear (a
    * broadcast would need the full distinct-shingle table on every
    * executor), and the final per-doc rollup is a second partial-agg
    * groupBy. No pair join at all — cost is O(shingle rows), not
    * O(candidates²). */
  def duplicateSpans(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      k: Int = 3): DataFrame = {
    val ex = shingleRows(docs, id, text, k)
      .select(col(id), col("sz"), Hashing.md5Long(col("shingle")).as("h"))
      // cut: measured — the freq aggregate and the join probe each re-shingle uncut: sf0.01 best 0.599 → 0.650 s
      .transform(Materialize.cut)
    val freq = ex.groupBy("h").agg(count(lit(1)).as("f"))
    ex.join(freq.hint("shuffle_hash"), "h")
      .groupBy(col(id))
      .agg(
        first(col("sz")).as("n_shingles"),
        sum(when(col("f") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn(
        "dup_frac",
        round(col("n_dup").cast("double") / col("n_shingles"), 6))
  }

  /** Incremental MinHash+LSH near-dup of a (small) `newDocs` batch
    * AGAINST an existing `corpus` — candidates come only from cross-side
    * band-bucket matches, never batch×batch or corpus×corpus. Returns
    * `(new_id, dup_of, jaccard)` with `jaccard ≥ threshold`.
    *
    * Scale: the batch's banded signature table is tiny by nature, so it
    * is BROADCAST against the corpus bands — the corpus is never
    * shuffled on the band key (contrast the self-join in [[minhashLsh]],
    * where neither side can broadcast). Per increment the corpus still
    * pays one scan + one signature aggregation; at 100 TB persist the
    * corpus signature/shingle tables once (they are id-keyed and
    * append-only) and each increment's cost drops to the batch scan plus
    * one bucket probe. */
  def minhashLshAgainst(
      newDocs: DataFrame,
      corpus: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    // cut: actions — the candidate cut's job and the verify plan read both
    val shNew = shingled(newDocs, id, text, k).transform(Materialize.cut)
    val shCorpus = shingled(corpus, id, text, k).transform(Materialize.cut)
    minhashLshAgainstTables(
      shNew,
      bandTable(shCorpus, id, numHashes, bands),
      shCorpus,
      id, numHashes, bands, threshold)
  }

  /** Public banded-signature builder over a shingled `(id, s)` table —
    * the persistable corpus probe side of the incremental near-dup
    * path: at scale the archive's band (and shingle) tables are built
    * ONCE, appended per increment, and every future batch probes them
    * without re-scanning archived documents
    * ([[minhashLshAgainstTables]];
    * [[graft.streaming.StreamLog.nearDupIngest]] is the live loop). */
  def bandTable(
      sh: DataFrame,
      id: String = "doc_id",
      numHashes: Int = 16,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    bandedFromHashedPairs(hashedShinglePairs(sh, id), id, numHashes, bands)
  }

  /** [[minhashLshAgainst]] with the corpus side passed as PREBUILT
    * band + shingled tables (both id-keyed, append-only — persist them
    * once and each increment costs the batch scan plus one bucket
    * probe, the 100 TB shape the [[minhashLshAgainst]] scaladoc
    * promises). The verify step prunes the corpus shingle read to
    * candidate docs (semi-join on the materialized candidate table)
    * before building hash sets, so verify traffic is
    * candidate-proportional, not corpus-proportional. */
  def minhashLshAgainstTables(
      shNew: DataFrame,
      corpusBands: DataFrame,
      corpusShingles: DataFrame,
      id: String = "doc_id",
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val cands = broadcast(
      bandedFromHashedPairs(hashedShinglePairs(shNew, id), id, numHashes, bands)
        .withColumnRenamed(id, "new_id"))
      .join(
        corpusBands.withColumnRenamed(id, "dup_of"),
        Seq("band_id", "band_hash"))
      // a batch doc whose id ALREADY EXISTS in the corpus (re-crawl of
      // a known page) would trivially band-match itself and come back
      // as "duplicate of itself, jaccard 1.0" — the same self-pair
      // guard every self-join variant applies via a_id < b_id
      .filter(col("new_id") =!= col("dup_of"))
      .select("new_id", "dup_of")
      .distinct()
      // cut: measured — the semi-join and the verify re-run the band probe uncut: sf0.01 best 1.074 → 1.174 s
      .transform(Materialize.cut)
    val shCand = corpusShingles
      .join(cands.select(col("dup_of").as(id)), Seq(id), "left_semi")
    jaccardVerify(cands, shNew, shCand, id, "new_id", "dup_of", threshold)
  }

  /** Per-doc SimHash over whitespace tokens (with multiplicity), `bits`
    * wide. One aggregation with `bits` bit-count columns instead of a
    * bits× token explode: per bit j, `w_j = 2·ones_j − n`, so
    * `w_j > 0 ⟺ 2·ones_j > n` — identical sign, single shuffle. */
  def simhashSignatures(
      tokens: DataFrame,
      id: String,
      tok: String,
      bits: Int): DataFrame = {
    val h = Hashing.md5Long(col(tok))
    val ones = (0 until bits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"o$j"))
    val aggs = count(lit(1)).as("n") +: ones
    val simhash = (0 until bits)
      .map(j => when(col(s"o$j") * 2 > col("n"), lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    tokens
      .withColumn("h", h)
      .groupBy(id)
      .agg(aggs.head, aggs.tail: _*)
      .select(col(id), simhash.as("simhash"))
  }

  /** [[simhashSignatures]] straight off token ARRAYS — one codegen'd
    * per-row fold ([[graft.functions.expressions.SimhashTokens]]), so
    * the signature stage is a shuffle-free projection instead of an
    * explode + `bits`-column aggregate. Bit-identical output
    * (spec-asserted parity); prefer this path whenever the tokens are
    * already an array column. */
  def simhashSignaturesFromTokens(
      toks: DataFrame,
      id: String,
      tokArr: String,
      bits: Int): DataFrame =
    // zero-token docs are dropped HERE so every consumer matches the
    // explode formulation (where an empty array contributes no rows and
    // the doc never reaches the groupBy) — without this a whitespace-only
    // doc gets signature 0 and band-pairs with every other empty doc
    toks
      .filter(size(col(tokArr)) > 0)
      .select(
        col(id),
        ColumnBridge
          .column(
            graft.functions.expressions
              .SimhashTokens(ColumnBridge.expression(col(tokArr)), bits))
          .as("simhash"))

  /** 120-bit signatures `(id, sim_lo, sim_hi)` straight off token
    * ARRAYS — the wide sibling of [[simhashSignaturesFromTokens]] for
    * corpora past 60-bit band-space saturation (≥10⁷ docs at radius 6:
    * narrow bands have ≤2⁹ buckets and candidates grow ~n²/2816; wide
    * bands have 2¹⁵–2²⁰). One codegen'd fold, ONE md5 per token for
    * both halves; `sim_lo` is bit-identical to the narrow bits = 60
    * signature. Zero-token docs are dropped (explode semantics), as in
    * the narrow path. */
  def simhashSignaturesWide(
      toks: DataFrame,
      id: String,
      tokArr: String): DataFrame = {
    val sig = ColumnBridge.column(
      graft.functions.expressions
        .SimhashTokensWide(ColumnBridge.expression(col(tokArr))))
    toks
      .filter(size(col(tokArr)) > 0)
      .select(col(id), sig.as("sig2"))
      .select(
        col(id),
        element_at(col("sig2"), 1).as("sim_lo"),
        element_at(col("sig2"), 2).as("sim_hi"))
  }

  /** EVEN pigeonhole band table over the 120-bit fingerprint treated as
    * ONE bit string: `maxHamming + 1` disjoint bands `(band_id, offset,
    * len)` with offsets in 0…119, widths `⌊120/n⌋` or `⌈120/n⌉`. Bands
    * may SPAN the word boundary — [[wideBandBits]] stitches the two
    * halves with shift+mask, and the oracle replays the identical
    * stitch. Evenness is the scale property: the earlier word-aligned
    * layout's 4 × 15-bit bands capped the smallest bucket space at
    * 2¹⁵, which a fifth-decade measurement (5M docs, r4 ≈ 21) showed
    * saturating one decade after the 60-bit geometry; the even
    * radius-6 layout (1 × 18 + 6 × 17 bits) keeps every bucket space
    * ≥ 2¹⁷ — saturation pushed ~4× further out with zero result change
    * (exactness needs only ≥ maxHamming + 1 disjoint bands, and the
    * exact hamming verify makes the pair set layout-invariant). */
  def wideBandLayout(maxHamming: Int): Seq[(Int, Int, Int)] = {
    val nBands = maxHamming + 1
    // radius 0 would make the single band 120 bits wide — wider than the
    // 64-bit band key [[wideBandBits]] stitches (hi bits would be
    // silently dropped, and the two engines' `<< 60` overflow semantics
    // differ). Radius-0 (exact) dedup is [[exactDuplicates]]' job; every
    // radius ≥ 1 keeps band width ≤ 60 and the stitch lossless.
    require(
      maxHamming >= 1 && nBands <= 120,
      s"radius $maxHamming out of range (1..119; use exact dedup for radius 0)")
    val base = 120 / nBands
    val extra = 120 % nBands
    val offs = (0 until nBands).scanLeft(0) { (o, j) =>
      o + base + (if (j < extra) 1 else 0)
    }
    (0 until nBands).map(j => (j, offs(j), base + (if (j < extra) 1 else 0)))
  }

  /** Extract band bits `[off, off+len)` of the 120-bit fingerprint from
    * its two non-negative 60-bit words — one shift+mask when the band
    * lies in a single word, a two-sided stitch when it spans. */
  private def wideBandBits(
      off: Int,
      len: Int,
      lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (off + len <= 60)
      shiftright(lo, off).bitwiseAND(lit((1L << len) - 1))
    else if (off >= 60)
      shiftright(hi, off - 60).bitwiseAND(lit((1L << len) - 1))
    else {
      val takeLo = 60 - off
      shiftright(lo, off)
        .bitwiseAND(lit((1L << takeLo) - 1))
        .bitwiseOR(
          shiftleft(hi.bitwiseAND(lit((1L << (len - takeLo)) - 1)), takeLo))
    }

  /** [[simhashPairs]] over the 120-bit fingerprint: same shape (band
    * explode → shuffle_hash self-join → exact hamming verify), with
    * hamming summed across the two words and bands from
    * [[wideBandLayout]]. Same output contract `(a_id, b_id, hamming)`,
    * `a_id < b_id`. No fence and no cut: the self-join's two sides are
    * one subtree up to the band-key exchange, which AQE reuses. */
  def simhashPairsWide(
      simhashes: DataFrame,
      id: String = "doc_id",
      maxHamming: Int = 6): DataFrame = {
    val bands = wideBandLayout(maxHamming).map { case (bid, off, len) =>
      struct(
        lit(bid).as("band_id"),
        wideBandBits(off, len, col("sim_lo"), col("sim_hi")).as("band_bits"))
    }
    val banded = simhashes
      .select(
        col(id),
        col("sim_lo"),
        col("sim_hi"),
        explode(array(bands: _*)).as("b"))
      .select(
        col(id),
        col("sim_lo"),
        col("sim_hi"),
        col("b.band_id"),
        col("b.band_bits"))
      .hint("shuffle_hash")
    banded
      .as("x")
      .join(
        banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_bits") === col("y.band_bits") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(
        col(s"x.$id").as("a_id"),
        col("x.sim_lo").as("a_lo"),
        col("x.sim_hi").as("a_hi"),
        col(s"y.$id").as("b_id"),
        col("y.sim_lo").as("b_lo"),
        col("y.sim_hi").as("b_hi"))
      .distinct()
      .withColumn(
        "hamming",
        expr("CAST(bit_count(a_lo ^ b_lo) + bit_count(a_hi ^ b_hi) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Measured band-space saturation onset of the 60-bit geometry at the
    * default radius 6: past ~10⁶ docs the narrow bands (≤ 2¹⁰ buckets on
    * the small bands) saturate and candidates grow ~n²/2816 (five-decade
    * scaling ledger: r3 = 11.2/20.8 vs the wide layout's 2.78/2.86), so
    * [[simhashPairs]] fences there by default and points callers at
    * [[simhashPairsWide]]. */
  val SimhashNarrowFenceDocs = 1000000L

  /** SimHash near-dup: pairs within `maxHamming`. Candidates come from
    * `maxHamming + 1` disjoint bit-bands — by pigeonhole any pair within
    * the radius agrees on at least one band, so the band equi-join is
    * *exact*, replacing the O(n²) pair scan with a hash join.
    *
    * LEGACY GEOMETRY with a size fence: the 60-bit fingerprint is kept
    * for existing pipelines, but its band space saturates past
    * [[SimhashNarrowFenceDocs]] (measured superlinear — see the
    * constant's doc), so a corpus larger than `fenceDocs` throws with a
    * pointer to the scale-safe 120-bit [[simhashPairsWide]] instead of
    * silently going quadratic. `fenceDocs = 0` opts out (the explicit
    * "I know it's superlinear" escape hatch); the doc count rides the
    * already-materialized band table (banded rows / nBands — one cheap
    * count off checkpointed blocks, no recompute). */
  def simhashPairs(
      simhashes: DataFrame,
      id: String = "doc_id",
      bits: Int = 60,
      maxHamming: Int = 6,
      fenceDocs: Long = SimhashNarrowFenceDocs): DataFrame = {
    val nBands = maxHamming + 1
    val base = bits / nBands
    val extra = bits % nBands // first `extra` bands get one more bit
    val offsets = (0 until nBands).scanLeft(0) { (off, j) =>
      off + base + (if (j < extra) 1 else 0)
    }
    val bands = (0 until nBands).map { j =>
      val off = offsets(j)
      val len = base + (if (j < extra) 1 else 0)
      struct(
        lit(j).as("band_id"),
        shiftright(col("simhash"), off)
          .bitwiseAND(lit((1L << len) - 1))
          .as("band_bits"))
    }
    // shuffle_hash for the same reason as in minhashLsh: no broadcast of
    // a per-doc table, and both sides shuffle on the band key.
    val banded = simhashes
      .select(col(id), col("simhash"), explode(array(bands: _*)).as("b"))
      .select(col(id), col("simhash"), col("b.band_id"), col("b.band_bits"))
      .transform(Materialize.cut) // cut: actions — the fence's count and the pair plan both read it
      .hint("shuffle_hash")
    if (fenceDocs > 0L) {
      val nDocs = banded.count() / nBands // each doc emits exactly nBands rows
      require(
        nDocs <= fenceDocs,
        s"simhashPairs: $nDocs docs exceed the $fenceDocs-doc fence of the " +
          "legacy 60-bit geometry (band space saturates, candidates grow " +
          "~n^2/2816 past ~10^6 docs — measured). Use simhashPairsWide " +
          "(120-bit, scale-safe) or pass fenceDocs = 0 to opt out.")
    }
    banded
      .as("x")
      .join(
        banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_bits") === col("y.band_bits") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(
        col(s"x.$id").as("a_id"),
        col("x.simhash").as("a_sim"),
        col(s"y.$id").as("b_id"),
        col("y.simhash").as("b_sim"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(a_sim ^ b_sim) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Both directions `(src, dst)` of every `(a_id, b_id)` pair, cut:
    * the edge table every round of [[duplicateClusters]], [[pairRank]],
    * [[bfsDistances]] and [[kCore]] joins. One explode pass, NOT a
    * two-select union — a union embeds (and the cut job executes) the
    * whole upstream pair pipeline once per branch. */
  private def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(
        explode(
          array(
            struct(col("a_id").as("src"), col("b_id").as("dst")),
            struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .transform(Materialize.cut) // cut: loop — every round joins it; uncut, each round embeds the pair pipeline

  /** Connected components over duplicate pairs — the step that turns
    * near-dup PAIRS into dedup DECISIONS (keep one id per component).
    * Min-label propagation: each round every node adopts the smallest
    * component label among itself and its neighbours, converging in
    * O(diameter) rounds ≤ O(log n) for near-dup cliques. The driver loop
    * is over ROUNDS, not data; each round is one distributed join +
    * aggregate, lineage cut per round so plans stay flat.
    * Returns `(id, comp)` where `comp` is the component's minimum id —
    * `filter(id === comp)` yields the canonical survivors.
    *
    * Lineage cuts (one per round) go through
    * [[graft.operators.Materialize.cut]], so a session checkpoint dir
    * makes the rounds survive executor loss — the right 100 TB setting,
    * at the price of one distributed write per round. Reliable mode
    * leaves one label-table snapshot per round in that dir unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` lets Spark
    * GC superseded ones — set it (or clear the dir after the run) for
    * long jobs. */
  def duplicateClusters(pairs: DataFrame): DataFrame = {
    val edges = symmetricEdges(pairs)
    // cut: loop — the first round's state; each round replaces it
    var labels = Materialize.cut(
      edges
        .select(col("src").as("id"))
        .distinct()
        .withColumn("comp", col("id")))
    // the changed-count rides the cut's materialization job as an
    // observed metric (r15, guide §2.4): one job + one pass per
    // round instead of cut-then-recount
    var changed = 1L
    while (changed > 0) {
      val propagated = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("comp").as("nbr_comp"))
      // cut: loop — bounds the label lineage and carries the changed-count
      val (updated, m) = Materialize.cutObserved(
        labels
          .join(propagated, Seq("id"), "left")
          .select(
            col("id"),
            col("comp"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("next")),
        "changed" -> count(when(col("next") < col("comp"), 1)))
      changed = m("changed").asInstanceOf[Long]
      labels = updated.select(col("id"), col("next").as("comp"))
    }
    labels
  }

  /** Apply dedup decisions: keep only each component's canonical doc.
    * `clusters` is [[duplicateClusters]] output `(id, comp)`; documents
    * never named in any pair are kept unchanged (they are their own
    * canonical). One broadcast-or-shuffle anti join of the corpus
    * against the (small) non-canonical id set — the corpus itself never
    * reshuffles. */
  def keepCanonical(
      docs: DataFrame,
      clusters: DataFrame,
      id: String = "doc_id"): DataFrame = {
    val dropIds = clusters
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(id))
    docs.join(dropIds, Seq(id), "left_anti")
  }

  /** Pairwise embedding cosine ≥ `threshold`. With `restrictKey = None`
    * this is the all-pairs oracle-verifiable baseline — quadratic by
    * construction, route through [[graft.similarity.Ann]] buckets at
    * corpus scale. With `restrictKey = Some(k)` pairs are restricted to
    * equal-`k` rows (an equi-join, so the quadratic blow-up is bounded
    * per key — the SemDeDup shape, see
    * [[graft.clustering.Clustering.semanticPairs]]) and `k` is carried
    * in the output. One definition so the score formula (sequential
    * dot, round 6) cannot drift between the two paths. */
  def embeddingCosine(
      embs: DataFrame,
      id: String = "vec_id",
      vec: String = "v",
      nrm: String = "nrm",
      threshold: Double = 0.45,
      restrictKey: Option[String] = None): DataFrame = {
    val extra = restrictKey.toSeq
    val aSide = embs.select(
      col(id).as("a_id") +: col(vec).as("a_v") +: col(nrm).as("a_nrm") +:
        extra.map(col): _*)
    val bSide = embs.select(
      col(id).as("b_id") +: col(vec).as("b_v") +: col(nrm).as("b_nrm") +:
        extra.map(col): _*)
    val pairs = restrictKey match {
      case Some(k) => aSide.join(bSide, Seq(k)).filter(col("a_id") < col("b_id"))
      case None    => aSide.join(bSide, col("a_id") < col("b_id"))
    }
    pairs
      .withColumn(
        "cos",
        round(
          VectorFns.dot(col("a_v"), col("b_v")) /
            VectorFns.safeDen(col("a_nrm"), col("b_nrm")),
          6))
      .filter(col("cos") >= threshold)
      .select(("a_id" +: "b_id" +: extra :+ "cos").map(col): _*)
  }

  /** Banded random-hyperplane cosine LSH near-duplicate pairs — the
    * scale path for embedding dedup, and the registered `q_dedup_embed`
    * plan ([[embeddingCosine]] without a restrict key is the all-pairs
    * recall baseline, spec-only). Candidate pairs are rows sharing at
    * least one of `bands` sign signatures (`bitsPerBand` deterministic
    * hyperplanes each, baked into the plan as literals); candidates are
    * deduplicated on ids alone (8-byte rows through the distinct, never
    * vectors) and then exactly cosine-verified. Same output columns as
    * [[embeddingCosine]]: `(a_id, b_id, cos)`.
    *
    * Scale shape: the band self-join is an equi-join on
    * `(band_id, band_sig)` — candidates ∝ Σ bucket², never n² — and it
    * shuffles both sides (`shuffle_hash`): band tables are
    * corpus-sized, so a broadcast would ship the corpus. Recall < 1 by
    * design (a pair at angle θ collides with prob
    * 1−(1−(1−θ/π)^bits)^bands); the banded candidate set IS the
    * operator contract, and the DuckDB oracle reproduces the identical
    * planes/bands bit-for-bit, so the correctness gate checks the whole
    * pipeline, not just the verify step. */
  def embeddingCosineLsh(
      embs: DataFrame,
      id: String = "vec_id",
      vec: String = "v",
      nrm: String = "nrm",
      threshold: Double = 0.45,
      bands: Int = 8,
      bitsPerBand: Int = 4,
      dim: Int = 64): DataFrame = {
    // one codegen'd expression computes ALL band signatures per vector
    // (BandSignatures — the plan stays O(1) at lshTune'd geometry where
    // per-plane literals made plan compile the dominant cost); both
    // self-join sides are one subtree up to the band-key exchange,
    // which AQE reuses, so the dot products run once
    val banded = embs
      .select(
        col(id),
        posexplode(VectorFns.bandSignatures(col(vec), bands, bitsPerBand, dim)))
      .select(col(id), col("pos").as("band_id"), col("col").as("band_sig"))
      .hint("shuffle_hash")
    val cands = banded
      .as("x")
      .join(
        banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_sig") === col("y.band_sig") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("a_id"), col(s"y.$id").as("b_id"))
      .distinct()
    cands
      .join(
        embs
          .select(col(id).as("a_id"), col(vec).as("a_v"), col(nrm).as("a_nrm"))
          .hint("shuffle_hash"),
        "a_id")
      .join(
        embs
          .select(col(id).as("b_id"), col(vec).as("b_v"), col(nrm).as("b_nrm"))
          .hint("shuffle_hash"),
        "b_id")
      .withColumn(
        "cos",
        round(
          VectorFns.dot(col("a_v"), col("b_v")) /
            VectorFns.safeDen(col("a_nrm"), col("b_nrm")),
          6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
  }

  /** Thresholds below this route through k-means co-cluster candidates
    * instead of sign-LSH bands. Sign-agreement probability for a pair at
    * cosine s is p = 1 − arccos(s)/π, so the banded candidate-volume
    * exponent ρ = ln p₁ / ln p₂ (p₂ = ½ for random pairs) degrades as s
    * falls: at s = 0.9, p₁ = 0.856 → ρ ≈ 0.22 and recall 0.998 — bands
    * are the right tool; at s = 0.45, p₁ = 0.649 → ρ ≈ 0.62 and
    * candidates grow ~n^1.6 NO MATTER how bands×bits are retuned (the
    * r7 scaling flag: r2 = 26.4 at sf1). Near and below the sign-LSH
    * useful range, constant-size k-means cells keep candidates linear. */
  val EmbeddingLshCrossover = 0.6

  /** Auto-tuned `(bands, bitsPerBand)` for a sign-LSH pass at
    * `threshold` over `n` vectors. Fixed band geometry is the scale trap
    * the r7 bench caught: 4-bit bands give 16 buckets per band FOREVER,
    * so random-pair collisions — ~n²·2^(1-bits) of them — go quadratic
    * no matter the threshold (measured: 86.7 s at 20k vectors for what
    * 2k vectors did in 3.3 s). Tuning rule:
    *
    *  - `bits` from the collision budget: 2^bits ≥
    *    n·bands/(2·candidatesPerRow) caps EXPECTED uniform random
    *    collisions (≈ bands·n²/2^(bits+1)) at candidatesPerRow·n —
    *    linear in n (floor 4 keeps tiny corpora sane);
    *  - `bands` from the recall target: per-band match prob is p₁^bits
    *    with p₁ = 1 − arccos(threshold)/π, so
    *    bands = ⌈ln(1−recall)/ln(1−p₁^bits)⌉.
    *
    * At s = 0.9: n = 525 → (14 bands × 8 bits); n = 20k → (45 × 15) —
    * plane work per vector grows ~log²n, candidates stay ∝ n. */
  def lshTune(
      n: Long,
      threshold: Double,
      recallTarget: Double = 0.99,
      candidatesPerRow: Double = 10.0): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "sign-LSH tuning needs 0 < threshold < 1")
    val p1 = 1.0 - math.acos(threshold) / math.Pi
    // two passes: the collision budget and the recall target couple
    // through the band count (expected uniform random collisions ≈
    // bands·n²/2^(bits+1)), so bits are solved with a bands-free
    // estimate first, then re-solved at the resulting band count
    def bitsFor(bands: Double): Int = math.max(
      4,
      math
        .ceil(math.log(n.toDouble * bands / (2.0 * candidatesPerRow)) / math.log(2.0))
        .toInt)
    def bandsFor(bits: Int): Int = math.max(
      1,
      math
        .ceil(math.log1p(-recallTarget) / math.log1p(-math.pow(p1, bits.toDouble)))
        .toInt)
    val bits = bitsFor(bandsFor(bitsFor(1.0)).toDouble)
    (bandsFor(bits), bits)
  }

  /** Threshold-routed embedding near-dup front-end — the single entry a
    * pipeline calls, with the 100 TB routing EXECUTABLE rather than a
    * tuning note:
    *
    *  - `threshold ≥` [[EmbeddingLshCrossover]]: banded random-hyperplane
    *    cosine LSH ([[embeddingCosineLsh]]) with [[lshTune]]d band
    *    geometry — candidates ∝ n and recall ≥ `recallTarget` at the
    *    registered threshold, at any corpus size.
    *  - `threshold <` crossover: SemDeDup k-means co-cluster candidates
    *    ([[graft.clustering.Clustering.semanticPairs]] over
    *    [[graft.clustering.Clustering.kmeansAssignAuto]]) — k scales
    *    with the corpus to hold cluster size ≈ `targetClusterSize`, so
    *    candidate volume stays ∝ n where banded LSH goes ~n^1.6.
    *
    * Both routes share the pair contract: `(a_id, b_id, cos)` with
    * `a_id < b_id`, candidates deterministically bucketed then exactly
    * cosine-verified — the bucketing IS the operator contract, and each
    * route (at the parameters the tuner resolves for a given corpus
    * size) is reproducible bit-for-bit by a SQL oracle. `embs` is
    * scanned multiple times on either route (count + candidate build) —
    * materialize it upstream. */
  def embeddingNearDups(
      embs: DataFrame,
      id: String = "vec_id",
      vec: String = "v",
      nrm: String = "nrm",
      threshold: Double = 0.45,
      dim: Int = 64,
      targetClusterSize: Int = 200,
      minClusters: Int = 10,
      kmeansIters: Int = 2,
      recallTarget: Double = 0.99,
      candidatesPerRow: Double = 10.0): DataFrame =
    if (threshold >= EmbeddingLshCrossover) {
      val (bands, bits) =
        lshTune(embs.count(), threshold, recallTarget, candidatesPerRow)
      embeddingCosineLsh(embs, id, vec, nrm, threshold, bands, bits, dim)
    } else {
      val assign = graft.clustering.Clustering.kmeansAssignAuto(
        embs, id, vec, nrm, targetClusterSize, minClusters, kmeansIters, dim)
      graft.clustering.Clustering
        .semanticPairs(embs, assign, id, vec, nrm, threshold)
        .select("a_id", "b_id", "cos")
    }

  /** Passage-level exact dedup (the C4 "drop duplicated spans" shape):
    * each doc is cut into non-overlapping `window`-token passages; every
    * passage whose exact text appears in ≥ `minDocs` DISTINCT docs is
    * dropped corpus-wide, and the surviving passages are reassembled in
    * order. Returns `(id, clean_text, n_kept, n_dropped)` for every
    * input doc (`clean_text` empty when nothing survives).
    *
    * Scale shape: passages ∝ corpus tokens / window. The passage
    * document-frequency count is two-phase (distinct (passage-hash, doc)
    * pairs first) because boilerplate passages are exactly the skewed
    * keys; the df probe joins on the 60-bit passage hash — an 8-byte
    * shuffle key, never the passage text. Reassembly is one (id)
    * aggregation: `sort_array` of (pos, passage) structs restores
    * document order without a per-group window sort. */
  def passageDedup(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      window: Int = 10,
      minDocs: Int = 2): DataFrame = {
    val toks = docs.select(
      col(id),
      expr(s"filter(split($text, ' '), x -> length(x) > 0)").as("t"))
    // n_chunks as integer arithmetic; sequence() is guarded because
    // sequence(0, -1) yields [0, -1] (descending), not an empty array
    val passages = toks
      .filter(size(col("t")) > 0)
      .select(
        col(id),
        posexplode(
          expr(s"""transform(
                  |  sequence(0, CAST((size(t) + ${window - 1}) DIV $window AS INT) - 1),
                  |  i -> array_join(slice(t, i * $window + 1, $window), ' '))""".stripMargin))
          .as(Seq("pos", "passage")))
      .withColumn("h", Hashing.md5Long(col("passage")))
      // cut: measured — df count, probe and reassembly re-tokenize uncut: sf0.01 best 0.795 → 0.855 s
      .transform(Materialize.cut)
    val hot = passages
      .select(col("h"), col(id))
      .distinct()
      .groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(true).as("is_hot"))
    // flag join + ONE aggregate: totals, kept counts, and the ordered
    // reassembly come out of the same (id) shuffle — collect_list skips
    // the nulls the `when` leaves on hot passages
    val rebuilt = passages
      .join(hot, Seq("h"), "left")
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("is_hot").isNull, 1)).as("n_kept"),
        array_join(
          transform(
            sort_array(
              collect_list(
                when(col("is_hot").isNull, struct(col("pos"), col("passage"))))),
            x => x.getField("passage")),
          " ").as("clean_text"))
    // column-pruned id scan so zero-token docs still get a report row
    docs
      .select(col(id))
      .join(rebuilt, Seq(id), "left")
      .select(
        col(id),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_total"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** Line-level exact dedup (the RefinedWeb "remove duplicated lines"
    * shape, complementing [[passageDedup]]'s token-window granularity):
    * each doc is split on newlines, every non-blank line whose exact
    * text appears in ≥ `minDocs` DISTINCT docs is dropped corpus-wide
    * (navigation chrome, cookie banners, boilerplate footers), and the
    * surviving lines are reassembled in order. Blank/whitespace-only
    * lines are never counted as boilerplate and always survive. Returns
    * `(id, clean_text, n_kept, n_dropped)` for every input doc.
    *
    * Scale shape mirrors [[passageDedup]]: the line document-frequency
    * count is two-phase (distinct (line-hash, doc) pairs first — the
    * boilerplate lines ARE the skewed keys), the hot-line probe joins on
    * the 60-bit hash, and reassembly is one (id) aggregation with a
    * `sort_array` of (pos, line) structs. */
  def lineDedup(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      minDocs: Int = 2): DataFrame = {
    val lines = docs
      .select(col(id), posexplode(split(col(text), "\n")).as(Seq("pos", "line")))
      .withColumn("h", Hashing.md5Long(col("line")))
    val hot = lines
      .filter(trim(col("line")) =!= "")
      .select(col("h"), col(id))
      .distinct()
      .groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(true).as("is_hot"))
    val rebuilt = lines
      .join(hot, Seq("h"), "left")
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("is_hot").isNull, 1)).as("n_kept"),
        array_join(
          transform(
            sort_array(
              collect_list(
                when(col("is_hot").isNull, struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n").as("clean_text"))
    docs
      .select(col(id))
      .join(rebuilt, Seq(id), "left")
      .select(
        col(id),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_total"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** PageRank over the duplicate-pair graph — centrality-based
    * canonical selection (the "which copy is the hub" complement of
    * [[duplicateClusters]]' min-label membership). Undirected: each
    * pair contributes both directed edges.
    *
    * Fixed-point integer arithmetic end to end: ranks live in
    * micro-units (1.0 → 1,000,000), damping 0.85 is the exact ratio
    * 17/20 applied as `(rank * 17) DIV (20 * deg)`, and contribution
    * sums are int64 — addition order cannot change the result, so the
    * DuckDB oracle reproduces every iteration bit-for-bit (same trick
    * as the k-means fixed-point centroids). No dangling nodes exist
    * (every node of an undirected pair graph has degree ≥ 1), so no
    * teleport-mass correction is needed.
    *
    * Per iteration: one join of the edge table with the rank table and
    * one aggregate — both on the node key. Only `edges`/`deg` are
    * materialized (every iteration consumes them; unmaterialized, the
    * whole upstream pair pipeline would re-run per round). The rank
    * chain itself is a straight-line DAG each stage of which is
    * consumed exactly once, so the final action executes it once —
    * no per-round cut needed for a small fixed `iters` (cut it too if
    * you push iters high enough for plan depth to bite). */
  def pairRank(pairs: DataFrame, iters: Int = 5): DataFrame = {
    val edges = symmetricEdges(pairs)
    // cut: loop — every round joins it; uncut, each round embeds the pair pipeline
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).transform(Materialize.cut)
    var ranks = deg.withColumn("pr", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, "src")
        .select(col("dst"), expr("(pr * 17) DIV (20 * deg)").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("in_pr"))
      ranks = deg
        .join(contrib, deg("src") === contrib("dst"))
        .select(col("src"), col("deg"), (lit(150000L) + col("in_pr")).as("pr"))
    }
    ranks.select(col("src").as("doc_id"), col("deg"), col("pr"))
  }

  /** Multi-source BFS over the undirected pair graph: minimum hop
    * distance from any seed node, capped at `maxHops` (the "blast
    * radius" query — which docs sit within k dedup-edges of a flagged
    * set; also the contamination-spread primitive when seeds are
    * benchmark-matched docs).
    *
    * Level-synchronous frontier expansion: `maxHops` rounds of
    * (frontier ⋈ edges) minus already-visited — each round is one
    * node-key shuffle join + an anti-join, frontiers only shrink the
    * unvisited set, and a node's recorded dist is its FIRST (= minimum)
    * reach round, so no min-aggregate is ever needed. Edges and each
    * round's outputs are materialized (every round's jobs consume
    * them: expansion + visited-set exclusion); all joins are on node
    * keys — never quadratic in nodes. Isolated seeds still report
    * dist 0 (they are in the answer set by definition). */
  def bfsDistances(pairs: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val edges = symmetricEdges(pairs)
    var visited = seeds
      .select(col("doc_id").as("id"), lit(0L).as("dist"))
      .transform(Materialize.cut) // cut: loop — the first hop's frontier and visited set
    var frontier = visited
    for (h <- 1 to maxHops) {
      val next = frontier
        .join(edges.hint("shuffle_hash"), col("id") === col("src"))
        .select(col("dst").as("id"))
        .distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(h.toLong).as("dist"))
        .transform(Materialize.cut) // cut: loop — next hop's frontier and this hop's visited union
      visited = visited.unionByName(next).transform(Materialize.cut) // cut: loop — bounds the visited lineage
      frontier = next
    }
    visited.select(col("id").as("doc_id"), col("dist"))
  }

  /** k-core decomposition of the near-dup graph: iteratively peel
    * nodes of degree < k until the remainder is stable — the standard
    * "dense template cluster" extractor (a 2-core keeps only docs
    * embedded in multi-edge duplicate structure; stray pairwise
    * matches fall away). Level-synchronous peeling: each round is one
    * degree aggregate + two semi joins on the node key, all keyed
    * exchanges — no driver-side graph state, only the loop counter.
    * `rounds` is FIXED (not until-stable) so the operator is a
    * deterministic straight-line DAG; callers pick rounds ≥ the
    * observed convergence depth (peeling depth is bounded by the
    * longest degree-< k chain, small on near-dup graphs whose
    * components are template cliques).
    *
    * Returns surviving (doc_id, degree) — degree within the core. */
  def kCore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = symmetricEdges(pairs)
    for (_ <- 1 to rounds) {
      val keep = edges
        .groupBy("src")
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("node"))
      edges = edges
        .join(keep.hint("shuffle_hash"), col("src") === col("node"), "left_semi")
        .join(keep.hint("shuffle_hash"), col("dst") === col("node"), "left_semi")
        .transform(Materialize.cut) // cut: loop — bounds the peeled edge lineage per round
    }
    edges
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("degree"))
  }

  /** Connected components by alternating large-star / small-star
    * contractions (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the corpus-scale alternative to
    * [[duplicateClusters]]' min-label propagation. Propagation
    * converges in O(diameter) rounds (a D-doc chain needs D rounds,
    * each a full edge-table join); the star contractions converge in
    * O(log² n) rounds regardless of topology, and every round is two
    * neighborhood aggregates + rewrites over the CURRENT edge set,
    * which only shrinks toward one star edge per non-root node. The
    * per-round operations:
    *
    *   large-star: per node u, m = min(N(u) ∪ {u}); every neighbor
    *     v > u re-wires to (v, m) — each undirected edge is emitted
    *     exactly once, from its smaller endpoint's neighborhood.
    *   small-star: per node u, every neighbor v < u re-wires to
    *     (v, m), plus the self edge (u, m) — roots keep their
    *     component connected while interior nodes collapse.
    *
    * Both emissions satisfy m ≤ v, so edges stay canonical
    * (larger, smaller) and a `distinct` dedups the round. Convergence
    * = the edge set is stable (checked with one count+hash-sum
    * aggregate per round — statistic-sized, like
    * [[duplicateClusters]]' changed-count); a non-converged exit
    * after `maxRounds` throws rather than returning silently
    * under-merged components (the k-core truncation lesson). At the
    * fixpoint the edge set IS the component star, so labels read off
    * one neighborhood aggregate: comp(u) = min(u, min N(u)).
    *
    * Output contract is identical to [[duplicateClusters]]:
    * `(id, comp)` with comp = the component's minimum id, one row per
    * node incident to at least one pair. */
  def connectedComponentsBigStar(
      pairs: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    def sym(e: DataFrame): DataFrame = e
      .select(
        explode(
          array(
            struct(col("a").as("u"), col("b").as("v")),
            struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // edge-set fingerprint (count + 30-bit per-edge hash sum, far from
    // int64 overflow at any realistic edge count) — observed on the
    // SAME job that cuts the round's edge table (r15, guide §2.4):
    // the separate stat job re-scanned + re-hashed every edge per round
    val statMetrics: Seq[(String, Column)] = Seq(
      "n" -> count(lit(1)),
      "h" -> coalesce(
        sum(
          Hashing.md5Long(
            concat(col("a").cast("string"), lit(":"), col("b").cast("string")))
            % lit(1000000007L)),
        lit(0L)))
    def cutStat(e: DataFrame): (DataFrame, (Long, Long)) = {
      // cut: loop — bounds the edge lineage per round and carries the fingerprint
      val (out, m) = Materialize.cutObserved(e, statMetrics: _*)
      (out, (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long]))
    }
    val (edges0, prev0) = cutStat(
      pairs
        .select(
          greatest(col("a_id"), col("b_id")).as("a"),
          least(col("a_id"), col("b_id")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
    var edges = edges0
    var prev = prev0
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val s1 = sym(edges)
      val n1 = s1.groupBy("u").agg(min("v").as("mn"))
      val large = s1
        .join(n1.hint("shuffle_hash"), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), least(col("u"), col("mn")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      val s2 = sym(large)
      val n2 = s2.groupBy("u").agg(min("v").as("mn"))
      val (small, cur) = cutStat(
        s2
          .join(n2.hint("shuffle_hash"), "u")
          .filter(col("v") < col("u"))
          .select(col("v").as("a"), least(col("u"), col("mn")).as("b"))
          .unionByName(
            n2.select(col("u").as("a"), least(col("u"), col("mn")).as("b")))
          .filter(col("a") =!= col("b"))
          .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
          .distinct())
      converged = cur == prev
      prev = cur
      edges = small
    }
    require(
      converged,
      s"large-star/small-star did not converge in $maxRounds rounds")
    sym(edges)
      .groupBy(col("u").as("id"))
      .agg(least(col("u"), min(col("v"))).as("comp"))
  }

  /** Classic sorted-neighborhood (SNM) near-dup blocking (Hernández &
    * Stolfo, SIGMOD'95): sort records by a key, compare each record
    * only to its `window − 1` successors in the sort order, then
    * verify candidates with exact shingle Jaccard. The third blocking
    * family beside hash-bucket (LSH) and prefix-filter (AllPairs) —
    * cheap, order-based, and the standard choice when near-duplicates
    * share sort-key prefixes (template expansions, versioned docs).
    *
    * Distributed shape: records are partitioned by the `blockChars`-
    * char key prefix and the sliding window runs WITHIN each block
    * (the distributed SNM compromise — a window can't span a cluster-
    * wide total order without a single-partition sort; pairs straddling
    * a block boundary are the documented miss, exactly the fixed-
    * window miss single-node SNM already accepts). Candidates per
    * record ≤ window−1 → candidate volume is linear in the corpus, the
    * cheapest generator of the family; the Jaccard verify joins the
    * exploded shingle table to the candidate pairs on the id keys. */
  def sortedNeighborhood(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      window: Int = 3,
      blockChars: Int = 4,
      k: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(window >= 2, "a 1-window compares nothing")
    val w = Window
      .partitionBy("block")
      .orderBy(col(text), col(id))
    val neighbors = (1 until window).map(i =>
      lead(col(id), i).over(w).as(s"n$i"))
    val cands = docs
      .withColumn("block", substring(col(text), 1, blockChars))
      .select(col(id) +: neighbors: _*)
      .select(col(id).as("x"), explode(array((1 until window).map(i => col(s"n$i")): _*)).as("y"))
      .filter(col("y").isNotNull)
      .select(
        least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"))
      .distinct()
    val ex = shingleRows(docs, id, text, k)
      .select(col(id), col("sz"), Hashing.md5Long(col("shingle")).as("h"))
    val exA = ex.select(col(id).as("a_id"), col("sz").as("a_sz"), col("h"))
    val exB = ex.select(col(id).as("b_id"), col("sz").as("b_sz"), col("h"))
    cands
      .join(exA.hint("shuffle_hash"), "a_id")
      .join(exB.hint("shuffle_hash"), Seq("b_id", "h"))
      .groupBy("a_id", "b_id", "a_sz", "b_sz")
      .agg(count(lit(1)).as("c"))
      .filter(
        col("c").cast("double") / (col("a_sz") + col("b_sz") - col("c")).cast("double")
          >= threshold)
      .select(
        col("a_id"),
        col("b_id"),
        round(
          col("c").cast("double") / (col("a_sz") + col("b_sz") - col("c")).cast("double"),
          6).as("jaccard"))
  }

  /** Asymmetric containment search: pairs where
    * `|A∩B| / |A| ≥ threshold` — the "small doc swallowed by a big
    * doc" shape Jaccard-based dedup structurally misses (a 50-shingle
    * quote inside a 5000-shingle page has J ≈ 0.01 but containment
    * 1.0; C4 calls these partial duplicates). Both directions are
    * reported: a row means a_id is contained in b_id.
    *
    * Scale shape: prefix filtering applies on the CONTAINED side
    * alone — pigeonhole over A: if B misses all of A's
    * ⌊(1−t)·|A|⌋+1 globally-RAREST shingles, the overlap is below
    * t·|A| — so candidates come from joining only A-prefix rows
    * against the full shingle table (cost ∝ prefix rows × bucket df,
    * never all-pairs, and the prefix picks the emptiest buckets).
    * Two PPJoin-style per-match filters then cut the candidate set
    * BEFORE the distinct/verify shuffle, which matters because bucket
    * df grows linearly with corpus size on boilerplate-heavy data:
    *  - '''length''': overlap ≤ |B|, so |B| < ⌈t·|A|⌉ can't qualify;
    *  - '''positional''': both docs' shingle lists sort by the same
    *    global (df, hash) order, so common tokens appear in the same
    *    relative order in both — at a match at positions (i, j) the
    *    overlap is ≤ 1 + min(|A|−i, |B|−j), and the TRUE pair's
    *    first common token always yields the maximal bound, so
    *    requiring the bound ≥ ⌈t·|A|⌉ is lossless.
    * Every true pair survives to the exact verify, which keeps the
    * output exact. */
  def containment(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      k: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    val eps = 1e-6
    // no shingle-array cut: the hashed (id, sz, h) rows below are the
    // only consumer, and they double as the verification hash-set
    // source (r14 — the old shape checkpointed the string arrays AND
    // intersected strings in the verify joins; the oracle counts
    // common h's, so hash sets match it bit-for-bit and move 8-byte
    // longs instead of shingle text)
    val rows = shingled(docs, id, text, k)
      .select(
        col(id),
        size(col("s")).cast("long").as("sz"),
        explode(col("s")).as("shingle"))
      .select(col(id), col("sz"), Hashing.md5Long(col("shingle")).as("h"))
      // cut: measured — freq, positions and hash sets each re-shingle uncut: sf0.01 best 0.974 → 1.526 s
      .transform(Materialize.cut)
    val freq = rows.groupBy("h").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(id).orderBy("f", "h")
    // every row's rank in its doc's global-(df, hash) order, read by
    // BOTH join sides (prefix selection on A, the positional bound on B)
    val posRows = rows
      .join(freq.hint("shuffle_hash"), "h")
      .withColumn("pos", row_number().over(w))
      .drop("f")
    val prefixA = posRows
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold - eps) + 1)
      .select(
        col(id).as("a_id"), col("h"),
        col("sz").as("a_sz"), col("pos").as("a_pos"))
    val alpha = ceil(col("a_sz") * threshold - eps) // required overlap
    val cands = prefixA
      .join(
        posRows
          .select(
            col(id).as("b_id"), col("h"),
            col("sz").as("b_sz"), col("pos").as("b_pos"))
          .hint("shuffle_hash"),
        Seq("h"))
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("b_sz") >= alpha) // length: overlap can't exceed |B|
      .filter( // positional: remaining overlap upper bound
        lit(1) + least(col("a_sz") - col("a_pos"), col("b_sz") - col("b_pos")) >= alpha)
      .select("a_id", "b_id")
      .distinct()
    // ONE hash-set table serves both verify sides; the
    // containment denominator is the distinct-shingle count sz (what
    // the oracle divides by), carried alongside the set
    val hs = rows
      .groupBy(id)
      // sorted for the merge-count verify kernel (see hashSetsFromHashed)
      .agg(first(col("sz")).as("sz"), sort_array(collect_list(col("h"))).as("hs"))
    cands
      .join(
        hs.select(col(id).as("a_id"), col("sz").as("a_sz"), col("hs").as("a_hs")),
        "a_id")
      .join(hs.select(col(id).as("b_id"), col("hs").as("b_hs")), "b_id")
      .withColumn(
        "common",
        ColumnBridge.column(
          graft.functions.expressions.SortedLongIntersectCount(
            ColumnBridge.expression(col("a_hs")),
            ColumnBridge.expression(col("b_hs")))))
      .withColumn(
        "containment",
        round(col("common").cast("double") / col("a_sz"), 6))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))
  }

  /** Per-node triangle counts over the duplicate-pair graph — the
    * clustering-coefficient numerator (how CLIQUE-LIKE each node's
    * dup neighborhood is; a near-dup cluster that is a path looks very
    * different from one that is a clique at the same size).
    *
    * Scale shape: the classic degree-orientation algorithm. Every
    * undirected edge is directed from its lower-(degree, id) endpoint
    * to the higher, which bounds every out-degree by O(√m) regardless
    * of skew (a node of degree d only KEEPS out-edges to neighbors of
    * degree ≥ d, and there can be at most 2m/d of those) — so the
    * wedge self-join is Σ outdeg² = O(m^1.5) worst case instead of the
    * unbounded Σ deg² a hub would cause, and each triangle is
    * enumerated exactly once (its lowest-order corner emits the one
    * wedge the closing edge matches). All three joins are equi-joins
    * on node keys; the tuple order is a post-join filter. The oriented
    * edge table is materialized once for its three consumers. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(
        explode(
          array(
            struct(col("a_id").as("src"), col("b_id").as("dst")),
            struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // cut: measured — the degree count and the orientation join each run the pair pipeline uncut: sf0.01 best 1.606 → 1.645 s
      .transform(Materialize.cut)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    // orient src → dst by (degree, id); carry dst's degree for the
    // wedge ordering so no re-join is needed
    val oriented = edges
      .join(deg, "src")
      .withColumnRenamed("d", "sd")
      .join(
        deg.select(col("src").as("dst"), col("d").as("dd")),
        "dst")
      .filter(
        col("sd") < col("dd") ||
          (col("sd") === col("dd") && col("src") < col("dst")))
      .select("src", "dst", "dd")
      // cut: measured — both wedge sides and the closing probe re-run it uncut: sf0.01 best 1.513 → 1.907 s
      .transform(Materialize.cut)
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("dd").as("vd"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("dd").as("wd"))
    val wedges = e1
      .join(e2, "src")
      .filter(col("vd") < col("wd") || (col("vd") === col("wd") && col("v") < col("w")))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tris = wedges.join(closing.hint("shuffle_hash"), Seq("v", "w"))
    tris
      .select(
        explode(array(col("src"), col("v"), col("w"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Winnowed document fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD
    * 2003 — the MOSS local fingerprinting scheme): per doc, hash every
    * ORDERED word k-gram, slide a window of `w` consecutive hashes, and
    * select each window's minimum (ties to the RIGHTMOST position — the
    * paper's rule, so adjacent windows re-select the same gram and the
    * kept set stays ≈ 2/(w+1) of positions). Guarantee: any two docs
    * sharing a run of ≥ w+k−1 tokens share at least one selected
    * fingerprint — the detection floor is a parameter, not luck (pure
    * min-hashing has no such floor; full k-gram indexing has no such
    * sparsity). Returns distinct `(id, pos, fp)` — pos is the 1-based
    * k-gram position, fp its 60-bit hash.
    *
    * Scale shape: one projection per row (array HOFs over the token
    * list — grams, window argmins, distinct — all inside codegen, no
    * explode until the selected ≈ n/(w+1) rows), so cost is linear in
    * token volume and the exploded output is a small fraction of it. */
  def winnowFingerprints(
      docs: DataFrame,
      id: String,
      text: String,
      k: Int = 3,
      w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val toks = filter(split(col(text), " "), t => length(t) > 0)
    // gram hashing via the fused kernel (r15, guide §4): the HOF
    // formulation allocated slice + concat_ws + digest-copy per gram;
    // the kernel fetches token bytes once per doc and digests each
    // gram's space-joined bytes directly — bit-equal hashes,
    // parity-pinned in FunctionsSpec
    val grams = ColumnBridge.column(
      graft.functions.expressions.GramHashes(
        ColumnBridge.expression(col("t")),
        k))
    // rightmost argmin of each w-window — the codegen'd monotonic-deque
    // kernel (r15, guide §4): the HOF formulation allocated two slices
    // + a reverse per window (~3·w·tokens arrays per doc); the kernel
    // is one O(tokens) pass, parity-pinned in FunctionsSpec. Short
    // docs (< w grams) come back as the same empty array.
    val sel = ColumnBridge.column(
      graft.functions.expressions.WinnowPositions(
        ColumnBridge.expression(col("hs")),
        w))
    docs
      .select(col(id), toks.as("t"))
      .select(col(id), grams.as("hs"))
      .select(col(id), col("hs"), explode(sel).as("pos"))
      .select(
        col(id),
        col("pos"),
        element_at(col("hs"), col("pos").cast("int")).as("fp"))
    // rows are distinct by construction: array_distinct dedups the
    // positions and (id, pos) is a key — no shuffle needed here
  }
}
