package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{Hashing, TextFns}
import graft.functions.expressions.Tokens
import graft.operators.Sampling

/** The end-to-end corpus-preparation pipeline, composed from the
  * library's operators — what a training-data job actually runs, in one
  * call:
  *
  *  1. '''decontaminate''': drop corpus docs sharing ≥ N distinct
  *     shingles with the benchmark set (broadcast bench shingles,
  *     linear corpus scan),
  *  2. '''exact dedup''': keep the minimum id per content hash,
  *  3. '''near-dup dedup''': MinHash+LSH pairs → connected components →
  *     keep each cluster's canonical doc,
  *  4. '''quality filter''': token count, punctuation and repetition
  *     ratios (same rounded metrics as the q_text_quality operator),
  *  5. '''sample''': deterministic hash split to the target fraction.
  *
  * Every stage is deterministic, so the WHOLE pipeline is
  * oracle-checkable (q_pipeline_e2e mirrors it as one DuckDB query).
  * Scale: stages 1, 2, 4, 5 are linear scans/aggregates; stage 3 is the
  * bounded LSH join + O(diameter) label propagation. Nothing all-pairs,
  * nothing driver-side except the clustering round loop.
  */
object TrainingPipeline {

  /** Stage parameters. Defaults are THE values the q_pipeline_e2e
    * oracle mirrors — the shared dedup constants come from the same
    * definitions the standalone oracles use, and the oracle builder
    * reads the quality/sampling defaults from here, so the two sides
    * cannot drift apart silently. */
  final case class Params(
      benchMaxId: Long = 10, // doc_id < benchMaxId = the benchmark set
      contaminationMinShared: Int =
        graft.queries.PipelineQueries.ContaminationMinShared,
      shingleK: Int = 3,
      minhashHashes: Int = graft.queries.PipelineQueries.MinhashSeeds,
      minhashBands: Int = graft.queries.PipelineQueries.MinhashBands,
      nearDupThreshold: Double = 0.8,
      minTokens: Int = 10,
      maxTokens: Int = 1000,
      maxPunctRatio: Double = 0.1,
      minDistinctRatio: Double = 0.3,
      sampleFraction: Double = 0.5)

  /** One definition of the (doc_id, shingle-hash) table and the
    * benchmark hash set — shared by the exact and bloom contamination
    * paths so the two can never diverge from their common oracle. */
  private def shingleHashes(
      docs: DataFrame,
      benchMaxId: Long,
      shingleK: Int): (DataFrame, DataFrame) = {
    val ex = Dedup
      .shingleRows(docs, "doc_id", "text", shingleK)
      .select(col("doc_id"), Hashing.md5Long(col("shingle")).as("h"))
    val bench = ex.filter(col("doc_id") < benchMaxId).select("h").distinct()
    (ex, bench)
  }

  /** The shared confirm step: corpus shingles joined to the benchmark
    * set, counted per doc. shingleRows emits DISTINCT shingles per doc,
    * so count(*) is the distinct shared-shingle count. */
  private def confirmShared(
      corpus: DataFrame,
      bench: DataFrame,
      minShared: Int): DataFrame =
    corpus
      .join(broadcast(bench), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** The ids of corpus docs (id ≥ benchMaxId) contaminated by the
    * benchmark set (id < benchMaxId): ≥ `minShared` distinct shared
    * shingles. Shared by [[prepare]] and the standalone q_contamination
    * query — one definition of "contaminated". */
  def contaminatedIds(
      docs: DataFrame,
      benchMaxId: Long,
      shingleK: Int,
      minShared: Int): DataFrame = {
    val (ex, bench) = shingleHashes(docs, benchMaxId, shingleK)
    confirmShared(ex.filter(col("doc_id") >= benchMaxId), bench, minShared)
  }

  /** [[contaminatedIds]] with a Bloom prefilter — the 100 TB shape.
    *
    * The benchmark shingle set is small by construction (a benchmark
    * suite is MBs of text even when the corpus is 100 TB), so it fits a
    * driver-built Bloom filter shipped to every task as ONE literal
    * binary (~1.2 MB at 1M items / 1% fpp). Each corpus shingle probes
    * the filter through Spark's codegen'd `BloomFilterMightContain`
    * before anything is shuffled: only true matches plus the fpp
    * sliver reach the exact broadcast-join confirm, so the join input
    * shrinks from |corpus shingles| to ≈ |contaminated| + fpp·|corpus|.
    * False positives are removed by the confirm join — the result is
    * bit-identical to [[contaminatedIds]] (same oracle).
    *
    * Build inserts raw hash longs (`putLong`) and the probe calls
    * `mightContainLong` on the same values — both sides use the
    * sketch's internal hashing, so they agree by construction. */
  def bloomContaminatedIds(
      docs: DataFrame,
      benchMaxId: Long,
      shingleK: Int,
      minShared: Int,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    val (ex, bench0) = shingleHashes(docs, benchMaxId, shingleK)
    // cut: actions — the bloom build, its count and the confirm join read it
    val bench = bench0.transform(graft.operators.Materialize.cut)
    val bf = bench.stat.bloomFilter("h", math.max(bench.count(), 1L), fpp)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = ColumnBridge.column(
      BloomFilterMightContain(
        Literal(bfBytes, BinaryType),
        ColumnBridge.expression(col("h"))))
    confirmShared(
      ex.filter(col("doc_id") >= benchMaxId).filter(mightContain),
      bench,
      minShared)
  }

  /** Run the full preparation over a `documents`-shaped frame
    * (doc_id, text, ...). Returns the prepared corpus rows (all input
    * columns, original content untouched).
    *
    * The exact-deduped base is materialized (`Materialize.cut` — same
    * cluster caveat as [[Dedup.ngramJaccard]]): the near-dup cluster
    * loop's jobs and the keep-canonical plan both read it, and without
    * the cut the whole upstream subplan re-executes per job. */
  def prepare(docs: DataFrame, p: Params = Params()): DataFrame = {

    // 1. benchmark decontamination
    val decon = docs
      .filter(col("doc_id") >= p.benchMaxId)
      .join(
        contaminatedIds(docs, p.benchMaxId, p.shingleK, p.contaminationMinShared)
          .select("doc_id"),
        Seq("doc_id"),
        "left_anti")

    // 2. exact dedup — keep the min id of every content group
    val keepExact =
      Dedup.exact(decon).select(col("keep_id").as("doc_id"))
    val exactKept = decon
      .join(keepExact, Seq("doc_id"), "left_semi")
      // cut: actions — the cluster loop's jobs and the keep-canonical plan read it
      .transform(graft.operators.Materialize.cut)

    // 3. near-dup clustering, keep canonical survivors
    val pairs = Dedup.minhashLsh(
      exactKept,
      k = p.shingleK,
      numHashes = p.minhashHashes,
      bands = p.minhashBands,
      threshold = p.nearDupThreshold)
    val ndKept =
      Dedup.keepCanonical(exactKept, Dedup.duplicateClusters(pairs))

    // 4. quality filter — the q_text_quality metrics, same rounding, so
    // boundary decisions agree with the oracle. (The pushed-down filter
    // re-evaluates graft_tokens per conjunct; it runs once per doc of
    // the already-materialized base during the single output pass, so
    // clarity wins over a manual barrier here.)
    val quality = ndKept
      .withColumn("tk", Tokens.of(col("text")))
      .filter(
        size(col("tk")) >= p.minTokens && size(col("tk")) <= p.maxTokens &&
          round(TextFns.punctRatio(col("text")), 6) < p.maxPunctRatio &&
          round(TextFns.distinctTokenRatioFrom(col("tk")), 6) > p.minDistinctRatio)
      .drop("tk")

    // 5. deterministic sample
    Sampling.sampleByHash(quality, "doc_id", p.sampleFraction)
  }
}
