package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE vocabulary TRAINING (merge induction) — the learning
  * complement of the fixed-table encoder in
  * [[graft.functions.expressions.BpeTokens]] (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units").
  *
  * Semantics (pinned so a SQL oracle can reproduce them bit-for-bit):
  *   - pair statistics count EVERY adjacent symbol occurrence, weighted
  *     by word frequency, including overlapping repeats (`aaa` holds two
  *     `(a,a)` pairs) — exactly Sennrich's `get_stats`;
  *   - ties break on (count DESC, left ASC, right ASC) over the hex
  *     symbol spelling;
  *   - a merge is applied left-to-right, non-overlapping (`aaaa` with
  *     merge `(a,a)` becomes `aa aa`; `aaa` becomes `aa a`) — exactly
  *     plain-string `replace()` over an unambiguous symbol encoding.
  *
  * The symbol encoding is the portability trick: each word is spelled as
  * bracketed hex symbols (`the` → `[74][68][65]`), so "merge (A,B)" is
  * literally `replace(s, '[A][B]', '[AB]')` — left-to-right and
  * non-overlapping in both Spark and DuckDB, with no regex and no
  * lookaround (RE2 has none), and bracket/hex characters can never
  * collide with symbol content.
  *
  * Unicode parity contract: input text is NFC-normalized
  * ([[graft.functions.expressions.NormalizeText]] / DuckDB
  * `nfc_normalize`) BEFORE tokenization, so decomposed (NFD) corpora
  * spell identically in both engines. Residual caveat: Spark's
  * `split(w, '')` divides per CODE POINT while DuckDB's
  * `string_split(w, '')` divides per grapheme cluster, so a combining
  * sequence with no precomposed NFC form (e.g. `q` + U+0303) still
  * spells as two symbols here and one there — bit parity holds for any
  * corpus whose NFC form carries no combining marks, which NFC makes
  * the overwhelmingly common case.
  *
  * Scale shape: the corpus is scanned ONCE, into a word-frequency table
  * (map-side-combinable aggregate, output ∝ vocabulary ≪ corpus). Every
  * training round after that is one explode + one combinable aggregate
  * over the vocabulary table, plus a single-row argmax collected to the
  * driver (the same control-plane pattern as the k-means centroid and
  * IVF quantizer literals). Merge application is a narrow per-row
  * `replace` — no shuffle. Rounds re-execute the replace chain from the
  * checkpointed word table (O(rounds²) narrow map passes over the
  * vocabulary — negligible next to the corpus scan); a real 30k-merge
  * training run would re-checkpoint the word table every few hundred
  * rounds to keep the chain flat.
  */
object BpeTrainer {

  /** Learn `merges` BPE merges from the corpus. Returns one row per
    * merge: (rank, left_sym, right_sym, merged, pair_count), rank 1 =
    * first (most frequent) merge. Stops early if the vocabulary is fully
    * merged before `merges` rounds. */
  def train(
      docs: DataFrame,
      text: String = "text",
      merges: Int = 12): DataFrame = {
    val spark = docs.sparkSession
    // one corpus scan: NFC-normalize (parity contract, see class doc),
    // tokenize, word-frequency table, then each word spelled as
    // bracketed hex symbols. Materialized — every round reuses it.
    val normed = graft.functions.expressions.NormalizeText.of(col(text))
    val words0 = docs
      .select(explode(TextFns.tokens(normed)).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("cnt"))
      .select(
        concat(
          lit("["),
          array_join(
            transform(
              expr("filter(split(w, ''), c -> c <> '')"),
              c => hex(c)),
            "]["),
          lit("]")).as("s"),
        col("cnt"))
      .transform(graft.operators.Materialize.cut) // cut: loop — the merge loop's first state

    var words = words0
    val learned = Seq.newBuilder[Row]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val top = words
        .select(
          col("cnt"),
          split(expr("trim(BOTH '[]' FROM s)"), "\\]\\[").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(
          col("cnt"),
          explode(
            expr("transform(sequence(1, size(syms)-1), i -> struct(syms[i-1] AS l, syms[i] AS r))"))
            .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1)
        .collect() // single-row argmax: control plane, like k-means centroids
      if (top.isEmpty) exhausted = true
      else {
        val (l, rt, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += Row(r, unhexUtf8(l), unhexUtf8(rt), unhexUtf8(l + rt), c)
        words = words.withColumn(
          "s",
          expr(s"replace(s, '[$l][$rt]', '[$l$rt]')"))
        r += 1
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(learned.result(), 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("left_sym", StringType, nullable = false),
        StructField("right_sym", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  private def unhexUtf8(h: String): String = {
    val bytes = new Array[Byte](h.length / 2)
    var i = 0
    while (i < bytes.length) {
      bytes(i) =
        Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
}
