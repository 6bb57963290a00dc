package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.log.LogFs

/** Approximate-nearest-neighbor search over embedding columns — the
  * parameterized library surface behind the `q_ann_*` queries.
  *
  * Input contract: `queries` as `(query_id, q_v array<double>, q_nrm)`,
  * `corpus` as `(neighbor_id, c_v array<double>, c_nrm)` — pre-normed
  * (see [[withNorm]]). All variants return
  * `(query_id, rank, neighbor_id, cos)` with rank 1..k per query.
  *
  * Scale: the query side is broadcast (query sets are small by nature);
  * corpus cost is linear for [[lshTopK]]/[[ivfTopK]] (bucket equi-joins).
  * [[bruteForceTopK]] is the exact baseline — quadratic by construction.
  */
object Ann {

  /** Add a euclidean-norm column (computed once, reused by every pair). */
  def withNorm(embs: DataFrame, vec: String, nrm: String = "nrm"): DataFrame =
    embs.withColumn(nrm, VectorFns.norm(col(vec)))

  /** Shared top-k ranking (rank 1..k per query by exact cosine, ties to
    * the lower neighbor id) — ONE definition so every ANN path ranks
    * identically; `extraCols` lets a variant carry additional output
    * columns (pq's `adc`) through the same semantics. */
  private def rankTopK(
      scored: DataFrame,
      k: Int,
      extraCols: Seq[String] = Nil,
      scoreCol: String = "cos"): DataFrame = {
    val w = Window
      .partitionBy("query_id")
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        ("query_id" +: "rank" +: "neighbor_id" +: scoreCol +: extraCols).map(col): _*)
  }

  private def cos = round(
    VectorFns.dot(col("q_v"), col("c_v")) /
      VectorFns.safeDen(col("q_nrm"), col("c_nrm")),
    6)

  /** Exact cosine top-k: broadcast queries × full corpus. The product is
    * a deliberate BroadcastNestedLoopJoin — LINEAR in the corpus (the
    * build side is the bounded query set), and Catalyst constant-folds
    * any synthetic equi-key away, so a nested-loop node is the honest
    * plan for it. PlanSpec's cartesian audit allowlists exactly these
    * bounded products. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5): DataFrame =
    rankTopK(broadcast(queries).join(corpus).withColumn("cos", cos), k)

  /** Hard-negative mining (contrastive-training prep): per anchor, the
    * top-k most-similar corpus vectors with a DIFFERENT label — the
    * near-miss negatives a contrastive objective learns most from
    * (easy negatives are uninformative; same-label vectors are
    * positives, not negatives). Inputs add `q_label`/`c_label` to the
    * standard sides; the label-mismatch predicate rides the same
    * broadcast anchor product as [[bruteForceTopK]] (linear in the
    * corpus), and ranking is the shared exact-cosine rule. At corpus
    * scale, pre-bucket with [[lshTopK]]'s signature and re-rank — the
    * mining semantics stay identical. */
  def hardNegativesTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5): DataFrame =
    rankTopK(
      broadcast(queries)
        .join(corpus, col("q_label") =!= col("c_label"))
        .withColumn("cos", cos),
      k,
      extraCols = Seq("c_label"))

  /** Exact max-inner-product top-k (MIPS — the recommender/retrieval
    * serving objective argmax ⟨q, x⟩, NOT cosine: a long vector can
    * beat a better-aligned short one, which is the point when vector
    * magnitude encodes popularity/confidence). Same broadcast-queries ×
    * corpus shape as [[bruteForceTopK]]; output
    * `(query_id, rank, neighbor_id, dot)`. */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5): DataFrame =
    rankTopK(
      broadcast(queries)
        .join(corpus)
        .withColumn("dot", round(VectorFns.dot(col("q_v"), col("c_v")), 6)),
      k,
      scoreCol = "dot")

  /** MIPS through cosine machinery by the norm-augmented reduction
    * (Bachrach et al., RecSys 2014; Neyshabur–Srebro 2015): append
    * `sqrt(M² − ‖x‖²)` to every corpus vector (M = max corpus norm) and
    * `0` to every query — all augmented corpus vectors then share norm
    * M, so cosine order in the augmented space IS inner-product order —
    * and route through banded sign-LSH over the augmented vectors
    * (`dim + 1` hyperplane components, same md5-derived family as
    * [[lshTopK]]). BANDED (OR-construction), not single-bucket: the
    * augmented component dominates small-norm vectors (they all lean
    * toward the extra axis), which collapses one-band sign buckets —
    * candidates are the union over `bands` independent signatures
    * (measured: recall 0.1 single-band → well above the tuning floor
    * at 4×4). Candidates rerank by the EXACT raw dot, so the reduction
    * only steers candidate generation; the max-norm M² is one
    * control-plane aggregate. */
  def mipsLshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      dim: Int = 64): DataFrame = {
    val m2Opt = Option(
      corpus.agg(max(col("c_nrm") * col("c_nrm"))).head().get(0))
      .map(_.asInstanceOf[Double])
    if (m2Opt.isEmpty)
      // empty corpus: the max aggregate is NULL — return the (empty)
      // result with the contract schema, like every other ANN path
      return rankTopK(
        broadcast(queries)
          .join(corpus)
          .withColumn("dot", round(VectorFns.dot(col("q_v"), col("c_v")), 6)),
        k,
        scoreCol = "dot")
    val m2 = m2Opt.get
    def banded(df: DataFrame, idCol: String, aug: Column): DataFrame = df
      .select(
        col(idCol),
        posexplode(VectorFns.bandSignatures(aug, bands, bitsPerBand, dim + 1)))
      .select(col(idCol), col("pos").as("band_id"), col("col").as("band_sig"))
    val cB = banded(
      corpus,
      "neighbor_id",
      concat(col("c_v"), array(sqrt(lit(m2) - col("c_nrm") * col("c_nrm")))))
    val qB = banded(queries, "query_id", concat(col("q_v"), array(lit(0.0))))
    val cands = broadcast(qB)
      .join(cB.hint("shuffle_hash"), Seq("band_id", "band_sig"))
      .select("query_id", "neighbor_id")
      .distinct()
    rankTopK(
      cands
        .join(broadcast(queries), "query_id")
        .join(corpus.hint("shuffle_hash"), "neighbor_id")
        .withColumn("dot", round(VectorFns.dot(col("q_v"), col("c_v")), 6)),
      k,
      scoreCol = "dot")
  }

  /** Random-hyperplane LSH top-k: candidates restricted to the query's
    * sign-bucket. `nBits` hyperplanes of dimension `dim` are baked into
    * the plan as literals. */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      nBits: Int = 4,
      dim: Int = 64): DataFrame = {
    val q = queries.withColumn(
      "bucket",
      VectorFns.hyperplaneSignature(col("q_v"), nBits, dim))
    val c = corpus.withColumn(
      "bucket",
      VectorFns.hyperplaneSignature(col("c_v"), nBits, dim))
    rankTopK(broadcast(q).join(c, "bucket").withColumn("cos", cos), k)
  }

  /** Product-quantization codebook: the corpus split into `m` subspaces
    * of `subDim` dims; per subspace, `ks` centroid subvectors taken from
    * the `ks` lowest-id corpus rows (training-free deterministic
    * quantizer, the same convention as [[ivfTopK]]'s coarse centroids —
    * and the reason the DuckDB oracle can rebuild the identical codebook
    * from the parquet alone). `centSq(j)(c)` is the centroid's self-dot,
    * precomputed with the same ascending sequential fold as
    * [[graft.functions.expressions.DotProduct]] so the driver-baked
    * literal equals the oracle's `list_dot_product`. */
  final case class PqCodebook(
      m: Int,
      subDim: Int,
      cents: Vector[Vector[Vector[Double]]]) {
    val ks: Int = cents.head.size
    val centSq: Vector[Vector[Double]] =
      cents.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))
  }

  /** Fixed-point scale for exact centroid sums in [[pqTrain]] — the
    * [[graft.clustering.Clustering]] convention: quantize by
    * `floor(x·10⁷)`, sum as int64 (order-free, so a SQL engine replays
    * the identical mean), divide once. */
  private val PqQ = 10000000L

  /** Per-subspace argmin score arrays `sc0..sc{m-1}` over the `c_v`
    * column (score = `cent_sq − 2⟨sub, cent⟩`, the [[pqEncode]] argmin
    * objective — the subvector's own norm is constant across candidate
    * centroids, so it drops out of the argmin): ONE definition shared
    * by training ([[pqTrain]]), encoding ([[pqEncode]]), and the
    * distortion readout ([[pqDistortion]]), so the three can never
    * drift apart. */
  private def scoreArrays(cb: PqCodebook): Seq[Column] =
    (0 until cb.m).map { j =>
      val sub = slice(col("c_v"), j * cb.subDim + 1, cb.subDim)
      array((0 until cb.ks).map(c =>
        lit(cb.centSq(j)(c)) -
          lit(2.0) * VectorFns.dot(sub, typedLit(cb.cents(j)(c)))): _*)
        .as(s"sc$j")
    }

  /** Per-subspace Lloyd refinement of the PQ codebook — k-means in each
    * of the `m` subspaces (Jégou, Douze, Schmid, "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011, §III: the codebook IS a
    * per-subspace k-means). Seeds are [[pqCodebook]]'s `ks` lowest-id
    * corpus rows (the deterministic init convention shared with
    * [[ivfTopK]]/[[ivfMaintain]]); each round re-codes the corpus with
    * the [[pqEncode]] argmin rule (ties to the lowest code) and
    * recomputes every centroid as the FIXED-POINT mean of its assigned
    * subvectors (`floor(x·10⁷)` int64 sums — exact, order-free, one
    * IEEE division), so a SQL oracle replaying the same update derives
    * bit-identical centroids. A code that loses all members keeps its
    * previous centroid. `iters = 0` degrades to the untrained seed
    * codebook.
    *
    * Scale: each round is ONE corpus projection (the m·ks codegen'd
    * score dots) + ONE aggregate of m·ks rows with map-side partials —
    * only the codebook ever reaches the driver. Train once per corpus
    * and reuse (the serving convention [[ivfBuild]] follows). */
  def pqTrain(
      corpus: DataFrame,
      m: Int,
      ks: Int,
      dim: Int,
      iters: Int = 2): PqCodebook = {
    var cb = pqCodebook(corpus, m, ks, dim)
    for (_ <- 0 until iters) {
      val withScores = corpus.select(col("c_v") +: scoreArrays(cb): _*)
      val partCols = (0 until cb.m).map { j =>
        struct(
          lit(j).as("sub_id"),
          (array_position(col(s"sc$j"), array_min(col(s"sc$j"))) - 1)
            .cast("int")
            .as("cent_id"),
          slice(col("c_v"), j * cb.subDim + 1, cb.subDim).as("sub_v"))
      }
      val exploded = withScores
        .select(explode(array(partCols: _*)).as("p"))
        .select(col("p.sub_id"), col("p.cent_id"), col("p.sub_v"))
      val sums = (1 to cb.subDim).map(dd =>
        sum(floor(element_at(col("sub_v"), dd) * lit(PqQ.toDouble)).cast("long"))
          .as(s"s$dd"))
      val means = exploded
        .groupBy("sub_id", "cent_id")
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .collect() // ≤ m·ks rows — control plane
        .map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getInt(1)) ->
            (1 to cb.subDim).map(dd => r.getLong(2 + dd).toDouble / (n * PqQ).toDouble).toVector
        }
        .toMap
      cb = PqCodebook(
        cb.m,
        cb.subDim,
        Vector.tabulate(cb.m)(j =>
          Vector.tabulate(cb.ks)(c => means.getOrElse((j, c), cb.cents(j)(c)))))
    }
    cb
  }

  /** Build the UNTRAINED codebook from the corpus (one tiny driver-side
    * collect of `ks` rows — control plane, not a data-path collect):
    * the `ks` lowest-id corpus rows as centroids. This is [[pqTrain]]'s
    * deterministic seed; serving paths should train ([[pqTrain]]
    * measured strictly better shortlist recall on the shared corpus —
    * see q_ann_recall_pq). */
  def pqCodebook(corpus: DataFrame, m: Int, ks: Int, dim: Int): PqCodebook = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val subDim = dim / m
    val rows = corpus
      .orderBy("neighbor_id")
      .limit(ks)
      .select("c_v")
      .collect()
      .map(_.getSeq[Double](0).toVector)
      .toVector
    require(rows.size == ks, s"corpus has ${rows.size} rows, need $ks for the codebook")
    val cents = Vector.tabulate(m)(j =>
      rows.map(v => v.slice(j * subDim, (j + 1) * subDim)))
    PqCodebook(m, subDim, cents)
  }

  /** Mean squared PQ reconstruction error of `corpus` under `cb` — the
    * codebook-quality number: per vector,
    * `err² = Σ_j ‖sub_j − cent_{k_j}‖²` with `k_j` the [[pqEncode]]
    * argmin code, computed WITHOUT materializing codes — since the
    * argmin objective is `score = cent_sq − 2⟨sub, cent⟩`, the chosen
    * code's squared error is `‖sub‖² + min_score`, so
    * `err² = ‖v‖² + Σ_j min_j score_j` (one codegen'd projection + one
    * scalar aggregate with map-side partials — a linear pass, nothing
    * reaches the driver but one double). Returns 0.0 on an empty
    * corpus. */
  def pqDistortion(corpus: DataFrame, cb: PqCodebook): Double = {
    val err2 = (0 until cb.m)
      .map(j => array_min(col(s"sc$j")))
      .foldLeft(col("c_nrm") * col("c_nrm"))(_ + _)
    val r = corpus
      .select(col("c_nrm") +: scoreArrays(cb): _*)
      .select(err2.as("e"))
      .agg(avg("e"))
      .head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Codebook-staleness fence for a stored IVF-PQ index — the retrain
    * twin of the [[ivfImbalance]] cell-skew fence: [[ivfPqStaleness]]
    * above this means the FROZEN codebook ([[ivfPqBuild]] trains once;
    * [[ivfAppend]] never retrains) no longer represents incoming
    * batches, so ADC scores stop discriminating and route recall decays
    * silently (measured: a planted 4σ per-dim shift reads ≫ this fence
    * while same-distribution batches read ≈ 1; see the
    * q_ann_recall_ivfpq_drift eval row for what stale recall looks
    * like). Past the fence, [[ivfPqRetrain]]: retrain on the index's
    * current corpus and re-encode ONLY the codes tier — the raw
    * `lists/` tier and the quantizer are codebook-independent and never
    * move. */
  val IvfPqRetrainFence = 4.0d

  /** How stale the stored codebook is for `batch` (corpus-shaped):
    * `pqDistortion(batch, stored cb) / build-time distortion` (the
    * denominator is persisted by [[ivfPqBuild]] under `stats/`). ≈ 1
    * for same-distribution batches; grows with distribution shift —
    * fence with [[IvfPqRetrainFence]]. One linear pass over the batch
    * plus a one-row stats read. An index persisted before the stats
    * tier existed degrades gracefully: the baseline is recomputed from
    * the stored `lists/` raw vectors (one linear pass) and backfilled
    * into `stats/` so the next readout is one row again. HONESTY NOTE
    * for that fallback: the build-time corpus is gone, so the recomputed
    * baseline is the CURRENT corpus's self-distortion — drift already
    * absorbed by earlier appends is baked into it and invisible to the
    * ratio (the fence re-arms against FUTURE drift only). If a legacy
    * index may have drifted before its first readout, run
    * [[ivfPqRetrain]] once instead: it realigns the codebook AND the
    * baseline to the current corpus, which is the only honest zero
    * point available. */
  def ivfPqStaleness(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame): Double = {
    import spark.implicits._
    val cb = ivfPqCodebook(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    val stats = new org.apache.hadoop.fs.Path(s"$path/stats")
    val build =
      if (stats.getFileSystem(conf).exists(stats))
        spark.read.parquet(s"$path/stats").head().getDouble(0)
      else {
        val b = pqDistortion(
          spark.read.parquet(s"$path/lists").select("neighbor_id", "c_v", "c_nrm"),
          cb)
        Seq(b).toDF("build_distortion").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/stats")
        b
      }
    val cur = pqDistortion(batch, cb)
    if (build > 0.0) cur / build
    else if (cur == 0.0) 1.0
    else Double.PositiveInfinity
  }

  /** Routing-quality fence — the quantizer twin of
    * [[IvfPqRetrainFence]]: [[ivfQuantizerStaleness]] above this means
    * the COARSE QUANTIZER no longer fits the stored corpus (drifted
    * appends sit far from every centroid), so cell routing — which
    * cells a query probes, which cell a vector lands in — degrades in a
    * way no codebook retrain can repair ([[ivfPqRetrain]] refreshes ADC
    * scoring only; the q_ann_recall_ivfpq_drift eval measures the
    * residual: drifted recall recovers 2/50 vs 6/50 fresh because
    * routing stays stale). Past this fence, [[ivfPqRebuild]] — the
    * full-rebuild arm that re-trains the quantizer AND the codebook on
    * the current corpus. Measured calibration on the synthetic
    * embeddings: same-distribution appends read ≈ 1.02; the
    * q_ann_recall_ivfpq_drift +0.5/dim (≈4σ) shift reads 3.8; a
    * +0.25/dim half-shift — already enough to cost ~30% of nProbe=1
    * routing recall (spec) — reads ≈ 1.7. The fence sits at 1.5:
    * above append noise, below the mildest drift that measurably
    * damages routing. */
  val IvfRebuildFence = 1.5d

  /** Mean assignment distortion of a stored index: avg over stored
    * rows of `‖v − assigned centroid‖²` (expanded as
    * `‖v‖² + ‖c‖² − 2⟨v,c⟩`, the [[pqDistortion]] MSE family applied
    * to the coarse quantizer) — how well the quantizer REPRESENTS the
    * corpus it routes. Assignment stays the stored argmax-cosine
    * routing (the `cent_id` already on each row), so this measures the
    * quantizer the probes actually use. MSE rather than cosine
    * distance on purpose: an additive encoder shift moves every vector
    * FAR from the centroids in L2 while barely changing angles
    * (measured on the planted 4σ drift: MSE ratio 3.8, cosine ratio
    * 1.03 — the cosine statistic is blind to exactly the drift this
    * fence exists for). One linear pass over `lists/` joined to the
    * broadcast (k-row) quantizer; nothing reaches the driver but one
    * double. 0.0 on an empty index. */
  def ivfAssignDistortion(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Double = {
    val cents = spark.read.parquet(s"$path/centroids")
    val r = spark.read
      .parquet(s"$path/lists")
      .select(col("c_v"), col("c_nrm"), col("cent_id").cast("long").as("cent_id"))
      .join(broadcast(cents), "cent_id")
      .select(
        (col("c_nrm") * col("c_nrm") + col("cent_nrm") * col("cent_nrm") -
          lit(2.0d) * VectorFns.dot(col("c_v"), col("cent_v"))).as("e"))
      .agg(avg("e"))
      .head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** How stale the stored COARSE QUANTIZER is:
    * `ivfAssignDistortion(now) / build-time assignment distortion`
    * (baseline persisted by [[ivfBuild]]/[[ivfPqBuild]] under
    * `qstats/`). ≈ 1 while appends match the build distribution; grows
    * as drifted appends accumulate in cells whose centroids no longer
    * represent them — fence with [[IvfRebuildFence]] and act with
    * [[ivfPqRebuild]]. Pairs with [[ivfPqStaleness]] (codebook axis):
    * a deployment reads BOTH — codebook-stale-only → [[ivfPqRetrain]]
    * (cheap, codes tier only); quantizer-stale → rebuild.
    *
    * Legacy indexes (no `qstats/`) degrade exactly like
    * [[ivfPqStaleness]]'s fallback: the baseline is recomputed from the
    * CURRENT corpus and backfilled, so drift absorbed before the first
    * readout is invisible — run [[ivfPqRebuild]] once for the only
    * honest zero point. */
  def ivfQuantizerStaleness(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Double = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val qstats = new org.apache.hadoop.fs.Path(s"$path/qstats")
    val cur = ivfAssignDistortion(spark, path)
    val build =
      if (qstats.getFileSystem(conf).exists(qstats))
        spark.read.parquet(s"$path/qstats").head().getDouble(0)
      else {
        Seq(cur).toDF("build_assign_distortion").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/qstats")
        cur
      }
    if (build > 0.0) cur / build
    else if (cur == 0.0) 1.0
    else Double.PositiveInfinity
  }

  /** Persist the quantizer-quality baseline ([[ivfQuantizerStaleness]]'s
    * denominator) — written by every build/rebuild, one row. */
  private def writeQStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    Seq(ivfAssignDistortion(spark, path))
      .toDF("build_assign_distortion")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/qstats")
  }

  /** FULL index rebuild — the action behind [[IvfRebuildFence]], and
    * the repair [[ivfPqRetrain]] cannot perform: re-train the coarse
    * quantizer (k-means over the index's CURRENT corpus, k preserved,
    * deterministic lowest-id seeds + `iters` Lloyd rounds — the
    * [[ivfMaintain]] split conventions applied globally), re-train the
    * codebook ([[pqTrain]] on the same corpus), re-assign every vector,
    * and rewrite every tier (`centroids/ lists/ codes/ codebook/
    * stats/ qstats/`) via [[ivfPqBuild]]. After a distribution shift
    * this restores BOTH degraded axes: cell routing (queries in the
    * drifted region reach cells that actually hold drifted vectors)
    * and ADC scoring — the spec pins that the rebuilt index recovers
    * recall the codes-only retrain cannot.
    *
    * Plain-IVF (single-tier) indexes are auto-detected and rebuilt
    * without the codes/codebook tiers.
    *
    * Consistency contract = [[ivfPqRetrain]]'s, wider: every tier is
    * rewritten, so run in a maintenance window (or rebuild into a
    * fresh directory upstream and swap). The current corpus is
    * materialized ([[graft.operators.Materialize.cut]]) before any
    * tier is overwritten, so the rebuild never reads a tier it is
    * rewriting. Cost: (iters + 2) corpus passes for the quantizer, the
    * [[pqTrain]] passes, one full two-tier write — the
    * once-per-drift-event price, not a serving-path cost. */
  def ivfPqRebuild(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      iters: Int = 2): Unit = {
    import spark.implicits._
    val cbOld = storedCodebook(spark, path)
    val k = spark.read.parquet(s"$path/centroids").count().toInt
    // cut: pin — the corpus is read OFF the tiers about to be overwritten
    val corpus = graft.operators.Materialize.cut(
      spark.read.parquet(s"$path/lists").select("neighbor_id", "c_v", "c_nrm"))
    // deterministic global k-means: k lowest-id rows seed (the
    // pqCodebook / ivfMaintain init convention), `iters` Lloyd rounds
    // of argmax-cosine assignment + per-cell mean (each round: ONE
    // corpus projection + ONE k-row aggregate — control plane only)
    var cents: Seq[(Long, Seq[Double], Double)] = corpus
      .orderBy("neighbor_id")
      .limit(k)
      .select("c_v")
      .collect() // k rows — control plane
      .zipWithIndex
      .map { case (r, i) =>
        val v = r.getSeq[Double](0)
        (i.toLong, v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
      }
      .toIndexedSeq
    require(cents.nonEmpty, s"ivfPqRebuild: empty index at $path")
    val dim = cents.head._2.size
    def centsDf = broadcast(cents.toDF("cent_id", "cent_v", "cent_nrm"))
    for (_ <- 0 until iters) {
      val dims = (1 to dim).map(j => avg(element_at(col("c_v"), j)).as(s"m$j"))
      val means = nearestCells(corpus, centsDf, "neighbor_id", "c_v", "c_nrm", 1)
        .groupBy("cent_id")
        .agg(dims.head, dims.tail: _*)
        .collect() // ≤ k rows — control plane
        .map { r =>
          val v = (1 to dim).map(j => r.getDouble(j))
          r.getLong(0) ->
            ((v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))))
        }
        .toMap
      // a centroid that lost all members keeps its previous position
      // (the pqTrain empty-cell rule)
      cents = cents.map { case (id, v, nrm) =>
        means.get(id).map { case (v2, n2) => (id, v2, n2) }
          .getOrElse((id, v, nrm))
      }
    }
    cbOld match {
      case Some(old) =>
        val cb = pqTrain(corpus, old.m, old.ks, old.m * old.subDim, iters)
        ivfPqBuild(corpus, centsDf, cb, path)
      case None =>
        ivfBuild(corpus, centsDf, path)
    }
  }

  /** PQ-encode the corpus: `(neighbor_id, k0..k{m-1}, recon_nrm)` — the
    * 100 TB representation. Codes are `m` small ints + one double
    * (~16 B/vector vs 512 B raw for 64 dims): the ADC scan reads ONLY
    * this, a 30× memory-bandwidth cut. Pure projection — no shuffle.
    *
    * Code `k_j` = argmin-L2 centroid of subvector j; since the
    * subvector's own norm is constant across candidates, argmin of
    * `cent_sq − 2·⟨sub, cent⟩` suffices (fewer float ops = less
    * cross-engine drift surface). The per-subspace scores land in ONE
    * array column, so `array_min`/`array_position` evaluate the arms
    * once; first-minimum ties break toward the lowest code, matching
    * the oracle's `ORDER BY score, cent_id`. */
  def pqEncode(corpus: DataFrame, cb: PqCodebook): DataFrame =
    pqEncode(corpus, cb, Nil)

  /** [[pqEncode]] carrying extra columns through unchanged (e.g. the
    * IVF `cent_id` for [[ivfPqTopKWith]]'s cell-partitioned codes). */
  def pqEncode(corpus: DataFrame, cb: PqCodebook, carry: Seq[String]): DataFrame = {
    val keep = ("neighbor_id" +: carry).map(col)
    val withScores =
      corpus.select(keep ++ scoreArrays(cb): _*)
    val codeCols = (0 until cb.m).map(j =>
      (array_position(col(s"sc$j"), array_min(col(s"sc$j"))) - 1)
        .cast("int")
        .as(s"k$j"))
    val withCodes = withScores.select(keep ++ codeCols: _*)
    val reconSq = (0 until cb.m)
      .map(j => element_at(typedLit(cb.centSq(j)), col(s"k$j") + 1))
      .reduceLeft(_ + _) // left-assoc ascending j == the oracle's r0+r1+…
    withCodes.withColumn("recon_nrm", sqrt(reconSq))
  }

  /** PQ + asymmetric-distance ANN: score every corpus vector from its
    * codes alone (per subspace, a literal-CASE lookup of
    * ⟨query-subvector, centroid⟩ — `m·ks` codegen'd dots per query, zero
    * corpus-vector reads), keep a per-query `shortlist` by approximate
    * cosine, then rerank the shortlist EXACTLY against the raw vectors.
    * Output `(query_id, rank, neighbor_id, cos, adc)`, rank 1..k by
    * exact cosine.
    *
    * Scale: the ADC scan is linear over the 16-byte codes; the
    * `row_number ≤ shortlist` window gets WindowGroupLimit pushdown
    * (≤ shortlist rows per query per map partition cross the shuffle);
    * the rerank join broadcasts shortlist×queries and probes the corpus
    * in place — raw vectors are touched for shortlist·|Q| rows only. */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      m: Int = 8,
      ks: Int = 8,
      dim: Int = 64,
      shortlist: Int = 20,
      k: Int = 5,
      trainIters: Int = 2): DataFrame =
    pqTopKWith(
      queries,
      corpus,
      pqTrain(corpus, m, ks, dim, trainIters),
      shortlist,
      k)

  /** [[pqTopK]] against a PREBUILT codebook — the serving split: train
    * once ([[pqTrain]]), score many. */
  def pqTopKWith(
      queries: DataFrame,
      corpus: DataFrame,
      cb: PqCodebook,
      shortlist: Int = 20,
      k: Int = 5): DataFrame = {
    val enc = pqEncode(corpus, cb)
    val adcDot = adcDotCol(cb)
    val ws = Window
      .partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val short = broadcast(queries)
      .join(enc)
      .withColumn("adc", adcDot / VectorFns.safeDen(col("q_nrm"), col("recon_nrm")))
      // q_v is dropped BEFORE the window: only (query_id, neighbor_id,
      // adc) rows reach the WindowGroupLimit shuffle
      .select("query_id", "neighbor_id", "adc")
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select("query_id", "neighbor_id", "adc")
    rankTopK(
      corpus
        .join(broadcast(short.join(queries, "query_id")), "neighbor_id")
        .withColumn("cos", cos)
        .withColumn("adc", round(col("adc"), 6)),
      k,
      extraCols = Seq("adc"))
  }

  /** The ADC query-to-centroid dot: per subspace, a literal-CASE lookup
    * of ⟨query-subvector, centroid⟩ keyed by the stored code `k_j` —
    * `m·ks` codegen'd dots per query row, zero corpus-vector reads.
    * Shared by [[pqTopKWith]] and [[ivfPqTopKWith]]. */
  private def adcDotCol(cb: PqCodebook): Column = (0 until cb.m)
    .map { j =>
      val qSub = slice(col("q_v"), j * cb.subDim + 1, cb.subDim)
      val arms = (0 until cb.ks).map(c =>
        c -> VectorFns.dot(qSub, typedLit(cb.cents(j)(c))))
      // ks=1 degenerates to the single unconditional arm (a CASE
      // needs at least one WHEN branch)
      if (arms.size == 1) arms.head._2
      else
        arms.init
          .foldLeft(Option.empty[Column]) { case (acc, (c, d)) =>
            Some(acc.fold(when(col(s"k$j") === c, d))(_.when(col(s"k$j") === c, d)))
          }
          .get
          .otherwise(arms.last._2)
    }
    .reduceLeft(_ + _)

  /** IVF-PQ ANN — the combined billion-scale serving shape (Jégou,
    * Douze, Schmid, TPAMI 2011, §IV "IVFADC": a coarse quantizer
    * prunes the corpus to `nProbe` cells, product-quantized codes score
    * the survivors without touching raw vectors, and only the ADC
    * shortlist pays an exact rerank). The two pruning axes compose
    * multiplicatively: IVF cuts the CANDIDATE COUNT to the probed
    * cells' share of the corpus, PQ cuts the BYTES PER CANDIDATE to
    * `m` code ints + one norm (~16 B vs 512 B raw at 64 dims) — at
    * 100 TB the ADC scan reads `nProbe/k_cells` of a 30×-smaller
    * representation, which is the only way a single-digit-millisecond
    * vector-serving budget closes.
    *
    * This variant codes RAW vectors against the shared global codebook
    * (`cb`, train once with [[pqTrain]]) rather than per-cell residuals
    * — the codebook, and therefore the codes, are cell-independent, so
    * an [[ivfMaintain]] hot-cell split never forces a re-encode (the
    * classic residual IVFADC couples code validity to cell membership;
    * under sustained skewed ingest that coupling turns every rebalance
    * into a re-encode of the moved rows).
    *
    * Semantics: probing ALL cells recovers [[pqTopKWith]] exactly (the
    * candidate set becomes the full corpus and the ADC order is
    * identical) — the spec asserts it. Deterministic end to end: the
    * quantizer, codebook, argmin coding, shortlist, and rerank all
    * follow the shared lowest-id / ties-low conventions, so a SQL
    * oracle replays the route bit-for-bit.
    *
    * Scale: corpus→cell assignment is the one linear pass (reuse a
    * persisted index via [[ivfBuild]]'s layout to skip it at serve
    * time); the ADC scan is an equi-join on `cent_id` against the
    * probed cells only; the `row_number ≤ shortlist` window gets
    * WindowGroupLimit pushdown; the rerank touches raw vectors for
    * shortlist·|Q| rows. Output `(query_id, rank, neighbor_id, cos,
    * adc)`, rank 1..k by exact cosine. */
  def ivfPqTopKWith(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      cb: PqCodebook,
      k: Int = 5,
      nProbe: Int = 2,
      shortlist: Int = 20): DataFrame = {
    val cents = broadcast(centroids)
    val q = nearestCells(queries, cents, "query_id", "q_v", "q_nrm", nProbe)
      .select("query_id", "cent_id")
    val c = nearestCells(corpus, cents, "neighbor_id", "c_v", "c_nrm", 1)
    val enc = pqEncode(c, cb, carry = Seq("cent_id"))
    val ws = Window
      .partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val short = broadcast(q.join(queries, "query_id"))
      // candidates = the probed cells' codes only (each corpus vector
      // lives in exactly one cell, so the union over probes is dup-free)
      .join(enc.hint("shuffle_hash"), "cent_id")
      .withColumn("adc", adcDotCol(cb) / VectorFns.safeDen(col("q_nrm"), col("recon_nrm")))
      // q_v is dropped BEFORE the window: only (query_id, neighbor_id,
      // adc) rows reach the WindowGroupLimit shuffle
      .select("query_id", "neighbor_id", "adc")
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select("query_id", "neighbor_id", "adc")
    rankTopK(
      corpus
        .join(broadcast(short.join(queries, "query_id")), "neighbor_id")
        .withColumn("cos", cos)
        .withColumn("adc", round(col("adc"), 6)),
      k,
      extraCols = Seq("adc"))
  }

  /** The combined route's scored candidate set, capped at ADC rank
    * `cap` — the kernel behind the recall-vs-shortlist tuning curve:
    * every (query, candidate) from the probed cells with its ADC
    * shortlist rank `srk` (the [[ivfPqTopKWith]] window order: adc
    * desc, ties to the lower neighbor) and its EXACT rounded cosine, so
    * a consumer can evaluate ANY shortlist size ≤ cap from ONE corpus
    * pass — the route's top-k at shortlist s is exactly the top-k by
    * `cos` among rows with `srk ≤ s` (the rerank is exact, so shortlist
    * membership is the only thing s changes). Same quantizer, codes,
    * tie rules, and plan shape as the route itself; raw vectors are
    * touched for ≤ cap·|Q| rows. */
  def ivfPqScoredCandidates(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      cb: PqCodebook,
      nProbe: Int = 2,
      cap: Int = 40): DataFrame = {
    val cents = broadcast(centroids)
    val q = nearestCells(queries, cents, "query_id", "q_v", "q_nrm", nProbe)
      .select("query_id", "cent_id")
    val c = nearestCells(corpus, cents, "neighbor_id", "c_v", "c_nrm", 1)
    val enc = pqEncode(c, cb, carry = Seq("cent_id"))
    val ws = Window
      .partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val capped = broadcast(q.join(queries, "query_id"))
      .join(enc.hint("shuffle_hash"), "cent_id")
      .withColumn("adc", adcDotCol(cb) / VectorFns.safeDen(col("q_nrm"), col("recon_nrm")))
      .select("query_id", "neighbor_id", "adc")
      .withColumn("srk", row_number().over(ws).cast("long"))
      .filter(col("srk") <= cap)
      .select("query_id", "neighbor_id", "srk")
    corpus
      .join(broadcast(capped.join(queries, "query_id")), "neighbor_id")
      .withColumn("cos", cos)
      .select("query_id", "neighbor_id", "srk", "cos")
  }

  /** Persist the combined IVF-PQ index under `path`: the [[ivfBuild]]
    * layout (`centroids/` + cell-partitioned `lists/` of raw vectors,
    * the rerank tier) plus `codes/` — the PQ codes partitioned by the
    * SAME `cent_id` (the ~16-byte-per-vector tier an ADC probe actually
    * scans) — and `codebook/` (`(sub_id, code, cent_v)` rows) so a
    * probe rebuilds the identical literal-CASE scoring plan with no
    * retraining. Both data tiers share one assignment pass, so a
    * vector's codes and its raw row always sit in the same cell. */
  def ivfPqBuild(
      corpus: DataFrame,
      centroids: DataFrame,
      cb: PqCodebook,
      path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    val assigned =
      nearestCells(corpus, broadcast(centroids), "neighbor_id", "c_v", "c_nrm", 1)
    assigned.write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/lists")
    pqEncode(assigned, cb, carry = Seq("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/codes")
    // build-time codebook distortion: the [[ivfPqStaleness]] baseline
    // (one extra linear pass at build time — build runs once)
    writeCodebookAndStats(corpus.sparkSession, path, cb, pqDistortion(corpus, cb))
    // build-time assignment distortion: the [[ivfQuantizerStaleness]]
    // baseline (same build-once economics)
    writeQStats(corpus.sparkSession, path)
  }

  /** Persist the codebook + distortion-baseline tiers (`codebook/` as
    * `(sub_id, code, cent_v)` rows, `stats/` as the one-row baseline) —
    * the layout [[ivfPqCodebook]]/[[ivfPqStaleness]] read back,
    * single-sourced so [[ivfPqBuild]] and [[ivfPqRetrain]] can never
    * write divergent schemas. */
  private def writeCodebookAndStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cb: PqCodebook,
      distortion: Double): Unit = {
    import spark.implicits._
    cb.cents.zipWithIndex
      .flatMap { case (subs, j) => subs.zipWithIndex.map { case (v, c) => (j, c, v) } }
      .toDF("sub_id", "code", "cent_v")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    Seq(distortion)
      .toDF("build_distortion")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** The ACTION behind the [[IvfPqRetrainFence]]: retrain the codebook
    * on the index's CURRENT corpus (the stored raw `lists/`, drifted
    * appends included) and re-encode ONLY the `codes/` tier against it
    * — the raw tier and the quantizer are codebook-independent, so a
    * retrain never touches `centroids/` or `lists/` (vs a full
    * [[ivfPqBuild]], which would rewrite the heavy raw tier for
    * nothing). Refreshes `codebook/` and the `stats/` baseline, so the
    * next [[ivfPqStaleness]] readout measures against the new book.
    * Geometry (m, ks, dim) is carried over from the stored codebook;
    * seeds/training follow [[pqTrain]]'s deterministic conventions over
    * the stored rows.
    *
    * Consistency: the three tier writes (codes → codebook → stats) are
    * not atomic as a group — run a retrain in a maintenance window (no
    * concurrent probes/appends), or build into a fresh index directory
    * and swap, exactly like the reference's offline compaction. A
    * probe that races the window reads mixed ADC scores but NEVER
    * wrong results (the final rerank is exact over raw vectors); an
    * append that races it encodes against whichever book it loaded —
    * re-run the retrain after. Returns the retrained codebook. */
  def ivfPqRetrain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      iters: Int = 2): PqCodebook = {
    import spark.implicits._
    val old = ivfPqCodebook(spark, path)
    val dim = old.m * old.subDim
    val lists = spark.read
      .parquet(s"$path/lists")
      .select(
        col("neighbor_id"),
        col("c_v"),
        col("c_nrm"),
        col("cent_id").cast("long").as("cent_id"))
    val cb = pqTrain(lists, old.m, old.ks, dim, iters)
    pqEncode(lists, cb, carry = Seq("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/codes")
    writeCodebookAndStats(spark, path, cb, pqDistortion(lists, cb))
    cb
  }

  /** Load a persisted codebook back into the driver-side literal form
    * (m·ks rows — a control-plane collect, the [[pqCodebook]]
    * convention). */
  def ivfPqCodebook(
      spark: org.apache.spark.sql.SparkSession,
      path: String): PqCodebook = {
    val rows = spark.read
      .parquet(s"$path/codebook")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toVector))
    val m = rows.map(_._1).max + 1
    val cents = Vector.tabulate(m)(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3).toVector)
    PqCodebook(m, cents.head.head.size, cents)
  }

  /** Probe a persisted IVF-PQ index — the full combined-route serving
    * shape: queries route through the stored quantizer; the ADC scan
    * reads ONLY the probed cells' `codes/` partitions (literal IN
    * filter → partition pruning, ~16 B/vector); the exact rerank
    * touches raw vectors for shortlist·|Q| rows out of the probed
    * `lists/` partitions. Identical results to [[ivfPqTopKWith]] over
    * the same corpus + centroids + codebook (shortlist members live in
    * probed cells by construction, so pruning `lists/` to the probed
    * set loses nothing). */
  def ivfPqProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int = 5,
      nProbe: Int = 2,
      shortlist: Int = 20): DataFrame = {
    val cb = ivfPqCodebook(spark, path)
    val cents = spark.read.parquet(s"$path/centroids")
    val q = nearestCells(queries, broadcast(cents), "query_id", "q_v", "q_nrm", nProbe)
      .select("query_id", "cent_id")
    val probed = q.select("cent_id").distinct().collect().map(_.getLong(0)).toIndexedSeq
    val codes = spark.read
      .parquet(s"$path/codes")
      .where(col("cent_id").isin(probed: _*))
      .withColumn("cent_id", col("cent_id").cast("long"))
    val ws = Window
      .partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val short = broadcast(q.join(queries, "query_id"))
      .join(codes.hint("shuffle_hash"), "cent_id")
      .withColumn("adc", adcDotCol(cb) / VectorFns.safeDen(col("q_nrm"), col("recon_nrm")))
      .select("query_id", "neighbor_id", "adc")
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select("query_id", "neighbor_id", "adc")
    val lists = spark.read
      .parquet(s"$path/lists")
      .where(col("cent_id").isin(probed: _*))
      .select("neighbor_id", "c_v", "c_nrm")
    rankTopK(
      lists
        .join(broadcast(short.join(queries, "query_id")), "neighbor_id")
        .withColumn("cos", cos)
        .withColumn("adc", round(col("adc"), 6)),
      k,
      extraCols = Seq("adc"))
  }

  /** Assign each row to its `keep` argmax-cosine centroids (ties to the
    * lower cent_id): the shared cell-assignment step of the inline IVF
    * query, the persisted index build, the incremental append, AND the
    * probe side — one definition so an appended batch lands in exactly
    * the cells a fresh build would put it in. `cents` should be
    * broadcast by the caller (the quantizer is control-plane sized). */
  private def nearestCells(
      df: DataFrame,
      cents: DataFrame,
      idCol: String,
      vCol: String,
      nrmCol: String,
      keep: Int): DataFrame =
    cellRanks(df, cents, idCol, vCol, nrmCol)
      .filter(col("cent_rank") <= keep)
      .drop("cent_v", "cent_nrm", "cent_sim", "cent_rank")

  /** Every (row, centroid) pair with the row's cosine-similarity rank
    * over the quantizer (1 = nearest; ties to the lower cent_id) — the
    * shared kernel behind [[nearestCells]], exposed for rank-indexed
    * consumers like the recall-vs-nProbe tuning curve (which needs to
    * know WHICH probe would first reach a cell, not just the top-n
    * set). `cents` should be broadcast by the caller. */
  def cellRanks(
      df: DataFrame,
      cents: DataFrame,
      idCol: String,
      vCol: String,
      nrmCol: String): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(col("cent_sim").desc, col("cent_id"))
    df.join(cents)
      .withColumn(
        "cent_sim",
        VectorFns.dot(col(vCol), col("cent_v")) /
          VectorFns.safeDen(col(nrmCol), col("cent_nrm")))
      .withColumn("cent_rank", row_number().over(w))
  }

  /** IVF top-k: a broadcast coarse quantizer of `centroids` rows
    * `(cent_id, cent_v, cent_nrm)`; every corpus vector is assigned to
    * its argmax-cosine centroid once (linear cost), queries probe their
    * `nProbe` nearest centroid lists. Rebuilds the assignment per call —
    * the right shape for a one-shot query; a SERVING deployment builds
    * once with [[ivfBuild]] and probes with [[ivfProbe]]. */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      k: Int = 5,
      nProbe: Int = 2): DataFrame = {
    val cents = broadcast(centroids)
    val q = nearestCells(queries, cents, "query_id", "q_v", "q_nrm", nProbe)
    val c = nearestCells(corpus, cents, "neighbor_id", "c_v", "c_nrm", 1)
    rankTopK(broadcast(q).join(c, "cent_id").withColumn("cos", cos), k)
  }

  // ---- persisted IVF index: build / append / probe --------------------
  //
  // The production ANN shape at 100 TB: assigning the corpus to cells is
  // the expensive linear pass, so it runs ONCE (ivfBuild), lands in
  // parquet PARTITIONED BY cent_id, and every probe afterwards plans
  // against the stored lists — touching only its own nProbe cells' files
  // (partition pruning off a literal cell-id filter), never re-training
  // and never re-scanning the corpus. New batches join the index through
  // the STORED quantizer (ivfAppend — the minhashLshAgainst pattern:
  // batch × index, never corpus × corpus), so build → serve → ingest is
  // incremental end to end.

  /** Build a persisted IVF index under `path`: `centroids/` (the coarse
    * quantizer, `(cent_id, cent_v, cent_nrm)`) and `lists/` (the corpus
    * with each vector in its argmax-cosine cell), partitioned by
    * `cent_id`. */
  def ivfBuild(corpus: DataFrame, centroids: DataFrame, path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    nearestCells(corpus, broadcast(centroids), "neighbor_id", "c_v", "c_nrm", 1)
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/lists")
    // build-time assignment distortion — the [[ivfQuantizerStaleness]]
    // baseline (one extra linear pass; build runs once)
    writeQStats(corpus.sparkSession, path)
  }

  /** Incrementally add `batch` (corpus-shaped: `neighbor_id, c_v,
    * c_nrm`) to a stored index: assign against the STORED quantizer (no
    * retraining — appended vectors land in exactly the cells a fresh
    * build would choose) and, on the two-tier layout ([[ivfPqBuild]]),
    * encode against the STORED codebook, so the batch carries exactly
    * the codes a fresh build would give it. The batch enters the live
    * tiers through [[publishStaged]], so concurrent appends to one index
    * never share a write. */
  def ivfAppend(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String): Unit =
    publishStaged(spark, path)(ivfStage(spark, batch, path, _))

  /** Stage `batch` (corpus-shaped, pre-normed) for the stored index at
    * `path` WITHOUT touching its live tiers: [[ivfAppend]]'s assignment
    * (and encoding, on the two-tier layout) written under `staging`.
    * [[ivfAppend]] publishes it under a call-unique prefix; the
    * exactly-once ingest sink [[graft.streaming.StreamLog.ivfPqIngest]]
    * under its batch prefix. */
  private[graft] def ivfStage(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      staging: String): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
    stageCells(
      nearestCells(batch, broadcast(cents), "neighbor_id", "c_v", "c_nrm", 1),
      storedCodebook(spark, path),
      staging)
  }

  /** The codebook of a two-tier index (`$path/codes` exists), else
    * None: how append, maintenance and delete pick the tiers they
    * write. */
  private def storedCodebook(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[PqCodebook] =
    if (LogFs.exists(LogFs.fs(spark, path), s"$path/codes")) Some(ivfPqCodebook(spark, path))
    else None

  /** Write assigned rows `(neighbor_id, c_v, c_nrm, cent_id)` under
    * `staging` in the index layout: `lists/`, plus their codes under
    * `cbOpt` in `codes/`, both partitioned by `cent_id`. A retried
    * staging is a clean rewrite. */
  private def stageCells(
      cells: DataFrame,
      cbOpt: Option[PqCodebook],
      staging: String): Unit = {
    val rows =
      // cut: actions — the lists and codes writes read it
      if (cbOpt.isDefined) graft.operators.Materialize.cut(cells) else cells
    rows.write.mode("overwrite").partitionBy("cent_id").parquet(s"$staging/lists")
    cbOpt.foreach { cb =>
      pqEncode(rows, cb, carry = Seq("cent_id"))
        .write.mode("overwrite").partitionBy("cent_id").parquet(s"$staging/codes")
    }
  }

  /** The one way rows enter a live index tier: `stage` writes into a
    * call-unique dir under `$path/_staging/`, whose files
    * [[LogFs.publish]] then renames into the tiers under that dir's
    * `<token>-` prefix. A hard crash before the publish leaves an inert
    * staging dir; one during it leaves whole files of the batch. */
  private def publishStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String)(stage: String => Unit): Unit = {
    val fs = LogFs.fs(spark, path)
    val token = java.util.UUID.randomUUID().toString
    val staging = s"$path/_staging/$token"
    try {
      stage(staging)
      LogFs.publish(fs, staging, path, s"$token-")
    } finally LogFs.deleteRecursive(fs, staging)
  }

  /** The swap behind [[ivfMaintain]] and [[ivfDelete]]: `rows` (the
    * rewritten cells' members, keyed by their NEW `cent_id`s) enter
    * every tier through [[publishStaged]], the stored quantizer
    * (`centroids`) drops the `old` ids and gains `added`, and only then
    * are the `old` partitions deleted from every tier. New data is on
    * disk before old data goes; a crash in the window leaves
    * quantizer-absent orphans that [[ivfRecover]] deletes. */
  private def rehomeCells(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      centroids: DataFrame,
      old: Seq[Long],
      rows: DataFrame,
      added: DataFrame): Unit = {
    val cbOpt = storedCodebook(spark, path)
    publishStaged(spark, path)(stageCells(rows, cbOpt, _))
    val merged = centroids
      .where(!col("cent_id").isin(old: _*))
      .unionByName(added)
      .collect()
      .toIndexedSeq // k rows — control plane
    spark
      .createDataFrame(spark.sparkContext.parallelize(merged, 1), centroids.schema)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val fs = LogFs.fs(spark, path)
    for (tier <- "lists" +: cbOpt.map(_ => "codes").toSeq; id <- old)
      LogFs.deleteRecursive(fs, s"$path/$tier/cent_id=$id")
  }

  /** [[ivfAppend]] with the maintenance fence wired in: after the
    * batch lands, [[ivfRebalance]] splits hot cells while the fence
    * stays tripped. This is the self-balancing ingest loop a serving
    * deployment actually runs — append-only ingest under drift/skew
    * otherwise grows hot cells unbounded. Returns true iff any
    * maintenance ran. */
  def ivfAppendMaintained(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      fence: Double = 2.0,
      splitInto: Int = 0,
      iters: Int = 2,
      maxRounds: Int = 4): Boolean = {
    ivfAppend(spark, batch, path)
    ivfRebalance(spark, path, fence, splitInto, iters, maxRounds)
  }

  /** Run [[ivfMaintain]] rounds while [[ivfImbalance]] reads above
    * `fence` (with the default AUTO split arity one round normally
    * suffices; the `maxRounds` cap bounds uneven k-means splits and the
    * degenerate all-duplicates cell that cannot split at all). The
    * imbalance readout is one k-row control-plane aggregate per round.
    * Returns true iff any maintenance ran. */
  private[graft] def ivfRebalance(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      fence: Double,
      splitInto: Int,
      iters: Int,
      maxRounds: Int): Boolean = {
    var rounds = 0
    while (rounds < maxRounds && ivfImbalance(spark, path) > fence &&
      ivfMaintain(spark, path, fence, splitInto, iters)) rounds += 1
    rounds > 0
  }

  /** Cell-size imbalance of a stored index: `max_size · k / n` (1.0 =
    * perfectly balanced; the `q_ivf_balance` statistic, read off the
    * stored lists instead of a fresh assignment). Probe latency follows
    * the max cell, so this IS the serving-latency health number. */
  def ivfImbalance(spark: org.apache.spark.sql.SparkSession, path: String): Double = {
    val counts = cellCounts(spark, path)
    if (counts.isEmpty) 1.0
    else {
      val n = counts.map(_._2).sum
      counts.map(_._2).max.toDouble * counts.size.toDouble / n.toDouble
    }
  }

  /** `(cent_id, size)` of every stored list — one k-row control-plane
    * collect off the partition-pruned count aggregate. */
  private def cellCounts(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Long)] =
    spark.read
      .parquet(s"$path/lists")
      .groupBy(col("cent_id").cast("long").as("cent_id"))
      .count()
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toIndexedSeq

  /** Crash recovery for [[ivfMaintain]]'s swap window: delete data
    * partitions whose `cent_id` is absent from the stored quantizer —
    * in `lists/` and, when the index is the two-tier IVF-PQ layout
    * ([[ivfPqBuild]]), in `codes/` too. A crash between the sub-cell
    * publish and the hot-partition delete leaves exactly such orphans —
    * either the new sub-cells (crash BEFORE the quantizer swap: the hot
    * partition still holds every member, so the orphans are a
    * discardable partial split) or the already-re-homed hot partitions
    * (crash AFTER the swap: the quantizer routes to the sub-cells, so
    * the orphans are the leftover old copies). Probes are correct
    * THROUGHOUT the window — routing is quantizer-driven and the
    * literal IN filter never reads a partition whose id the quantizer
    * lacks — but orphans double-count members in
    * [[ivfImbalance]]/[[cellCounts]], so [[ivfMaintain]] runs this
    * first. Returns the deleted cell ids (distinct across tiers). */
  def ivfRecover(spark: org.apache.spark.sql.SparkSession, path: String): Seq[Long] = {
    val known = spark.read
      .parquet(s"$path/centroids")
      .select(col("cent_id").cast("long"))
      .collect()
      .map(_.getLong(0))
      .toSet // k rows — control plane
    (recoverTier(spark, path, "lists", known) ++
      recoverTier(spark, path, "codes", known)).distinct.sorted
  }

  /** One tier of [[ivfRecover]]: drop `cent_id=` partitions under
    * `$path/$tier` absent from `known`. Missing tier = no-op (a plain
    * IVF index has no `codes/`). */
  private def recoverTier(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      tier: String,
      known: Set[Long]): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(s"$path/$tier")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    val orphans = fs
      .listStatus(dir)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("cent_id=") => s.stripPrefix("cent_id=").toLong }
      .filterNot(known)
      .sorted
      .toIndexedSeq
    orphans.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$tier/cent_id=$id"), true)
      ()
    }
    orphans
  }

  /** Rebalance a stored index when skewed [[ivfAppend]] traffic has
    * grown hot cells past `fence × mean` (the [[ivfImbalance]] fence):
    * every over-budget cell is SPLIT IN PLACE by a local k-means over
    * its own members (deterministic lowest-id seeds — `splitInto` of
    * them, or with the default AUTO arity (`splitInto = 0`) enough
    * sub-cells to target the MEAN cell size, `ceil(count·k/n)`, so one
    * pass restores balance — plus `iters` Lloyd rounds), its members
    * land in fresh cells under new `cent_id`s, the quantizer gains the
    * sub-centroids and drops the hot ones, and only then are the hot
    * partitions deleted (new data is on disk before old data goes).
    * Returns true iff maintenance ran.
    *
    * All hot cells are processed in ONE batch keyed `(home_cell,
    * cent_id)` — the two-level-quantizer packing — so the job count is
    * CONSTANT in the number of hot cells (seeds: 1 job; Lloyd: 1 job
    * per iteration; final write: 1 job), not O(hot cells × iters): a
    * drift event that trips dozens of cells at once costs the same
    * scheduling as one. Each member only ever competes against its own
    * home cell's sub-centroids, so the result is the same split the
    * per-cell loop produced.
    *
    * Scale/consistency contract:
    *   - cost is `Σ hot-cell sizes · (iters + 2)` scans of ONLY the hot
    *     partitions (partition-pruned reads) — cold cells are never
    *     read, never rewritten, and their files stay BIT-IDENTICAL, so
    *     probes that do not route to a split cell are unchanged;
    *   - every member of a split cell ends in the sub-cell whose final
    *     centroid is its argmax cosine (the assignment and the stored
    *     quantizer come from the same last Lloyd round), so
    *     [[ivfProbe]]'s route-then-scan invariant holds for the new
    *     cells exactly as [[ivfBuild]] established it for the old;
    *   - the member set is preserved exactly (no loss, no dup) — the
    *     split only re-partitions hot cells' rows;
    *   - new `cent_id`s are allocated past the max of BOTH the stored
    *     quantizer and the lists, so a centroid row with zero members
    *     (argmax assignment can leave a quantizer cell empty) can never
    *     collide with a new sub-cell id;
    *   - crash safety: the swap orders sub-cell publish → quantizer
    *     overwrite → hot-partition delete. A crash inside that window
    *     leaves orphan partitions (absent from the quantizer — probes
    *     never read them); the [[ivfRecover]] pass at the start of the
    *     next maintenance round deletes them, making the swap
    *     idempotent. The quantizer overwrite itself is the one
    *     non-atomic step — keep it on a filesystem with atomic rename
    *     (or snapshot `centroids/` upstream) if the index must survive
    *     a crash mid-overwrite.
    *
    * Wire this to the [[ivfImbalance]] readout after append batches:
    * `if (ivfImbalance(s, p) > fence) ivfMaintain(s, p, fence)`, or let
    * [[ivfAppendMaintained]] do it.
    *
    * Two-tier ([[ivfPqBuild]]) indexes are detected from the layout:
    * the split cells' `codes/` partitions are re-homed in the same
    * pass. Because the codes are raw-vector against the FROZEN global
    * codebook (cell-independent by design — see [[ivfPqTopKWith]]), a
    * split never changes a single code value: the re-home re-derives
    * each moved row's codes from its raw vector with [[pqEncode]]
    * (byte-identical values, spec-asserted), one extra projection over
    * the rows the lists split already holds — no extra shuffle, no
    * extra scan. Cold cells stay bit-identical in BOTH tiers, and
    * [[ivfRecover]] covers both tiers.
    *
    * The sub-centroid length is the members' vector length, read off
    * the seed vectors. */
  def ivfMaintain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      fence: Double = 2.0,
      splitInto: Int = 0,
      iters: Int = 2): Boolean = {
    import spark.implicits._
    require(
      fence > 1.0 && (splitInto == 0 || splitInto >= 2),
      "fence must exceed 1.0; splitInto must be 0 (auto) or 2+")
    val centroids = spark.read.parquet(s"$path/centroids")
    val knownIds = centroids
      .select(col("cent_id").cast("long"))
      .collect()
      .map(_.getLong(0))
      .toIndexedSeq // k rows — control plane
    ivfRecover(spark, path) // idempotence: clear any prior crash's orphans
    val counts = cellCounts(spark, path)
    if (counts.isEmpty) return false
    val n = counts.map(_._2).sum
    val kCells = counts.size
    val budget = fence * n.toDouble / kCells.toDouble
    val hotCells = counts.filter(_._2.toDouble > budget).sortBy(_._1)
    val hot = hotCells.map(_._1)
    // auto arity: split each over-budget cell into enough sub-cells to
    // TARGET the mean cell size — one pass restores balance instead of
    // halving toward it over log₂ rounds
    def arity(cnt: Long): Int =
      if (splitInto >= 2) splitInto
      else math.max(2, math.ceil(cnt.toDouble * kCells / n).toInt)
    if (hot.isEmpty) return false

    // new ids start past BOTH the lists and the quantizer (a quantizer
    // cell can be empty → absent from counts but still a live id)
    val nextId = math.max(counts.map(_._1).max, knownIds.max) + 1L
    // deterministic allocation: hot cells in ascending id order, each
    // taking a contiguous id block — identical to a per-cell loop's
    val arities = hotCells.map { case (id, cnt) => (id, arity(cnt)) }
    val bases = arities.scanLeft(nextId) { case (b, (_, k2)) => b + k2 }
    val cellBase: Map[Long, Long] = arities.map(_._1).zip(bases.init).toMap

    // ALL hot partitions in one partition-pruned read, keyed by home cell
    def hotRows = spark.read
      .parquet(s"$path/lists")
      .where(col("cent_id").isin(hot: _*))
      .select(
        col("cent_id").cast("long").as("home_cell"),
        col("neighbor_id"),
        col("c_v"),
        col("c_nrm"))

    def centsDf(cs: Seq[(Long, Long, Seq[Double], Double)]) =
      broadcast(cs.toDF("home_cell", "cent_id", "cent_v", "cent_nrm"))
    // argmax-cosine assignment WITHIN each member's home cell (the
    // nearestCells rule, join restricted to the home cell's subs)
    def assign(cents: DataFrame): DataFrame = {
      val w = Window
        .partitionBy("home_cell", "neighbor_id")
        .orderBy(col("cent_sim").desc, col("cent_id"))
      hotRows
        .join(cents, "home_cell")
        .withColumn(
          "cent_sim",
          VectorFns.dot(col("c_v"), col("cent_v")) /
            VectorFns.safeDen(col("c_nrm"), col("cent_nrm")))
        .withColumn("cent_rank", row_number().over(w))
        .filter(col("cent_rank") === 1)
        .drop("cent_v", "cent_nrm", "cent_sim", "cent_rank")
    }

    // deterministic seeds: per hot cell, its arity lowest-id members
    // (the pqCodebook / kmeansAssign init convention) — ONE job
    val aritiesDf = arities.toDF("home_cell", "k2")
    val wSeed = Window.partitionBy("home_cell").orderBy("neighbor_id")
    var subs: Seq[(Long, Long, Seq[Double], Double)] = hotRows
      .join(broadcast(aritiesDf), "home_cell")
      .withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= col("k2"))
      .select("home_cell", "rn", "c_v")
      .collect() // Σ arity rows — control plane
      .map { r =>
        val home = r.getLong(0)
        val v = r.getSeq[Double](2)
        (home, cellBase(home) + (r.getInt(1) - 1L), v,
          math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
      }
      .sortBy(t => (t._1, t._2))
      .toIndexedSeq
    val dim = subs.head._3.size

    for (_ <- 0 until iters) { // ONE job per Lloyd round, all hot cells
      val dims = (1 to dim).map(j => avg(element_at(col("c_v"), j)).as(s"m$j"))
      subs = assign(centsDf(subs))
        .groupBy("home_cell", "cent_id")
        .agg(dims.head, dims.tail: _*)
        .collect() // Σ arity rows — control plane
        .map { r =>
          val v = (1 to dim).map(j => r.getDouble(j + 1))
          (r.getLong(0), r.getLong(1), v,
            math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
        }
        .sortBy(t => (t._1, t._2))
        .toIndexedSeq
    }

    // final assignment rides the SAME centroids that get stored, so
    // member ↔ quantizer consistency holds by construction — ONE job;
    // the quantizer swaps the hot centroids for the sub-centroids
    rehomeCells(
      spark, path, centroids, hot,
      assign(centsDf(subs)).select("neighbor_id", "c_v", "c_nrm", "cent_id"),
      subs.map { case (_, id, v, nrm) => (id, v, nrm) }.toDF("cent_id", "cent_v", "cent_nrm"))
    true
  }

  /** Remove vectors from a stored index — the lifecycle twin of
    * [[graft.log.EventLog.retain]] for the serving tier. Every dedup
    * keep-one decision, quality filter, or GDPR erasure the pipeline
    * performs upstream stays PROBE-VISIBLE until the index forgets it,
    * and build/append/maintain/retrain can only grow the index; this is
    * the removal op. `deletes` is a one-column `neighbor_id` set (any
    * size — it joins against the lists scan, never the driver).
    *
    * Mechanics reuse the [[ivfMaintain]] swap machinery: the touched
    * cells (one partition-pruned semi-join + a ≤ k-row collect) are
    * REWRITTEN under fresh `cent_id`s with the SAME centroid vectors —
    * survivors are re-keyed, the quantizer swaps the touched ids for
    * the fresh ones (identical geometry, so future routing is
    * unchanged), and only then are the old partitions dropped. Cells
    * holding no deleted vector are never read and stay BIT-IDENTICAL.
    * Two-tier ([[ivfPqBuild]]) layouts are detected from the layout:
    * survivors' codes re-derive from their raw vectors under the FROZEN
    * codebook ([[ivfMaintain]]'s re-home trick — byte-identical
    * values), so both tiers stay consistent.
    *
    * Crash safety is the maintenance contract: new partitions are
    * quantizer-absent until the swap, old partitions quantizer-absent
    * after it, and [[ivfRecover]] (run first here, and by every
    * maintenance round) deletes whichever orphans a crash leaves — the
    * op is idempotent under retry with the same `deletes` set. A probe
    * racing the window serves the OLD cells: deletion becomes visible
    * atomically at the quantizer swap.
    *
    * Scale: cost is one lists scan for the touch set (at 100 TB,
    * pre-restrict `deletes` to known cells or run deletes batched —
    * the scan amortizes over the batch) plus a rewrite of ONLY the
    * touched partitions. Returns the old ids of the rewritten cells
    * (empty when nothing matched). */
  def ivfDelete(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      deletes: DataFrame): Seq[Long] = {
    import spark.implicits._
    ivfRecover(spark, path) // idempotence: clear any prior crash's orphans
    val del = deletes.select(col("neighbor_id")).distinct()
    val lists = spark.read
      .parquet(s"$path/lists")
      .select(
        col("neighbor_id"),
        col("c_v"),
        col("c_nrm"),
        col("cent_id").cast("long").as("cent_id"))
    // which cells hold a deleted vector: ≤ k rows — control plane
    val touched = lists
      .join(del, Seq("neighbor_id"), "left_semi")
      .select("cent_id")
      .distinct()
      .collect()
      .map(_.getLong(0))
      .sorted
      .toIndexedSeq
    if (touched.isEmpty) return Nil

    val centroids = spark.read.parquet(s"$path/centroids")
    val knownIds = centroids
      .select(col("cent_id").cast("long"))
      .collect()
      .map(_.getLong(0))
      .toIndexedSeq // k rows — control plane
    val maxListId = cellCounts(spark, path).map(_._1).foldLeft(0L)(math.max)
    val nextId = math.max(maxListId, knownIds.max) + 1L
    // deterministic re-key: touched cells in ascending id order take
    // contiguous fresh ids (the ivfMaintain allocation rule)
    val rekey = touched.zipWithIndex.map { case (old, i) => (old, nextId + i) }
    val rekeyDf = broadcast(rekey.toDF("cent_id", "new_id"))

    // survivors: the touched partitions only (partition-pruned read),
    // minus the delete set, re-keyed to the fresh cell ids; the
    // quantizer re-keys the touched ids with the SAME centroid vectors
    // — geometry unchanged, so routing and tie behavior are preserved
    // for every future probe/append/maintain
    rehomeCells(
      spark, path, centroids, touched,
      lists
        .where(col("cent_id").isin(touched: _*))
        .join(del, Seq("neighbor_id"), "left_anti")
        .join(rekeyDf, "cent_id")
        .select(
          col("neighbor_id"),
          col("c_v"),
          col("c_nrm"),
          col("new_id").as("cent_id")),
      centroids
        .join(rekeyDf, "cent_id")
        .select(col("new_id").as("cent_id"), col("cent_v"), col("cent_nrm")))
    touched
  }

  /** Probe a stored index: queries pick their `nProbe` nearest STORED
    * centroids; the probed cell ids (≤ |Q|·nProbe values — a
    * control-plane collect, like the PQ codebook) become a literal IN
    * filter so the lists scan PRUNES to those cells' files; ranking is
    * the shared exact-cosine rule. Identical results to [[ivfTopK]]
    * over the same corpus + centroids. */
  def ivfProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int = 5,
      nProbe: Int = 2): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val q = nearestCells(queries, broadcast(cents), "query_id", "q_v", "q_nrm", nProbe)
    val probed = q.select("cent_id").distinct().collect().map(_.getLong(0)).toIndexedSeq
    val lists = spark.read
      .parquet(s"$path/lists")
      // filter FIRST (on the raw partition attribute, so it prunes at
      // the scan), normalize the inferred partition-column type after
      .where(col("cent_id").isin(probed: _*))
      .withColumn("cent_id", col("cent_id").cast("long"))
    rankTopK(broadcast(q).join(lists, "cent_id").withColumn("cos", cos), k)
  }
}
