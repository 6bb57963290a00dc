package graft.clustering

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Distributed embedding clustering — fixed-iteration Lloyd's k-means
  * and the SemDeDup-style semantic near-dup pass built on it (Abbas et
  * al., "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", 2023).
  *
  * Scale shape (the point of k-means for corpus curation): per Lloyd
  * round the corpus is ONE linear projection (k codegen'd dot products
  * per row against centroid literals — no join, no corpus shuffle) plus
  * ONE aggregate of k rows with map-side partials; only the k×dim
  * centroid table ever reaches the driver, exactly like Spark MLlib's
  * own KMeans control plane. [[semanticPairs]] then confines the
  * quadratic pair join inside clusters: n²/k per cluster instead of n²,
  * the SemDeDup trick that makes embedding dedup feasible at corpus
  * scale.
  *
  * Determinism: centroid updates are fixed-point means — each component
  * is quantized by `floor(x · 10⁷)` and summed exactly as int64, and the
  * mean is a single IEEE division of two exactly-representable values.
  * `floor` has no rounding ties (unlike a decimal cast's half-up /
  * half-even ambiguity), so a SQL engine replaying the same update
  * derives bit-identical centroids and therefore identical assignments —
  * which is what lets a k-means run be oracle-checked at all. The 10⁻⁷
  * quantization error is far below any clustering-relevant signal.
  */
object Clustering {

  /** Fixed-point scale for exact centroid sums (see class doc). At this
    * scale int64 sums hold ~10¹¹ unit-range vectors per cluster. */
  private val Q = 10000000L

  /** One centroid: id (its rank in the init order / group key), the
    * component array, and its euclidean norm (sequential-fold, matching
    * [[VectorFns.dot]]'s order). */
  final case class Centroid(id: Int, v: Array[Double]) {
    val nrm: Double = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
  }

  /** Cosine of `vec`/`nrmCol` against a centroid baked as a literal —
    * stays inside whole-stage codegen ([[VectorFns.dot]]). */
  private def centSim(vec: Column, nrm: Column, c: Centroid): Column =
    VectorFns.dot(vec, typedLit(c.v.toSeq)) /
      VectorFns.safeDen(nrm, lit(c.nrm))

  /** Project `(id, cluster, sim)` — argmax-cosine assignment against the
    * current centroids. Sims are materialized once in their own
    * projection; the argmax CASE chain breaks ties toward the LOWEST
    * centroid id (first match wins), mirroring the oracle's
    * `ORDER BY sim DESC, cent_id` rank. */
  private def assign(
      embs: DataFrame,
      id: String,
      vec: String,
      nrm: String,
      cents: Seq[Centroid]): DataFrame = {
    val simCols = cents.map(c => centSim(col(vec), col(nrm), c).as(s"s${c.id}"))
    val withSims = embs.select(col(id) +: col(vec) +: col(nrm) +: simCols: _*)
    // greatest() requires >= 2 children; one centroid (k=1, or cluster
    // collapse on a duplicate-heavy corpus head) means its sim IS the max
    val m =
      if (cents.size == 1) col(s"s${cents.head.id}")
      else greatest(cents.map(c => col(s"s${c.id}")): _*)
    val cluster = cents.tail
      .foldLeft(when(col(s"s${cents.head.id}") === m, lit(cents.head.id))) {
        (acc, c) => acc.when(col(s"s${c.id}") === m, lit(c.id))
      }
      .otherwise(lit(-1))
    withSims.select(
      col(id),
      col(vec),
      col(nrm),
      cluster.as("cluster"),
      m.as("sim"))
  }

  /** Recompute centroids as fixed-point means of their members: one
    * aggregate with `dim` exact int64 sums + a count (map-side partials,
    * k output rows), collected to the driver. Empty clusters simply
    * disappear (no members → no group), same as the oracle's group-by. */
  private def updateCentroids(
      assigned: DataFrame,
      vec: String,
      dim: Int): Seq[Centroid] = {
    val sums = (1 to dim).map(j =>
      sum(floor(element_at(col(vec), j) * lit(Q.toDouble)).cast("long"))
        .as(s"s$j"))
    val aggs = count(lit(1)).as("n") +: sums
    assigned
      .groupBy("cluster")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val n = r.getAs[Long]("n")
        val denom = (n * Q).toDouble
        Centroid(
          r.getAs[Int]("cluster"),
          (1 to dim).map(j => r.getAs[Long](s"s$j").toDouble / denom).toArray)
      }
      .sortBy(_.id)
      .toSeq
  }

  /** `iters` Lloyd rounds from a deterministic init (the `k` lowest-id
    * vectors), returning the final assignment `(id, cluster, sim)` with
    * `sim` the cosine to the assigned centroid, rounded to 6 dp.
    *
    * `embs` must carry `(id, vec array<double>, nrm)` (see
    * [[graft.similarity.Ann.withNorm]]) and is scanned `iters + 1`
    * times — persist/checkpoint it upstream at corpus scale. */
  def kmeansAssign(
      embs: DataFrame,
      id: String = "vec_id",
      vec: String = "v",
      nrm: String = "nrm",
      k: Int = 10,
      iters: Int = 2,
      dim: Int = 64): DataFrame = {
    require(k > 0 && iters >= 0, "k must be positive and iters non-negative")
    var cents = embs
      .orderBy(col(id))
      .limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => Centroid(i, r.getAs[Seq[Double]](vec).toArray) }
      .toSeq
    require(cents.nonEmpty, "kmeansAssign needs a non-empty corpus")
    for (_ <- 0 until iters)
      cents = updateCentroids(assign(embs, id, vec, nrm, cents), vec, dim)
    assign(embs, id, vec, nrm, cents)
      .select(
        col(id),
        col("cluster").cast("long").as("cluster"),
        round(col("sim"), 6).as("sim"))
  }

  /** [[kmeansAssign]] with `k` scaled to the corpus: one `count()` on
    * the (materialized) embedding table picks
    * `k = max(minK, ceil(n / targetClusterSize))`, holding the EXPECTED
    * cluster size constant as the corpus grows. That is what makes
    * co-cluster candidate volume LINEAR in n (Σ sizes² ≈ n ·
    * targetClusterSize when balanced) instead of n²/k-with-fixed-k —
    * the property [[graft.dedup.Dedup.embeddingNearDups]]' low-threshold
    * route depends on. Below [[FlatMaxK]] the flat quantizer's n·k
    * literal-column assign is the right plan (codegen'd literal dot
    * products, tiny constant); above it the auto route graduates to
    * [[kmeansAssignTwoLevel]] — measured at sf10, flat k = 10⁴ cost
    * 411 s with 59 MB task binaries where two-level holds the
    * per-decade ratio (same contract, same expected cluster size). */
  def kmeansAssignAuto(
      embs: DataFrame,
      id: String = "vec_id",
      vec: String = "v",
      nrm: String = "nrm",
      targetClusterSize: Int = 200,
      minK: Int = 10,
      iters: Int = 2,
      dim: Int = 64,
      flatMaxK: Int = FlatMaxK): DataFrame = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    val n = embs.count()
    val k = math.max(minK.toLong, (n + targetClusterSize - 1) / targetClusterSize)
    if (k <= flatMaxK) kmeansAssign(embs, id, vec, nrm, k.toInt, iters, dim)
    else kmeansAssignTwoLevel(embs, id, vec, nrm, targetClusterSize, iters, dim, k)
  }

  /** Above this auto-k the flat quantizer's n·k literal-column assign
    * stops being the right plan (the k select columns defeat codegen
    * and the per-row work grows as n²/C) and [[kmeansAssignAuto]]
    * routes to the two-level quantizer. 256 keeps every oracle-checked
    * scale (sf0.01 k=10, sf0.1 k=100) on the flat path — the DuckDB
    * oracles replay the flat clustering — while sf1 (k=1000) and
    * beyond graduate, exactly the "hierarchical coarse quantizer at
    * 100 TB" note the flat path always carried. Measured: q_dedup_embed
    * sf10 went 411 s (flat k=10⁴, 59 MB task binaries) → two-level.
    *
    * The same cap also routes INSIDE [[kmeansAssignTwoLevel]]: a coarse
    * split needing k₁ > flatMaxK cells is itself built by a recursive
    * two-level call, so the scheme deepens one level per √ — two levels
    * to k ≈ 65k, three to k ≈ 4.3B — and no plan at any depth carries
    * more than flatMaxK expression columns. */
  val FlatMaxK = 256

  /** Fine-table broadcast budget for [[kmeansAssignTwoLevel]]'s
    * per-cell assignment join. The fine centroid table is k·dim doubles
    * (+ row overhead): ~5 MB at sf10's k = 10⁴, but ~0.5 GB at the
    * k ≈ 10⁶ a 100 TB corpus implies at C = 200 — past any sane
    * auto-broadcast ceiling. The route is on ESTIMATED BYTES, not k:
    * k·(dim·8 + 24) ≤ budget → broadcast (corpus never shuffles in the
    * assign); above it the join flips to shuffle_hash on the cell key,
    * which co-locates each cell's members with exactly its own fine
    * centroids — per-task memory is cells-per-task·(k/k₁)·dim, bounded
    * regardless of k, at the price of one corpus shuffle per Lloyd
    * round. 64 MB keeps every measured scale (≤ sf10) on the
    * zero-corpus-shuffle broadcast path. */
  val FineBroadcastBudgetBytes: Long = 64L << 20

  /** Two-level flat quantizer (the IVF-style "coarse then fine"
    * assignment, PQ-paper lineage): a √k-cell coarse k-means (literal
    * columns — ≤ √k of them, plan-friendly) splits the corpus into
    * cells, then per-cell fine centroids (k₂ = ⌈size/C⌉ each, lowest-id
    * init, the same fixed-point Lloyd updates) are trained and assigned
    * via a BROADCAST join + map-side-combined argmax — the fine
    * centroid table is k·dim doubles (MBs at any realistic k), so the
    * join never shuffles the corpus, and each row pays k₂-of-its-cell
    * dot products instead of k. Total assign work per round drops from
    * n·k = n²/C to n·(√k + k/√k) ≈ n^1.5/√C, and no plan carries more
    * than √k expression columns. Cluster ids are (cell, j) packed into
    * one long; expected cluster size stays ≈ C, preserving the
    * SemDeDup candidates-∝-n property [[graft.dedup.Dedup.embeddingNearDups]]
    * depends on. Determinism: coarse path is [[kmeansAssign]]'s;
    * fine init is per-cell lowest-id; the argmax breaks sim ties on
    * lowest j via one order-free `max(struct(sim, -j, …))` aggregate;
    * updates reuse the exact fixed-point mean. */
  def kmeansAssignTwoLevel(
      embs: DataFrame,
      id: String = "vec_id",
      vec: String = "v",
      nrm: String = "nrm",
      targetClusterSize: Int = 200,
      iters: Int = 2,
      dim: Int = 64,
      k: Long = 0L,
      flatMaxK: Int = FlatMaxK,
      broadcastBudgetBytes: Long = FineBroadcastBudgetBytes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    val kEff =
      if (k > 0) k
      else {
        val n = embs.count()
        math.max(1L, (n + targetClusterSize - 1) / targetClusterSize)
      }
    val k1 = math.max(2L, math.ceil(math.sqrt(kEff.toDouble)).toLong).toInt
    // coarse split: flat literal assign while k₁ plans cleanly; above
    // flatMaxK the coarse level is itself a recursive two-level call
    // (k₁ cells of expected size n/k₁), deepening the tree one level —
    // the same graduation rule kmeansAssignAuto applies at the top.
    val cells =
      if (k1 <= flatMaxK)
        kmeansAssign(embs, id, vec, nrm, k1, iters, dim)
          .select(col(id), col("cluster").cast("long").as("cell"))
      else
        kmeansAssignTwoLevel(
          embs, id, vec, nrm,
          targetClusterSize =
            math.max(1L, (kEff * targetClusterSize + k1 - 1) / k1)
              .min(Int.MaxValue.toLong).toInt,
          iters = iters, dim = dim, k = k1.toLong,
          flatMaxK = flatMaxK, broadcastBudgetBytes = broadcastBudgetBytes)
          .select(col(id), col("cluster").as("cell"))
    // cut: loop — every Lloyd round's join reads the members
    val member = graft.operators.Materialize.cut(
      embs
        .select(col(id), col(vec), col(nrm))
        .join(cells.hint("shuffle_hash"), id))
    // fine init: the k₂ = ⌈size/C⌉ lowest-id members of each cell
    val wCell = Window.partitionBy("cell").orderBy(col(id))
    val szCell = Window.partitionBy("cell")
    var fine = member
      .withColumn("sz", count(lit(1)).over(szCell))
      .withColumn("rn", row_number().over(wCell))
      .filter(
        col("rn") <= ceil(col("sz").cast("double") / lit(targetClusterSize.toDouble)))
      .select(col("cell"), (col("rn") - 1L).cast("long").as("j"), col(vec).as("cv"))
      .transform(graft.operators.Materialize.cut(_)) // cut: loop — the Lloyd loop's first state
    // fine-join strategy, routed on ESTIMATED TABLE BYTES (see
    // [[FineBroadcastBudgetBytes]]): broadcast while the whole k·dim
    // fine table fits the budget (the corpus never shuffles), else
    // shuffle_hash on the cell key (bounded per-task memory at any k,
    // one corpus shuffle per round).
    val fineBroadcastable = kEff * (dim * 8L + 24L) <= broadcastBudgetBytes
    def assignFine(f: DataFrame): DataFrame = {
      val ft = f.withColumn("cnrm", VectorFns.norm(col("cv")))
      (if (fineBroadcastable) member.join(broadcast(ft), "cell")
       else member.join(ft.hint("shuffle_hash"), "cell"))
        .select(
          col(id),
          col("cell"),
          col("j"),
          (VectorFns.dot(col(vec), col("cv")) /
            VectorFns.safeDen(col(nrm), col("cnrm"))).as("sim"))
        .groupBy(col(id))
        .agg(
          max(struct(col("sim"), (-col("j")).as("nj"), col("j"), col("cell"))).as("b"))
        .select(
          col(id),
          col("b.cell").as("cell"),
          col("b.j").as("j"),
          col("b.sim").as("sim"))
    }
    val sums = (1 to dim).map(d =>
      sum(floor(element_at(col(vec), d) * lit(Q.toDouble)).cast("long")).as(s"s$d"))
    for (_ <- 0 until iters) {
      val a = assignFine(fine).select(col(id), col("j"))
      fine = member
        .join(a.hint("shuffle_hash"), id)
        .groupBy(col("cell"), col("j"))
        .agg(count(lit(1)).as("cn"), sums: _*)
        .select(
          col("cell") +: col("j") +:
            array((1 to dim).map(d =>
              col(s"s$d").cast("double") / (col("cn").cast("double") * lit(Q.toDouble))): _*)
              .as("cv") +: Nil: _*)
        .transform(graft.operators.Materialize.cut(_)) // cut: loop — bounds the centroid lineage per round
    }
    // pack (cell, j) into one stable long cluster id. Recursion makes
    // `cell` itself a packed long, so the j width comes from the REAL
    // fine table (one statistic-sized driver action, like the centroid
    // folds) instead of a fixed 2³¹ — collision-free at any depth, with
    // the total bit budget checked rather than assumed.
    val ext = fine.agg(max(col("j")).as("mj"), max(col("cell")).as("mc")).head()
    // empty input: max() aggregates to NULL — any width packs an empty
    // assignment, so fall back rather than NPE on getLong
    val jBits =
      if (ext.isNullAt(0)) 1
      else math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(ext.getLong(0) | 1L))
    require(
      ext.isNullAt(1) ||
        java.lang.Long.numberOfLeadingZeros(ext.getLong(1) | 1L) > jBits,
      s"packed cluster id overflow: cell ${ext.getLong(1)} << $jBits bits")
    assignFine(fine)
      .select(
        col(id),
        (col("cell") * lit(1L << jBits) + col("j")).as("cluster"),
        round(col("sim"), 6).as("sim"))
  }

  /** SemDeDup semantic near-dup pairs: cosine ≥ `threshold` pairs
    * RESTRICTED to k-means co-cluster members. `assignments` is
    * [[kmeansAssign]] output; the pair join shuffles both sides by
    * cluster, so the quadratic blow-up is bounded per cluster (the
    * shuffle_hash hint keeps the self-join from broadcasting one side
    * and recomputing the assignment subplan, as in
    * [[graft.dedup.Dedup.minhashLsh]]). Returns
    * `(a_id, b_id, cluster, cos)` with `a_id < b_id`. */
  def semanticPairs(
      embs: DataFrame,
      assignments: DataFrame,
      id: String = "vec_id",
      vec: String = "v",
      nrm: String = "nrm",
      threshold: Double = 0.45): DataFrame = {
    val member = embs
      .select(col(id), col(vec), col(nrm))
      .join(assignments.select(col(id), col("cluster")), id)
      .hint("shuffle_hash")
    graft.dedup.Dedup.embeddingCosine(
      member,
      id,
      vec,
      nrm,
      threshold,
      restrictKey = Some("cluster"))
  }
}
