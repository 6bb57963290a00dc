package graft

/** Dev tool: dump the optimized physical plan (AQE initial plan,
  * SimpleMode) of every registered query for PLANS.md regeneration, one
  * `########## <name>` block each (the format tools/merge_plans.py reads):
  *
  *   sbt "runMain graft.DumpPlans /root/testdata/sf0.01 /tmp/plans.txt"
  *
  * Query names after the output path dump exactly those queries instead
  * (before/after plan pairs for one change); the skip list below applies
  * only to the full dump. The session is [[GraftSession.local]] on 32
  * cores.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outPath = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = GraftSession.local(32, sfDir)
    val out = new java.io.PrintWriter(outPath)
    // q_dedup_clusters excluded: its driver loop executes eagerly during
    // construction; the per-round join plan is the interesting part and
    // is identical to the propagate join documented in Dedup.scala.
    // q_kmeans/q_semdedup excluded: their plans inline k×dim centroid
    // literal arrays (tens of KB of doubles) — unreadable here; PlanSpec
    // asserts the shapes (shuffle-free assignment, shuffle-hash pair
    // join).
    // q_ann_pq excluded for the same literal-bloat reason (8×8 codebook
    // baked twice: encode scores + ADC lookup); PlanSpec asserts its
    // WindowGroupLimit shortlist + broadcast rerank.
    // q_bpe_train excluded: its merge loop executes eagerly during
    // construction (one argmax job per round, like q_dedup_clusters);
    // the interesting per-round aggregate is documented in
    // BpeTrainer.scala and the result plan is a LocalTableScan.
    // q_split_leakage excluded like q_dedup_clusters: its clustering
    // fixpoint executes eagerly during construction.
    // q_dup_graph_report / q_dup_source_overlap excluded for the same
    // reason: their shared pair table materializes (and the clustering
    // fixpoint runs) during construction; the one-subtree-many-consumers
    // shape is documented in PLANS.md prose.
    // q_pca_top excluded since the driver-side rewrite: the covariance
    // pass collects during construction and the plan is a
    // LocalTableScan (the interesting plan is q_embed_cov's, kept).
    // q_cc_bigstar excluded like q_dedup_clusters: the star-contraction
    // loop runs eagerly during construction; the per-round shapes are
    // documented in Dedup.connectedComponentsBigStar.
    // q_dedup_embed excluded since the r8 routing: at the registered
    // 0.45 threshold the k-means rounds run eagerly during construction
    // and the pair plan inlines centroid literals (the q_kmeans /
    // q_semdedup reason); DedupAnnApiSpec asserts the routing and
    // PlanSpec the co-cluster join shape.
    // q_attribution_markov excluded like q_pca_top: the transition
    // matrix collects during construction, the absorption solve is
    // driver-side, and the result plan is a LocalTableScan; the
    // one-(user)-exchange transition build is documented in its note.
    val skip = Set(
      "q_dedup_clusters", "q_kmeans", "q_semdedup", "q_ann_pq",
      "q_bpe_train", "q_split_leakage", "q_cluster_sizes",
      "q_dup_graph_report", "q_dup_source_overlap", "q_pca_top",
      "q_cc_bigstar", "q_dedup_embed", "q_attribution_markov")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(skip)
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      out.println(s"########## $name")
      out.println(
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
    }
    out.close()
    spark.stop()
  }
}
