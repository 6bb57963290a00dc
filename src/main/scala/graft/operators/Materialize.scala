package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The library's single lineage-cut / materialization primitive.
  *
  * A cut runs one eager Spark job while the DataFrame is being built,
  * before any planning, so it is kept only where that job earns its
  * keep. Every call site names its rule in a `// cut: <rule> — <why>`
  * comment on the call's line or within the two lines above
  * (GraftSessionSpec enforces the tag):
  *
  *  - `actions`: two or more actions or returned plans consume it (a
  *    driver count or collect plus the plan, two writes, a sort's
  *    range-sampling job plus the write);
  *  - `loop`: it bounds lineage in a loop (fixpoint rounds,
  *    [[cutObserved]], k-means rounds, BPE merges);
  *  - `artefact`: a build-once artefact that outlives the call (index
  *    tiers, a codebook);
  *  - `pin`: it fixes an input that would otherwise change under the
  *    plan (a directory the caller then rewrites, a nondeterministic
  *    input read twice);
  *  - `measured`: deleting it made the key slower on a same-host board.
  *
  * A cut whose one consumer sits in the same plan is not kept, nor one
  * whose several consumers sit inside one plan: AQE's exchange reuse
  * already shares an exchange-terminated subtree there. "So the join is
  * planned from its real size" is not a reason either: on Spark 4.1 the
  * `LogicalRDD` a cut returns carries the origin plan's ESTIMATED
  * statistics, not the materialized size.
  *
  * The session alone picks the mode:
  *
  *  - no checkpoint directory: `localCheckpoint()` — executor-local
  *    blocks, no distributed write. Fast, and right for single-node and
  *    short jobs, but the blocks are pinned to executors and lineage is
  *    severed, so ONE lost executor fails the job.
  *  - a checkpoint directory (`sc.setCheckpointDir(...)` on an
  *    HDFS/object-store path): `checkpoint()` writes the cut to that
  *    directory and the job survives executor loss — the right setting
  *    for long 100 TB runs, at the price of one distributed write per
  *    cut.
  *
  * Superseded reliable snapshots are GC'd by Spark only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; otherwise
  * clear the directory after the run.
  */
object Materialize {

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint()

  /** [[cut]] + named aggregate metrics computed over the SAME
    * materialization job via `Dataset.observe` — the fixpoint-loop
    * primitive (r15): a convergence loop that cuts per round and then
    * runs a separate count job pays 2 jobs + 2 full passes per round;
    * observed metrics ride the checkpoint pass for free (CollectMetrics
    * is a pass-through node whose accumulators are action-exact).
    *
    * The mode is [[cut]]'s. In reliable mode the metrics come from a
    * follow-up statistic job over the checkpointed result instead — a
    * reliable RDD checkpoint may re-execute the plan to write its
    * files, which would double-count observed accumulators; the
    * follow-up job is the pre-r15 behavior there.
    *
    * Metrics must be aggregates that yield non-null on empty input
    * (`count`, `coalesce(sum(..), 0)`), since the loop reads them as
    * bare longs. */
  def cutObserved(df: DataFrame, metrics: (String, Column)*): (DataFrame, Map[String, Any]) = {
    val named = metrics.map { case (n, c) => c.as(n) }
    if (reliable(df)) {
      val out = df.checkpoint()
      val r = out.agg(named.head, named.tail: _*).head()
      (out, metrics.map(_._1).zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap)
    } else {
      val obs = Observation()
      val out = df.observe(obs, named.head, named.tail: _*).localCheckpoint()
      (out, obs.get)
    }
  }
}
