package graft

import graft.operators.AutoPartitions
import org.apache.spark.sql.SparkSession

/** The one session policy: [[Bench]], [[Verify]], [[DumpPlans]] and the
  * spec harness all build their `SparkSession` here, so their plans and
  * numbers come from the same settings and differ only in core count.
  *
  *  - `spark.sql.shuffle.partitions` ∝ input bytes
  *    ([[AutoPartitions.derive]] over `sfDir`, floor = cores).
  *    Fixed partitions over 100× the rows make every per-partition hash
  *    build / sort run 100× oversized — the measured sf100 OOM class.
  *    The floor keeps the whole four-leg board (sf0.01…sf10) on its
  *    measured all-cores plans, and the 19 GiB fifth decade lands at ≥ the
  *    probe convention's 256 without anyone knowing the env var.
  *    `SPARK_GRAFT_SHUFFLE_PARTITIONS` stays as the explicit override.
  *  - AQE on, with `maxShuffledHashJoinLocalMapThreshold` 64m: n-scaling
  *    joins (the PPJoin prefix/freq joins) are UNHINTED — sort-merge in
  *    the static plan (spills, survives any decade), converted back to
  *    the fast shuffled-hash join at runtime only when AQE measures every
  *    partition's map output under this threshold. A pinned shuffle_hash
  *    hint OOM'd at sf100 ("Can't acquire 256 MiB to build hash
  *    relation").
  *  - `spark.sql.files.maxPartitionBytes` 16m: local single-file tables
  *    get smaller splits so the scan stage uses the cores (the 128m
  *    default gives these files 1-3 tasks). A real cluster against
  *    TB-scale inputs keeps the default.
  *  - UI off; session time zone UTC; `nanosAsLong`, because events.ts is
  *    parquet TIMESTAMP(NANOS), read as ns-Long and normalized to µs by
  *    [[graft.sources.Tables]]; log level WARN.
  */
object GraftSession {

  /** Every setting [[local]] applies, `spark.master` included. */
  def settings(cpus: Int, sfDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> sys.env.getOrElse(
      "SPARK_GRAFT_SHUFFLE_PARTITIONS",
      AutoPartitions.derive(AutoPartitions.dirBytes(sfDir), cpus).toString),
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    "spark.sql.files.maxPartitionBytes" -> "16m",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A `local[cpus]` session under the policy above, shuffle partitions
    * sized by the bytes under `sfDir`. */
  def local(cpus: Int, sfDir: String): SparkSession = {
    val spark = settings(cpus, sfDir)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
