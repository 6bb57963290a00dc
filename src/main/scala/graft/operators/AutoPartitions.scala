package graft.operators

/** Shuffle-partition sizing ∝ input data — the deep-decade probe
  * program's lesson promoted from an env-var convention to a builder
  * rule: a FIXED partition count over 100× the rows makes every
  * per-partition hash build / sort run 100× oversized (the measured
  * sf100 failure class: "Can't acquire 256 MiB to build hash
  * relation"), while partitions ∝ bytes keeps the per-task working set
  * in the regime every fence in this repo
  * ([[graft.dedup.Dedup.ShjDocsPerPartitionFence]] etc.) was measured
  * in. [[graft.GraftSession]] calls [[derive]] with the input
  * directory's byte size; `SPARK_GRAFT_SHUFFLE_PARTITIONS` stays as the
  * explicit override.
  */
object AutoPartitions {

  /** Input bytes each shuffle partition should cover. Calibrated from
    * the sf100 probe convention: ~19 GiB at 256 partitions ≈ 75 MB —
    * 64 MB reproduces ≥ that count with headroom and keeps the whole
    * four-leg board (sf0.01…sf10, ≤ ~2 GB) at the core count. */
  val TargetBytesPerPartition: Long = 64L * 1024 * 1024

  /** Ceiling so a pathological input (PB-scale path on a laptop) cannot
    * explode the task count; a real 1000-executor cluster raises it. */
  val MaxPartitions: Int = 4096

  /** Partitions for `inputBytes` of input on `cores` cores: at least
    * the core count (small inputs keep the cheap all-cores plan the
    * board is measured with), one per [[TargetBytesPerPartition]] past
    * it, capped at [[MaxPartitions]]. */
  def derive(inputBytes: Long, cores: Int): Int = {
    val byBytes =
      math.ceil(math.max(0L, inputBytes).toDouble / TargetBytesPerPartition.toDouble)
    math.min(MaxPartitions.toLong, math.max(cores.toLong, byBytes.toLong)).toInt
  }

  /** Recursive byte size of a LOCAL directory (one metadata walk — no
    * Spark session needed, so the builder can size partitions before
    * constructing it). A cluster deployment against an object store
    * would use `FileSystem.getContentSummary` instead; the local[n]
    * harness this repo benches on always reads local parquet. Missing
    * path → 0 (the derive floor then yields the core count). */
  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return 0L
    val stream = java.nio.file.Files.walk(root)
    try
      stream
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p))
        .sum()
    finally stream.close()
  }
}
