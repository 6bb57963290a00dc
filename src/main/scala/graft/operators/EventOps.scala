package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The streams-core surface of the engine, as pure DataFrame transforms.
  *
  * An event log is any DataFrame with columns
  * `(space string, segment string, sequence long, timestamp long /*µs*/,
  * payload string, value double)` — per-segment `sequence` is contiguous
  * from 1 and `timestamp` is non-decreasing in `sequence`.
  *
  * Semantics mirror the reference store (reference: server/pebble/
  * service.go): min bounds exclusive, max bounds inclusive; a *segment*
  * scan is sequence-ordered; a *space* scan is time-interleaved, ordered
  * by `(timestamp, segment, sequence)` — exactly the reference's
  * lexicographic space key (server/messages.go:72).
  *
  * Scale notes: peek/offset/status are aggregations (single shuffle with
  * map-side partials), never sorts. Consume sorts only after pushing
  * space/segment/sequence predicates into the scan; the space-level sort
  * is Spark's range-partitioned exchange — the distributed equivalent of
  * the reference's single-node merge-interleave.
  */
object EventOps {

  import SortUtil.sortSmall

  /** Project the driver's `events` table (pre-normalized with a `ts_us`
    * column, see [[graft.sources.Tables.events]]) into the canonical log
    * schema: space := event_type, segment := user_id, sequence :=
    * per-segment row_number by (ts_us, event_id), timestamp := µs since
    * epoch. */
  def fromEvents(events: DataFrame): DataFrame = {
    // Cast segment BEFORE the window: the window's hash partitioning on
    // (space, segment) then satisfies every downstream
    // groupBy(space, segment), so peek/status/chunks aggregate without a
    // second exchange. (Windowing on the raw int user_id would partition
    // on a different key than the string the aggregates group on.)
    val base = events.select(
      col("event_type").as("space"),
      col("user_id").cast("string").as("segment"),
      col("ts_us"),
      col("event_id"),
      col("props").as("payload"),
      col("value"))
    val w = Window
      .partitionBy(col("space"), col("segment"))
      .orderBy(col("ts_us"), col("event_id"))
    base.select(
      col("space"),
      col("segment"),
      row_number().over(w).cast("long").as("sequence"),
      col("ts_us").as("timestamp"),
      col("payload"),
      col("value"))
  }


  /** Sorted space inventory (reference: pebble/service.go:146). */
  def getSpaces(log: DataFrame): DataFrame =
    sortSmall(log.select("space").distinct(), col("space"))

  /** Sorted segment inventory of one space (pebble/service.go:205). */
  def getSegments(log: DataFrame, space: String): DataFrame =
    sortSmall(
      log.filter(col("space") === space).select("segment").distinct(),
      col("segment"))

  /** Last entry of every segment (reference Peek, pebble/service.go:224),
    * computed as one hash aggregate — no global sort at any scale. */
  def peek(log: DataFrame): DataFrame =
    log
      .groupBy("space", "segment")
      .agg(
        max("sequence").as("sequence"),
        max_by(col("timestamp"), col("sequence")).as("timestamp"),
        max_by(col("payload"), col("sequence")).as("payload"))
      .transform(sortSmall(_, col("space"), col("segment")))

  /** First/last sequence + timestamp per segment (SegmentStatus,
    * reference: server/messages.go:38). */
  def segmentStatus(log: DataFrame): DataFrame =
    log
      .groupBy("space", "segment")
      .agg(
        min("sequence").as("first_sequence"),
        min("timestamp").as("first_timestamp"),
        max("sequence").as("last_sequence"),
        max("timestamp").as("last_timestamp"))
      .transform(sortSmall(_, col("space"), col("segment")))

  /** Bounded, sequence-ordered scan of one segment (reference
    * ConsumeSegment, pebble/service.go:231). Min bounds exclusive, max
    * inclusive; 0 max = unbounded. */
  def consumeSegment(
      log: DataFrame,
      space: String,
      segment: String,
      minSequence: Long = 0L,
      maxSequence: Long = 0L,
      minTimestamp: Long = 0L,
      maxTimestamp: Long = 0L): DataFrame = {
    var df = log.filter(col("space") === space && col("segment") === segment)
    if (minSequence > 0) df = df.filter(col("sequence") > minSequence)
    if (maxSequence > 0) df = df.filter(col("sequence") <= maxSequence)
    if (minTimestamp > 0) df = df.filter(col("timestamp") > minTimestamp)
    if (maxTimestamp > 0) df = df.filter(col("timestamp") <= maxTimestamp)
    df.orderBy("sequence")
  }

  /** Time-interleaved scan of one space (reference ConsumeSpace,
    * pebble/service.go:160): all segments merged in `(timestamp, segment,
    * sequence)` order. */
  def consumeSpace(
      log: DataFrame,
      space: String,
      minTimestamp: Long = 0L,
      maxTimestamp: Long = 0L): DataFrame = {
    var df = log.filter(col("space") === space)
    if (minTimestamp > 0) df = df.filter(col("timestamp") > minTimestamp)
    if (maxTimestamp > 0) df = df.filter(col("timestamp") <= maxTimestamp)
    df.orderBy("timestamp", "segment", "sequence")
  }

  /** Resume a space scan strictly after `(ts, seg, seq)` — the reference's
    * exclusive offset resume (pebble/service.go:187). */
  def consumeSpaceFromOffset(
      log: DataFrame,
      space: String,
      ts: Long,
      seg: String,
      seq: Long): DataFrame =
    log
      .filter(col("space") === space)
      .filter(after(ts, seg, seq))
      .orderBy("timestamp", "segment", "sequence")

  /** Rows strictly after `(ts, seg, seq)` in `(timestamp, segment,
    * sequence)` order — the exclusive offset of every resume. Plain
    * boolean algebra, so it stays inside whole-stage codegen. */
  private def after(ts: Long, seg: String, seq: Long): Column =
    col("timestamp") > ts ||
      (col("timestamp") === ts &&
        (col("segment") > seg ||
          (col("segment") === seg && col("sequence") > seq)))

  /** Offset-resume combined with time bounds — the reference's
    * EnumerateSpace (pebble/service.go:165): scan one space strictly
    * after `(ts, seg, seq)` and within `(minTimestamp, maxTimestamp]`.
    * (EnumerateSegment is [[consumeSegment]] — it already composes
    * sequence and time bounds.) */
  def enumerateSpace(
      log: DataFrame,
      space: String,
      offset: Option[(Long, String, Long)],
      minTimestamp: Long = 0L,
      maxTimestamp: Long = 0L): DataFrame = {
    var df = log.filter(col("space") === space)
    offset.foreach { case (ts, seg, seq) => df = df.filter(after(ts, seg, seq)) }
    if (minTimestamp > 0) df = df.filter(col("timestamp") > minTimestamp)
    if (maxTimestamp > 0) df = df.filter(col("timestamp") <= maxTimestamp)
    df.orderBy("timestamp", "segment", "sequence")
  }

  /** Multi-space interleave with independent per-space offsets (reference
    * Consume, pebble/service.go:397). Offsets are exclusive; `None` means
    * from the beginning. Deterministic global order `(timestamp, space,
    * segment, sequence)` (the reference interleaves by timestamp only;
    * we add a stable tiebreak). */
  def consume(
      log: DataFrame,
      offsets: Map[String, Option[(Long, String, Long)]]): DataFrame = {
    // zero subscriptions = empty result in canonical schema (the
    // reference's Consume interleaves zero enumerators fine)
    if (offsets.isEmpty)
      return log
        .limit(0)
        .orderBy("timestamp", "space", "segment", "sequence")
    val parts = offsets.toSeq.sortBy(_._1).map {
      case (space, None) => log.filter(col("space") === space)
      case (space, Some((ts, seg, seq))) =>
        log.filter(col("space") === space).filter(after(ts, seg, seq))
    }
    parts
      .reduce(_ unionAll _)
      .orderBy("timestamp", "space", "segment", "sequence")
  }

  /** Latest `(timestamp, segment, sequence)` position per space
    * (reference GetSpaceOffset, pebble/service.go:152).
    *
    * `max(struct(...))` is lexicographic over the offset tuple — the same
    * total order as the reference's space key — and runs as an
    * aggregation with map-side partials: one row per space crosses the
    * wire, vs. a full per-space window sort. */
  def spaceOffsets(log: DataFrame): DataFrame =
    log
      .groupBy("space")
      .agg(max(struct(col("timestamp"), col("segment"), col("sequence"))).as("o"))
      .select(col("space"), col("o.timestamp"), col("o.segment"), col("o.sequence"))
      .transform(sortSmall(_, col("space")))

  /** Produce-side sequence-contiguity audit (the reference rejects any
    * record whose sequence != last+1, pebble/service.go:349): per segment,
    * count the positions where a candidate sequence column breaks
    * contiguity under the segment's arrival order. `expectFirst` audits
    * the segment's FIRST record too (the reference's rule for an empty
    * segment is first == 1; the streaming twin `sequenceMonitor` always
    * enforces it from its stored state) — it is opt-in because this
    * batch audit also runs against candidate columns with no start
    * contract (q_produce_validate audits event_id gaps). */
  def sequenceViolations(
      events: DataFrame,
      candidateSeq: Column,
      expectFirst: Option[Long] = None): DataFrame = {
    val w = Window
      .partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val firstViolation = expectFirst match {
      case Some(f) => col("prev").isNull && col("cand") =!= f
      case None    => lit(false)
    }
    events
      .withColumn("cand", candidateSeq.cast("long"))
      .withColumn("prev", lag(col("cand"), 1).over(w))
      .groupBy(col("event_type").as("space"), col("user_id").cast("string").as("segment"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(
          when(
            (col("prev").isNotNull && col("cand") =!= col("prev") + 1) ||
              firstViolation,
            1L).otherwise(0L)).as("violations"))
      .transform(sortSmall(_, col("space"), col("segment")))
  }

  /** Active execution nodes + parallelism (reference GetClusterStatus,
    * pebble/service.go:139). Executor block managers minus the driver;
    * local mode reports 1. */
  def clusterStatus(spark: SparkSession): graft.model.ClusterStatus = {
    val n = math.max(1, spark.sparkContext.getExecutorMemoryStatus.size - 1)
    graft.model.ClusterStatus(n, spark.sparkContext.defaultParallelism)
  }

  /** Chunk each segment into fixed-size transactions and emit one
    * SegmentStatus per chunk — the reference's 10k-entry produce chunking
    * (pebble/service.go:307). */
  def trxChunks(log: DataFrame, chunkSize: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    log
      .withColumn(
        "trx_number",
        expr(s"CAST((sequence - 1) DIV $chunkSize AS BIGINT) + 1"))
      .groupBy("space", "segment", "trx_number")
      .agg(
        min("sequence").as("first_sequence"),
        min("timestamp").as("first_timestamp"),
        max("sequence").as("last_sequence"),
        max("timestamp").as("last_timestamp"))
      .transform(sortSmall(_, col("space"), col("segment"), col("trx_number")))
  }
}
