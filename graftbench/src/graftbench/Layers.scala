package graftbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of the traced run. Every run reports every metric
  * of [[Layers.catalog]]; a layer a workload leaves idle reads 0. */
object Layers {

  def catalog: Seq[(String, String)] = Seq(
    "trace.overhead_frac" -> "ratio",
    "log.produce_ms" -> "ms",
    "log.produce_jobs" -> "count",
    "log.produce_tasks" -> "count",
    "log.files_per_commit" -> "count",
    "log.data_files" -> "count",
    "log.peek_files_read" -> "count",
    "log.tail_files_read" -> "count",
    "log.peek_growth" -> "ratio",
    "log.bytes_per_user_byte" -> "ratio",
    "log.compact_ms" -> "ms",
    "log.compact_files_in" -> "count",
    "log.compact_files_out" -> "count",
    "log.compact_bytes_rewritten" -> "MB",
    "push.tickle_p50_ms" -> "ms",
    "push.tickle_p90_ms" -> "ms",
    "push.delivered_per_commit" -> "count",
    "push.dropped" -> "count",
    "stream.batches" -> "count",
    "stream.rows_per_batch" -> "count",
    "stream.latest_offset_ms" -> "ms",
    "stream.plan_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.trigger_ms" -> "ms",
    "stream.jobs_per_batch" -> "count",
    "stream.tasks_per_batch" -> "count",
    "stream.tickles_delivered" -> "count",
    "stream.backlog_max" -> "count",
    "operators.consume_segment_ms" -> "ms",
    "operators.consume_space_ms" -> "ms",
    "operators.consume_multi_ms" -> "ms",
    "operators.files_read" -> "count",
    "operators.bytes_read" -> "MB",
    "operators.shuffle_mb" -> "MB",
  ) ++ QueryMix.Classes.flatMap { c =>
    Seq(
      s"queries.$c.construct_ms" -> "ms",
      s"queries.$c.plan_ms" -> "ms",
      s"queries.$c.exec_ms" -> "ms",
      s"queries.$c.jobs" -> "count",
      s"queries.$c.stages" -> "count",
      s"queries.$c.tasks" -> "count",
      s"queries.$c.gc_ms" -> "ms",
      s"queries.$c.core_busy" -> "ratio",
      s"queries.$c.task_ms" -> "ms",
      s"queries.$c.task_cpu_ms" -> "ms",
      s"queries.$c.shuffle_mb" -> "MB",
      s"queries.$c.spill_mb" -> "MB")
  } ++ Seq("queries.window_single_partition_warns" -> "count") ++
    QueryMix.Mix.map { case (k, _) => s"queries.$k.wall_ms" -> "ms" }

  val MB: Double = 1024.0 * 1024.0

  /** Produce, peek and tail figures from the `log.*` spans. */
  def log(res: Result, tracer: Tracer): Unit = {
    val produce = tracer.named("log.produce")
    if (produce.nonEmpty) {
      val w = tracer.workOf(produce)
      res.layer("log.produce_ms", Stats.median(produce.map(_.wallMs)), "ms")
      res.layer("log.produce_jobs", w.jobs.toDouble / produce.size, "count")
      res.layer("log.produce_tasks", w.tasks.toDouble / produce.size, "count")
    }
    for ((span, metric) <- Seq("log.peek" -> "log.peek_files_read", "log.tail" -> "log.tail_files_read")) {
      val ss = tracer.named(span)
      if (ss.nonEmpty) res.layer(metric, tracer.workOf(ss).filesRead.toDouble / ss.size, "count")
    }
  }

  /** Consume-plan figures from the `operators.*` spans. */
  def operators(res: Result, tracer: Tracer): Unit = {
    val all = Seq("consume_segment", "consume_space", "consume_multi").flatMap { n =>
      val ss = tracer.named(s"operators.$n")
      if (ss.nonEmpty) res.layer(s"operators.${n}_ms", Stats.median(ss.map(_.wallMs)), "ms")
      ss
    }
    if (all.nonEmpty) {
      val w = tracer.workOf(all)
      res.layer("operators.files_read", w.filesRead.toDouble / all.size, "count")
      res.layer("operators.bytes_read", w.inputBytes / MB / all.size, "MB")
      res.layer("operators.shuffle_mb", w.shuffleBytes / MB / all.size, "MB")
    }
  }

  /** Micro-batch figures: durations from the query's progress reports,
    * jobs and tasks from the tracer's per-batch accounting. */
  def streaming(
      res: Result,
      tracer: Tracer,
      progress: Seq[StreamingQueryProgress],
      backlogMax: Int,
      tickles: Long): Unit = {
    val data = progress.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val w = tracer.batchWork(progress.map(_.id.toString).toSet)
    val n = math.max(1, data.size).toDouble
    res.layer("stream.batches", data.size.toDouble, "count")
    res.layer("stream.rows_per_batch", data.map(_.numInputRows.toDouble).sum / n, "count")
    res.layer("stream.latest_offset_ms", Stats.mean(data.map(dur(_, "latestOffset"))), "ms")
    res.layer("stream.plan_ms", Stats.median(data.map(p => dur(p, "queryPlanning") + dur(p, "getBatch"))), "ms")
    res.layer("stream.add_batch_ms", Stats.median(data.map(dur(_, "addBatch"))), "ms")
    res.layer("stream.trigger_ms", Stats.median(data.map(dur(_, "triggerExecution"))), "ms")
    res.layer("stream.jobs_per_batch", w.jobs / n, "count")
    res.layer("stream.tasks_per_batch", w.tasks / n, "count")
    res.layer("stream.tickles_delivered", tickles.toDouble, "count")
    res.layer("stream.backlog_max", backlogMax.toDouble, "count")
  }

  /** Fills every catalogue metric the workload left unset with 0. */
  def fillIdle(res: Result): Unit =
    catalog.foreach { case (k, u) => if (!res.hasLayer(k)) res.layer(k, 0.0, u) }
}
