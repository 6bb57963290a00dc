package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: a fixed set of deterministic, oracle-backed catalogue
  * queries over the sf data directory. Each query is built by calling
  * its `fn(spark, sfDir)` (construction, which includes the eager
  * `Materialize.cut` jobs) and then executed into the noop sink. The
  * first pass is the correctness pass: it fingerprints every result and
  * compares it with the expected values, and warms each plan. Timed
  * passes follow until the run's seconds are spent. Every pass runs the
  * keys in [[QueryMix.Mix]] order: the order alone moves a pass's wall
  * time by up to a third, so a seeded order would make the seed, not
  * the code, decide the figure. The tables are the workload's fixed
  * input; the seed changes nothing here. */
final class QueryMix(o: Main.Opts, res: Result) extends Workload {
  import QueryMix._

  def setUp(spark: SparkSession): Unit =
    spark.read.parquet(s"${o.sfDir}/region.parquet").write.format("noop").mode("overwrite").save()

  def tearDown(): Unit = ()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private final case class Exec(key: String, cls: String, constructMs: Double, execMs: Double, gcMs: Long) {
    def wallMs: Double = constructMs + execMs
  }

  def run(spark: SparkSession, tracer: Tracer): Unit = {
    // untimed check pass: the same noop write the timed passes run, with
    // the fingerprint observed on the way, so it also warms every plan
    val expected = Expected.load(sys.props.getOrElse("graftbench.expected", ""))
    Mix.foreach { case (key, _) =>
      val got = Fingerprint.observed(SparkEntry.queries(key)(spark, o.sfDir))(noop)
      res.check(expected.get(key).contains(got), s"$key: got $got, expected ${expected.get(key)}")
    }
    Proc.note("check pass done")

    val warns = WindowWarnCounter.attach()
    val passes = mutable.ArrayBuffer.empty[(Seq[Exec], Double, Double)] // (execs, wall s, cpu s)
    val budget = new Budget(o.seconds)
    try {
      while (budget.more(passes.size)) {
        val (w0, c0) = (Proc.nowMs, Proc.cpuS)
        val execs = tracer.span("query_mix.pass", s"p${passes.size}")(Mix.map { case (key, cls) =>
          val req = s"p${passes.size}/$key"
          val g0 = Proc.gcMs
          val t = Proc.nowMs
          val df = tracer.span(s"queries.$cls.construct", req)(SparkEntry.queries(key)(spark, o.sfDir))
          val t1 = Proc.nowMs
          tracer.span(s"queries.$cls.exec", req)(noop(df))
          Exec(key, cls, t1 - t, Proc.nowMs - t1, Proc.gcMs - g0)
        })
        passes += ((execs, (Proc.nowMs - w0) / 1000.0, Proc.cpuS - c0))
        Proc.note(f"pass ${passes.size}: ${passes.last._2}%.2f s " + execs.sortBy(_.key).map(e => f"${e.key}=${e.wallMs}%.0f").mkString(" "))
      }
    } finally warns.detach()

    val n = passes.size.toDouble
    def classWall(cls: String) = passes.map(_._1.filter(_.cls == cls).map(_.wallMs).sum / 1000.0).toSeq
    res.e2e("work_s", Stats.median(passes.map(_._2).toSeq), "s")
    res.e2e("latency_ms", Stats.median(passes.map(p => Stats.mean(p._1.filter(_.cls == "short").map(_.wallMs))).toSeq), "ms")
    res.e2e("cpu_s", Stats.median(passes.map(_._3).toSeq), "s")
    res.named("passes", n, "count")
    res.named("query_short_s", Stats.median(classWall("short")), "s")
    res.named("query_heavy_s", Stats.median(classWall("heavy")), "s")
    if (tracer.enabled) {
      tracer.drain()
      val cores = Session.cpus
      Classes.foreach { cls =>
        val cons = tracer.named(s"queries.$cls.construct")
        val exec = tracer.named(s"queries.$cls.exec")
        val cw = tracer.workOf(cons)
        val ew = tracer.workOf(exec)
        val w = new SparkWork
        w += cw
        w += ew
        val planMs = exec.map { s =>
          val first = tracer.workOf(s).firstExecMs
          if (first == Long.MaxValue) 0.0 else math.max(0L, first - s.startMs).toDouble
        }.sum
        val execMs = exec.map(_.wallMs).sum - planMs
        val wallMs = cons.map(_.wallMs).sum + exec.map(_.wallMs).sum
        res.layer(s"queries.$cls.construct_ms", cons.map(_.wallMs).sum / n, "ms")
        res.layer(s"queries.$cls.plan_ms", planMs / n, "ms")
        res.layer(s"queries.$cls.exec_ms", execMs / n, "ms")
        res.layer(s"queries.$cls.jobs", w.jobs / n, "count")
        res.layer(s"queries.$cls.stages", w.stages / n, "count")
        res.layer(s"queries.$cls.tasks", w.tasks / n, "count")
        res.layer(s"queries.$cls.gc_ms", passes.flatMap(_._1.filter(_.cls == cls).map(_.gcMs)).sum / n, "ms")
        res.layer(s"queries.$cls.core_busy", if (wallMs > 0) w.taskMs / (wallMs * cores) else 0.0, "ratio")
        res.layer(s"queries.$cls.task_ms", w.taskMs / n, "ms")
        res.layer(s"queries.$cls.task_cpu_ms", w.taskCpuMs / n, "ms")
        res.layer(s"queries.$cls.shuffle_mb", w.shuffleBytes / Layers.MB / n, "MB")
        res.layer(s"queries.$cls.spill_mb", w.spillBytes / Layers.MB / n, "MB")
      }
      res.layer("queries.window_single_partition_warns", warns.count / n, "count")
      Mix.foreach { case (key, _) =>
        res.layer(s"queries.$key.wall_ms", Stats.median(passes.flatMap(_._1.filter(_.key == key).map(_.wallMs)).toSeq), "ms")
      }
    }
  }
}

object QueryMix {
  val Classes: Seq[String] = Seq("short", "heavy")

  /** The measured keys and their class. `short` is overhead-bound
    * (planning, job scheduling); q_rfm ranks over the whole customer
    * dimension with a partition-less window, so the WARN count has a
    * subject. `heavy` runs the dedup kernels and shuffles. Keys served
    * by a process-global memo ([[Excluded]]) never appear: a memo would
    * stand in for the work. */
  val Mix: Seq[(String, String)] =
    Seq("q_peek", "q_consume_multi", "q1_agg", "q5_join", "q_window_sliding", "q_rfm").map(_ -> "short") ++
      Seq("q_dedup_minhash", "q_dedup_ngram").map(_ -> "heavy")

  /** Keys answered from `PipelineQueries`' process-global memos
    * (`dupPairsCache`, `ivfStoredBuilt`, `pqCbCache`): after the first
    * call they time a cache read, not the query. */
  val Excluded: Set[String] = Set(
    "q_dup_graph_report", "q_dup_source_overlap", "q_ann_ivf_stored", "q_ann_pq",
    "q_ann_recall_pq", "q_ann_ivfpq", "q_ann_ivfpq_stored", "q_ann_ivfpq_deleted",
    "q_ann_recall_ivfpq", "q_ann_recall_ivfpq_drift")

  require(Mix.forall { case (k, _) => !Excluded.contains(k) && !k.startsWith("q_ann_ivfpq") && !k.startsWith("q_ann_recall_ivfpq") })
}

/** (rows, order-insensitive content hash) of a query result. Doubles
  * are compared as floats, so a different summation order in a
  * parallel aggregate cannot change the fingerprint. */
object Fingerprint {
  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  private def agg(h: Column): Seq[Column] =
    Seq(count(lit(1)).as("n"), coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("s"))

  /** The fingerprint of `df`, observed while `action` runs it. */
  def observed(df: DataFrame)(action: DataFrame => Unit): (Long, String) = {
    val obs = org.apache.spark.sql.Observation()
    val a = agg(rowHash(df))
    action(df.observe(obs, a.head, a.tail: _*))
    val m = obs.get
    (m("n").asInstanceOf[Long], m("s").asInstanceOf[java.math.BigDecimal].toPlainString)
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val f = c.cast(FloatType)
      when(f === 0.0f, lit(0.0f)).otherwise(f)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      transform(array_sort(map_entries(c)), e => struct(norm(e.getField("key"), kt), norm(e.getField("value"), vt)))
    case StructType(fs) =>
      if (fs.isEmpty) c else struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}

/** Expected (rows, fingerprint) per query key, one `key rows fp` line
  * each (written by `oracle_check.py` after the DuckDB oracle agreed). */
object Expected {
  def load(file: String): Map[String, (Long, String)] =
    if (file.isEmpty || !java.nio.file.Files.exists(java.nio.file.Paths.get(file))) Map.empty
    else
      scala.io.Source
        .fromFile(file)
        .getLines()
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val Array(k, rows, fp) = l.split("\\s+")
          k -> (rows.toLong, fp)
        }
        .toMap
}

/** Counts the `WindowExec` "No Partition Defined" WARNs (a window with
  * no PARTITION BY moves all rows to one task) through a log4j appender
  * on the root logger. */
final class WindowWarnCounter private (ctx: LoggerContext, app: AbstractAppender, n: AtomicLong) {
  def count: Long = n.get()
  def detach(): Unit = {
    ctx.getConfiguration.getRootLogger.removeAppender(app.getName)
    ctx.updateLoggers()
    app.stop()
  }
}

object WindowWarnCounter {
  def attach(): WindowWarnCounter = {
    val n = new AtomicLong(0L)
    val app = new AbstractAppender("graftbench-window-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("No Partition Defined")) { n.incrementAndGet(); () }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    new WindowWarnCounter(ctx, app, n)
  }
}

/** Writes each mix query's result as parquet under `outDir/<key>` plus
  * `outDir/oracle_sql.json` and `outDir/expected.txt` (its fingerprint
  * lines), for `oracle_check.py` to diff against the DuckDB oracle.
  *
  *   graftbench.EmitExpected <sfDir> <outDir>
  */
object EmitExpected {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val o = Main.Opts("query_mix", 0L, 0, trace = false, outDir, sfDir, "")
    val spark = Session.build(o)
    val lines = QueryMix.Mix.map { case (key, _) =>
      val (rows, fp) = Fingerprint.observed(SparkEntry.queries(key)(spark, sfDir))(
        _.write.mode("overwrite").parquet(s"$outDir/$key"))
      s"$key $rows $fp"
    }
    val sql = QueryMix.Mix.flatMap { case (k, _) => SparkEntry.oracleSql.get(k).map(q => s"${Json.str(k)}:${Json.str(q)}") }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      sql.mkString("{", ",\n", "}\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/expected.txt"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
