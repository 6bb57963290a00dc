package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates, SparkListenerSQLExecutionStart}

/** Work a span caused on the Spark side, summed from listener events. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskCpuMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L // written + read
  var spillBytes = 0L
  var inputBytes = 0L
  var filesRead = 0L
  /** Wall-clock ms of the span's first SQL execution start (planning done). */
  var firstExecMs = Long.MaxValue

  def +=(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    taskCpuMs += o.taskCpuMs; gcMs += o.gcMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; filesRead += o.filesRead
    firstExecMs = math.min(firstExecMs, o.firstExecMs)
  }
}

/** A traced call into one layer: name, wall-clock start/end (ms since
  * epoch), parent span (0 = root) and request id. */
final class Span(
    val id: Long,
    val name: String,
    val parent: Long,
    val request: String,
    val startMs: Long) {
  @volatile var endMs: Long = 0L
  def wallMs: Double = (endMs - startMs).toDouble
}

/** Spans recorded in the benchmark's own code around each call into a
  * layer. The span id rides the SparkContext local properties (and the
  * job description), so the listener ties every job, stage, task and
  * SQL execution to the span that caused it. Micro-batch work started by
  * the streaming engine is tied to its batch id instead. Disabled, a
  * span is just the call. Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val batches = new ConcurrentHashMap[String, SparkWork]()
  private val listener = new Listener
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String, request: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get().headOption.getOrElse(0L)
      val s = new Span(ids.incrementAndGet(), name, parent, request, System.currentTimeMillis())
      spans.add(s)
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      val prevDesc = sc.getLocalProperty(Tracer.JobDescription)
      stack.set(s.id :: stack.get())
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      sc.setLocalProperty(Tracer.JobDescription, s"${Tracer.SpanKey}=${s.id}")
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack.set(stack.get().tail)
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
        sc.setLocalProperty(Tracer.JobDescription, prevDesc)
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftBenchBus.drain(sc)

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spark work of `s` and every span below it. */
  def workOf(s: Span): SparkWork = {
    val acc = new SparkWork
    val kids = all.groupBy(_.parent)
    def go(x: Span): Unit = {
      Option(work.get(x.id)).foreach(acc += _)
      kids.getOrElse(x.id, Nil).foreach(go)
    }
    go(s)
    acc
  }

  def workOf(ss: Seq[Span]): SparkWork = {
    val acc = new SparkWork
    ss.foreach(s => acc += workOf(s))
    acc
  }

  /** Spark work the streaming engine ran for the micro-batches of the
    * given queries. */
  def batchWork(queryIds: Set[String]): SparkWork = {
    val acc = new SparkWork
    batches.asScala.foreach { case (k, w) => if (queryIds.contains(k.takeWhile(_ != '/'))) acc += w }
    acc
  }

  /** Wall time of `s` not covered by its child spans. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    s.wallMs - covered
  }

  def writeSpans(file: String): Unit = {
    drain()
    val lines = all.sortBy(_.id).map { s =>
      val w = Option(work.get(s.id)).getOrElse(new SparkWork)
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"request":${Json.str(s.request)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${selfMs(s)},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.taskMs},"files_read":${w.filesRead}}"""
    }
    Files.write(Paths.get(file), lines.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }

  def close(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener) }

  private final class Listener extends SparkListener {
    // stage → owner: Left(span id) or Right("queryId/batchId")
    private val stageOwner = new ConcurrentHashMap[Int, Either[Long, String]]()
    private val execSpan = new ConcurrentHashMap[Long, Long]()
    private val filesReadAccs = ConcurrentHashMap.newKeySet[Long]()

    private def workFor(owner: Either[Long, String]): SparkWork = owner match {
      case Left(span) => work.computeIfAbsent(span, _ => new SparkWork)
      case Right(batch) => batches.computeIfAbsent(batch, _ => new SparkWork)
    }
    private def workFor(span: Long): SparkWork = workFor(Left(span))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val batch = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId")) yield s"$q/$b"
      val owner = batch.map(Right(_)).orElse(prop(Tracer.SpanKey).map(s => Left(s.toLong)))
      owner.foreach { o =>
        e.stageIds.foreach(st => stageOwner.put(st, o))
        val w = workFor(o)
        w.synchronized(w.jobs += 1)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { o =>
        val w = workFor(o)
        w.synchronized(w.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { o =>
        val w = workFor(o)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.taskMs += m.executorRunTime
            w.taskCpuMs += m.executorCpuTime / 1000000L
            w.gcMs += m.jvmGCTime
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
            w.spillBytes += m.diskBytesSpilled
            w.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }

    private def noteFilesReadAccs(p: SparkPlanInfo): Unit = {
      p.metrics.foreach(m => if (m.name == "number of files read") filesReadAccs.add(m.accumulatorId))
      p.children.foreach(noteFilesReadAccs)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        noteFilesReadAccs(s.sparkPlanInfo)
        Option(s.description)
          .filter(_.startsWith(Tracer.SpanKey + "="))
          .foreach { d =>
            val id = d.stripPrefix(Tracer.SpanKey + "=").trim.toLong
            execSpan.put(s.executionId, id)
            val w = workFor(id)
            w.synchronized(w.firstExecMs = math.min(w.firstExecMs, s.time))
          }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => noteFilesReadAccs(u.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
        u.sqlPlanMetrics.foreach(m =>
          if (m.name == "number of files read") filesReadAccs.add(m.accumulatorId))
      case d: SparkListenerDriverAccumUpdates =>
        Option(execSpan.get(d.executionId)).foreach { id =>
          val n = d.accumUpdates.collect { case (acc, v) if filesReadAccs.contains(acc) => v }.sum
          if (n > 0) { val w = workFor(id); w.synchronized(w.filesRead += n) }
        }
      case _ => ()
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val JobDescription = "spark.job.description"
}
