package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.AutoPartitions

/** JVM side of the graft benchmark. `run.py` builds this package
  * together with the library sources and launches it once per run:
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <sfDir> <resultFile>
  *
  * It writes one JSON result file; `run.py` prints the report and the
  * final result line from it. Everything the run creates lives under
  * `workDir`.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      workDir: String,
      sfDir: String,
      resultFile: String)

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: <workload> <seed> <seconds> <trace> <workDir> <sfDir> <resultFile>")
    val o = Opts(args(0), args(1).toLong, args(2).toInt, args(3) == "1", args(4), args(5), args(6))
    val res = new Result
    val wl: Workload = o.workload match {
      case "ingest_tail" => new IngestTail(o, res)
      case "log_bulk" => new LogBulk(o, res)
      case "query_mix" => new QueryMix(o, res)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    // Set-up is done three times (session, warm-up, fixture) and its
    // median reported; the last session stays up for the timed phase.
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val spark = Session.build(o)
      wl.setUp(spark)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < 3) { wl.tearDown(); spark.stop() }
      Proc.note(f"set-up $i: $s%.2f s")
      s
    }
    res.e2e("setup_s", Stats.median(setups), "s")
    val spark = SparkSession.active
    val tracer = new Tracer(spark, o.trace)
    try wl.run(spark, tracer)
    finally {
      Proc.note("run done")
      wl.tearDown()
      tracer.close()
      Proc.note("tear-down done")
    }
    res.e2e("rss_peak_mb", Proc.peakRssMb, "MB")
    if (o.trace) {
      Layers.fillIdle(res)
      tracer.writeSpans(s"${o.workDir}/spans.json")
    }
    spark.stop()
    Files.write(Paths.get(o.resultFile), res.toJson.getBytes(UTF_8))
  }
}

/** One workload: `setUp` may run several times (each on a fresh
  * session); `run` runs once on the last one. */
trait Workload {
  def setUp(spark: SparkSession): Unit
  def run(spark: SparkSession, tracer: Tracer): Unit
  def tearDown(): Unit
}

/** The session `graft.Bench` builds, on local[nproc]: AQE, the
  * shuffled-hash-join map threshold, 16m file splits and shuffle
  * partitions from `AutoPartitions.derive` over the data directory.
  * Scratch space (shuffle files, warehouse, checkpoints) stays in the
  * run's work directory. */
object Session {
  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def build(o: Main.Opts): SparkSession = {
    val shufflePartitions =
      AutoPartitions.derive(AutoPartitions.dirBytes(o.sfDir), cpus)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.workDir}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${o.workDir}/stream-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** The run's findings: end-to-end metrics (untraced run), per-layer
  * metrics (traced run), the workload's named metrics for the report,
  * and the correctness tally. */
final class Result {
  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val namedM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def e2e(name: String, v: Double, unit: String): Unit = e2eM(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerM(name) = (v, unit)
  def named(name: String, v: Double, unit: String): Unit = namedM(name) = (v, unit)
  def hasLayer(name: String): Boolean = layerM.contains(name)

  /** Counts one checked operation; a false `ok` counts it as failed. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) failures += what
  }

  def failed: Long = synchronized(failures.size.toLong)

  def toJson: String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val fails = failures.take(50).map(Json.str).mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"failures":$fails,"e2e":${obj(e2eM)},"named":${obj(namedM)},"layer":${obj(layerM)}}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** The run's measuring time: rounds go on while one more round of the
  * mean length so far still ends within `seconds` (always at least one). */
final class Budget(seconds: Int) {
  private val t0 = System.nanoTime()
  def more(done: Int): Boolean = {
    val el = (System.nanoTime() - t0) / 1e9
    done == 0 || el + el / done <= seconds
  }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Proc {
  private val os =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds so far (all threads). */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source
      .fromFile("/proc/self/status")
      .getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def gcMs: Long = {
    var s = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  def nowMs: Double = System.nanoTime() / 1e6

  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit = System.err.println(f"[graftbench] ${(System.nanoTime() - born) / 1e9}%7.2f $msg")

  /** Parquet data files under a local directory, recursively. */
  def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }

  def rmTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files
        .walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
  }
}
