package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Bench's pass guard ([[Bench.Board]]), its scheduler counters
  * ([[Bench.Counters]]) and its wall split ([[Bench.split]]) on the
  * shared spec session. */
class BenchSpec extends SparkSpec {

  /** Blocks until listeners registered before this one have seen every
    * event posted before the call: it runs a marker job and waits for
    * that job's end event. Listeners on the shared queue receive each
    * event in registration order, so no sleep is needed. */
  private final class Drain(sc: SparkContext) extends SparkListener {
    private val Marker = "graft.spec.drain"
    private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile private var ended = new CountDownLatch(1)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty(Marker) != null)) markerJobs.add(j.jobId)

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (markerJobs.contains(j.jobId)) ended.countDown()

    def apply(): Unit = {
      ended = new CountDownLatch(1)
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Marker, null)
      assert(ended.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    }
  }

  test("Bench's counters attribute each query's jobs and tasks to its own pass") {
    val sc = spark.sparkContext
    val counters = new Bench.Counters
    val drain = new Drain(sc)
    sc.addSparkListener(counters)
    sc.addSparkListener(drain)
    try {
      val board = new Bench.Board(sc)
      def run(key: String): Bench.Stats = {
        assert(board.time(key) {
          SparkEntry.queries(key)(spark, SfDir).write.format("noop").mode("overwrite").save()
        })
        drain()
        counters(board(key).get.tag)
      }
      val a = run("q1_agg")
      assert(a.jobs >= 1 && a.tasks >= 1, s"q1_agg: $a")
      val b = run("q5_join")
      assert(b.jobs >= 1 && b.tasks >= 1, s"q5_join: $b")
      assert(counters(board("q1_agg").get.tag) == a, "q1_agg's counts moved while q5_join ran")
    } finally {
      sc.removeSparkListener(counters)
      sc.removeSparkListener(drain)
    }
  }

  test("a query pass splits its wall into construct, plan and exec; a store pass has no split") {
    val sc = spark.sparkContext
    val counters = new Bench.Counters
    val drain = new Drain(sc)
    sc.addSparkListener(counters)
    sc.addSparkListener(drain)
    try {
      val board = new Bench.Board(sc)
      // q_dedup_ngram keeps cuts, so its construction runs eager jobs
      for (key <- Seq("q1_agg", "q_dedup_ngram")) {
        assert(board.timeQuery(key)(SparkEntry.queries(key)(spark, SfDir)))
        drain()
        val best = board(key).get
        val (c, p, e) = Bench.split(best, counters).get
        assert(c >= 0 && p >= 0 && e >= 0, s"$key: construct $c, plan $p, exec $e")
        assert(
          math.abs(c + p + e - best.seconds * 1000.0) <= 1.0,
          s"$key: $c + $p + $e ms vs wall ${best.seconds} s")
      }
      assert(board.time("store_produce_100k")(()))
      assert(Bench.split(board("store_produce_100k").get, counters).isEmpty)
    } finally {
      sc.removeSparkListener(counters)
      sc.removeSparkListener(drain)
    }
  }

  test("a throwing pass records a failed marker instead of escaping") {
    val sc = spark.sparkContext
    val board = new Bench.Board(sc)
    assert(!board.time("store_produce_100k")(throw new RuntimeException("produce failed")))
    assert(board("store_produce_100k").isEmpty, "a failed pass must not record a time")
    assert(sc.getLocalProperty(Bench.TagProperty) == null, "the pass tag leaked past the pass")
    assert(board.time("store_produce_100k")(()))
    assert(board("store_produce_100k").isDefined)
  }
}
