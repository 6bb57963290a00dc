package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** A query's result is a function of the tables as they stand: rewriting
  * the inputs under an sfDir changes what the next call returns, in the
  * same session. The keys here are the ones that once shared a pair
  * table, a PQ codebook or a stored index across calls. */
class StaleInputSpec extends SparkSpec {

  private val Keys = Seq("q_dup_jaccard_hist", "q_ann_pq", "q_ann_ivf_stored")
  private val Tables = Seq("documents.parquet", "embeddings.parquet")
  private val Larger = Paths.get(SfDir).resolveSibling("sf0.01")

  private def run(key: String, dir: String): Seq[org.apache.spark.sql.Row] =
    SparkEntry.queries(key)(spark, dir).collect().toSeq

  private def copyTables(from: Path, to: Path): Unit =
    for (t <- Tables)
      Files.copy(from.resolve(t), to.resolve(t), StandardCopyOption.REPLACE_EXISTING)

  test("rewritten input tables under one sfDir give the rewritten tables' results") {
    val dir = tempDir("graft-stale-input")
    try {
      copyTables(Paths.get(SfDir), dir)
      val before = Keys.map(k => k -> run(k, dir.toString)).toMap
      for (k <- Keys) assert(before(k) == run(k, SfDir), s"$k before the rewrite")
      copyTables(Larger, dir)
      val stale = Keys.filterNot(k => run(k, dir.toString) == run(k, Larger.toString))
      assert(stale.isEmpty, s"keys still serving the replaced tables: $stale")
    } finally {
      val files = Files.walk(dir)
      try files.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally files.close()
    }
  }
}
