package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the one session policy: no other `src/main` code
  * builds a session, the spec harness's session carries every setting
  * the factory owns, no library code keeps state across queries or
  * changes the session's checkpoint dir, every lineage cut names the
  * rule it is kept under, no write appends to a live directory, and
  * native kernels are called as Columns, not through the registry. */
class GraftSessionSpec extends SparkSpec {

  private def isComment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Every `src/main` source file as (path under src/main/scala, lines). */
  private lazy val mainLines: List[(String, IndexedSeq[String])] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    try
      files.iterator().asScala.toList
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> Files.readAllLines(p).asScala.toIndexedSeq)
    finally files.close()
  }

  /** `(path relative to src/main/scala, code)` of every `src/main` source
    * file; comment lines (scaladoc examples) are not code. */
  private lazy val mainCode: List[(String, String)] =
    mainLines.map { case (f, lines) => f -> lines.filterNot(isComment).mkString("\n") }

  test("src/main holds exactly one SparkSession.builder() call, in GraftSession") {
    val builder = "SparkSession\\s*\\.\\s*builder\\s*\\(\\s*\\)".r
    val calls = mainCode.flatMap { case (f, code) => builder.findAllMatchIn(code).map(_ => f) }
    assert(calls == Seq("graft/GraftSession.scala"), s"SparkSession.builder() calls: $calls")
  }

  test("no query file declares a memo map") {
    val memo = "ConcurrentHashMap|TrieMap|computeIfAbsent".r
    val memos = mainCode.collect {
      case (f, code) if f.startsWith("graft/queries/") && memo.findFirstIn(code).isDefined => f
    }
    assert(memos.isEmpty, s"memo maps in: $memos")
  }

  test("src/main never sets the checkpoint dir") {
    val setters = mainCode.collect { case (f, code) if code.contains("setCheckpointDir") => f }
    assert(setters.isEmpty, s"setCheckpointDir in: $setters")
  }

  test("every Materialize.cut/cutObserved call outside Materialize carries its cut: rule") {
    val call = "Materialize\\s*\\.\\s*(cut|cutObserved)\\b".r
    val tag = "cut: (actions|loop|artefact|pin|measured)\\b".r
    val untagged = for {
      (f, lines) <- mainLines if f != "graft/operators/Materialize.scala"
      (l, i) <- lines.zipWithIndex
      if !isComment(l) && call.findFirstIn(l).isDefined
      if !lines.slice(i - 2, i + 1).exists(tag.findFirstIn(_).isDefined)
    } yield s"$f:${i + 1}"
    assert(untagged.isEmpty, s"cut sites without a `// cut: <rule> — <why>` tag: ${untagged.mkString(", ")}")
  }

  test("src/main writes no parquet in append mode: every live-directory write is a staged publish") {
    val append = "(?i)mode\\s*\\(\\s*\"append\"\\s*\\)|SaveMode\\s*\\.\\s*Append\\b".r
    val sites = for {
      (f, lines) <- mainLines
      (l, i) <- lines.zipWithIndex
      if !isComment(l) && append.findFirstIn(l).isDefined
    } yield s"$f:${i + 1}"
    assert(sites.isEmpty, s"append-mode writes (stage and LogFs.publish instead): ${sites.mkString(", ")}")
  }

  test("src/main calls graft's kernels as Columns: no graft_ SQL strings, one registration table") {
    val kernel = "BpeTokens|DeflateLen|DotProduct|HilbertDistance|NormalizeText|Tokens|TopKSketch|WordShingles"
    val old = ("(?:expr|selectExpr)\\s*\\(\\s*s?\"graft_|\\b(?:" + kernel +
      ")\\s*\\.\\s*register\\s*\\(|createOrReplaceTempFunction\\s*\\(\\s*\"graft_").r
    val sites = mainCode.flatMap { case (f, code) => old.findAllIn(code).map(m => s"$f: $m") }
    assert(
      sites.isEmpty,
      s"call the kernel as a Column (e.g. Tokens.of), register only in GraftExtensions: ${sites.mkString(", ")}")
  }

  test("the spec session carries every factory setting, with 4 shuffle partitions") {
    for ((k, v) <- GraftSession.settings(4, SfDir))
      assert(spark.conf.get(k) == v, s"$k")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }
}
