package graft

import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the one session policy: no other `src/main` code
  * builds a session, and the spec harness's session carries every setting
  * the factory owns. */
class GraftSessionSpec extends SparkSpec {

  test("src/main holds exactly one SparkSession.builder() call, in GraftSession") {
    val builder = "SparkSession\\s*\\.\\s*builder\\s*\\(\\s*\\)".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val calls =
      try
        files.iterator().asScala.toSeq
          .filter(_.toString.endsWith(".scala"))
          .flatMap { p =>
            // comment lines (scaladoc examples) are not calls
            val code = java.nio.file.Files.readAllLines(p).asScala
              .filterNot { l =>
                val t = l.trim
                t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
              }
              .mkString("\n")
            builder.findAllMatchIn(code).map(_ => root.relativize(p).toString)
          }
      finally files.close()
    assert(calls == Seq("graft/GraftSession.scala"), s"SparkSession.builder() calls: $calls")
  }

  test("the spec session carries every factory setting, with 4 shuffle partitions") {
    for ((k, v) <- GraftSession.settings(4, SfDir))
      assert(spark.conf.get(k) == v, s"$k")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }
}
