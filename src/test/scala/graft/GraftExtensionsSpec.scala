package graft

import org.apache.spark.sql.SparkSession

class GraftExtensionsSpec extends SparkSpec {

  test("withExtensions(GraftExtensions) exposes graft_* to SQL") {
    val base = spark // materialize the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession
      .builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // the same checks over a session with the extension and over the
    // shared session, built without it, after GraftExtensions.register
    def check(session: SparkSession): Unit = {
      for (name <- Seq("graft_dot", "graft_tokens", "graft_shingles", "graft_bpe",
          "graft_deflate_len", "graft_normalize", "graft_hilbert", "graft_topk"))
        assert(session.catalog.functionExists(name), name)
      val r = session
        .sql("""SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
               |       graft_tokens('  a  b c ') AS t,
               |       graft_shingles('a b c d', 3) AS s,
               |       graft_bpe('the scan') AS b""".stripMargin)
        .collect()(0)
      assert(r.getDouble(0) == 11.0)
      assert(r.getSeq[String](1) == Seq("a", "b", "c"))
      assert(r.getSeq[String](2) == Seq("a b c", "b c d"))
      assert(r.getSeq[String](3) == Seq("the", "sc", "an"))
      val r2 = session
        .sql("""SELECT graft_normalize('a   b') AS n,
               |       graft_hilbert(3L, 2L, 2) AS h""".stripMargin)
        .collect()(0)
      assert(r2.getString(0) == "a b")
      assert(r2.getLong(1) == 11L) // (3,2) on the 4x4 curve
      val tk = session
        .sql("""SELECT graft_topk(x, 2) AS s FROM VALUES ('a'),('a'),('b') AS t(x)""")
        .collect()(0)
        .getSeq[org.apache.spark.sql.Row](0)
      assert(tk.head.getString(0) == "a" && tk.head.getLong(1) == 2L)
      // DESCRIBE FUNCTION resolves through the injected ExpressionInfo.
      val desc = session.sql("DESCRIBE FUNCTION graft_dot").collect().mkString
      assert(desc.contains("graft_dot"))
    }
    try {
      check(s2)
      GraftExtensions.register(base)
      check(base)
    } finally {
      // Do NOT s2.stop(): that would stop the shared SparkContext.
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
