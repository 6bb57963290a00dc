package graft

import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFns, VectorFns}

class FunctionsSpec extends SparkSpec {

  private def eval(c: org.apache.spark.sql.Column): Any = {
    spark.range(1).select(c).collect().head.get(0)
  }

  test("md5Long is the top-60-bit md5 prefix (DuckDB-portable)") {
    // md5('hello') = 5d41402abc4b2a76... ; first 15 hex chars as int64
    assert(eval(Hashing.md5Long(lit("hello"))) ==
      java.lang.Long.parseLong("5d41402abc4b2a7", 16))
    assert(eval(Hashing.md5Long(lit("hello"))).asInstanceOf[Long] >= 0L)
  }

  test("fused md5 slice expressions match the hex-string formulations bit-for-bit") {
    // the r14 fast path: Md5Long60/Md5Long40/Md5LongHi60/Md5MinhashPair
    // hash digest bytes directly; pin them to the reference
    // conv(substring(md5(x),…),16,10) formulations (the DuckDB-portable
    // definition) over varied inputs incl. empty, unicode, long strings
    val df = spark
      .range(0, 500)
      .selectExpr(
        "concat('doc-', id, ' ', repeat('päylöad-', cast(id % 7 as int)), uuid()) as t")
      .select(
        col("t"),
        Hashing.md5Long(col("t")).as("lo"),
        Hashing.md5LongHex(col("t")).as("lo_ref"),
        Hashing.md5Long2(col("t")).as("mid"),
        Hashing.md5Long2Hex(col("t")).as("mid_ref"),
        Hashing.md5LongHi(col("t")).as("hi"),
        Hashing.md5LongHiHex(col("t")).as("hi_ref"),
        Hashing.md5MinhashPair(col("t")).as("ab"))
    assert(
      df.filter(
        col("lo") =!= col("lo_ref") || col("mid") =!= col("mid_ref") ||
          col("hi") =!= col("hi_ref") || col("ab.a") =!= col("lo_ref") ||
          col("ab.b") =!= col("mid_ref")).count() == 0L)
    // edge inputs: empty string and null propagate like the originals
    assert(
      eval(Hashing.md5Long(lit(""))) == eval(Hashing.md5LongHex(lit(""))))
    assert(eval(Hashing.md5Long(lit(null).cast("string"))) == null)
    assert(eval(Hashing.md5MinhashPair(lit(null).cast("string"))) == null)
  }

  test("graft_cov_products matches the SQL quantize/flatten formulation bit-for-bit") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.expressions.QuantizedPairProducts
    val fp = 10000000L
    val dim = 7
    val df2 = spark
      .range(0, 100)
      .selectExpr(
        s"transform(sequence(1, $dim), i -> CAST(sin(id * i * 0.37) * 2.5 AS FLOAT)) AS embedding")
      .selectExpr(
        "embedding",
        s"transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * $fp.0) AS BIGINT)) AS qv")
      .select(
        ColumnBridge
          .column(QuantizedPairProducts(ColumnBridge.expression(col("embedding")), fp, dim))
          .as("fast"),
        expr(
          s"flatten(transform(sequence(0, ${dim - 1}), j -> " +
            s"transform(sequence(j, ${dim - 1}), k -> qv[j] * qv[k])))").as("ref"))
    assert(df2.filter(not(col("fast") === col("ref"))).count() == 0L)
    assert(
      df2.selectExpr("size(fast)").head().getInt(0) == dim * (dim + 1) / 2)
  }

  test("graft_sorted_intersect_n matches size(array_intersect) incl. duplicates and nulls") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.expressions.SortedLongIntersectCount
    def inter(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      ColumnBridge.column(
        SortedLongIntersectCount(
          ColumnBridge.expression(a), ColumnBridge.expression(b)))
    // sorted long arrays over a 50-value alphabet → plenty of overlap
    // AND in-array duplicate runs (array_intersect counts distinct)
    val df = spark
      .range(0, 400)
      .selectExpr(
        "sort_array(transform(sequence(0, cast(id % 17 as int)), i -> CAST(pmod(hash(id * 31 + i), 50) AS BIGINT))) AS a",
        "sort_array(transform(sequence(0, cast((id * 7) % 23 as int)), i -> CAST(pmod(hash(id * 13 + i * 3), 50) AS BIGINT))) AS b")
      .select(
        inter(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0L)
    // empty side and null side behave like array_intersect
    assert(
      eval(inter(expr("CAST(array() AS ARRAY<BIGINT>)"), expr("array(1L, 2L)"))) == 0L)
    assert(
      eval(inter(expr("CAST(NULL AS ARRAY<BIGINT>)"), expr("array(1L)"))) == null)
  }

  test("graft_gram_hashes matches md5Long(concat_ws(' ', slice(t,i,k))) bit-for-bit") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.expressions.GramHashes
    val k = 3
    // varied token shapes incl. unicode, empty-ish docs, and < k tokens
    val df = spark
      .range(0, 200)
      .selectExpr(
        "filter(split(concat('doc ', repeat('päy x ', cast(id % 9 as int)), id), ' '), t -> length(t) > 0) AS t")
      .select(
        col("t"),
        ColumnBridge
          .column(GramHashes(ColumnBridge.expression(col("t")), k))
          .as("fast"),
        when(
          size(col("t")) >= k,
          transform(
            sequence(lit(1), size(col("t")) - lit(k - 1)),
            i => Hashing.md5Long(concat_ws(" ", slice(col("t"), i, lit(k))))))
          .otherwise(array().cast("array<bigint>")).as("ref"))
    assert(df.filter(not(col("fast") <=> col("ref"))).count() == 0L)
  }

  test("graft_winnow_positions matches the slice/reverse/argmin SQL formulation") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.expressions.WinnowPositions
    val w = 4
    // small hash alphabet (pmod 7) forces plenty of ties so the
    // rightmost-tie rule is actually exercised; lengths 0..24 cover
    // the short-doc (< w) edge
    val df = spark
      .range(0, 300)
      .selectExpr(
        s"CASE WHEN id % 9 = 0 THEN CAST(array() AS ARRAY<BIGINT>) " +
          s"ELSE transform(sequence(1, cast(id % 25 as int)), i -> CAST(pmod(hash(id * 17 + i), 7) AS BIGINT)) END AS hs")
      .select(
        col("hs"),
        ColumnBridge
          .column(WinnowPositions(ColumnBridge.expression(col("hs")), w))
          .as("fast"),
        when(
          size(col("hs")) >= w,
          array_distinct(
            transform(
              sequence(lit(1), size(col("hs")) - lit(w - 1)),
              j =>
                (j + lit(w)).cast("long") -
                  array_position(
                    reverse(slice(col("hs"), j, lit(w))),
                    array_min(slice(col("hs"), j, lit(w)))))))
          .otherwise(array().cast("array<bigint>")).as("ref"))
    assert(df.filter(not(col("fast") <=> col("ref"))).count() == 0L)
  }

  test("graft_sum128 matches sum(CAST(x AS DECIMAL(38,0))) including long-overflow and nulls") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.expressions.Sum128
    def sum128(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(
        Sum128(ColumnBridge.expression(c)).toAggregateExpression())
    // mixed-sign values whose plain long sum overflows many times over
    // (Long.MaxValue-scale terms), plus nulls — the carry/sign-extension
    // path must reproduce the decimal sum bit-for-bit, per group
    val df = spark
      .range(0, 4000)
      .selectExpr(
        "id % 7 AS g",
        """CASE
           WHEN id % 11 = 0 THEN CAST(NULL AS BIGINT)
           WHEN id % 3 = 0 THEN 9223372036854775807
           WHEN id % 3 = 1 THEN -9223372036854775808
           ELSE CAST(hash(id) AS BIGINT) * 1000003
         END AS x""")
    val got = df
      .groupBy("g")
      .agg(
        sum128(col("x")).as("fast"),
        sum(col("x").cast("decimal(38,0)")).as("ref"))
    assert(got.filter(not(col("fast") <=> col("ref"))).count() == 0L)
    assert(
      got.schema("fast").dataType ==
        org.apache.spark.sql.types.DecimalType(38, 0))
    // empty input and all-null groups return NULL exactly like sum
    assert(eval(sum128(lit(null).cast("bigint"))) == null)
    assert(
      spark.range(0).select(sum128(col("id"))).collect().head.get(0) == null)
  }

  test("wordShingles handles short and normal docs") {
    val sh = eval(
      TextFns.wordShingles(split(lit("a b c d"), " "), 3))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(sh.toSeq == Seq("a b c", "b c d"))
    assert(eval(TextFns.wordShingles(split(lit("a b"), " "), 3))
      .asInstanceOf[scala.collection.Seq[String]].isEmpty)
  }

  test("native Tokens/WordShingles expressions handle edge inputs") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.expressions.{Tokens, WordShingles}
    def toks(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(Tokens(ColumnBridge.expression(c)))
    def shingles(c: org.apache.spark.sql.Column, k: Int) =
      ColumnBridge.column(WordShingles(ColumnBridge.expression(c), k))

    assert(eval(toks(lit(""))).asInstanceOf[scala.collection.Seq[String]].isEmpty)
    assert(eval(toks(lit("   "))).asInstanceOf[scala.collection.Seq[String]].isEmpty)
    assert(eval(toks(lit(" a  b "))).asInstanceOf[scala.collection.Seq[String]].toSeq ==
      Seq("a", "b"))
    assert(eval(toks(lit(null).cast("string"))) == null)

    assert(eval(shingles(lit(""), 3)).asInstanceOf[scala.collection.Seq[String]].isEmpty)
    assert(eval(shingles(lit("a b"), 3)).asInstanceOf[scala.collection.Seq[String]].isEmpty)
    assert(eval(shingles(lit("x y x y x"), 2)).asInstanceOf[scala.collection.Seq[String]].toSeq ==
      Seq("x y", "y x")) // first-occurrence distinct
    assert(eval(shingles(lit(null).cast("string"), 3)) == null)
    // matches the HOF formulation on a normal doc
    assert(eval(shingles(lit("a b c d"), 3)).asInstanceOf[scala.collection.Seq[String]].toSeq ==
      eval(TextFns.wordShingles(split(lit("a b c d"), " "), 3))
        .asInstanceOf[scala.collection.Seq[String]].toSeq)
  }

  test("graft_bpe merges by rank across all occurrences (hand-traced)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.BpeTokens
    def bpe(s: String): Seq[String] =
      BpeTokens
        .compute(UTF8String.fromString(s))
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString)
        .toSeq
    // t h e → (t,h) rank 0 → th e → (th,e) rank 1 → the
    assert(bpe("the") == Seq("the"))
    // s c a n: (a,n) wins (rank 3), then (s,c) → sc an
    assert(bpe("scan") == Seq("sc", "an"))
    // q u e r y: (e,r) rank 4 first blocks (qu,e); then (q,u) → qu er y
    assert(bpe("query") == Seq("qu", "er", "y"))
    // one merge pass rewrites EVERY occurrence: t h e t h e → the the
    assert(bpe("thethe") == Seq("the", "the"))
    // words encode independently across spaces
    assert(bpe("the scan") == Seq("the", "sc", "an"))
    assert(bpe("") == Seq())
  }

  test("graft_normalize: NFC composition, control collapse, no-copy clean path") {
    GraftExtensions.register(spark)
    def norm(s: String): String = {
      import spark.implicits._
      Seq(s).toDF("t").selectExpr("graft_normalize(t)").collect().head.getString(0)
    }
    // NFC: e + combining acute (U+0301) composes to é (U+00E9)
    assert(norm("cafe\u0301") == "caf\u00e9")
    // control chars + whitespace runs collapse to one space; ends trim
    assert(norm(" a\tb\u0000c  d\r\n") == "a b c d")
    // DEL is collapsible too
    assert(norm("x\u007fy") == "x y")
    // already-clean text comes back identical (fast path)
    assert(norm("plain ascii text") == "plain ascii text")
    // empty and all-junk collapse to empty
    assert(norm("") == "")
    assert(norm(" \t\u0001 ") == "")
  }

  test("deflate length separates repetitive from varied text") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.DeflateLen
    def len(s: String): Long = DeflateLen.compute(UTF8String.fromString(s))
    val repetitive = "ab" * 500
    val varied = (0 until 1000).map(i => ('a' + (i * 31 + 7) % 26).toChar).mkString
    assert(len(repetitive) > 0 && len(varied) > 0)
    assert(len(repetitive) < len(varied)) // boilerplate compresses far better
    assert(len(varied) <= varied.length + 64) // deflate overhead is bounded
    assert(len(repetitive) == len(repetitive)) // deterministic within a JVM
  }

  test("ngramsAll keeps every occurrence in text order") {
    def all(s: String, k: Int) =
      eval(TextFns.ngramsAll(lit(s), k))
        .asInstanceOf[scala.collection.Seq[String]].toSeq
    assert(all("x y x y x", 2) == Seq("x y", "y x", "x y", "y x"))
    assert(all("a b", 3).isEmpty)
    assert(all(" a  b ", 2) == Seq("a b"))
    assert(eval(TextFns.ngramsAll(lit(null).cast("string"), 2)) == null)
    // distinct twin agrees with list_distinct of the full list
    assert(
      eval(TextFns.ngramsDistinct(lit("x y x y x"), 2))
        .asInstanceOf[scala.collection.Seq[String]].toSeq ==
        all("x y x y x", 2).distinct)
  }

  test("langId marker heuristic with CJK override") {
    assert(eval(TextFns.langId(lit("the cat and the dog is of to"))) == "en")
    assert(eval(TextFns.langId(lit("der hund und die katze nicht"))) == "de")
    assert(eval(TextFns.langId(lit("le chat est une les des"))) == "fr")
    assert(eval(TextFns.langId(lit("el gato es una los las"))) == "es")
    assert(eval(TextFns.langId(lit("你好世界"))) == "zh")
    assert(eval(TextFns.langId(lit("xyzzy plugh"))) == "und")
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val a = array(lit(1.0), lit(2.0), lit(2.0))
    val b = array(lit(0.0), lit(0.0), lit(0.0)) // degenerate
    assert(math.abs(eval(VectorFns.cosine(a, a)).asInstanceOf[Double] - 1.0) < 1e-12)
    val x = array(lit(1.0), lit(0.0))
    val y = array(lit(0.0), lit(1.0))
    assert(eval(VectorFns.cosine(x, y)).asInstanceOf[Double] == 0.0)
    assert(eval(VectorFns.dot(x, y)).asInstanceOf[Double] == 0.0)
  }

  test("punct/stopword/distinct ratios") {
    assert(eval(TextFns.punctRatio(lit("ab,c!"))).asInstanceOf[Double] == 0.4)
    assert(eval(TextFns.distinctTokenRatio(lit("a a b b"))).asInstanceOf[Double] == 0.5)
    assert(eval(TextFns.meanTokenLen(lit("ab abcd"))).asInstanceOf[Double] == 3.0)
  }

  test("stripHtml removes tags/script bodies/comments, decodes entities, collapses whitespace") {
    def strip(s: String): String =
      eval(TextFns.stripHtml(lit(s))).asInstanceOf[String]
    assert(strip("<html><body><p>Hello <b>world</b></p></body></html>") == "Hello world")
    // script/style CONTENT goes too, across newlines, any case
    assert(strip("<SCRIPT type=\"x\">\nvar a = 1 < 2;\n</script>after") == "after")
    assert(strip("<style>p { color: red }</style>text") == "text")
    assert(strip("a<!-- hidden\ncomment -->b") == "a b")
    // entities decode AFTER tag stripping: a literal escaped tag survives
    assert(strip("&lt;div&gt; &amp; more&nbsp;here") == "<div> & more here")
    assert(strip("it&#39;s &quot;quoted&quot;") == "it's \"quoted\"")
    // multi-line whitespace collapses; markup-free text is untouched
    assert(strip("one\n\t two   three") == "one two three")
    assert(strip("plain text stays") == "plain text stays")
  }

  test("fixMojibake repairs the common double-encoding artifacts, identity on clean text") {
    def fix(s: String): String =
      eval(TextFns.fixMojibake(lit(s))).asInstanceOf[String]
    assert(fix("itâ€™s") == "it’s") // â€™ -> right single quote
    assert(fix("cafÃ©") == "café") // Ã© -> é
    assert(fix("aâ€“b") == "a–b") // â€“ -> en dash
    assert(fix("AÃŸB") == "AßB") // ÃŸ -> ß (cp1252: 9F = Ÿ)
    assert(fix("xÂ y") == "x y") // Â + NBSP -> plain space
    assert(fix("â€œqâ€") == "“q”") // â€œ / â€<9D> quotes
    assert(fix("clean text stays") == "clean text stays")
    assert(fix("grüße") == "grüße") // already-correct umlauts untouched
  }

  test("classCount: Java script classes count the expected characters") {
    val mixed = "abc Аб 土地 ا 42"
    def count(name: String): Long = {
      val p = TextFns.ScriptClasses.find(_._1 == name).get._2
      eval(TextFns.classCount(lit(mixed), p)).asInstanceOf[Long]
    }
    assert(count("latin") == 3) // abc
    assert(count("cyrillic") == 2) // Аб
    assert(count("han") == 2) // 土地
    assert(count("arabic") == 1) // ا
    assert(count("digit") == 2) // 42
  }
}
