package graft

import org.apache.spark.sql.functions._

import graft.sources.Layout

/** Z-order layout + footer-manifest file skipping. Dimensions in the
  * raw-interleave tests share a 0..255 range — the comparable-bit-width
  * precondition the Layout docs state (bit interleaving weights
  * dimensions by their raw bit positions). */
class LayoutSpec extends SparkSpec {

  private def withDirs[A](prefixes: String*)(body: Seq[String] => A): A = {
    val dirs = prefixes.map(p => tempDir(p).toString)
    try body(dirs)
    finally dirs.foreach { d =>
      val root = new java.io.File(d)
      Option(root.listFiles).foreach(_.foreach(_.delete()))
      root.delete()
    }
  }

  // 65k points on a 256×256 grid, row-major — "a" is the natural
  // (linear) order, "b" cycles fast
  private def grid = {
    spark
      .range(0, 65536, 1, 8)
      .select(
        (col("id") / 256).cast("long").as("a"),
        (col("id") % 256).cast("long").as("b"))
  }

  private def interleaveRef(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  private def kept(dir: String, column: String, lo: Long, hi: Long): Int =
    Layout.prune(Layout.manifest(spark, dir, column), lo, hi).size

  test("zvalue matches the bit-interleave reference, including 31-bit masking") {
    val rows = spark
      .range(0, 1000)
      .select(
        col("id"),
        Layout.zvalue(col("id") * 2097169L, col("id") * 613L).as("z"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val expected =
        interleaveRef((id * 2097169L) & 0x7FFFFFFFL, (id * 613L) & 0x7FFFFFFFL)
      assert(r.getLong(1) == expected, s"id=$id")
    }
  }

  test("z-ordered files prune on both dimensions; linear layout prunes only its own") {
    withDirs("graft-zorder", "graft-linear") { case Seq(zdir, ldir) =>
      Layout.writeZOrdered(grid, zdir, "a", "b", numFiles = 16)
      // the linear counter-layout: perfectly clustered on "a" only
      grid
        .repartitionByRange(16, col("a"))
        .sortWithinPartitions("a", "b")
        .write
        .mode("overwrite")
        .parquet(ldir)

      val zFiles = Layout.manifest(spark, zdir, "a").size
      val lFiles = Layout.manifest(spark, ldir, "a").size
      assert(zFiles == 16 && lFiles == 16)

      // a narrow band on each dimension (1/8 of the domain)
      assert(kept(zdir, "a", 0, 31) <= zFiles / 2)
      assert(kept(zdir, "b", 0, 31) <= zFiles / 2)
      assert(kept(ldir, "a", 0, 31) <= 3) // linear wins on its own key…
      assert(kept(ldir, "b", 0, 31) == lFiles) // …and prunes nothing else

      // pruned read + residual filter ≡ full filter (row-group pushdown
      // finishes inside kept files)
      val viaPruned = Layout
        .readPruned(spark, zdir, "b", 0, 31)
        .filter(col("b") <= 31)
        .agg(count(lit(1)), sum("a"), sum("b"))
        .collect()(0)
      val viaFull = spark.read
        .parquet(zdir)
        .filter(col("b") <= 31)
        .agg(count(lit(1)), sum("a"), sum("b"))
        .collect()(0)
      assert(viaPruned == viaFull)
      assert(viaPruned.getLong(0) == 256L * 32)

      // the fully-selective case: no file overlaps → empty result in
      // the table's schema, not an empty-path-list error
      val none = Layout.readPruned(spark, zdir, "a", 1000, 2000)
      assert(none.columns.toSeq == Seq("a", "b") && none.count() == 0)
    }
  }

  test("hilbertValue is a bijection with unit-step adjacency (the defining curve property)") {
    // every cell of a 16×16 grid: distances must be exactly 0..255 and
    // consecutive distances must be grid NEIGHBORS (manhattan 1) — the
    // property the Z-curve fails at every quadrant seam
    val cells = spark
      .range(0, 256)
      .select(
        (col("id") / 16).cast("long").as("x"),
        (col("id") % 16).cast("long").as("y"))
      .select(col("x"), col("y"), Layout.hilbertValue(col("x"), col("y"), bits = 4).as("h"))
      .collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(cells.map(_._1).toSeq == (0L until 256L).toSeq, "distances must be a bijection")
    cells.sliding(2).foreach { case Array((_, (x1, y1)), (d2, (x2, y2))) =>
      val manhattan = math.abs(x1 - x2) + math.abs(y1 - y2)
      assert(manhattan == 1, s"cells at d=${d2 - 1},$d2 are not neighbors: ($x1,$y1)->($x2,$y2)")
    }
  }

  test("hilbert-ordered files prune on both dimensions at least as hard as z-order") {
    withDirs("graft-hilbert", "graft-zcomp") { case Seq(hdir, zdir) =>
      Layout.writeHilbertOrdered(grid, hdir, "a", "b", numFiles = 16, bits = 8)
      Layout.writeZOrdered(grid, zdir, "a", "b", numFiles = 16)
      assert(Layout.manifest(spark, hdir, "a").size == 16)
      // 1/8-of-domain bands on each dimension
      val ha = kept(hdir, "a", 0, 31); val hb = kept(hdir, "b", 0, 31)
      assert(ha <= 8 && hb <= 8, s"hilbert kept a=$ha b=$hb of 16")
      assert(ha <= kept(zdir, "a", 0, 31) && hb <= kept(zdir, "b", 0, 31))
      // pruned read + residual filter ≡ full filter
      val viaPruned = Layout
        .readPruned(spark, hdir, "b", 0, 31)
        .filter(col("b") <= 31)
        .agg(count(lit(1)), sum("a"), sum("b"))
        .collect()(0)
      val viaFull = spark.read
        .parquet(hdir)
        .filter(col("b") <= 31)
        .agg(count(lit(1)), sum("a"), sum("b"))
        .collect()(0)
      assert(viaPruned == viaFull)
    }
  }

  test("ranked z-order prunes dimensions whose raw ranges are incomparable") {
    // "small" is 8-bit, "big" is ~38-bit: raw interleave masks big to
    // 31 bits (wrapping scrambles it) and big's surviving high bits
    // drown small's — neither dimension prunes. Rank-bucketing first
    // restores the comparable-width precondition.
    val df = spark
      .range(0, 65536, 1, 8)
      .select(
        (col("id") % 256).cast("long").as("small"),
        ((col("id") / 256).cast("long") * 1000000000L).as("big"))
    withDirs("graft-zrank", "graft-zraw") { case Seq(rdir, wdir) =>
      Layout.writeZOrdered(df, rdir, "small", "big", numFiles = 16, ranked = true)
      Layout.writeZOrdered(df, wdir, "small", "big", numFiles = 16)

      // 1/8-of-domain bands on each dimension
      assert(kept(rdir, "small", 0, 31) <= 8)
      assert(kept(rdir, "big", 0, 31L * 1000000000L) <= 8)
      assert(kept(wdir, "small", 0, 31) >= 12) // raw layout: no skipping
    }
  }
}
