package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift tests over a keyed value column — the library
  * surface behind `q_ks_test` / `q_psi_drift` / `q_mwu_drift`. Each
  * test compares EVERY group against the rest of the population on one
  * integer-valued column (lengths, counts, quantized scores…), the
  * "which intake feed shifted" alarm of a corpus pipeline.
  *
  * Scale contract shared by all three: one scan of `df` into a
  * per-(group, value) aggregate, a one-row bounds broadcast, and an
  * integer-DIV re-bucket onto a ≤ `bins` fixed-width spine — everything
  * downstream is statistic-sized (spine × |groups|), never data-sized,
  * regardless of the value domain. Bucketing is injective whenever the
  * integer value span ≤ `bins` (tests are then exact); wider/continuous
  * domains get the standard histogram-grid statistic. All internal
  * arithmetic stays integer/decimal until one final division per output
  * row → engine-exact, DuckDB-oracle-verified bit-for-bit.
  *
  * The streaming twin (frozen-baseline PSI, bounded per-key state) is
  * [[graft.streaming.StreamLog.driftMonitor]].
  */
object Drift {

  val DefaultBins = 65536L

  /** Per-(group, bucket) counts of `value` on the fixed-width integer
    * spine — the shared rollup every test rides, materialized once for
    * the test's several consumers. */
  def bucketCounts(
      df: DataFrame,
      group: Column,
      value: Column,
      bins: Long = DefaultBins): DataFrame = {
    val exact = df
      .select(group.as("g"), value.as("x"))
      .groupBy("g", "x")
      .agg(count(lit(1)).as("c"))
    val bounds = exact.agg(min("x").as("mn"), max("x").as("mx"))
    exact
      .crossJoin(broadcast(bounds))
      // decimal(38,0) before the multiply: with int64 arithmetic the
      // (x - mn) * bins product wraps once the value span exceeds
      // ~2^47 (e.g. a µs-timestamp column), silently producing negative
      // buckets. 2^63 * 65536 ≈ 6e23 fits decimal(38,0); DIV on
      // decimals returns long, so the bucket column type is unchanged.
      .withColumn(
        "bucket",
        expr(s"((CAST(x AS DECIMAL(38,0)) - mn) * $bins) DIV (mx - mn + 1)"))
      .groupBy("g", "bucket")
      .agg(sum("c").as("c"))
      // cut: measured — spine, totals and the join each re-aggregate uncut: sf0.01 best ks 0.898 → 1.513 s, psi 1.035 → 1.670 s
      .transform(graft.operators.Materialize.cut)
  }

  /** Two-sample Kolmogorov–Smirnov statistic, each group vs rest:
    * `(g, n_s, n_rest, ks_stat)`. The supremum CDF gap is found on one
    * cumulative pass over the spine; |c_s·N − c_all·n_s| numerators are
    * decimal(38,0) (past int64 at ~3e9 rows) until one division. */
  def ksTest(
      df: DataFrame,
      group: Column,
      value: Column,
      bins: Long = DefaultBins): DataFrame = {
    val counts = bucketCounts(df, group, value, bins)
    val gcumW = Window
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spine = counts
      .groupBy("bucket")
      .agg(sum("c").as("cv"))
      .withColumn("c_all", sum("cv").over(gcumW))
      .drop("cv")
    val totals = counts.groupBy("g").agg(sum("c").as("n_s"))
    val scumW = Window
      .partitionBy("g")
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    spine
      .crossJoin(broadcast(totals.select("g")))
      .join(counts, Seq("g", "bucket"), "left")
      .withColumn("c_s", sum(coalesce(col("c"), lit(0L))).over(scumW))
      .withColumn("n_total", max("c_all").over(Window.partitionBy("g")))
      .join(broadcast(totals), Seq("g"))
      .groupBy("g")
      .agg(
        max("n_s").as("n_s"),
        max(abs(dec(col("c_s")) * col("n_total") - dec(col("c_all")) * col("n_s")))
          .as("d_num"),
        max("n_total").as("n_total"))
      .select(
        col("g"),
        col("n_s"),
        (col("n_total") - col("n_s")).as("n_rest"),
        round(
          col("d_num").cast("double") /
            (dec(col("n_s")) * (col("n_total") - col("n_s"))).cast("double"),
          6).as("ks_stat"))
  }

  /** Population Stability Index over global-decile bins, each group vs
    * rest: `(g, n_docs, psi)`. Bin edges come from the spine CDF via
    * integer ceil-division; Laplace smoothing (+1 per bin) keeps ln()
    * finite for bins a group never hits. */
  def psi(
      df: DataFrame,
      group: Column,
      value: Column,
      bins: Long = DefaultBins): DataFrame = {
    val counts = bucketCounts(df, group, value, bins)
    val gcumW = Window
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spine = counts
      .groupBy("bucket")
      .agg(sum("c").as("cv"))
      .withColumn("cdf", sum("cv").over(gcumW))
    val tot = spine.agg(max("cdf").as("n_total"))
    val binned = spine
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr("(cdf * 10 + n_total - 1) DIV n_total"))
    val allBin = binned.groupBy("bin").agg(sum("cv").as("c_bin"))
    val srcBin = counts
      .join(binned.select("bucket", "bin"), Seq("bucket"))
      .groupBy("g", "bin")
      .agg(sum("c").as("c_s"))
    val totals = counts.groupBy("g").agg(sum("c").as("n_s"))
    val kBins = allBin.agg(count(lit(1)).as("k_bins"))
    val p = (coalesce(col("c_s"), lit(0L)) + lit(1)).cast("double") /
      (col("n_s") + col("k_bins")).cast("double")
    val q = (col("c_bin") - coalesce(col("c_s"), lit(0L)) + lit(1)).cast("double") /
      (col("n_total") - col("n_s") + col("k_bins")).cast("double")
    allBin
      .crossJoin(broadcast(totals))
      .join(srcBin, Seq("g", "bin"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(kBins))
      .select(col("g"), col("n_s"), ((p - q) * log(p / q)).as("term"))
      .groupBy("g")
      .agg(max("n_s").as("n_docs"), round(sum("term"), 6).as("psi"))
      .select(col("g"), col("n_docs"), col("psi"))
  }

  /** Mann–Whitney U rank-sum test with exact ½-tie handling and
    * tie-corrected variance, each group vs rest:
    * `(g, n_s, u_stat, z_score)`. 2U stays integer (decimal(38)
    * products); doubles only in the final z with fixed association. */
  def mannWhitney(
      df: DataFrame,
      group: Column,
      value: Column,
      bins: Long = DefaultBins): DataFrame = {
    val counts = bucketCounts(df, group, value, bins)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gcumW = Window
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spine = counts
      .groupBy("bucket")
      .agg(sum("c").as("cv"))
      .withColumn("c_all", sum("cv").over(gcumW))
    val tot = spine.agg(
      max("c_all").as("n_total"),
      sum(dec(col("cv")) * col("cv") * col("cv") - dec(col("cv"))).as("tie_sum"))
    val totals = counts.groupBy("g").agg(sum("c").as("n_s"))
    val scumW = Window
      .partitionBy("g")
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cS = coalesce(col("c"), lit(0L))
    val restBelow = (col("c_all") - col("cv")) - (col("c_s_cum") - cS)
    val cRest = col("cv") - cS
    spine
      .crossJoin(broadcast(totals.select("g")))
      .join(counts, Seq("g", "bucket"), "left")
      .withColumn("c_s_cum", sum(cS).over(scumW))
      .select(col("g"), (dec(cS) * (restBelow * 2 + cRest)).as("u2"))
      .groupBy("g")
      .agg(sum("u2").as("u2"))
      .join(broadcast(totals), Seq("g"))
      .crossJoin(broadcast(tot))
      .select(
        col("g"),
        col("n_s"),
        (col("u2").cast("double") / 2.0d).as("u_stat"),
        round(
          ((col("u2") - dec(col("n_s")) * (col("n_total") - col("n_s")))
            .cast("double") / 2.0d) /
            sqrt(
              (dec(col("n_s")) * (col("n_total") - col("n_s"))).cast("double") / 12.0d *
                ((col("n_total") + lit(1)).cast("double") -
                  col("tie_sum").cast("double") /
                    (dec(col("n_total")) * (col("n_total") - lit(1))).cast("double"))),
          6).as("z_score"))
  }
}
