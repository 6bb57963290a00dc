package graft

import org.scalatest.funsuite.AnyFunSuite

/** The coverage checklist (SURVEY.md §2) and the query registry
  * ([[SparkEntry.queries]]) must be EQUAL SETS — the round-7 verdict
  * found one drift (`q_mutual_info` registered, benched, hash-green,
  * but absent from §2), so the invariant is now a test:
  *
  *  - every backticked `q*` key in §2 resolves to a registered query;
  *  - every registered query appears in §2 exactly once;
  *  - every query the bench excludes is registered (the bench runs
  *    every other registered query by construction);
  *  - every registered query has an oracle, except the documented
  *    rows-only list (approximate/engine-specific sketches whose error
  *    bounds are spec-asserted instead).
  *
  * Pure file+map checks — no Spark session, so the suite costs
  * milliseconds in the full run.
  */
class SurveySyncSpec extends AnyFunSuite {

  /** Keys whose outputs are approximate/engine-specific by design: the
    * driver records a rows-only check and PlanSpec asserts their error
    * bounds. Any NEW rows-only query must be added here deliberately. */
  private val RowsOnly = Set(
    "q_approx_distinct",
    "q_approx_percentiles",
    "q_hll_rollup",
    "q_heavy_hitters",
    "q_compress_ratio")

  /** Keys deliberately claimed by more than one §2 row (e.g. rows 21+22
    * both verify through `q1_agg`: the pushdown scan is implicit in the
    * aggregate's plan). Key → expected claim count. */
  private val SharedKeys = Map("q1_agg" -> 2)

  private lazy val surveySection: String = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val start = text.indexOf("## §2 ")
    val end = text.indexOf("## §3 ")
    assert(start >= 0 && end > start, "SURVEY.md §2/§3 headers not found")
    text.substring(start, end)
  }

  private lazy val surveyKeys: Seq[String] = {
    val section = surveySection
    // registry keys are `q1_agg`-style backticked tokens in the LAST
    // (correctness) column of each checklist row; description-cell prose
    // legitimately cross-references other keys, so only the final cell
    // counts as a claim
    val key = "`(q\\d*_[a-z0-9_]+)`".r
    section.linesIterator
      .filter(l => l.startsWith("|") && !l.startsWith("|--") && !l.startsWith("| #"))
      .flatMap { line =>
        val cells = line.split("\\|").map(_.trim).filter(_.nonEmpty)
        cells.lastOption.toSeq.flatMap(c => key.findAllMatchIn(c).map(_.group(1)))
      }
      .toSeq
  }

  test("§2 row ids are unique (the cross-reference currency of the evidence chain)") {
    // the id is the first cell of each checklist row ("| 86f | …"); two
    // rows once shared 86f and the collision survived a whole round —
    // this keeps the class dead
    val ids = surveySection.linesIterator
      .filter(l => l.startsWith("|") && !l.startsWith("|--") && !l.startsWith("| #"))
      .flatMap(_.split("\\|").map(_.trim).find(_.nonEmpty))
      .toSeq
    val dup = ids.groupBy(identity).collect { case (id, v) if v.size > 1 => s"$id(${v.size})" }
    assert(dup.isEmpty, s"duplicate §2 row ids: ${dup.toSeq.sorted.mkString(", ")}")
  }

  test("every §2 checklist key is a registered query") {
    val unknown = surveyKeys.toSet -- SparkEntry.queries.keySet
    assert(
      unknown.isEmpty,
      s"SURVEY.md §2 references unregistered keys: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query has a §2 checklist row") {
    val missing = SparkEntry.queries.keySet -- surveyKeys.toSet
    assert(
      missing.isEmpty,
      s"registered queries missing from SURVEY.md §2: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("no §2 key is claimed by two checklist rows (unless documented shared)") {
    val bad = surveyKeys
      .groupBy(identity)
      .collect {
        case (k, v) if v.size != SharedKeys.getOrElse(k, 1) => s"$k(${v.size})"
      }
    assert(bad.isEmpty, s"unexpected §2 claim counts: ${bad.toSeq.sorted.mkString(", ")}")
  }

  test("every Bench.Excluded key is registered") {
    // Bench.Excluded names the registered queries the board skips (each
    // measured inside a composed entry instead); a stale name there
    // would hide nothing and mislead the reader
    val unknown = Bench.Excluded -- SparkEntry.queries.keySet
    assert(
      unknown.isEmpty,
      s"Bench.Excluded references unregistered keys: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query has an oracle unless documented rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val undocumented = noOracle -- RowsOnly
    assert(
      undocumented.isEmpty,
      s"queries without oracle NOT in the documented rows-only list: ${undocumented.toSeq.sorted.mkString(", ")}")
    val stale = RowsOnly -- noOracle
    assert(
      stale.isEmpty,
      s"rows-only list entries that now HAVE oracles (remove them): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
