package graft

import java.nio.file.Files

import graft.sources.Ingest

/** Schema-enforced CSV/JSONL ingest with corrupt-row quarantine, and
  * ORC as a pushdown-capable columnar landing tier. */
class IngestSpec extends SparkSpec {

  private def write(dir: String, name: String, lines: Seq[String]): String = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  test("CSV ingest: explicit schema, quarantined corrupt row, µs canonicalization") {
    val dir = tempDir("graft-ingest").toString
    val path = write(dir, "events.csv", Seq(
      "event_id,ts,user_id,event_type,value,props",
      "1,2024-01-01 00:00:00,7,click,1.5,{}",
      "2,2024-01-01 00:00:01,8,view,2.0,{}",
      "not-a-long,2024-01-01,9,click,xx,{}")) // two unparseable fields
    val raw = Ingest.readCsv(spark, path)
    val bad = Ingest.badRecords(raw).collect()
    assert(bad.length == 1)
    assert(bad.head.getAs[String]("_corrupt").startsWith("not-a-long"))
    val clean = Ingest.canonicalEvents(raw).orderBy("event_id").collect()
    assert(clean.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(clean.head.getLong(1) == 1704067200000000L) // 2024-01-01T00:00:00Z in µs
    assert(clean(1).getLong(1) - clean.head.getLong(1) == 1000000L)
  }

  test("zone-less timestamps canonicalize as UTC under ANY session time zone") {
    val dir = tempDir("graft-ingest").toString
    val path = write(dir, "events.csv", Seq(
      "event_id,ts,user_id,event_type,value,props",
      "1,2024-01-01 00:00:00,7,click,1.5,{}"))
    val utcMicros = 1704067200000000L // 2024-01-01T00:00:00Z
    // the same export must yield the same ts_us on a deployment whose
    // session zone is not UTC (cast-only parsing would shift by -5h/-4h)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val clean = Ingest.canonicalEvents(Ingest.readCsv(spark, path)).collect()
      assert(clean.head.getLong(1) == utcMicros)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("JSONL ingest: same contract as CSV, same quarantine") {
    val dir = tempDir("graft-ingest").toString
    val path = write(dir, "events.jsonl", Seq(
      """{"event_id":1,"ts":"2024-01-01 00:00:00","user_id":7,"event_type":"click","value":1.5,"props":"{}"}""",
      """this is not json"""))
    val raw = Ingest.readJsonl(spark, path)
    assert(Ingest.badRecords(raw).collect().length == 1)
    val clean = Ingest.canonicalEvents(raw).collect()
    assert(clean.length == 1 && clean.head.getLong(0) == 1L)
  }

  test("ORC round-trip preserves the canonical table and pushes filters to the scan") {
    val dir = tempDir("graft-orc").toString + "/events.orc"
    val ev = graft.sources.Tables.events(spark, SfDir)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
    Ingest.writeOrc(ev, dir)
    val back = Ingest.readOrc(spark, dir)
    assert(back.count() == ev.count())
    // same µs values through the ORC tier
    val a = ev.orderBy("event_id").limit(5).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = back.orderBy("event_id").limit(5).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    // predicate reaches the ORC scan (min-max skipping class, like parquet)
    val p = back
      .filter(org.apache.spark.sql.functions.col("user_id") === 42L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,42)"))
  }
}
