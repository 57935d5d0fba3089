package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.EmailPipeline

/** Golden end-to-end spec for the batch email ETL (FIXTURES.md §A1 cases). */
class EmailPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ts = Timestamp.valueOf("2024-03-01 09:30:00")

  private def fixture = Seq(
    // full IOC complement, defanged
    ("c1", "Alice", "Indicator update",
      "ip 127[.]0[.]0[.]1\nurl hxxps://www[.]google[.]com\nhash d41d8cd98f00b204e9800998ecf8427e\nmail mailto:a@b[.]com", ts),
    // subject without "indicator" → dropped entirely (P1)
    ("c2", "Bob", "FYI", "ip 1[.]2[.]3[.]4", ts),
    // reply: IOCs only below the marker → zero rows (R1 dedup-by-construction)
    ("c3", "Carol", "RE: Indicator update",
      "thanks!\nFrom: H-ISAC Amber List\nip 9[.]9[.]9[.]9", ts),
    // zero IOCs → zero rows, not nulls (X1 drop-empty, h-isac.py:103)
    ("c4", "Dan", "Indicator digest", "nothing to see", ts),
    // duplicate IOC in one body → BOTH rows preserved (reference never dedups)
    ("c5", "Eve", "indicator alert", "1.2.3.4 again 1.2.3.4", ts)
  ).toDF("conversation_id", "sender", "subject", "body", "received_time")

  private lazy val out = EmailPipeline(fixture, "2026-08-12").collect()

  test("canonical 8-column schema") {
    assert(EmailPipeline(fixture, "2026-08-12").columns.toSeq ==
      Seq("id", "date_added", "date_received", "ioc", "platform", "source", "tag", "type"))
  }

  test("extraction + refang end-to-end") {
    val c1 = out.filter(_.getString(0) == "c1").map(r => (r.getString(7), r.getString(3))).toSet
    assert(c1 == Set(
      ("ip", "127.0.0.1"),
      ("url", "https://www.google.com"),
      ("hash", "d41d8cd98f00b204e9800998ecf8427e"),
      ("email", "a@b.com")))
  }

  test("subject filter, reply truncation, empty-extraction drop") {
    assert(!out.exists(_.getString(0) == "c2")) // P1
    assert(!out.exists(_.getString(0) == "c3")) // R1: only post-marker IOCs
    assert(!out.exists(_.getString(0) == "c4")) // X1 drop-empty
  }

  test("duplicates preserved (SURVEY.md §7.4)") {
    assert(out.count(r => r.getString(0) == "c5" && r.getString(3) == "1.2.3.4") == 2)
  }

  test("metadata projection: dates, platform, tag (P5)") {
    val r = out.find(_.getString(0) == "c1").get
    assert(r.getString(1) == "2026-08-12")     // date_added = injected clock
    assert(r.getString(2) == "2024-03-01")     // date_received formatted
    assert(r.getString(4) == "H-ISAC" && r.getString(6) == "N/A")
    assert(r.getString(5) == "Alice")
  }

  test("watermark predicate drops older mail (S2, h-isac.py:152-153)") {
    val filtered = EmailPipeline(fixture, "2026-08-12", Some("2025-01-01 00:00:00"))
    assert(filtered.count() == 0)
  }

  test("typed Dataset[IocRecord] boundary") {
    val emails = Seq(("c1", "A", "indicator", "ip 1[.]2[.]3[.]4", ts))
      .toDF("conversation_id", "sender", "subject", "body", "received_time")
    val ds: org.apache.spark.sql.Dataset[graft.model.IocRecord] =
      EmailPipeline.typed(emails, "2026-08-12")
    val rec = ds.collect().head
    assert(rec.ioc == "1.2.3.4" && rec.`type` == "ip" && rec.platform == "H-ISAC")
  }
}
