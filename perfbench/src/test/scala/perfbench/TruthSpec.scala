package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TruthSpec extends AnyFunSuite {

  private val truth = Mailbox.generate(11, 200)._2
  private def payload(recs: Seq[Rec], key: String = "0123456789abcdef0123456789abcdef"): String =
    recs.map(r => Json(Json.obj("id" -> r.id, "date_added" -> r.dateAdded,
      "date_received" -> r.dateReceived, "ioc" -> r.ioc, "platform" -> r.platform,
      "source" -> r.source, "tag" -> r.tag, "type" -> r.tpe, "_key" -> key)))
      .mkString("[", ", ", "]")

  test("a complete delivery in any order passes") {
    val c = Truth.compare(truth, Truth.fromPayloads(Seq(payload(truth.reverse))))
    assert(truth.nonEmpty && c.ok && c.failed == 0)
    assert(c.expectedDigest == c.deliveredDigest)
  }

  test("one dropped record is caught") {
    val c = Truth.compare(truth, Truth.fromPayloads(Seq(payload(truth.tail))))
    assert(!c.ok && c.failed == 1 && c.missing == 1 && c.extra == 0)
    assert(c.expectedByType != c.deliveredByType)
  }

  test("one altered record is caught") {
    val bad = truth.head.copy(ioc = truth.head.ioc + "x")
    val c = Truth.compare(truth, Truth.fromPayloads(Seq(payload(bad +: truth.tail))))
    assert(!c.ok && c.failed == 1)
    assert(c.expectedDigest != c.deliveredDigest)
  }

  test("one duplicated record is caught") {
    val c = Truth.compare(truth, Truth.fromPayloads(Seq(payload(truth.head +: truth))))
    assert(!c.ok && c.failed == 1 && c.extra == 1)
  }

  test("a record without a well-formed _key counts as altered") {
    val c = Truth.compare(truth, Truth.fromPayloads(Seq(payload(truth, key = "nope"))))
    assert(c.failed == truth.size)
  }

  test("CSV rows are parsed in the canonical column order") {
    val header = "id,date_added,date_received,ioc,platform,source,tag,type"
    val rows = truth.map(r => Seq(r.id, r.dateAdded, r.dateReceived, r.ioc, r.platform,
      r.source, r.tag, r.tpe).mkString(","))
    assert(Truth.compare(truth, Truth.fromCsv(header +: rows)).ok)
    assert(Truth.compare(truth, Truth.fromCsv(header +: rows.drop(1))).failed == 1)
  }
}
