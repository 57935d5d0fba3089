package perfbench

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Ground-truth comparison of what a sink delivered against what the
  * generator planted: an exact multiset compare (so missing, extra and
  * altered records are counted), an order-independent digest, and
  * per-type IOC counts. */
object Truth {

  final case class Check(expected: Long, delivered: Long, missing: Long, extra: Long,
                         expectedDigest: Long, deliveredDigest: Long,
                         expectedByType: Map[String, Long], deliveredByType: Map[String, Long]) {
    /** An altered record is one missing plus one extra: count it once. */
    def failed: Long = math.max(missing, extra)
    def ok: Boolean = failed == 0 && expectedDigest == deliveredDigest &&
      expectedByType == deliveredByType
  }

  private def hash64(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** Order-independent: a wrapping sum of per-record hashes. */
  def digest(recs: Iterable[Rec]): Long = recs.foldLeft(0L)((a, r) => a + hash64(r.canon))

  private def byType(recs: Iterable[Rec]): Map[String, Long] =
    recs.groupMapReduce(_.tpe)(_ => 1L)(_ + _)

  def compare(expected: Iterable[Rec], delivered: Iterable[Rec]): Check = {
    val want = scala.collection.mutable.HashMap[String, Long]()
    expected.foreach(r => want.updateWith(r.canon)(c => Some(c.getOrElse(0L) + 1)))
    var extra = 0L
    delivered.foreach { r =>
      want.get(r.canon) match {
        case Some(c) if c > 1 => want(r.canon) = c - 1
        case Some(_) => want.remove(r.canon)
        case None => extra += 1
      }
    }
    Check(expected.size.toLong, delivered.size.toLong, want.values.sum, extra,
      digest(expected), digest(delivered), byType(expected), byType(delivered))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val keyPattern = "[0-9a-f]{32}".r

  /** Records of keyed REST payloads (JSON arrays). A record without a
    * well-formed `_key` is delivered as altered: its id is prefixed so it
    * cannot match the truth. */
  def fromPayloads(payloads: Iterable[String]): Vector[Rec] =
    payloads.iterator.flatMap { p =>
      mapper.readTree(p).elements().asScala.map { n =>
        def f(k: String) = Option(n.get(k)).map(_.asText()).getOrElse("\u0000missing")
        val keyed = Option(n.get("_key")).exists(k => keyPattern.matches(k.asText()))
        Rec((if (keyed) "" else "unkeyed:") + f("id"), f("date_added"), f("date_received"),
          f("ioc"), f("platform"), f("source"), f("tag"), f("type"))
      }
    }.toVector

  /** Records of a header CSV in the canonical column order. The generated
    * values hold no commas or quotes, so a plain split is exact; a row of
    * the wrong width is kept as altered. */
  def fromCsv(lines: Seq[String]): Vector[Rec] = {
    val header = "id,date_added,date_received,ioc,platform,source,tag,type"
    require(lines.headOption.contains(header), s"unexpected CSV header ${lines.headOption}")
    lines.tail.filter(_.nonEmpty).map { l =>
      val c = l.split(",", -1)
      if (c.length == 8) Rec(c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7))
      else Rec("malformed:" + l, "", "", "", "", "", "", "")
    }.toVector
  }
}
