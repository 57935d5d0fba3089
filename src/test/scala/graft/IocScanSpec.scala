package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Iocs
import graft.functions.IocScan
import graft.pipeline.TweetPipeline

import scala.collection.mutable.ArrayBuffer

/** Fuzz-equality gate for the fused IOC scanner (functions/IocScan.scala):
  * the scanner must reproduce `regexp_extract_all(text, P, 1)` for
  * IpPlain / Hash / UrlFast EXACTLY — same matches, same order — on
  * adversarial boundary cases and random fuzz. Two layers:
  *
  *  1. JVM-level: IocScan vs a direct java.util.regex find() loop (the
  *     same engine and semantics Spark's RegExpExtractAll uses);
  *  2. plan-level: the fused TweetPipeline.extract vs the original
  *     three-regex formulation over a corpus-derived DataFrame, compared
  *     as full result multisets.
  */
class IocScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def refMatches(pattern: String, text: String): Seq[String] = {
    val m = java.util.regex.Pattern.compile(pattern).matcher(text)
    val buf = ArrayBuffer[String]()
    while (m.find()) buf += m.group(1)
    buf.toSeq
  }

  private def refPairs(text: String): Seq[(String, String)] =
    refMatches(Iocs.IpPlain, text).map(("ip", _)) ++
      refMatches(Iocs.Hash, text).map(("hash", _)) ++
      refMatches(Iocs.UrlFast, text).map(("url", _))

  private def assertSame(text: String): Unit = {
    val fused = IocScan.scanPairs(text).toSeq
    val ref = refPairs(text)
    assert(fused == ref,
      s"scanner diverges on ${text.replace("\n", "\\n").replace("\r", "\\r")}:" +
        s"\n fused $fused\n regex $ref")
  }

  test("hand-picked boundary cases match the regex engine") {
    val hex32 = "a" * 16 + "0" * 16
    val hex64 = "Ab3" * 21 + "f"
    val hex70 = "c" * 70
    val cases = Seq(
      // IPs: boundaries, octet lengths, over-long runs, dotted tails
      "1.2.3.4", "x 10.20.30.40 y", "11.22.33.44.", "1234.1.1.1",
      "1.2.3.4567", "9.1.2.3.4", "a1.2.3.4", "1.2.3.4a", "1.2.3.4\n",
      "1.2.3.4\r\n", "_1.2.3.4", ".1.2.3.4", "1.2.3.", "1..2.3.4",
      "256.256.256.256", "0.0.0.0", "1.2.3.4.5.6.7.8", "1.2.3.4x5.6.7.8",
      // hashes: run lengths and contexts
      hex32, hex64, hex70, "g" + hex32, "_" + hex32, "." + hex32,
      hex32 + "g", hex32 + ".", hex32 + "\n", "x " + hex64 + " y",
      "deadbeef", hex32.take(31), hex64 + "0", "0x" + hex32,
      // URLs: schemes, boundary entry, tail trimming, $-before-newline
      "//foo.com", "//foo.com.", "x//foo", " //foo", "hxxp://evil.com",
      "hXXps://a.b", "hxXp://q", "meows://x", "meow://x/y", "http://foo.example",
      "ahxxp://foo", "//a.,", "//...", "//.", "//a//b", "-hxxp://x",
      "hxxps://", "//foo\n", "//foo.\n", "//foo\r\n", "=hxxp://b",
      "hxxp://a[.]b[.]c/path", "meow://pastebin[.]com/abc123",
      "see hxxps://bad[.]site/x and //1.2.3.4/p", "//-", "//_",
      "a=//b", "1//2", "hxxp:/x", "hxxpp://x", "meowss://x",
      // mixed + empties
      "", " ", "\n", "ip 1.2.3.4 hash " + hex32 + " url hxxp://a.b c",
      "1.2.3.4//x.y", hex32 + "//z", "//" + hex32)
    cases.foreach(assertSame)
  }

  test("random fuzz: 4000 adversarial strings match the regex engine") {
    val rnd = new scala.util.Random(20260816L)
    // weighted toward the characters that exercise every branch:
    // boundaries, schemes, octets, hex runs, CLS punctuation, terminators
    val alphabet =
      "0123456789" + "abcdef" + "ABCDEF" + "ghiZ_" +
        "..//::" + "hxXpsmeow" + "[]#&,;=-" + "  \n\r" + "\u0085\u2028\u2029"
    (0 until 4000).foreach { _ =>
      val len = rnd.nextInt(90)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb += alphabet.charAt(rnd.nextInt(alphabet.length)))
      assertSame(sb.toString)
    }
    // long-run stress: hex and digit and CLS runs straddling the caps
    (0 until 200).foreach { _ =>
      val runLen = 28 + rnd.nextInt(44) // 28..71
      val run = (0 until runLen).map(_ => "0123456789abcdef".charAt(rnd.nextInt(16))).mkString
      val pre = Seq("", " ", "g", ".", "_", "1.2.3.4", "//")(rnd.nextInt(7))
      val post = Seq("", " ", "g", ".", "\n", "//x")(rnd.nextInt(6))
      assertSame(pre + run + post)
    }
  }

  test("fused extract plan ≡ three-regex plan on corpus text (multiset)") {
    import spark.implicits._
    // orderBy before limit: a bare LIMIT re-executes per action and is not
    // guaranteed to pick the same 400 rows on a multi-partition scan —
    // the two exceptAll sides must compare the SAME sample
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id").cast("string").as("id"), col("text"))
      .orderBy(col("doc_id"))
      .limit(400)
      .withColumn("user", lit("u"))
      .withColumn("hashtags", lit("t"))
      .withColumn("created_date", lit("2021-01-01"))
    val injected = Seq(
      ("i1", "ping 1.2.3.4 and hxxp://bad[.]site/x", "u", "t", "2021-01-01"),
      ("i2", "aa " + "deadbeef" * 4 + " //trailing. end", "u", "t", "2021-01-01"))
      .toDF("id", "text", "user", "hashtags", "created_date")
    val in = docs.unionByName(injected)
    val fused = TweetPipeline.extract(in)
    val regex = TweetPipeline.extractRegex(in)
    assert(fused.exceptAll(regex).isEmpty && regex.exceptAll(fused).isEmpty,
      "fused extract diverges from the regex formulation")
    assert(fused.count() === regex.count())
    assert(fused.count() > 0, "corpus sample produced no extractions at all")
  }
}
