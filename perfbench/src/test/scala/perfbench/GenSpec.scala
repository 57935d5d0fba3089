package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def tweets(seed: Long): Array[Byte] =
    (0L until 500L).map(i => TweetFeed.tweet(seed, i, 1700000000000L + i)._1)
      .mkString("\n").getBytes("UTF-8")

  /** Bytes of every file the generators write for one seed. */
  private def written(seed: Long): Map[String, String] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    Mailbox.writeParquet(Mailbox.generate(seed, 200)._1, dir.resolve("mailbox").toString, 3)
    StoreCorpus.write(seed, dir.toString)
    Files.writeString(dir.resolve("pages.jsonl"), TweetFeed.pagesJsonl(seed))
    val files = Files.walk(dir).filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .toArray.map(_.asInstanceOf[Path]).toSeq
    files.map(p => dir.relativize(p).toString -> sha(Files.readAllBytes(p))).toMap
  }

  test("the same seed gives byte-identical inputs") {
    assert(Mailbox.bytes(Mailbox.generate(7, 300)._1) sameElements Mailbox.bytes(Mailbox.generate(7, 300)._1))
    assert(tweets(7) sameElements tweets(7))
    assert(TweetFeed.pagesJsonl(7) == TweetFeed.pagesJsonl(7))
    val a = written(7)
    assert(a.size == 7) // 3 mailbox parts, documents, events, part, pages
    assert(a == written(7))
  }

  test("a new seed gives different inputs") {
    assert(!(Mailbox.bytes(Mailbox.generate(7, 300)._1) sameElements Mailbox.bytes(Mailbox.generate(8, 300)._1)))
    assert(!(tweets(7) sameElements tweets(8)))
    assert(TweetFeed.pagesJsonl(7) != TweetFeed.pagesJsonl(8))
    val (a, b) = (written(7), written(8))
    assert(a.keySet == b.keySet)
    a.keys.foreach(k => assert(a(k) != b(k), k))
  }

  test("shares are exact counts, and long To: lines always reach extraction") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val (emails, truth) = Mailbox.generate(seed, 1000)
      val subjects = emails.count(e => !e.subject.toLowerCase.contains("indicator"))
      assert(subjects == 1000 * Mailbox.NonIndicatorPct / 100)
      val longTo = emails.filter(_.body.linesIterator.exists(l => l.startsWith("To: ") && l.length > 1000))
      assert(longTo.size == 1)
      assert(longTo.forall(e => truth.exists(_.id == e.conversationId) ||
        !e.body.contains("indicators were observed")))
      assert(longTo.forall(_.subject.toLowerCase.contains("indicator")))
    }
  }
}
