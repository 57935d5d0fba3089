package perfbench

import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** One canonical 8-column IOC record as a sink delivers it. */
final case class Rec(id: String, dateAdded: String, dateReceived: String, ioc: String,
                     platform: String, source: String, tag: String, tpe: String) {
  def canon: String =
    Seq(id, dateAdded, dateReceived, ioc, platform, source, tag, tpe).mkString("\u0001")
}

/** Seeded randomness. Every item is drawn from its own stream keyed by
  * (seed, kind, index), so one item can be regenerated without the others
  * and the same seed always yields the same bytes. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def at(seed: Long, kind: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ (kind * 0x632BE59BD9B4E019L)) ^ mix(i))

  def letters(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(('a' + r.nextInt(26)).toChar).mkString
  def hex(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)("0123456789abcdef".charAt(r.nextInt(16))).mkString
  def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  /** Exactly `k` of `n` indices, chosen by a seeded shuffle: a fixed count
    * per input keeps the input's cost the same from seed to seed. */
  def quota(seed: Long, kind: Long, n: Int, k: Int): Array[Boolean] = {
    val r = at(seed, kind, -1)
    val idx = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    val out = new Array[Boolean](n)
    idx.take(k).foreach(out(_) = true)
    out
  }

  /** Prose made of lower-case words only: no digits, dots, `@` or `//`,
    * so filler text can never form an indicator. */
  private val words = IndexedSeq(
    "threat", "actors", "continue", "to", "target", "member", "institutions",
    "with", "credential", "phishing", "campaigns", "and", "commodity",
    "loaders", "analysts", "recommend", "blocking", "the", "indicators",
    "below", "reviewing", "proxy", "logs", "for", "related", "activity",
    "observed", "infrastructure", "overlaps", "previous", "reporting",
    "sector", "partners", "shared", "samples", "during", "window", "please",
    "treat", "as", "amber", "distribution", "limited", "sharing", "members",
    "only", "confidence", "moderate", "high", "delivery", "via", "malicious",
    "attachments", "remote", "access", "tooling", "persistence", "scheduled",
    "tasks", "lateral", "movement", "beacon", "interval", "jitter")
  def prose(r: SplittableRandom, nWords: Int): String =
    Iterator.fill(nWords)(pick(r, words)).mkString(" ")
}

/** A mailbox message as the email source table holds it. */
final case class Email(conversationId: String, sender: String, subject: String,
                       body: String, receivedMicros: Long) {
  def line: String = Seq(conversationId, sender, subject, body, receivedMicros.toString)
    .mkString("\u0001")
}

/** Seeded H-ISAC-style mailbox with its planted ground truth.
  *
  * Bodies are about 1.8 KB: prose, a block of defanged ip/url/hash/email
  * indicators, and in fixed shares an IOC-free body, a reply-chain tail
  * (its indicators must not be extracted), a non-"indicator" subject, a
  * receive time before the watermark, and a forwarded header whose `To:`
  * line lists 100 comma-joined addresses. Shares are exact counts so every
  * seed costs the same; the seed moves positions and contents. */
object Mailbox {
  val DateAdded = "2026-08-12"
  val Watermark = "2024-03-04 00:00:00"
  val Platform = "H-ISAC"
  private val start = Instant.parse("2024-03-01T00:00:00Z")
  private val watermarkAt = Instant.parse("2024-03-04T00:00:00Z")
  private val spanMicros = 30L * 86400L * 1000000L

  val NonIndicatorPct = 12
  val OlderPct = 10
  val IocFreePct = 8
  val ReplyTailPct = 20
  val LongToPerThousand = 1
  val LongToAddresses = 100

  def longToCount(n: Int): Int = math.max(1, n * LongToPerThousand / 1000)

  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000
  def dateOf(us: Long): String =
    LocalDate.ofInstant(Instant.ofEpochSecond(us / 1000000L), ZoneOffset.UTC).toString

  /** The mailbox and the records both sinks must deliver for it. */
  def generate(seed: Long, n: Int): (Vector[Email], Vector[Rec]) = {
    def share(kind: Long, pct: Int) = Rng.quota(seed, kind, n, n * pct / 100)
    val nonInd = share(1, NonIndicatorPct)
    val older = share(2, OlderPct)
    val iocFree = share(3, IocFreePct)
    val tail = share(4, ReplyTailPct)
    // long To: lines go only to messages that pass the subject and
    // watermark filters, so every seed pays the same regex cost for them
    val eligible = (0 until n).filter(i => !nonInd(i) && !older(i))
    val pickTo = Rng.quota(seed, 5, eligible.size, longToCount(n))
    val longTos = new Array[Boolean](n)
    eligible.indices.foreach(j => if (pickTo(j)) longTos(eligible(j)) = true)
    val out = (0 until n).map(i => one(seed, i, nonInd(i), older(i), iocFree(i), tail(i), longTos(i)))
    (out.map(_._1).toVector, out.flatMap(_._2).toVector)
  }

  private def one(seed: Long, i: Int, nonInd: Boolean, older: Boolean, iocFree: Boolean,
                  tail: Boolean, longTo: Boolean): (Email, Seq[Rec]) = {
    val r = Rng.at(seed, 10, i)
    val conv = s"conv-$i-${Rng.letters(r, 6)}"
    val sender = s"analyst${r.nextInt(40)}@member-${Rng.letters(r, 4)}.example"
    val subject =
      if (nonInd) Rng.pick(r, IndexedSeq("Weekly digest", "Meeting notes", "Member survey")) +
        s" ${r.nextInt(1000)}"
      else Rng.pick(r, IndexedSeq("H-ISAC Amber List: Indicators for today",
        "Indicator update", "New INDICATORS of compromise")) + s" ${r.nextInt(1000)}"
    val received =
      if (older) micros(start) + r.nextLong(micros(watermarkAt) - micros(start))
      else micros(watermarkAt) + r.nextLong(micros(start) + spanMicros - micros(watermarkAt))

    val planted = Vector.newBuilder[(String, String)] // (type, expected ioc)
    val iocLines = Vector.newBuilder[String]
    if (!iocFree) {
      val counts = Array.fill(4)(r.nextInt(3))
      if (counts.sum == 0) counts(r.nextInt(4)) = 1
      for (_ <- 0 until counts(0)) {
        val o = Array.fill(4)(1 + r.nextInt(254))
        val shown = r.nextInt(3) match {
          case 0 => o.mkString("[.]")
          case 1 => s"${o(0)}.${o(1)}.${o(2)}[.]${o(3)}"
          case _ => o.mkString(".")
        }
        iocLines += s"ip: $shown"; planted += ("ip" -> o.mkString("."))
      }
      for (_ <- 0 until counts(1)) {
        val h0 = Rng.hex(r, Rng.pick(r, IndexedSeq(32, 40, 64)))
        val h = if (r.nextInt(5) == 0) h0.toUpperCase else h0
        iocLines += s"hash: $h"; planted += ("hash" -> h)
      }
      for (_ <- 0 until counts(2)) {
        val host = s"evil-${Rng.letters(r, 6)}"
        val dom = Rng.pick(r, IndexedSeq("example", "invalid", "test"))
        val path = Rng.letters(r, 5)
        val (shown, real) = r.nextInt(4) match {
          case 0 => (s"hxxps://$host[.]$dom[.]com/$path", s"https://$host.$dom.com/$path")
          case 1 => (s"hXXp://$host[.]$dom[.]net/$path", s"http://$host.$dom.net/$path")
          case 2 => (s"hxxp://$host.$dom[.]org/$path", s"http://$host.$dom.org/$path")
          case _ => (s"meows://$host[.]$dom[.]io/$path", s"meows://$host.$dom.io/$path")
        }
        iocLines += s"url: $shown"; planted += ("url" -> real)
      }
      for (_ <- 0 until counts(3)) {
        val local = Rng.letters(r, 5) + r.nextInt(100)
        val dom = s"phish-${Rng.letters(r, 5)}"
        val tld = Rng.pick(r, IndexedSeq("example", "invalid", "test"))
        val mailto = if (r.nextBoolean()) "mailto:" else ""
        iocLines += s"contact: $mailto$local@$dom[.]$tld"; planted += ("email" -> s"$local@$dom.$tld")
      }
    }

    val b = new StringBuilder
    def line(s: String): Unit = b.append(s).append('\n')
    line("Dear members,")
    for (_ <- 0 until 3) line(Rng.prose(r, 8 + r.nextInt(7)))
    val ls = iocLines.result()
    if (ls.nonEmpty) {
      line("The following indicators were observed in this reporting window:")
      ls.foreach(line)
    }
    while (b.length < 1500) line(Rng.prose(r, 8 + r.nextInt(7)))
    if (longTo) {
      line("---------- Forwarded message ---------")
      line(s"From: Member Operations <ops-desk@bank-${Rng.letters(r, 5)}.example>")
      line("Subject: FW: indicator sharing")
      line("To: " + Iterator.fill(LongToAddresses)(
        s"${Rng.letters(r, 5)}@bank-${Rng.letters(r, 4)}.example").mkString(","))
    }
    line("Regards,")
    line(s"Analyst desk ${Rng.letters(r, 4)}")
    if (tail) {
      line("")
      line("From: H-ISAC Amber List <amber@h-isac.example>")
      line("Sent: Friday, March first")
      line(s"old ip: 99[.]99[.]${1 + r.nextInt(254)}[.]${1 + r.nextInt(254)}")
      line(s"old url: hxxp://stale-${Rng.letters(r, 6)}[.]example[.]com/x")
      line(s"old contact: mailto:old${Rng.letters(r, 4)}@stale[.]example")
    }
    val email = Email(conv, sender, subject, b.toString, received)
    val delivered = !nonInd && !older
    val recs = if (!delivered) Nil else planted.result().map { case (t, ioc) =>
      Rec(conv, DateAdded, dateOf(received), ioc, Platform, sender, "N/A", t)
    }
    (email, recs)
  }

  def bytes(emails: Seq[Email]): Array[Byte] =
    emails.map(_.line).mkString("\n").getBytes(StandardCharsets.UTF_8)

  /** Writes the mailbox as `files` parquet files of consecutive messages
    * under the directory `dir`. */
  def writeParquet(emails: Seq[Email], dir: String, files: Int): Unit = {
    val per = (emails.size + files - 1) / files
    emails.grouped(per).zipWithIndex.foreach { case (part, k) =>
      writeFile(part, f"$dir/part-$k%05d.parquet")
    }
  }

  private def writeFile(emails: Seq[Email], path: String): Unit =
    Parquet.write(path,
      """message email {
        |  optional binary conversation_id (STRING);
        |  optional binary sender (STRING);
        |  optional binary subject (STRING);
        |  optional binary body (STRING);
        |  optional int64 received_time (TIMESTAMP(MICROS,true));
        |}""".stripMargin,
      emails.iterator.map(e => Seq("conversation_id" -> e.conversationId,
        "sender" -> e.sender, "subject" -> e.subject, "body" -> e.body,
        "received_time" -> e.receivedMicros)))
}

/** Seeded raw-tweet feed, pastebin pages, and their planted ground truth.
  *
  * Tweets mix plain-dot IPs, hashes and hxxp URLs in the text, retweets
  * (both the flag and an "RT @" prefix, which the pipeline drops),
  * IOC-free chatter, extended tweets whose full text carries the
  * indicators, embedded newlines, and pastebin links of which most point
  * at a page in the static pages table. */
object TweetFeed {
  val Platform = "Twitter"
  val Pages = 300
  private val tags = IndexedSeq("malware", "infosec", "threatintel", "ioc", "phishing", "c2")

  def pageUrl(seed: Long, k: Int): String =
    "https://pastebin.com/raw/" + Rng.letters(Rng.at(seed, 30, k), 8)
  private def missingPageUrl(r: SplittableRandom): String =
    "https://pastebin.com/raw/" + Rng.letters(r, 9)

  /** Classified page lines: (line, type), "unmatched" lines included. */
  def page(seed: Long, k: Int): Vector[(String, String)] = {
    val r = Rng.at(seed, 31, k)
    Vector.fill(3 + r.nextInt(6)) {
      r.nextInt(4) match {
        case 0 => (Iterator.fill(4)(1 + r.nextInt(254)).mkString("."), "ip")
        case 1 => (s"evil-${Rng.letters(r, 6)}.example.com/${Rng.letters(r, 4)}", "url")
        case 2 => (Rng.hex(r, Rng.pick(r, IndexedSeq(32, 40, 64))), "hash")
        case _ => (Rng.prose(r, 3), "unmatched")
      }
    }
  }

  /** Pages table as JSON lines matching `Schemas.pastebinPages`. */
  def pagesJsonl(seed: Long): String =
    (0 until Pages).map { k =>
      Json(Json.obj("url" -> pageUrl(seed, k), "lines" -> page(seed, k).map(_._1)))
    }.mkString("", "\n", "\n")

  /** One raw tweet (a JSON line) and the records the sink must deliver for
    * it. `stampMs` is the tweet's scheduled creation time. */
  def tweet(seed: Long, seq: Long, stampMs: Long): (String, Vector[Rec]) = {
    val r = Rng.at(seed, 20, seq)
    val id = 1000000000L + seq
    val kind = r.nextInt(100)
    val retweetFlag = kind < 5
    val rtPrefix = kind >= 5 && kind < 8
    val iocFree = kind >= 8 && kind < 16
    val user = s"hunter_${Rng.letters(r, 5)}"
    val created = f"2024-05-${1 + r.nextInt(28)}%02d"
    val hashtags = Vector.fill(r.nextInt(4))(Rng.pick(r, tags))

    val planted = Vector.newBuilder[(String, String)]
    val parts = Vector.newBuilder[String]
    parts += Rng.prose(r, 2 + r.nextInt(4))
    if (!iocFree) {
      for (_ <- 0 until 1 + r.nextInt(3)) {
        val (t, ioc) = r.nextInt(3) match {
          case 0 => ("ip", Iterator.fill(4)(1 + r.nextInt(254)).mkString("."))
          case 1 => ("hash", Rng.hex(r, Rng.pick(r, IndexedSeq(32, 40, 64))))
          case _ => ("url", s"hxxp://drop-${Rng.letters(r, 6)}.example.org/${Rng.letters(r, 3)}")
        }
        planted += (t -> ioc)
        parts += ioc
        parts += Rng.prose(r, 1 + r.nextInt(3))
      }
    }
    val sep = if (r.nextInt(5) == 0) "\\n" else " "
    val body = parts.result().mkString(sep)
    val fullText = (if (rtPrefix) "RT @someone: " else "") + body
    val extended = r.nextInt(100) < 15
    val text =
      if (extended) (if (rtPrefix) "RT @someone: " else "") + "thread continues in the full text"
      else fullText

    val pasteRoll = r.nextInt(100)
    val pasteK = r.nextInt(Pages)
    val paste =
      if (pasteRoll < 9) Some(pageUrl(seed, pasteK))
      else if (pasteRoll < 12) Some(missingPageUrl(r))
      else None
    val urls = paste.toVector.flatMap { p =>
      if (r.nextBoolean()) Vector(s"https://blog.example.com/${Rng.letters(r, 5)}", p) else Vector(p)
    }

    val json = new StringBuilder
    json.append("{\"created_at\":\"").append(created).append("\",\"id\":").append(id)
      .append(",\"timestamp_ms\":").append(stampMs)
      .append(",\"text\":\"").append(text).append("\",\"retweeted\":").append(retweetFlag)
    if (extended) json.append(",\"extended_tweet\":{\"full_text\":\"").append(fullText).append("\"}")
    json.append(",\"user\":{\"screen_name\":\"").append(user).append("\"}")
      .append(",\"entities\":{\"hashtags\":")
      .append(hashtags.map(h => s"""{"text":"$h"}""").mkString("[", ",", "]"))
      .append(",\"urls\":")
      .append(urls.map(u => s"""{"expanded_url":"$u"}""").mkString("[", ",", "]"))
      .append("}}")

    val kept = !retweetFlag && !rtPrefix
    val tag = hashtags.mkString(";")
    def rec(ioc: String, t: String) = Rec(id.toString, created, created, ioc, Platform, user, tag, t)
    val fromText = planted.result().map { case (t, ioc) => rec(ioc, t) }
    val fromPage = paste.filter(_ == pageUrl(seed, pasteK)).toVector
      .flatMap(_ => page(seed, pasteK).filter(_._2 != "unmatched").map { case (l, t) => rec(l, t) })
    (json.toString, if (kept) fromText ++ fromPage else Vector.empty)
  }
}

/** Seeded miniature of the engine's corpus tables that the `ioc_*`
  * queries read (`documents`, `events`, `part`), with the column types of
  * the engine's test corpus. */
object StoreCorpus {
  val Documents = 1000
  val Events = 20000
  val Parts = 2000
  val Users = 300
  private val langs = IndexedSeq("en", "en", "en", "fr", "de", "es", "zh")
  private val eventTypes = IndexedSeq("view", "click", "purchase", "signup", "error")
  private val vocab = IndexedSeq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge", "data", "join",
    "vector", "customer", "the", "a")
  private val colors = IndexedSeq("red", "blue", "green", "small", "large", "steel")
  private val nouns = IndexedSeq("ring", "widget", "bolt", "gear", "panel", "valve")
  private val ptypes = IndexedSeq("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO")
  private val t0Micros = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L

  def documents(seed: Long): Iterator[Seq[(String, Any)]] =
    Iterator.range(0, Documents).map { i =>
      val r = Rng.at(seed, 40, i)
      val text = Iterator.fill(10 + r.nextInt(60))(Rng.pick(r, vocab)).mkString(" ")
      Seq("doc_id" -> i.toLong, "text" -> text, "lang" -> Rng.pick(r, langs),
        "source" -> s"src${r.nextInt(20)}", "n_chars" -> text.length.toLong)
    }

  def events(seed: Long): Iterator[Seq[(String, Any)]] = {
    val step = 30L * 86400L * 1000000L / Events
    Iterator.range(0, Events).map { i =>
      val r = Rng.at(seed, 41, i)
      Seq("event_id" -> i.toLong, "ts" -> (t0Micros + i * step + r.nextLong(step)),
        "user_id" -> r.nextInt(Users).toLong, "event_type" -> Rng.pick(r, eventTypes),
        "value" -> r.nextInt(20000) / 100.0, "props" -> s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  def parts(seed: Long): Iterator[Seq[(String, Any)]] =
    Iterator.range(0, Parts).map { i =>
      val r = Rng.at(seed, 42, i)
      Seq("p_partkey" -> i.toLong, "p_name" -> s"${Rng.pick(r, colors)} ${Rng.pick(r, nouns)}",
        "p_brand" -> s"Brand#${1 + r.nextInt(25)}", "p_type" -> Rng.pick(r, ptypes),
        "p_size" -> (1 + r.nextInt(50)), "p_retailprice" -> (900 + r.nextInt(100000) / 100.0))
    }

  val schemas: Seq[(String, String, Long => Iterator[Seq[(String, Any)]])] = Seq(
    ("documents",
      """message documents {
        |  optional int64 doc_id; optional binary text (STRING);
        |  optional binary lang (STRING); optional binary source (STRING);
        |  optional int64 n_chars;
        |}""".stripMargin, documents),
    ("events",
      """message events {
        |  optional int64 event_id; optional int64 ts (TIMESTAMP(MICROS,false));
        |  optional int64 user_id; optional binary event_type (STRING);
        |  optional double value; optional binary props (STRING);
        |}""".stripMargin, events),
    ("part",
      """message part {
        |  optional int64 p_partkey; optional binary p_name (STRING);
        |  optional binary p_brand (STRING); optional binary p_type (STRING);
        |  optional int32 p_size; optional double p_retailprice;
        |}""".stripMargin, parts))

  /** Writes `<dir>/<table>.parquet` for every table. */
  def write(seed: Long, dir: String): Unit =
    schemas.foreach { case (name, schema, rows) =>
      Parquet.write(s"$dir/$name.parquet", schema, rows(seed))
    }
}

/** Plain parquet-mr writer: inputs are written without the engine, so the
  * program under test receives only files. */
object Parquet {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetFileWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.schema.MessageTypeParser

  def write(path: String, schemaText: String, rows: Iterator[Seq[(String, Any)]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(schemaText)
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val w = ExampleParquetWriter.builder(new Path(new java.io.File(path).toURI))
      .withType(schema).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = f.newGroup()
      row.foreach {
        case (k, v: String) => g.append(k, v)
        case (k, v: Long) => g.append(k, v)
        case (k, v: Int) => g.append(k, v)
        case (k, v: Double) => g.append(k, v)
        case (k, v) => throw new IllegalArgumentException(s"unsupported $k=$v")
      }
      w.write(g)
    } finally w.close()
  }
}
