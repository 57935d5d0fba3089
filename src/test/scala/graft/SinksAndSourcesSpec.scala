package graft

import java.nio.file.Files
import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.CsvSink
import graft.sources.{EmptyResult, ScalarResult, SplunkResponse, TabularResult}

/** Static fetch counter shared by driver and local-mode executor threads
  * (same JVM); `id` isolates tests. */
object CountingFetcher {
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  def count(id: String): Unit =
    counts.computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
  def get(id: String): Long = Option(counts.get(id)).map(_.get()).getOrElse(0L)
}

/** Specs for the CSV sink (S7) and Splunk response normalization (S10). */
class SinksAndSourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CsvSink: dated filename + header CSV content (h-isac.py:166-168)") {
    val dir = Files.createTempDirectory("csv").toString
    val df = Seq(("c1", "1.2.3.4", "ip")).toDF("id", "ioc", "type")
    val target = CsvSink.write(df, dir, LocalDate.of(2026, 8, 12), singleFile = true)
    assert(target.endsWith("/amber_list_iocs_20260812.csv"))
    val lines = Files.list(java.nio.file.Paths.get(target)).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines())
    assert(lines == Seq("id,ioc,type", "c1,1.2.3.4,ip"))
  }

  test("LivePastebin: executor-side fetch, deduped per page, joins into the pipeline") {
    // deterministic stub fetcher (production supplies an HTTP client)
    val fetcher = new graft.sources.PageFetcher {
      def fetch(url: String): Seq[String] =
        Seq(s"10.0.0.${url.last}", "host.evil.com", "xx")
    }
    val tweets = Seq(
      ("1", "a", "u1", "t", "2024-01-01", "https://pastebin.com/p1;https://x.example/z"),
      ("2", "b", "u2", "t", "2024-01-01", "https://pastebin.com/p1"), // same page twice
      ("3", "c", "u3", "t", "2024-01-01", "https://y.example/q"))
      .toDF("id", "text", "user", "hashtags", "created_date", "urls")
    val pages = graft.sources.LivePastebin.fetchPages(tweets, fetcher)
    assert(pages.count() == 1) // p1 deduped; non-pastebin links never fetched
    val out = graft.pipeline.TweetPipeline.withPastebin(tweets, pages)
      .filter($"platform" === "Twitter" && $"ioc".startsWith("10.0.0."))
      .collect()
    assert(out.map(_.getString(0)).sorted.toSeq == Seq("1", "2")) // both tweets enriched
  }

  test("LivePastebin: partition re-execution re-fetches but never double-emits (S6 retry contract)") {
    // Task retry in Spark RE-RUNS the partition's fetch (the network work
    // is at-least-once) and REPLACES the attempt's output — it never
    // appends. Re-executing the same uncached plan is exactly what a task
    // re-attempt does to a partition; the contract to hold: fetch count
    // rises, the page relation and the enrichment output do not change.
    val fid = "retry-" + java.util.UUID.randomUUID()
    val fetcher = new graft.sources.PageFetcher {
      def fetch(url: String): Seq[String] = {
        CountingFetcher.count(fid)
        Seq(s"10.1.1.${url.last}", "host.evil.com")
      }
    }
    val tweets = Seq(
      ("1", "a", "u1", "t", "2024-01-01", "https://pastebin.com/p1"),
      ("2", "b", "u2", "t", "2024-01-01", "https://pastebin.com/p1;https://pastebin.com/p2"))
      .toDF("id", "text", "user", "hashtags", "created_date", "urls")
    val pages = graft.sources.LivePastebin.fetchPages(tweets, fetcher)
    def enriched() = graft.pipeline.TweetPipeline.withPastebin(tweets, pages)
      .filter($"ioc".startsWith("10.1.1."))
      .select("id", "ioc").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val first = enriched()
    val fetchesAfterFirst = CountingFetcher.get(fid)
    assert(fetchesAfterFirst == 2, // p1 + p2, deduped BEFORE fetching
      s"expected one fetch per distinct page, got $fetchesAfterFirst")
    val second = enriched() // the "retry": full recompute of the fetch partitions
    assert(CountingFetcher.get(fid) > fetchesAfterFirst,
      "re-execution did not re-fetch — the at-least-once premise is untested")
    assert(second == first,
      s"partition re-execution changed the enrichment rows:\n first=$first\n second=$second")
    // tweet 1 links p1 once → exactly one 10.1.1.1 row for id 1, even after re-runs
    assert(first.count(_ == ("1", "10.1.1.1")) == 1, s"double-emitted enrichment: $first")
  }

  test("SplunkResponse: entry/results → DataFrame (splunk2.py:28-31)") {
    val body = """{"entry": [{"name": "a", "n": 1}, {"name": "b", "n": 2}]}"""
    SplunkResponse.parse(spark, body) match {
      case TabularResult(df) =>
        assert(df.count() == 2 && df.columns.sorted.toSeq == Seq("n", "name"))
      case other => fail(s"expected table, got $other")
    }
    SplunkResponse.parse(spark, """{"results": [{"x": 1}]}""") match {
      case TabularResult(df) => assert(df.count() == 1)
      case other => fail(s"expected table, got $other")
    }
  }

  test("SplunkResponse: sid/_key → scalar (splunk2.py:32-35)") {
    assert(SplunkResponse.parse(spark, """{"sid": "job42"}""") == ScalarResult("job42"))
    assert(SplunkResponse.parse(spark, """{"_key": "k9"}""") == ScalarResult("k9"))
  }

  test("SplunkResponse: bare list → DataFrame; garbage → empty (splunk2.py:36-46)") {
    SplunkResponse.parse(spark, """[{"a": 1}, {"a": 2}]""") match {
      case TabularResult(df) => assert(df.count() == 2)
      case other => fail(s"expected table, got $other")
    }
    assert(SplunkResponse.parse(spark, "not json at all") == EmptyResult)
    assert(SplunkResponse.parse(spark, """{"unknown": true}""") == EmptyResult)
  }

  /** Start a one-handler local HTTP server; returns (baseUrl, stop). */
  private def withServer(record: java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, String)],
                         respond: String => String)(body: String => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val reqBody = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      record.add((ex.getRequestMethod, ex.getRequestURI.toString,
        Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""), reqBody))
      val out = respond(ex.getRequestURI.toString).getBytes("UTF-8")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out); ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("HttpRestClient: verb dispatch, slash join, Basic auth, auth required (splunk2.py:49-71)") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, String)]()
    withServer(seen, _ => """{"sid": "job7"}""") { base =>
      val bare = new graft.sinks.HttpRestClient(base)
      intercept[IllegalStateException] { bare.get("x") } // no credentials yet

      val api = new graft.sinks.HttpRestClient(base + "/").authenticate("admin", "pw")
      val body = api.get("//services/search/jobs") // duplicate slashes collapse
      assert(SplunkResponse.parse(spark, body) == ScalarResult("job7"))
      api.request("POST", "servicesNS/kv", body = Some("""{"a":1}"""))
      api.delete("servicesNS/kv/k1")

      val reqs = seen.toArray(Array.empty[(String, String, String, String)]).toSeq
      assert(reqs.map(_._1) == Seq("GET", "POST", "DELETE"))
      assert(reqs.head._2 == "/services/search/jobs") // lstrip('/') + single join slash
      val cred = java.util.Base64.getEncoder.encodeToString("admin:pw".getBytes("UTF-8"))
      assert(reqs.forall(_._3 == s"Basic $cred"))
      assert(reqs(1)._4 == """{"a":1}""")
    }
  }

  test("HttpRestClient: error statuses throw - a failed POST must fail its task") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val out = """{"messages":[{"type":"ERROR"}]}""".getBytes("UTF-8")
      ex.sendResponseHeaders(503, out.length)
      ex.getResponseBody.write(out); ex.close()
    })
    server.start()
    try {
      val api = new graft.sinks.HttpRestClient(
        s"http://127.0.0.1:${server.getAddress.getPort}").authenticate("u", "p")
      val e = intercept[java.io.IOException] { api.post("kv", "[{}]") }
      assert(e.getMessage.contains("503"), s"wrong error: ${e.getMessage}")
    } finally server.stop(0)
  }

  test("RestBatchSink over HttpRestClient: executor-side POSTs against a live endpoint") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, String)]()
    withServer(seen, _ => """{"_key": "ok"}""") { base =>
      val df = (1 to 5).map(i => (s"id$i", s"10.0.0.$i", "ip")).toDF("id", "ioc", "type")
        .coalesce(1)
      graft.sinks.RestBatchSink.write(df,
        "/servicesNS/nobody/search/storage/collections/data/iocs/batch_save",
        new graft.sinks.HttpRestClient(base).authenticate("svc", "s3cret"),
        batchSize = 2)
      val reqs = seen.toArray(Array.empty[(String, String, String, String)]).toSeq
      assert(reqs.size == 3 && reqs.forall(_._1 == "POST")) // 2+2+1 flush
      assert(reqs.forall(_._2.endsWith("/batch_save")))
      val all = reqs.map(_._4).mkString
      assert((1 to 5).forall(i => all.contains(s"10.0.0.$i")))
    }
  }

  private val framePage =
    """<html><body>
      |<a href="#code_frame2">jump</a><!-- code_frame2 decoy text -->
      |<div id="other"><ol><li><div>decoy</div></li></ol></div>
      |<div class="frame" id="code_frame2"><ol class="code">
      |  <li class="li1"><div class="de1">10.9.9.1</div></li>
      |  <li><div>bad<span>.host</span>.com</div></li>
      |  <li><div> a &amp; b &lt;tag&gt; </div></li>
      |</ol></div>
      |<ol><li><div>after</div></li></ol>
      |</body></html>""".stripMargin
  private val nestedPage =
    """<div id="code_frame2"><ol>
      |  <li><div>first</div></li>
      |  <li><ol><li><div>inner</div></li></ol></li>
      |  <li><div>last</div></li>
      |</ol></div>""".stripMargin

  test("PastebinHtml: #code_frame2 ol > li > div selection (firehose.py:74-80)") {
    // the href/comment decoys BEFORE the real element must not hijack the
    // scope: selection keys on the id ATTRIBUTE, not any textual occurrence
    assert(graft.sources.PastebinHtml.lines(framePage) ==
      Seq("10.9.9.1", "bad.host.com", "a & b <tag>"))
    assert(graft.sources.PastebinHtml.lines("<html>no frame</html>") == Seq.empty)
    // a nested sub-list inside the frame must not truncate the outer scan
    assert(graft.sources.PastebinHtml.lines(nestedPage).contains("last"))
  }

  /** `PastebinHtml.lines` as the regex parse it replaced: the reference its
    * linear scan must equal on every input. `Item` and `Tag` rescan to the
    * end of the page from every `<li` / `<` that has no close. */
  private object RegexPastebin {
    private val IdAttr = """id\s*=\s*["']code_frame2["']""".r
    private val OlTag = """(?i)<(/?)ol[\s>]""".r
    private val Item = """(?s)<li[^>]*>\s*<div[^>]*>(.*?)</div>""".r
    private val Tag = "<[^>]+>".r

    def lines(html: String): Seq[String] = IdAttr.findFirstMatchIn(html) match {
      case None => Seq.empty
      case Some(id) =>
        val tail = html.substring(id.end)
        var (depth, start, stop) = (0, -1, -1)
        OlTag.findAllMatchIn(tail).takeWhile(_ => stop < 0).foreach { m =>
          if (m.group(1).isEmpty) { if (depth == 0) start = m.end; depth += 1 }
          else if (depth > 0) { depth -= 1; if (depth == 0) stop = m.start }
        }
        if (start < 0) Seq.empty
        else Item.findAllMatchIn(tail.substring(start, if (stop >= 0) stop else tail.length))
          .map(m => Tag.replaceAllIn(m.group(1), "")
            .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
            .replace("&#39;", "'").replace("&amp;", "&").trim)
          .toList
    }
  }

  test("PastebinHtml: the linear scan equals the regex reference on fixed and random markup") {
    import graft.sources.PastebinHtml
    for (html <- Seq(framePage, "<html>no frame</html>", nestedPage))
      assert(PastebinHtml.lines(html) == RegexPastebin.lines(html), html)
    val tokens = Array("<li><div>", "<li>\n <div class=\"c\">", "x</div>", "</div></li>",
      "<li>", "<li class=\"a\">", "<li", "<LI>", "<link>", "<div>",
      "<div class=\"b\">", "<div", "</div>", "</div", "</li>", "<ol>", "</ol>",
      "<OL >", "</ol\n", "<", ">", "<>", " ", "\n", "\t", "\u000B", "x", "1.2.3.4",
      "<span>", "</span>", "&amp;", "&lt;b&gt;", "iv>", "<d", "id=\"code_frame2\"")
    val rnd = new scala.util.Random(11)
    val withItems = (1 to 3000).count { _ =>
      val body = Seq.fill(rnd.nextInt(40))(tokens(rnd.nextInt(tokens.length))).mkString
      val html = (if (rnd.nextInt(4) == 0) "" else """<div id="code_frame2"><ol>""") + body
      val expected = RegexPastebin.lines(html)
      assert(PastebinHtml.lines(html) == expected, html)
      expected.nonEmpty
    }
    // the markup must reach the item path, not only the empty-scope exits
    assert(withItems >= 300, s"only $withItems of 3000 random pages had items")
  }

  test("PastebinHtml: linear time on hostile pages (16 to 256 KB, at most 2.5x per doubling)") {
    import graft.sources.PastebinHtml
    def page(body: String) = """<div id="code_frame2"><ol>""" + body
    val shapes = Seq[(String, Int => String)](
      "unclosed items" -> (n => page("<li><div>x" * (n / 10))),
      "a run of <" -> (n => page("<li><div>" + "<" * n + "</div>")),
      "<li with no >" -> (n => page("<li" * (n / 3))))
    // per page, the best of 5 rounds of at least 10 ms of calls; the pages
    // take turns within a round, so a slow round (GC, JIT, a descheduled
    // core) slows every size alike instead of reading as growth
    def nanosPerCall(pages: Seq[String]): Seq[Double] = {
      val best = Array.fill(pages.size)(Double.MaxValue)
      for (_ <- 1 to 5; (html, i) <- pages.zipWithIndex) {
        val t0 = System.nanoTime()
        var (calls, elapsed) = (0, 0L)
        while (elapsed < 10000000L) {
          PastebinHtml.lines(html); calls += 1; elapsed = System.nanoTime() - t0
        }
        best(i) = math.min(best(i), elapsed.toDouble / calls)
      }
      best.toSeq
    }
    for ((name, shape) <- shapes) {
      // a rescanning parse already reads about 4x on the first doubling;
      // failing there spares timing 256 KB pages, minutes each at that rate
      val Seq(t16, t32) = nanosPerCall(Seq(16, 32).map(kb => shape(kb << 10)))
      assert(t32 / t16 <= 3.0, f"$name: ${t32 / t16}%.1fx from 16 to 32 KB")
      // growth per doubling = 2^slope of the least-squares fit of
      // log2(time) on log2(size) over 16..256 KB
      val ys = nanosPerCall(Seq(16, 32, 64, 128, 256).map(kb => shape(kb << 10)))
        .map(t => math.log(t) / math.log(2))
      val slope = ys.zipWithIndex.map { case (y, x) => (x - 2) * (y - ys.sum / 5) }.sum / 10
      assert(math.pow(2, slope) <= 2.5,
        f"$name: ${math.pow(2, slope)}%.2fx per doubling over 16..256 KB")
    }
  }

  test("SplunkConfig: load, key set-difference validation, endpoint build (h-isac.py:11-28)") {
    val good = Files.createTempFile("cfg", ".json")
    Files.writeString(good,
      """{"username": "svc", "password": "pw", "app": "search", "kv_store": "iocs", "extra": 1}""")
    val cfg = graft.sinks.SplunkConfig.load(good.toString)
    assert(cfg == graft.sinks.SplunkConfig("svc", "pw", "search", "iocs"))
    assert(cfg.endpoint ==
      "servicesNS/nobody/search/storage/collections/data/iocs/batch_save")

    val missing = Files.createTempFile("cfg", ".json")
    Files.writeString(missing, """{"username": "svc", "app": "search"}""")
    val e = intercept[NoSuchElementException] {
      graft.sinks.SplunkConfig.load(missing.toString)
    }
    assert(e.getMessage.contains("Required keys missing"))

    val gone = intercept[IllegalArgumentException] {
      graft.sinks.SplunkConfig.load("/tmp/definitely-not-a-config.json")
    }
    assert(gone.getMessage.contains("does not exist"))
  }

  test("HttpPageFetcher end-to-end: executor fetch + parse through the enrichment join") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, String)]()
    val page = (uri: String) =>
      s"""<div id="code_frame2"><ol>
         |<li><div>10.7.7.${uri.last}</div></li><li><div>xx</div></li>
         |</ol></div>""".stripMargin
    withServer(seen, page) { base =>
      val tweets = Seq(
        ("1", "t", "u1", "h", "2024-01-01", s"$base/pastebin/raw/1"),
        ("2", "t", "u2", "h", "2024-01-01", s"$base/pastebin/raw/2;$base/other/x"))
        .toDF("id", "text", "user", "hashtags", "created_date", "urls")
      val pages = graft.sources.LivePastebin.fetchPages(
        tweets, new graft.sources.HttpPageFetcher)
      val got = pages.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      assert(got(s"$base/pastebin/raw/1") == Seq("10.7.7.1", "xx"))
      assert(got(s"$base/pastebin/raw/2") == Seq("10.7.7.2", "xx"))
    }
  }

  test("keyed REST sink: deterministic _key per record makes retries idempotent") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(("1", "10.0.0.1", "ip"), ("2", "deadbeef", "hash"))
      .toDF("id", "ioc", "type")
    def keysOf(dir: String): Seq[String] = {
      graft.sinks.RestBatchSink.write(df, "kv", new FileTransport(dir), keyed = true)
      val payloads = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray.toSeq
        .flatMap(p => scala.io.Source.fromFile(p.toString).getLines())
      payloads.flatMap("\"_key\":\"([0-9a-f]{32})\"".r.findAllMatchIn(_).map(_.group(1))).sorted
    }
    val d1 = Files.createTempDirectory("keyed1").toString
    val d2 = Files.createTempDirectory("keyed2").toString
    val (k1, k2) = (keysOf(d1), keysOf(d2))
    assert(k1.size == 2 && k1.distinct.size == 2, s"missing/colliding keys: $k1")
    assert(k1 == k2, "a re-post produced different keys - retries would duplicate")
  }

  test("canonical IOC frame round-trips through every bundled format") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val iocs = graft.pipeline.EmailPipeline(
      graft.sources.Tables.emails(spark, "/root/testdata/sf0.001"), "2026-08-12")
      .orderBy(col("id"), col("type"), col("ioc"))
    val expected = iocs.collect().toSeq
    for (fmt <- Seq("parquet", "orc", "json", "csv")) {
      val dir = Files.createTempDirectory(s"ioc_$fmt").toString
      iocs.write.mode("overwrite").option("header", "true").format(fmt).save(dir)
      val back = spark.read.format(fmt)
        .option("header", "true")
        // json/csv are schemaless on read — supply the canonical schema
        // instead of inferring (inference is a second full pass AND can
        // widen types); parquet/orc carry their own
        .schema(iocs.schema)
        .load(dir)
        .orderBy(col("id"), col("type"), col("ioc"))
      // file reads come back nullable regardless of writer nullability
      // (Spark convention) — names and types are the contract
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        iocs.schema.map(f => (f.name, f.dataType)), s"$fmt changed the schema")
      assert(back.collect().toSeq == expected, s"$fmt round-trip lost rows")
    }
  }
}
