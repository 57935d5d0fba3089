package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpResponse.BodyHandlers
import java.time.Duration

/** The reference's pastebin scrape, `get_iocs`
  * (/root/reference/firehose.py:74-80): GET the page, select
  * `#code_frame2 ol > li > div`, take each item's text. No HTML library
  * ships on the cluster classpath, so the selection is a scoped text
  * scan (see [[PastebinHtml.lines]]) rather than a DOM walk — equivalent
  * on the pastebin markup the selector targets.
  */
object PastebinHtml {

  private val IdAttr = """id\s*=\s*["']code_frame2["']""".r
  private val OlTag = """(?i)<(/?)ol[\s>]""".r

  /** `#code_frame2 ol > li > div` as a scoped scan: anchor on the actual
    * id ATTRIBUTE (not any textual "code_frame2" — an `href="#code_frame2"`
    * anchor or comment earlier in the page must not hijack the scope), take
    * the first `<ol>` after it, and close the span at its MATCHING `</ol>`
    * (nesting-aware, so a sub-list inside an item doesn't truncate the
    * scan). Each `<li><div>…</div>` item's text is emitted with inner tags
    * stripped and basic entities unescaped (BeautifulSoup's `.text`
    * behavior on this markup). Linear in the page: the pages are
    * attacker-controlled, so no step may rescan the rest of the page per
    * tag. */
  def lines(html: String): Seq[String] = {
    IdAttr.findFirstMatchIn(html) match {
      case None => Seq.empty
      case Some(id) =>
        val tail = html.substring(id.end)
        val it = OlTag.findAllMatchIn(tail)
        var depth = 0
        var start = -1
        var stop = -1
        while (it.hasNext && stop < 0) {
          val m = it.next()
          if (m.group(1).isEmpty) { // <ol ...>
            if (depth == 0) start = m.end
            depth += 1
          } else if (depth > 0) {   // </ol>
            depth -= 1
            if (depth == 0) stop = m.start
          }
        }
        if (start < 0) Seq.empty
        else items(tail.substring(start, if (stop >= 0) stop else tail.length))
          .map(item => unescape(stripTags(item)).trim)
    }
  }

  /** The group of every match of `(?s)<li[^>]*>\s*<div[^>]*>(.*?)</div>`,
    * leftmost-first and non-overlapping, in one forward scan. A candidate
    * `<li` whose `>` or `<div` is missing fails like every `<li` before that
    * `>`, so the scan resumes after it; a missing `>` or `</div>` after the
    * `<div` means no later `<li` can match either, so the scan stops. */
  private def items(s: String): List[String] = {
    val out = List.newBuilder[String]
    var from = 0
    while (from >= 0) {
      val li = s.indexOf("<li", from)
      val liEnd = if (li < 0) -1 else s.indexOf('>', li + 3)
      if (liEnd < 0) from = -1
      else {
        var div = liEnd + 1
        while (div < s.length && isSpace(s.charAt(div))) div += 1
        if (!s.startsWith("<div", div)) from = liEnd + 1
        else {
          val divEnd = s.indexOf('>', div + 4)
          val close = if (divEnd < 0) -1 else s.indexOf("</div>", divEnd + 1)
          if (close >= 0) out += s.substring(divEnd + 1, close)
          from = if (close < 0) -1 else close + 6
        }
      }
    }
    out.result()
  }

  /** `s` with every match of `<[^>]+>` removed, in one forward scan. A `<`
    * with no later `>` ends the tags, since no later `<` has one either. */
  private def stripTags(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var kept = 0
    var lt = s.indexOf('<')
    while (lt >= 0) {
      val gt = s.indexOf('>', lt + 1)
      if (gt < 0) lt = -1
      else if (gt == lt + 1) lt = s.indexOf('<', gt) // `<>` is not a tag
      else {
        sb.append(s, kept, lt)
        kept = gt + 1
        lt = s.indexOf('<', kept)
      }
    }
    sb.append(s, kept, s.length).toString
  }

  /** `\s` of java.util.regex without UNICODE_CHARACTER_CLASS. */
  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def unescape(s: String): String = s
    .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
    .replace("&#39;", "'").replace("&amp;", "&")
}

/** Production [[PageFetcher]]: executor-side HTTP GET + [[PastebinHtml]]
  * parse. Serializable config shell — the HttpClient is @transient lazy,
  * built once per executor on first use (amortized across the partition's
  * URLs, the same pattern as the sink transport). Fetch failures return no
  * lines rather than failing the task: a dead pastebin link loses that
  * page's IOCs, exactly like the reference's unchecked `requests.get`
  * losing them on a 404 body with no `#code_frame2`. */
final class HttpPageFetcher extends PageFetcher {

  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(20)).build()

  override def fetch(url: String): Seq[String] =
    try {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(60)).GET().build()
      PastebinHtml.lines(client.send(req, BodyHandlers.ofString()).body())
    } catch {
      // NonFatal, not just IOException: scraped URLs are routinely malformed
      // (scheme-less, illegal chars) and URI.create/newBuilder throw
      // IllegalArgumentException — a bad link must drop its page, not kill
      // the task (deterministic input would fail every retry).
      case scala.util.control.NonFatal(_) => Seq.empty
    }
}
