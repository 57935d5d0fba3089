package graft

/** DuckDB-dialect SQL fragments mirroring the synthesized views in
  * [[graft.sources.Tables]], so every parity query has a bit-identical
  * input on both engines. Dialect notes (SURVEY.md §7.4):
  *   - DuckDB = RE2: no lookahead → refang's `h[xX]{2}p(?=[s:])` becomes a
  *     two-step rewrite (equivalent on all scheme-shaped inputs);
  *   - DuckDB regexp_replace needs the 'g' flag to replace all matches
  *     (Spark replaces all by default);
  *   - backreference is `\1` (Spark: `$1`);
  *   - newline chars are built with chr(10) (plain '…' literals do not
  *     process escapes).
  */
object OracleViews {

  /** Mirror of Tables.emails — CTE named `emails`. */
  val emailsCte: String =
    """emails AS (
      |  SELECT
      |    'conv-' || CAST(doc_id AS VARCHAR) AS conversation_id,
      |    'sender-' || source AS sender,
      |    CASE WHEN doc_id % 7 = 0 THEN 'FYI digest ' || CAST(doc_id AS VARCHAR)
      |         ELSE 'Indicator update ' || CAST(doc_id AS VARCHAR) END AS subject,
      |    'Dear team,' || chr(10) || 'New indicators follow.' || chr(10)
      |    || CASE WHEN doc_id % 11 = 0 THEN 'No further details today.' || chr(10)
      |            ELSE 'ip: 10[.]' || CAST(doc_id % 256 AS VARCHAR) || '[.]0[.]' || CAST((doc_id * 7) % 256 AS VARCHAR) || chr(10)
      |              || 'url: hxxps://evil-' || CAST(doc_id AS VARCHAR) || '[.]example[.]com/payload' || chr(10)
      |              || 'hash: ' || md5(text) || chr(10)
      |              || 'contact: mailto:analyst' || CAST(doc_id AS VARCHAR) || '@bad[.]domain[.]com' || chr(10) END
      |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'From: H-ISAC Amber List' || chr(10) || 'Sent: earlier' || chr(10) || 'old ip: 99[.]99[.]99[.]99' || chr(10) || 'old url: hxxp://stale[.]example[.]com/x' || chr(10)
      |       ELSE 'Regards,' || chr(10) || 'Analyst' || chr(10) END AS body,
      |    CAST('2024-01-0' || CAST((doc_id % 9) + 1 AS VARCHAR) || ' 12:00:00' AS TIMESTAMP) AS received_time
      |  FROM documents)""".stripMargin

  /** Mirror of Tables.tweets — CTE named `tweets`. */
  val tweetsCte: String =
    """tweets AS (
      |  SELECT
      |    CAST(event_id AS VARCHAR) AS id,
      |    CASE WHEN event_id % 9 = 0 THEN 'RT @bot: ' ELSE '' END
      |      || 'C2 at 172.16.' || CAST(event_id % 256 AS VARCHAR) || '.' || CAST((event_id * 3) % 256 AS VARCHAR)
      |      || ' sample ' || md5(props)
      |      || ' via hxxp://drop-' || CAST(event_id AS VARCHAR) || '.example.org/p' AS text,
      |    event_id % 6 = 0 AS retweeted,
      |    'user-' || CAST(user_id AS VARCHAR) AS user,
      |    'malware;' || event_type AS hashtags,
      |    strftime(ts, '%Y-%m-%d') AS created_date
      |  FROM events)""".stripMargin

  /** DuckDB refang (RE2-safe, no lookahead): scheme two-step + bracket strip. */
  def refang(x: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($x, 'h[xX]{2}ps:', 'https:', 'g'), 'h[xX]{2}p:', 'http:', 'g'), '\\[([.@])\\]', '\\1', 'g')"

  // Regex pattern literals for DuckDB SQL (single-quoted; RE2 dialect —
  // identical byte-for-byte to the Java patterns, which use no
  // Java-only constructs).
  val ipDefanged = """'((?:^|\b)(?:\d{1,3}\[?\.\]?){3}\d{1,3}(?:\b|$))'"""
  val ipPlain    = """'((?:^|\b)(?:\d{1,3}\.){3}\d{1,3}(?:\b|$))'"""
  val hashPat    = """'((?:^|\b)[a-fA-F0-9]{32,64}(?:\b|$))'"""
  val urlPat     = """'((?:^|\b)(?:h[xX]{2}ps?:|meows?:)?//(?:[A-Za-z0-9_\[\]#&,;=./-]+(?:\[?\.\]?)?)+(?:\b|$))'"""
  val emailPat   = """'((?:^|\b)(?:[^\s]+?\@(?:.+?)\[\.\][a-zA-Z]+)(?:$|\b))'"""

  /** clean_text: drop everything from the first line containing the
    * reply-chain marker (h-isac.py:51-67). First-match replace in DuckDB
    * (no 'g') — the match runs to end-of-string anyway. */
  def cleanText(x: String): String =
    s"regexp_replace($x, '(?s)(?:^|\\n)[^\\n]*From: H-ISAC Amber.*$$', '')"

  // NOTE: composed SQL is assembled by plain concatenation — never apply
  // stripMargin to a string that embeds already-stripped SQL (a line of the
  // embedded SQL starting with `||` would lose a bar).

  /** sort_iocs classification CASE (R9) — shared by ioc_classify and the
    * pastebin-enrichment oracle; mirrors [[graft.extract.Iocs.classify]]. */
  def classifySql(tok: String): String =
    s"""CASE WHEN contains($tok, '.') AND len(list_filter(
       |       string_split(regexp_replace(regexp_replace($tok, '^[a-zA-Z]+://', ''), '/.*$$', ''), '.'),
       |       x -> NOT regexp_matches(x, '^[0-9]+$$'))) = 0 THEN 'ip'
       |     WHEN contains($tok, '.') THEN 'url'
       |     WHEN regexp_matches($tok, '^[a-zA-Z0-9]{32,64}') THEN 'hash'
       |     ELSE 'unmatched' END""".stripMargin

  /** Email-ETL CTE chain (emails → filtered → typed) + final select, split
    * so other oracles can compose them (plain concatenation, §above). */
  def emailEtlCtes(dateAdded: String): String =
    s"$emailsCte,\n" +
    "filtered AS (\n" +
    s"  SELECT conversation_id, sender, received_time, ${cleanText("body")} AS body\n" +
    "  FROM emails WHERE lower(subject) LIKE '%indicator%'),\n" +
    "typed AS (\n" +
    "  SELECT conversation_id, sender, received_time, 'ip' AS type,\n" +
    s"    unnest(list_transform(regexp_extract_all(body, $ipDefanged, 1), x -> ${refang("x")})) AS ioc\n" +
    "  FROM filtered\n" +
    "  UNION ALL\n" +
    "  SELECT conversation_id, sender, received_time, 'hash',\n" +
    s"    unnest(regexp_extract_all(body, $hashPat, 1))\n" +
    "  FROM filtered\n" +
    "  UNION ALL\n" +
    "  SELECT conversation_id, sender, received_time, 'url',\n" +
    s"    unnest(list_transform(regexp_extract_all(body, $urlPat, 1), x -> ${refang("x")}))\n" +
    "  FROM filtered\n" +
    "  UNION ALL\n" +
    "  SELECT conversation_id, sender, received_time, 'email',\n" +
    s"    unnest(list_transform(regexp_extract_all(body, $emailPat, 1), x -> replace(${refang("x")}, 'mailto:', '')))\n" +
    "  FROM filtered)"

  def emailEtlSelect(dateAdded: String): String =
    s"SELECT conversation_id AS id, '$dateAdded' AS date_added,\n" +
    "  strftime(received_time, '%Y-%m-%d') AS date_received,\n" +
    "  ioc, 'H-ISAC' AS platform, sender AS source, 'N/A' AS tag, type\n" +
    "FROM typed"

  /** The full email-ETL oracle: mirrors [[graft.pipeline.EmailPipeline]]. */
  def emailEtlSql(dateAdded: String): String =
    s"WITH ${emailEtlCtes(dateAdded)}\n${emailEtlSelect(dateAdded)}\nORDER BY id, type, ioc"

  /** The unified-feed CTEs `e` (email ETL), `t` (tweet ETL) and
    * `u` = e ∪ t on the 8-column schema — mirror of
    * [[SparkEntry.unifiedFeed]], read by every `ioc_*` oracle over the
    * store. Both feed SQLs wrap as CTEs whole (their inner WITHs nest), so
    * their private CTE names (typed, filtered, live) never collide. No
    * trailing comma. A def: SparkEntry's oracle map reads it while
    * SparkEntry itself initializes. */
  def unifiedCtes: String =
    s"e AS (\n${emailEtlSql(SparkEntry.DateAdded)}\n),\n" +
      s"t AS (\n$tweetEtlSql\n),\n" +
      "u AS (SELECT * FROM e UNION ALL SELECT * FROM t)"

  /** Tweet-ETL oracle: mirrors TweetPipeline.extract over the tweets view. */
  val tweetEtlSql: String =
    s"WITH $tweetsCte,\n" +
    "live AS (\n" +
    "  SELECT * FROM tweets\n" +
    "  WHERE NOT retweeted AND NOT starts_with(text, 'RT @')),\n" +
    "typed AS (\n" +
    "  SELECT id, created_date, \"user\", hashtags, 'ip' AS type,\n" +
    s"    unnest(regexp_extract_all(text, $ipPlain, 1)) AS ioc FROM live\n" +
    "  UNION ALL\n" +
    "  SELECT id, created_date, \"user\", hashtags, 'hash',\n" +
    s"    unnest(regexp_extract_all(text, $hashPat, 1)) FROM live\n" +
    "  UNION ALL\n" +
    "  SELECT id, created_date, \"user\", hashtags, 'url',\n" +
    s"    unnest(regexp_extract_all(text, $urlPat, 1)) FROM live)\n" +
    "SELECT id, created_date AS date_added, created_date AS date_received,\n" +
    "  ioc, 'Twitter' AS platform, \"user\" AS source, hashtags AS tag, type\n" +
    "FROM typed\n" +
    "ORDER BY CAST(id AS BIGINT), type, ioc"
}
