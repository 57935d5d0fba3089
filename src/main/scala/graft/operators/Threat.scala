package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.OracleViews.unifiedCtes

/** Threat-intelligence analytics over the canonical unified indicator
  * store ([[graft.SparkEntry.unifiedFeed]]) — the downstream consumers a
  * TI team runs against the table the reference's two ETLs land in
  * (README.md:13-29): the type co-occurrence matrix (which indicator
  * kinds arrive together in one message), operational allowlist /
  * reserved-range filtering (RFC 1918 + loopback IPs and allowlisted
  * URL hosts never page an analyst), and per-type TTL aging (an IP
  * sighting goes stale in weeks; a file hash is forever).
  *
  * All three read the memoized feed — the regex ETLs run once per
  * corpus snapshot ([[graft.Memo]]) — and aggregate before anything
  * wide: co-occurrence folds per-message (fan-in bounded by message
  * length, the basket_pairs discipline), the allowlist is a BROADCAST
  * left join against a tiny dim (never an IN-literal scan, so the list
  * can grow to millions of entries and only the broadcast threshold
  * changes), and TTL joins one broadcast scalar (the corpus watermark).
  */
object Threat {

  /** Per-type sighting TTL in days — ips churn in ~2 weeks, URLs in ~3,
    * hashes are immutable, email senders rotate quarterly. One string,
    * used verbatim by BOTH the Spark expr and the DuckDB oracle. */
  private val ttlSql =
    "CASE type WHEN 'ip' THEN 14 WHEN 'url' THEN 21 " +
      "WHEN 'hash' THEN 365 ELSE 90 END"

  /** RFC 1918 + loopback — the ranges that can never be an external C2. */
  private val privateIpRe =
    "^(10\\.|127\\.|192\\.168\\.|172\\.(1[6-9]|2[0-9]|3[01])\\.)"

  /** Allowlisted URL hosts (company infra, known sinkholes). Tiny dim —
    * broadcast-joined, mirrored as VALUES in the oracle. */
  private val allowHosts =
    Seq("evil-100.example.com", "evil-200.example.com",
      "drop-100.example.org", "drop-300.example.org")

  private def feed(s: SparkSession, d: String): DataFrame =
    graft.SparkEntry.unifiedFeed(s, d)

  /** The sampled co-sighting pair graph: two indicators are linked when
    * they appear in the SAME message. Edges come from the bounded
    * per-message fold (never a self-join). Checkpointed: the distributed
    * label loop re-reads it every round. */
  private[graft] def campaignPairs(s: SparkSession, d: String): DataFrame =
    // no distinct first: collect_set already dedups each message's iocs
    Dedup.setPairs(feed(s, d)
        .filter(substring(md5(concat(col("platform"), lit("|"), col("id"))), 1, 1) === "0"),
        col("ioc"), "platform", "id")
      .select(col("x").as("a"), col("y").as("b")).distinct()
      .localCheckpoint()

  /** Campaign labels: connected components over the IOC co-sighting
    * graph ([[campaignPairs]]) — shared infrastructure chains messages
    * into campaigns. Components via the generic labeling
    * ([[Dedup.componentLabels]] — the SAME code the near-dup clusters
    * run, here over string nodes), one build over every pair. Memoized:
    * in production the campaign label map is a persisted table rebuilt
    * per ingest window, read by both the assignment and the stats
    * dashboards; the campaign queries' oracles label from scratch.
    *
    * Clustering runs over a deterministic 1/16 message sample (md5
    * bucket of the message key — retry-safe, both engines agree), the
    * single-process stand-in for the INCREMENTAL window a production
    * pipeline clusters per run: whole-history reclustering is exactly
    * the job you don't re-run per ingest. The sample also bounds the
    * hub-star component size, which the ORACLE pays quadratically (a
    * recursive-CTE closure materializes O(|component|²) reach pairs —
    * the distributed label loop itself is linear per round and needs no
    * such bound). */
  private[graft] def campaignLabels(s: SparkSession, d: String): DataFrame =
    graft.Memo("ioc_campaign_labels", s, d)(
      Dedup.componentLabels(campaignPairs(s, d))
        .select(col("node").as("ioc"), col("lbl").as("campaign_id")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Which indicator TYPES co-arrive in one message — the triage
    // dashboard's co-occurrence matrix ("hashes almost always ship with
    // a URL; lone IPs are scanner noise"). Message key is (platform,
    // id): ids only disambiguate within their feed. Fold per message
    // (distinct types ≤ 4 — bounded by the type domain, not the
    // corpus), then one tiny (type_a, type_b) agg. No self-join.
    "ioc_type_pairs" -> ((s, d) =>
      Dedup.setPairs(feed(s, d).select(col("platform"), col("id"), col("type")).distinct(),
          col("type"), "platform", "id")
        .groupBy(col("x").as("type_a"), col("y").as("type_b"))
        .agg(count(lit(1)).as("n_msgs"))
        .orderBy(col("type_a"), col("type_b"))),

    // Operational filter verdicts: private/loopback IPs and allowlisted
    // URL hosts are dropped before paging; everything else is
    // actionable. The allowlist rides a broadcast LEFT join on the
    // extracted host (the dim stays a table — at a million allowlist
    // entries the same plan just flips broadcast→shuffle); the verdict
    // is a codegen'd CASE over the join flag + one regex. Aggregated
    // verdict counts (the detail rows are ioc_first_seen's job).
    "ioc_allowlist" -> ((s, d) => {
      val allow = s.createDataFrame(
        allowHosts.map(Tuple1.apply)).toDF("ahost")
        .withColumn("allowed", lit(1))
      feed(s, d)
        .withColumn("host",
          when(col("type") === "url",
            regexp_extract(col("ioc"), "^[a-zA-Z]+://([^/]+)", 1)))
        .join(broadcast(allow), col("host") === col("ahost"), "left")
        .withColumn("verdict",
          when(col("type") === "ip" && col("ioc").rlike(privateIpRe),
            lit("drop_private_ip"))
            .when(col("type") === "url" && col("allowed").isNotNull,
              lit("drop_allowlisted"))
            .otherwise(lit("actionable")))
        .groupBy(col("type"), col("verdict"))
        .agg(count(lit(1)).as("n_sightings"),
          countDistinct(col("ioc")).as("n_distinct"))
        .orderBy(col("type"), col("verdict"))
    }),

    // Per-type TTL aging against the corpus watermark (max sighting
    // date — NOT wall-clock, so the check is deterministic and
    // replay-safe): one (ioc, type) fold off the persisted sighting
    // rollup for last-seen, one broadcast scalar for "now", pure
    // integer date arithmetic for the status.
    "ioc_ttl_status" -> ((s, d) => {
      val sight = graft.SparkEntry.iocSightings(s, d)
        .groupBy(col("ioc"), col("type"))
        .agg(max(col("mx")).as("last_seen"))
      val now = graft.SparkEntry.iocSightings(s, d)
        .agg(max(col("mx")).as("now"))
      sight.crossJoin(broadcast(now))
        .withColumn("ttl_days", expr(ttlSql))
        // mn/mx are DATE-typed since r15 ([[graft.SparkEntry.iocSightings]])
        // — max(mx) is a HashAggregate and datediff takes the dates directly
        .withColumn("age_days",
          datediff(col("now"), col("last_seen")).cast("long"))
        .withColumn("status",
          when(col("age_days") <= col("ttl_days"), lit("active"))
            .otherwise(lit("expired")))
        .groupBy(col("type"), col("status"))
        .agg(count(lit(1)).as("n_iocs"), max(col("age_days")).as("max_age_days"))
        .orderBy(col("type"), col("status"))
    }),

    // ASN/geo-style enrichment of IP sightings — the lookup every TI
    // pipeline runs against a routing/geo table. The scale lesson is in
    // the JOIN SHAPE: a naive BETWEEN range join against CIDR blocks
    // plans a BroadcastNestedLoopJoin (per-row scan of the block
    // table); ALIGNED blocks (/16 here) turn the lookup into a pure
    // EQUI-join on a computable key — floor of the 32-bit address at
    // the block boundary — which hashes, broadcasts, and codegens like
    // any dimension join. Real GeoIP tables are distributed exactly
    // this way (MaxMind ships /16-aligned splits) for this reason. The
    // 65536-row dim is synthesized deterministically and broadcast.
    "ioc_asn_enrich" -> ((s, d) => {
      val dim = s.range(65536).select(
        col("id").as("block"),
        concat(lit("AS"), ((col("id") * 13) % 512).cast("string")).as("asn"))
      feed(s, d)
        .filter(col("type") === "ip")
        .withColumn("block",
          element_at(split(col("ioc"), "\\."), 1).cast("long") * 256 +
            element_at(split(col("ioc"), "\\."), 2).cast("long"))
        .join(broadcast(dim), Seq("block"))
        .groupBy(col("asn"))
        .agg(count(lit(1)).as("n_sightings"),
          countDistinct(col("ioc")).as("n_ips"),
          countDistinct(col("block")).as("n_blocks"))
        .orderBy(col("asn"))
    }),

    // Campaign assignment: which infrastructure cluster each linked
    // indicator belongs to (campaign_id = the component's minimum IOC
    // string). Reads the memoized label table.
    "ioc_campaigns" -> ((s, d) =>
      campaignLabels(s, d).orderBy(col("ioc"))),

    // Campaign size distribution — the "is this one botnet or 500
    // one-off drops" dashboard: two tiny aggregations over the label
    // table, no corpus scan.
    "ioc_campaign_stats" -> ((s, d) =>
      campaignLabels(s, d)
        .groupBy(col("campaign_id")).agg(count(lit(1)).as("n_iocs"))
        .groupBy(col("n_iocs")).agg(count(lit(1)).as("n_campaigns"))
        .orderBy(col("n_iocs")))
  )

  private def allowValues: String =
    allowHosts.map(h => s"('$h')").mkString(", ")

  /** Connected components over the co-sighting pairs as UNROLLED
    * min-label propagation with pointer-jumping — the shared
    * [[Dedup.ccRoundsCtes]] rounds (this oracle is where the pattern was
    * born: the recursive-CTE transitive closure it replaced materializes
    * Σ component² (node, ancestor) pairs, and at 10× the shared IP-hub
    * components grew enough that DuckDB spilled >60 GB of temp and died —
    * a quadratic ORACLE pricing a linear engine; full rationale on the
    * helper's scaladoc). Empty prefix: no other family shares this WITH
    * chain. */
  private def campaignCtes: String =
    "lp AS (\n" +
      "  SELECT DISTINCT platform, id, ioc FROM u\n" +
      "  WHERE substr(md5(platform || '|' || id), 1, 1) = '0'),\n" +
      "pairs AS (\n" +
      s"  SELECT a.ioc AS src, b.ioc AS dst\n  ${Dedup.pairsSql("lp", "ioc", "platform", "id")}\n" +
      "  GROUP BY 1, 2),\n" +
      "cedges AS MATERIALIZED (\n" +
      "  SELECT src, dst FROM pairs\n  UNION ALL\n  SELECT dst, src FROM pairs),\n" +
      Dedup.ccRoundsCtes("cedges", "") + ",\n" +
      "clabels AS (\n" +
      "  SELECT node AS ioc, lbl AS campaign_id\n" +
      "  FROM lfinal)"

  val oracle: Map[String, String] = Map(
    "ioc_asn_enrich" ->
      (s"WITH $unifiedCtes,\n" +
        """dim AS (
          |  SELECT i AS block, 'AS' || CAST((i * 13) % 512 AS VARCHAR) AS asn
          |  FROM range(0, 65536) r(i)),
          |ips AS (
          |  SELECT ioc,
          |    CAST(string_split(ioc, '.')[1] AS BIGINT) * 256 +
          |    CAST(string_split(ioc, '.')[2] AS BIGINT) AS block
          |  FROM u WHERE type = 'ip')
          |SELECT asn, COUNT(*) AS n_sightings,
          |  COUNT(DISTINCT ioc) AS n_ips,
          |  COUNT(DISTINCT ips.block) AS n_blocks
          |FROM ips JOIN dim ON ips.block = dim.block
          |GROUP BY asn
          |ORDER BY asn""".stripMargin),
    "ioc_campaigns" ->
      (s"WITH $unifiedCtes,\n$campaignCtes\n" +
        "SELECT ioc, campaign_id FROM clabels\nORDER BY ioc"),
    "ioc_campaign_stats" ->
      (s"WITH $unifiedCtes,\n$campaignCtes,\n" +
        """sizes AS (
          |  SELECT campaign_id, COUNT(*) AS n_iocs FROM clabels GROUP BY 1)
          |SELECT n_iocs, COUNT(*) AS n_campaigns
          |FROM sizes GROUP BY n_iocs
          |ORDER BY n_iocs""".stripMargin),
    "ioc_type_pairs" ->
      (s"WITH $unifiedCtes,\n" +
        "lp AS (SELECT DISTINCT platform, id, type FROM u)\n" +
        "SELECT a.type AS type_a, b.type AS type_b, COUNT(*) AS n_msgs\n" +
        Dedup.pairsSql("lp", "type", "platform", "id") + "\n" +
        "GROUP BY 1, 2\nORDER BY type_a, type_b"),
    "ioc_allowlist" ->
      (s"WITH $unifiedCtes,\n" +
        s"""h AS (
           |  SELECT *, CASE WHEN type = 'url'
           |    THEN regexp_extract(ioc, '^[a-zA-Z]+://([^/]+)', 1) END AS host
           |  FROM u),
           |j AS (
           |  SELECT h.*, al.allowed FROM h
           |  LEFT JOIN (SELECT ahost, 1 AS allowed
           |             FROM (VALUES $allowValues) t(ahost)) al
           |    ON h.host = al.ahost),
           |v AS (
           |  SELECT type,
           |    CASE WHEN type = 'ip' AND regexp_matches(ioc, '$privateIpRe')
           |           THEN 'drop_private_ip'
           |         WHEN type = 'url' AND allowed IS NOT NULL
           |           THEN 'drop_allowlisted'
           |         ELSE 'actionable' END AS verdict,
           |    ioc
           |  FROM j)
           |SELECT type, verdict, COUNT(*) AS n_sightings,
           |  COUNT(DISTINCT ioc) AS n_distinct
           |FROM v GROUP BY 1, 2
           |ORDER BY type, verdict""".stripMargin),
    "ioc_ttl_status" ->
      (s"WITH $unifiedCtes,\n" +
        s"""s AS (SELECT ioc, type, MAX(date_received) AS last_seen
           |       FROM u GROUP BY 1, 2),
           |n AS (SELECT MAX(date_received) AS now FROM u),
           |x AS (
           |  SELECT type, $ttlSql AS ttl_days,
           |    date_diff('day', CAST(last_seen AS DATE), CAST(now AS DATE)) AS age_days
           |  FROM s, n)
           |SELECT type,
           |  CASE WHEN age_days <= ttl_days THEN 'active' ELSE 'expired' END AS status,
           |  COUNT(*) AS n_iocs, CAST(MAX(age_days) AS BIGINT) AS max_age_days
           |FROM x GROUP BY 1, 2
           |ORDER BY type, status""".stripMargin)
  )
}
