package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, functions}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import graft.extract.Iocs
import graft.functions.ExtractIocs
import graft.model.Schemas

/** Tweet ETL — the Spark re-expression of /root/reference/firehose.py's
  * listener (SURVEY.md §3.2). One transform core serves both the batch
  * oracle query (over a pre-flattened tweet table) and Structured Streaming
  * (raw JSON → [[flatten]] → [[extract]] inside foreachBatch / readStream).
  *
  * Asymmetries with the email path, preserved deliberately (SURVEY.md §2.3):
  * plain-dot IP regex (no defang tolerance, firehose.py:56), NO refang pass
  * (firehose.py never refangs), date_added taken from the tweet's created_at
  * (firehose.py:41,112), platform/date_received filled per SURVEY.md §1.1.
  */
object TweetPipeline {

  /** Raw tweet JSON → flat columns (projections P2-P4, firehose.py:22-37):
    * retweet filter, extended-text coalesce with \r-strip/\n→space,
    * nested user/entities access, ";"-joined hashtags and urls.
    *
    * `withWarnings = true` additionally carries the reference's two console
    * warnings as boolean columns, for `observe()` counters downstream
    * (see [[graft.streaming.TweetStream.observedWarnings]]):
    *  - `warn_truncated`: no extended_tweet AND cleaned text > 140 chars —
    *    "Tweet is truncated, but extended_tweet isn't available..."
    *    (firehose.py:33-34);
    *  - `warn_multi_pastebin`: more than one pastebin link in a tweet —
    *    "Unhandled situation: More than one pastebin link" (firehose.py:52-53).
    * The flags are extra columns only; every downstream select ignores them,
    * so the parity path is unchanged.
    */
  def flatten(raw: DataFrame, withWarnings: Boolean = false): DataFrame = {
    val t = from_json(col("value"), Schemas.tweet)
    val cleanedText = regexp_replace(regexp_replace(
      coalesce(col("t.extended_tweet.full_text"), col("t.text")),
      "\r", ""), "\n", " ")
    // P2. Pushdown rewrites both probes onto the raw value column, so a
    // row is tokenized up to three times (two single-field filter parses
    // + the full parse for survivors) — an r13 A/B that pinned the filter
    // above the parse with an optimizer fence measured NO gain (medians
    // 75.1k vs 75.4k rec/s, extract leg), so the pushed shape stands and
    // the single-field probes are confirmed cheap (DEPLOYMENT.md,
    // "Fused-scanner A/B" note).
    val base = raw.select(t.as("t"))
      .filter(!col("t.retweeted") && !col("t.text").startsWith("RT @"))
    val cols = Seq(
      col("t.id").cast("string").as("id"),
      cleanedText.as("text"), // P3: \r→"" then \n→" ", exactly
      col("t.user.screen_name").as("user"),
      concat_ws(";", transform(col("t.entities.hashtags"), h => h("text")))
        .as("hashtags"), // P4
      concat_ws(";", transform(col("t.entities.urls"), u => u("expanded_url")))
        .as("urls"),
      col("t.created_at").as("created_date"))
    val warnCols =
      if (!withWarnings) Nil
      else Seq(
        (col("t.extended_tweet.full_text").isNull && length(cleanedText) > 140)
          .as("warn_truncated"),
        (size(filter(transform(col("t.entities.urls"), u => u("expanded_url")),
          u => u.contains("pastebin"))) > 1).as("warn_multi_pastebin"))
    base.select(cols ++ warnCols: _*)
  }

  /** Flat tweet columns → canonical 8-column IOC frame (extraction R3/R4/R6
    * + per-type unpivot X2, firehose.py:56-62,105-122).
    *
    * Scans the text once with [[graft.functions.IocScan]] and pays ONE
    * Generate — the r12 knee-sweep answer (extraction was the measured
    * ~74k rec/s per-node streaming ceiling). The scanner reproduces the
    * three-regex formulation [[extractRegex]] row for row, in the same
    * per-type match order: IocScanSpec fuzz-asserts the equality and the
    * DuckDB oracle runs the ORIGINAL patterns every round.
    */
  def extract(tweets: DataFrame): DataFrame =
    canonical(live(tweets), ExtractIocs.extract_iocs(col("text")))

  /** P2 on a pre-flattened table, which carries the raw retweeted flag;
    * flatten() already applied it on the raw-JSON path. */
  private def live(tweets: DataFrame): DataFrame =
    if (tweets.columns.contains("retweeted"))
      tweets.filter(!col("retweeted") && !col("text").startsWith("RT @"))
    else tweets

  /** One Generate into the canonical 8 columns: the explode drops text
    * immediately and fans out the (type, ioc) pairs already classified. */
  private def canonical(live: DataFrame, iocs: Column): DataFrame =
    live
      .select(col("id"), col("created_date"), col("user"), col("hashtags"),
        explode(iocs).as("t"))
      .select(
        col("id"),
        col("created_date").as("date_added"), // firehose.py:41,112
        col("created_date").as("date_received"),
        col("t.ioc").as("ioc"),
        lit("Twitter").as("platform"),
        col("user").as("source"),
        col("hashtags").as("tag"),
        col("t.type").as("type"))

  /** The original three-regex formulation — the semantics reference
    * IocScanSpec compares [[extract]] against.
    * Each Generate carries ONLY the surviving columns: the first explode
    * drops the raw text and the by_type array immediately (keeping them
    * would duplicate the text and ALL extracted arrays across the 3
    * fan-out rows), the second drops the struct. Both stay in one
    * WholeStageCodegen span with the regex extraction. */
  private[graft] def extractRegex(live: DataFrame): DataFrame = {
    def ext(pat: String): Column = Iocs.extractAll(col("text"), pat)
    live
      .select(col("id"), col("created_date"), col("user"), col("hashtags"),
        explode(array(
          struct(lit("ip").as("type"), ext(Iocs.IpPlain).as("iocs")),
          struct(lit("hash").as("type"), ext(Iocs.Hash).as("iocs")),
          struct(lit("url").as("type"), ext(Iocs.UrlFast).as("iocs")))).as("t"))
      .select(
        col("id"),
        col("created_date").as("date_added"), // firehose.py:41,112
        col("created_date").as("date_received"),
        explode(col("t.iocs")).as("ioc"),
        lit("Twitter").as("platform"),
        col("user").as("source"),
        col("hashtags").as("tag"),
        col("t.type").as("type"))
  }

  /** Pastebin enrichment (S6/X5, firehose.py:50-71) in one pass: apply P2
    * once to the whole row, pick each tweet's first pastebin link (P6),
    * attach its page's classified lines (R9, `unmatched` dropped as in
    * dict_to_kv), and merge them into the text IOCs with X5's `concat`
    * (firehose.py's `.extend()`), so ONE Generate emits the canonical frame
    * from ONE scan of `tweets`. Duplicate page urls concatenate their
    * lines; null urls never match; null lines and null elements emit
    * nothing.
    *
    * Where the lines come from:
    *  - a streaming `tweets` with a static `pages` no larger than
    *    `spark.sql.autoBroadcastJoinThreshold` (the size at which the
    *    planner would broadcast it again in every micro-batch): `pages` is
    *    collected ONCE, here, into a broadcast url → page IOCs map read by
    *    one lookup expression, so the micro-batch plan has no join. The
    *    static table is a snapshot taken when the query is defined: new
    *    pages need a query restart, or README's per-batch
    *    `LivePastebin.fetchPages` inside `foreachBatch`, a batch call;
    *  - otherwise (batch callers, larger or streaming `pages`): a left join
    *    against `pages` grouped by url, in one partition when it is small.
    * In production the lookup table is produced by a per-partition HTTP
    * fetch (nondeterministic, kept out of Catalyst); in tests it is a
    * fixture table (FIXTURES.md §A3).
    */
  def withPastebin(tweets: DataFrame, pages: DataFrame): DataFrame = {
    val linked = live(tweets).withColumn("pastebin_link", // P6; try_: ANSI mode throws on empty arrays
      try_element_at(filter(split(col("urls"), ";"), u => u.contains("pastebin")), lit(1)))
    val byPage = pages.filter(col("url").isNotNull && col("lines").isNotNull)
      .select(col("url"), pageIocs(col("lines")).as("iocs"))
    val textIocs = ExtractIocs.extract_iocs(col("text"))
    val small = !pages.isStreaming && fitsBroadcast(pages)
    if (small && tweets.isStreaming) {
      val byUrl = byPage.collect()
        .groupMapReduce(_.getString(0))(_.getSeq[Row](1))(_ ++ _)
      val bc = pages.sparkSession.sparkContext.broadcast(byUrl)
      val lookup = udf(new UDF1[String, Seq[Row]] {
        def call(link: String): Seq[Row] = bc.value.getOrElse(link, Nil)
      }, ExtractIocs.OutType)
      canonical(linked, concat(textIocs, lookup(col("pastebin_link"))))
    } else {
      // a table small enough to broadcast is gathered whole anyway: group
      // it in one partition rather than pay an exchange for it
      val byUrl = (if (small) byPage.coalesce(1) else byPage)
        .groupBy(col("url").as("pastebin_link"))
        .agg(functions.flatten(collect_list(col("iocs"))).as("page_iocs")) // not this object's flatten
      canonical(linked.join(byUrl, Seq("pastebin_link"), "left"),
        concat(textIocs, coalesce(col("page_iocs"), array().cast(ExtractIocs.OutType))))
    }
  }

  /** A page's lines as (type, ioc) pairs, the scanner's output shape. */
  private def pageIocs(lines: Column): Column =
    filter(
      transform(filter(lines, _.isNotNull), l => struct(Iocs.classify(l).as("type"), l.as("ioc"))),
      _("type") =!= "unmatched")

  /** JoinSelection's size rule: whether the planner would broadcast `pages`
    * as a join side (for a static side under a stream, in every micro-batch). */
  private def fitsBroadcast(pages: DataFrame): Boolean = {
    val size = pages.queryExecution.optimizedPlan.stats.sizeInBytes
    size >= 0 && size <= pages.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
  }
}
