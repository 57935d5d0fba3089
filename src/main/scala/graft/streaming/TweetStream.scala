package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pipeline.TweetPipeline
import graft.sinks.{RestBatchSink, Transport}

/** Structured-Streaming tweet ETL — the streaming re-expression of
  * /root/reference/firehose.py's push-based listener (SURVEY.md §3.2).
  *
  * Source: any streaming DataFrame with a string `value` column of raw tweet
  * JSON. Spark's file stream source (`readStream.text` over a directory of
  * jsonl files) is the one source the mains ([[graft.StreamBench.replay]]),
  * the specs and perfbench's `tweet_live` use.
  * The transform core is EXACTLY the batch one ([[TweetPipeline.flatten]] →
  * [[TweetPipeline.extract]]): one implementation, two execution modes.
  *
  * Semantics upgrades over the reference, by design (SURVEY.md §2.9):
  *  - at-most-once → exactly-once-per-sink-epoch via checkpoint +
  *    foreachBatch (the reference keeps no offsets and loses in-flight
  *    tweets on crash, firehose.py:19-48);
  *  - 1 HTTP POST per IOC → 1000-record batched posts (S9 vs S8 asymmetry);
  *  - the `track=` server-side keyword filter becomes an in-engine filter
  *    (documented semantic shift, SURVEY.md §4).
  */
object TweetStream {

  /** Raw JSON stream → canonical IOC frame (streaming DataFrame). */
  def iocStream(raw: DataFrame): DataFrame =
    TweetPipeline.extract(TweetPipeline.flatten(raw))

  /** Attach the reference's meta.json counters (h-isac.py:170-179) as
    * streaming metrics: per-type IOC counts observed per micro-batch,
    * surfaced through StreamingQueryProgress / QueryExecutionListener
    * instead of a driver-side JSON file (SURVEY.md §2.1 S11). */
  def observed(iocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    iocs.observe("ioc_counters",
      count(when(col("type") === "ip", true)).as("ips"),
      count(when(col("type") === "hash", true)).as("hashes"),
      count(when(col("type") === "url", true)).as("urls"),
      count(lit(1)).as("total"))
  }

  /** The reference's two console warnings, re-expressed as streaming metrics
    * (firehose.py:33-34 truncation, firehose.py:52-53 multi-pastebin-link):
    * counts observed per micro-batch on the flattened frame, surfaced through
    * StreamingQueryProgress.observedMetrics exactly like [[observed]]'s IOC
    * counters. A console print per offending tweet does not scale past one
    * process; a counter per micro-batch is the distributed equivalent.
    * Input must come from `TweetPipeline.flatten(raw, withWarnings = true)`;
    * the flag columns pass through `observe` and are dropped by the next
    * projection ([[graft.pipeline.TweetPipeline.extract]]).
    */
  def observedWarnings(flatWithWarnings: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    flatWithWarnings.observe("ingest_warnings",
      count(when(col("warn_truncated"), true)).as("truncated_no_extended"),
      count(when(col("warn_multi_pastebin"), true)).as("multi_pastebin_links"))
  }

  /** Keep only tweets carrying at least one tracked hashtag — the in-engine
    * equivalent of the reference's `track=` list (firehose.py:163-164). */
  def trackFilter(flat: DataFrame, tracked: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    flat.filter(exists(split(col("hashtags"), ";"),
      t => t.isInCollection(tracked)))
  }

  /** Start the stream: extraction → batched REST sink per micro-batch.
    * `checkpointDir` replaces the reference's meta.json `last_run` watermark
    * (h-isac.py:125-139 → source offsets, SURVEY.md §2.1 S11).
    *
    * Delivery is exactly-once PER EPOCH: foreachBatch is at-least-once (a
    * crash after the sink posts but before the checkpoint commit-marker
    * lands replays the whole epoch on restart), and `keyed = true` is the
    * half that turns the replay into a no-op — every record carries the
    * deterministic md5 `_key`, so the KV upsert converges to the same end
    * state no matter how many times an epoch is delivered
    * ([[graft.sinks.RestBatchSink.write]]; asserted end-to-end by
    * TweetStreamSpec's commit-marker-deletion replay test). Identical rows
    * WITHIN an epoch collapse to one KV record under keying — the keyed
    * store's semantics; the unkeyed reference framing (one server-assigned
    * key per POST, duplicates preserved) remains available via
    * RestBatchSink directly for the batch-parity path.
    *
    * This is the one `writeStream` in `src/main` (SessionSpec pins it):
    * StreamBench and FaultInjectStream drive this job, so their throughput
    * and exactly-once-under-executor-loss results are this job's. */
  def start(raw: DataFrame, endpoint: String, transport: Transport,
            checkpointDir: String): StreamingQuery =
    iocStream(raw).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        RestBatchSink.write(batch, endpoint, transport, keyed = true)
      }
      .start()
}
