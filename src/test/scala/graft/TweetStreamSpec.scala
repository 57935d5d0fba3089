package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TweetPipeline
import graft.sinks.RestBatchSink
import graft.streaming.TweetStream

/** Test transport: appends each payload as one line to a per-partition
  * file under `dir` (concurrent tasks never share a file). */
final class FileTransport(dir: String) extends graft.sinks.Transport {
  def post(endpoint: String, payload: String): Unit = {
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val p = java.nio.file.Paths.get(dir, s"part-$pid.jsonl")
    Files.createDirectories(p.getParent)
    Files.write(p, (payload + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

/** In-JVM model of the Splunk KV store for exactly-once assertions: a
  * payload is a JSON array of records; a record WITH `_key` upserts (the
  * batch_save contract RestBatchSink's `keyed = true` relies on), one
  * WITHOUT gets a fresh server-assigned key (every delivery duplicates —
  * the reference's framing). Static maps so local-mode executor threads
  * and the driver share state; `storeId` isolates tests. */
final class KvStoreTransport(storeId: String) extends graft.sinks.Transport {
  def post(endpoint: String, payload: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.readTree(payload)
    val it = arr.elements()
    while (it.hasNext) {
      val rec = it.next()
      val key =
        if (rec.has("_key")) rec.get("_key").asText()
        else java.util.UUID.randomUUID().toString
      KvStoreTransport.store
        .computeIfAbsent(storeId, _ => new java.util.concurrent.ConcurrentHashMap())
        .put(key, rec.toString)
    }
    KvStoreTransport.posts.merge(storeId, 1L, (a, b) => a + b)
  }
}
object KvStoreTransport {
  val store = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, String]]()
  val posts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  def snapshot(storeId: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Option(store.get(storeId)).map(_.asScala.toMap).getOrElse(Map.empty)
  }
  def postCount(storeId: String): Long = posts.getOrDefault(storeId, 0L)
}

/** Streaming + sink specs: MemoryStream of raw tweet JSON through the shared
  * extraction core, checkpointed foreachBatch → batched REST sink with the
  * file transport (FIXTURES.md §A2 cases).
  */
class TweetStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tweet(id: Long, text: String, retweeted: Boolean = false,
                    extended: Option[String] = None, user: String = "acct",
                    hashtags: Seq[String] = Seq("malware"),
                    urls: Seq[String] = Nil): String = {
    val ext = extended.map(t => s""","extended_tweet":{"full_text":"$t"}""").getOrElse("")
    val tags = hashtags.map(h => s"""{"text":"$h"}""").mkString(",")
    val us = urls.map(u => s"""{"expanded_url":"$u"}""").mkString(",")
    s"""{"created_at":"2024-02-02","id":$id,"text":"$text","retweeted":$retweeted$ext,"user":{"screen_name":"$user"},"entities":{"hashtags":[$tags],"urls":[$us]}}"""
  }

  test("flatten: retweet filter, extended-text coalesce, hashtag join (P2-P4)") {
    val raw = Seq(
      tweet(1, "c2 at 1.2.3.4"),
      tweet(2, "RT @x: 5.6.7.8"),                       // RT-prefix → dropped
      tweet(3, "9.9.9.9", retweeted = true),            // flag → dropped
      tweet(4, "short", extended = Some("long 4.4.4.4 text"),
        hashtags = Seq("emotet", "malspam"))
    ).toDF("value")
    val flat = TweetPipeline.flatten(raw).collect().map(r => r.getString(0) -> r).toMap
    assert(flat.keySet == Set("1", "4"))
    assert(flat("4").getString(1) == "long 4.4.4.4 text") // extended wins
    assert(flat("4").getString(3) == "emotet;malspam")
  }

  test("streaming end-to-end: MemoryStream → extraction → batched REST sink") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(
      tweet(10, "c2 172.16.0.9 sample d41d8cd98f00b204e9800998ecf8427e"),
      tweet(11, "RT @x: ignored 1.1.1.1"),
      tweet(12, "drop hxxp://cdn.evil.net/x"))
    val outDir = Files.createTempDirectory("resttest").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val q = TweetStream.start(mem.toDF(), "kv/batch_save", new FileTransport(outDir), ckpt)
    q.awaitTermination(60000)

    val lines = Files.list(java.nio.file.Paths.get(outDir)).toArray.toSeq
      .flatMap(p => scala.io.Source.fromFile(p.toString).getLines())
    // every payload is a JSON array; 3 IOCs total (ip, hash, url), RT dropped
    assert(lines.nonEmpty && lines.forall(l => l.startsWith("[") && l.endsWith("]")))
    val all = lines.mkString
    assert(all.contains("172.16.0.9") && all.contains("d41d8cd98f00b204e9800998ecf8427e")
      && all.contains("hxxp://cdn.evil.net/x"))
    assert(!all.contains("1.1.1.1"))
  }

  test("exactly-once per epoch: a replayed committed micro-batch leaves the KV end state unchanged") {
    // The failure this proves out: crash AFTER the sink posted an epoch but
    // BEFORE the checkpoint commit-marker landed. On restart Spark sees
    // offsets/0 without commits/0 and re-runs epoch 0 — foreachBatch is
    // at-least-once by contract. Deleting the commit marker between two
    // runs over the same checkpoint reproduces that crash window exactly.
    val srcDir = Files.createTempDirectory("replay_src")
    Files.writeString(srcDir.resolve("batch0.jsonl"), Seq(
      tweet(70, "c2 at 172.16.9.9 and hash d41d8cd98f00b204e9800998ecf8427e"),
      tweet(71, "drop hxxp://cdn.evil.net/x", user = "mallory"),
      tweet(72, "RT @x: ignored 1.1.1.1")).mkString("\n"))
    val ckpt = Files.createTempDirectory("ckpt_replay").toString
    val storeId = "replay-" + java.util.UUID.randomUUID()
    def run(): Unit = {
      val q = TweetStream.start(spark.readStream.text(srcDir.toString),
        "kv/batch_save", new KvStoreTransport(storeId), ckpt)
      q.awaitTermination(60000)
      q.stop() // AvailableNow self-terminates; stop() only forces cleanup
      // the checkpoint-in-use registry is released asynchronously after
      // termination — restarting before that looks like a concurrent query
      val deadline = System.currentTimeMillis + 30000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
    }
    run()
    val state1 = KvStoreTransport.snapshot(storeId)
    val posts1 = KvStoreTransport.postCount(storeId)
    assert(state1.size == 3 && posts1 > 0,
      s"first delivery wrong: ${state1.size} records, $posts1 posts")
    // simulate the post-commit crash: offsets/0 stays, commits/0 vanishes
    // (with its Hadoop .crc sidecar — a stale checksum blocks the rewrite)
    Files.delete(java.nio.file.Paths.get(ckpt, "commits", "0"))
    Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    run()
    assert(KvStoreTransport.postCount(storeId) > posts1,
      "epoch 0 was not redelivered — the replay did not actually happen")
    assert(KvStoreTransport.snapshot(storeId) == state1,
      "replayed epoch changed the KV end state — keyed upsert is not idempotent")
  }

  test("unkeyed replay duplicates — the _key is what carries exactly-once (control case)") {
    import org.apache.spark.sql.functions.col
    val storeId = "unkeyed-" + java.util.UUID.randomUUID()
    val df = Seq(("c1", "1.2.3.4", "ip"), ("c1", "5.6.7.8", "ip"))
      .toDF("id", "ioc", "type").coalesce(1)
    val t = new KvStoreTransport(storeId)
    RestBatchSink.write(df, "ep", t)                // reference framing: no _key
    RestBatchSink.write(df, "ep", t)                // the same epoch, redelivered
    assert(KvStoreTransport.snapshot(storeId).size == 4,
      "server-assigned keys must duplicate on replay — otherwise the keyed test proves nothing")
  }

  test("keyed delivery collapses identical rows within an epoch; unkeyed preserves them (documented trade)") {
    // TweetStream.start's scaladoc: identical rows collapse to one KV
    // record under keying (_key = md5 of the row), while the unkeyed
    // reference framing preserves duplicates. Pin both halves.
    val dup = Seq(("c1", "1.2.3.4", "ip"), ("c1", "1.2.3.4", "ip"), ("c2", "5.6.7.8", "ip"))
      .toDF("id", "ioc", "type").coalesce(1)
    val keyedId = "collapse-" + java.util.UUID.randomUUID()
    RestBatchSink.write(dup, "ep", new KvStoreTransport(keyedId), keyed = true)
    assert(KvStoreTransport.snapshot(keyedId).size == 2,
      "keyed upsert must collapse the identical pair to one record")
    val unkeyedId = "preserve-" + java.util.UUID.randomUUID()
    RestBatchSink.write(dup, "ep", new KvStoreTransport(unkeyedId))
    assert(KvStoreTransport.snapshot(unkeyedId).size == 3,
      "unkeyed (reference framing) must preserve duplicates")
  }

  test("RestBatchSink chunks at batchSize and flushes the remainder (S8)") {
    val outDir = Files.createTempDirectory("chunks").toString
    val df = (1 to 7).toDF("n").coalesce(1)
    RestBatchSink.write(df, "ep", new FileTransport(outDir), batchSize = 3)
    val lines = Files.list(java.nio.file.Paths.get(outDir)).toArray.toSeq
      .flatMap(p => scala.io.Source.fromFile(p.toString).getLines())
    // 7 rows at batch 3 → 3 posts (3+3+1)
    assert(lines.size == 3)
    assert(lines.map(_.count(_ == '{')).sorted == Seq(1, 3, 3))
  }

  test("ingest warnings surface as observed metrics (firehose.py:33-34,52-53)") {
    implicit val sq = spark.sqlContext
    val long = "x" * 150
    val mem = MemoryStream[String]
    mem.addData(
      tweet(40, long),                                   // truncated, no extended
      tweet(41, long, extended = Some("full text 1.2.3.4")), // extended → NOT counted
      tweet(42, "two pastes", urls = Seq(
        "https://pastebin.com/a", "https://pastebin.com/b")), // multi-pastebin
      tweet(43, "plain 5.5.5.5", urls = Seq("https://example.com/z")))
    val flat = TweetStream.observedWarnings(
      TweetPipeline.flatten(mem.toDF(), withWarnings = true))
    val q = TweetPipeline.extract(flat).writeStream.format("memory")
      .queryName("warn_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val metrics = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("ingest_warnings")))
    assert(metrics.nonEmpty, "no ingest_warnings metrics in any progress event")
    assert(metrics.map(_.getLong(0)).sum == 1L) // truncated_no_extended
    assert(metrics.map(_.getLong(1)).sum == 1L) // multi_pastebin_links
  }

  test("track filter keeps only tracked hashtags (S4 semantics, in-engine)") {
    val raw = Seq(
      tweet(30, "a 1.2.3.4", hashtags = Seq("emotet")),
      tweet(31, "b 5.6.7.8", hashtags = Seq("kittens"))
    ).toDF("value")
    val kept = TweetStream.trackFilter(TweetPipeline.flatten(raw), Seq("emotet", "ransomware"))
      .collect().map(_.getString(0))
    assert(kept.toSeq == Seq("30"))
  }

  test("sighting rollup maintained by streaming aggregation ≡ batch rebuild") {
    // the streaming half of the iocSightings IVM story: Spark's stateful
    // streaming agg IS the incremental maintainer of the per-(type, ioc,
    // source, platform) index — count/min/max state folds each
    // micro-batch, so after any number of batches the maintained table
    // must equal a batch rebuild over everything ingested (the same
    // lossless-merge property OperatorsSpec proves for partial rollups)
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    implicit val sq = spark.sqlContext
    def rollup(df: org.apache.spark.sql.DataFrame) =
      TweetPipeline.extract(TweetPipeline.flatten(df))
        .groupBy(col("type"), col("ioc"), col("source"), col("platform"))
        .agg(count(lit(1)).as("n"), min(col("date_received")).as("mn"),
          max(col("date_received")).as("mx"))
    val r1 = Seq(
      tweet(60, "c2 9.9.9.9", user = "alice"),
      tweet(61, "seen 9.9.9.9 too", user = "bob"))
    val r2 = Seq(
      tweet(62, "third 9.9.9.9", user = "alice"),
      tweet(63, "hash d41d8cd98f00b204e9800998ecf8427e", user = "alice"))
    val mem = MemoryStream[String]
    val q = rollup(mem.toDF()).writeStream.format("memory")
      .queryName("sightings_stream").outputMode("complete").start()
    mem.addData(r1: _*); q.processAllAvailable()
    mem.addData(r2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sightings_stream")
    val batch = rollup((r1 ++ r2).toDF("value"))
    assert(streamed.except(batch).count() == 0 &&
      batch.except(streamed).count() == 0,
      "streaming-maintained sighting index diverged from the batch rebuild")
  }

  test("withPastebin: a retweet in a pre-flattened table emits no rows, pastebin leg included (P2)") {
    val tweets = Seq(
      ("1", "c2 1.2.3.4", "u", "t", "2024-01-01", "https://pastebin.com/p1", true),
      ("2", "RT @x: 5.6.7.8", "u", "t", "2024-01-01", "https://pastebin.com/p1", false),
      ("3", "c2 9.9.9.9", "u", "t", "2024-01-01", "https://pastebin.com/p1", false))
      .toDF("id", "text", "user", "hashtags", "created_date", "urls", "retweeted")
    val pages = Seq(("https://pastebin.com/p1", Seq("10.0.0.1", "xx"))).toDF("url", "lines")
    val out = TweetPipeline.withPastebin(tweets, pages).select("id", "ioc").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(out == Seq(("3", "10.0.0.1"), ("3", "9.9.9.9")), s"retweets leaked: $out")
  }

  test("withPastebin: streaming enrichment ≡ batch enrichment ≡ the text∪pages union; one scan, no join per micro-batch") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.functions.{col, explode, lit, split, try_element_at, filter => afilter}
    val p1 = "https://pastebin.com/p1"
    val p2 = "https://pastebin.com/p2"
    val p3 = "https://pastebin.com/p3"
    val p4 = "https://pastebin.com/p4"
    val dir = Files.createTempDirectory("pastebin_stream")
    Files.writeString(dir.resolve("tweets.jsonl"), Seq(
      tweet(100, "c2 1.1.1.1", urls = Seq(p1)),                  // duplicate-url page
      tweet(101, "no link 2.2.2.2"),                             // no link
      tweet(102, "two links 3.3.3.3", urls = Seq(p2, p1)),       // first link only (P6)
      tweet(103, "retweet 7.7.7.7", retweeted = true, urls = Seq(p1)),
      tweet(104, "null page 4.4.4.4", urls = Seq(p3)),           // null-lines page
      tweet(105, "nothing in the text", urls = Seq("https://x.example/a", p4)),
      tweet(106, "RT @x: 8.8.8.8", urls = Seq(p2))).mkString("\n"))
    val pages = Seq[(String, Seq[String])](
      (p1, Seq("10.0.0.1", "host.evil.com")),
      (p1, Seq("d41d8cd98f00b204e9800998ecf8427e", "xx")),
      (p2, Seq("10.0.0.2")),
      (p3, null),
      (p4, Seq(null, "10.0.0.4", "xx")),
      (null, Seq("10.9.9.9"))).toDF("url", "lines")

    // the pre-one-pass formulation, kept here as the reference
    def unionReference(flat: DataFrame): DataFrame = {
      val fetched = flat
        .withColumn("pastebin_link", try_element_at(
          afilter(split(col("urls"), ";"), u => u.contains("pastebin")), lit(1)))
        .join(pages.withColumnRenamed("url", "pastebin_link"), Seq("pastebin_link"), "left")
        .filter(col("lines").isNotNull)
        .select(col("id"), col("created_date"), col("user"), col("hashtags"),
          explode(col("lines")).as("line"))
        .select(col("id"), col("created_date").as("date_added"),
          col("created_date").as("date_received"), col("line").as("ioc"),
          lit("Twitter").as("platform"), col("user").as("source"),
          col("hashtags").as("tag"), graft.extract.Iocs.classify(col("line")).as("type"))
        .filter(col("type") =!= "unmatched")
      TweetPipeline.extract(flat).unionByName(fetched)
    }
    // streaming micro-batches run adaptively: look inside the AQE wrapper
    val aqe = new AdaptiveSparkPlanHelper {}
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    def streamed(name: String): (Seq[String], SparkPlan) = {
      val q = TweetPipeline.withPastebin(TweetPipeline.flatten(spark.readStream.text(dir.toString)), pages)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      (rows(spark.table(name)),
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)
    }

    val flat = TweetPipeline.flatten(spark.read.text(dir.toString))
    val batch = rows(TweetPipeline.withPastebin(flat, pages))
    assert(batch == rows(unionReference(flat)), "one pass diverged from the union formulation")
    val ids = batch.map(r => (r.split('|')(0), r.split('|')(3)))
    for (hit <- Seq(("100", "1.1.1.1"), ("100", "10.0.0.1"), ("100", "host.evil.com"),
                    ("100", "d41d8cd98f00b204e9800998ecf8427e"), ("101", "2.2.2.2"),
                    ("102", "3.3.3.3"), ("102", "10.0.0.2"), ("104", "4.4.4.4"),
                    ("105", "10.0.0.4")))
      assert(ids.count(_ == hit) == 1, s"$hit not emitted exactly once: $ids")
    assert(ids.size == 9, s"unexpected rows: $ids")

    val (snap, snapPlan) = streamed("pastebin_snapshot")
    assert(snap == batch, s"streaming enrichment diverged:\n stream=$snap\n batch=$batch")
    assert(aqe.collect(snapPlan) { case b: BroadcastExchangeExec => b }.isEmpty &&
      aqe.collect(snapPlan) { case j: BaseJoinExec => j }.isEmpty &&
      aqe.collect(snapPlan) { case u: UnionExec => u }.isEmpty,
      s"micro-batch plan still joins or unions:\n$snapPlan")
    assert(aqe.collect(snapPlan) { case s: FileSourceScanExec => s }.size == 1,
      s"micro-batch plan does not scan its source once:\n$snapPlan")

    // a static side above the broadcast threshold keeps the join
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val (joined, joinedPlan) =
      try streamed("pastebin_joined")
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(aqe.collect(joinedPlan) { case j: BaseJoinExec => j }.nonEmpty,
      s"over-threshold static side lost its join:\n$joinedPlan")
    assert(joined == batch, s"joined streaming enrichment diverged:\n stream=$joined\n batch=$batch")
  }
}
