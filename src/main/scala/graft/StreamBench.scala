package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sinks.Transport
import graft.streaming.TweetStream

/** Discard transport for throughput measurement: the sink still pays full
  * row→JSON serialization, md5 `_key` derivation, and 1000-record chunk
  * framing ([[RestBatchSink.write]]) — only the network write is replaced
  * by a byte count, so the number measures the ENGINE's sustainable rate,
  * not the test host's loopback HTTP stack. Top-level class (not a lambda)
  * so executor tasks serialize it cleanly. */
final class CountingTransport extends Transport {
  def post(endpoint: String, payload: String): Unit = {
    CountingTransport.bytes.addAndGet(payload.length.toLong)
    CountingTransport.posts.incrementAndGet()
  }
}
object CountingTransport {
  // static on the executor side; local[*] shares the JVM so the driver can
  // read them — under a real cluster the sink-side totals would come from
  // accumulators, but the THROUGHPUT numbers below come from
  // StreamingQueryProgress either way
  val bytes = new java.util.concurrent.atomic.AtomicLong
  val posts = new java.util.concurrent.atomic.AtomicLong
}

/** Streaming-throughput benchmark (driver-adjacent artifact, feeds the
  * `stream_throughput` block of BENCH_sf1.json): sustained records/sec
  * through the full streaming path —
  *
  *   [[replay]] (Spark's file stream source, `maxFilesPerTrigger`)
  *     → [[TweetStream.start]]: TweetPipeline.flatten/extract (the
  *       batch-identical IOC core) → foreachBatch RestBatchSink.write(keyed = true)
  *
  * The admission-rate knob is `maxPerBatch` (default 50k lines per
  * micro-batch), reported next to the rate it produced. Records/sec is
  * computed two ways and both are emitted: `rps_busy` divides by Σ triggerExecution (the engine's own
  * per-batch wall clock — what a capacity planner multiplies by executor
  * count), and `rps_wall` divides by last-batch-end minus first-batch-start
  * (includes trigger scheduling gaps — what an operator actually observes).
  *
  * Exactly-once is proven elsewhere (TweetStreamSpec, ReplaySourceSpec,
  * FaultInjectStream); this main measures only throughput. Per-layer
  * attribution (source, extract, enrich, sink) is perfbench's `--trace 1`.
  *
  * Usage: sbt "runMain graft.StreamBench [nRecords] [maxPerBatch]"
  *   (defaults 1,000,000 and 50,000)
  */
object StreamBench {

  /** Line `i` of the deterministic raw-tweet corpus. Mix exercises every
    * branch of the core: plain-IP c2 reports (70%), hashes (10%), defanged
    * URLs (10%), retweets the pipeline must drop (5%), no-IOC chatter (5%);
    * every 20th tweet carries the tracked hashtag + a pastebin link so the
    * enrichment columns stay non-degenerate. */
  private def tweet(i: Int): String = {
    val k = i % 20
    val body =
      if (k < 14) s"c2 beacon at 10.${(i >> 16) & 255}.${(i >> 8) & 255}.${i & 255}"
      else if (k < 16) f"dropped sample ${"%032x".format(i)}%s"
      else if (k < 18) s"payload hxxp://evil-${i % 9973}.example/x${i % 97}"
      else if (k == 18) "RT classic retweet, no ioc here"
      else "quarterly threat landscape musings"
    val rt = k == 18
    val tags = if (k == 0) """[{"text":"infosec"}]""" else "[]"
    val urls = if (k == 0)
      s"""[{"expanded_url":"https://pastebin.com/raw/p${i % 4999}"}]"""
      else "[]"
    s"""{"created_at":"2024-02-02","id":$i,"text":"$body","retweeted":$rt,"user":{"screen_name":"u${i % 100000}"},"entities":{"hashtags":$tags,"urls":$urls}}"""
  }

  /** The `n`-line corpus as a directory of jsonl files under `root`, each of
    * ceil(maxPerBatch / cores) lines, written once per layout and reused
    * (~190 MB at 1M). It is written under a staging name and
    * renamed into place, so a killed write is never reused. The path is
    * absolute: `local-cluster` executors open the files themselves, from
    * their own work directories. */
  private[graft] def corpus(spark: SparkSession, root: Path, n: Int,
                            maxPerBatch: Int): String = {
    val cores = masterCores(spark)
    val perFile = (maxPerBatch + cores - 1) / cores
    val dir = root.toAbsolutePath.resolve(s"stream_tweets_${n}_$perFile")
    if (!Files.isDirectory(dir)) {
      val staging = dir.resolveSibling(s"${dir.getFileName}.staging")
      if (Files.exists(staging)) {
        scala.util.Using.resource(Files.list(staging))(_.forEach(f => Files.delete(f)))
        Files.delete(staging)
      }
      Files.createDirectories(staging)
      for (first <- 0 until n by perFile) {
        val w = Files.newBufferedWriter(
          staging.resolve(f"part-${first / perFile}%05d.jsonl"), StandardCharsets.UTF_8)
        try (first until math.min(n, first + perFile)).foreach { i =>
          w.write(tweet(i)); w.write("\n")
        } finally w.close()
      }
      Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    dir.toString
  }

  /** The corpus replayed through Spark's file stream source, the source
    * TweetStreamSpec and perfbench's `tweet_live` read: each micro-batch
    * admits one file per core, so it holds about `maxPerBatch` lines and
    * runs one task per core. The task count comes from the file
    * layout: one file per batch would be split by the 4 MB open-cost floor
    * into fewer tasks than cores. */
  private[graft] def replay(spark: SparkSession, root: Path, n: Int,
                            maxPerBatch: Int): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", masterCores(spark))
      .text(corpus(spark, root, n, maxPerBatch))

  /** The master's cores, which is defaultParallelism once every executor
    * has registered. defaultParallelism itself is not used: under
    * `local-cluster` it counts only the executors registered so far, so a
    * stream started right after the session would get a smaller layout. */
  private def masterCores(spark: SparkSession): Int =
    Session.cores(spark.sparkContext.master)

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val maxPerBatch = args.lift(1).map(_.toInt).getOrElse(50000)
    val spark = Session.start()
    val root = Paths.get("target")

    // session/codegen warm-up through the SAME plan shape so batch 0's
    // one-time costs don't pollute the sustained-rate percentiles
    val warmDf = spark.read.text(corpus(spark, root, n, maxPerBatch)).limit(1000)
    TweetStream.iocStream(warmDf).write.format("noop").mode("overwrite").save()

    val t0 = System.nanoTime()
    val q = TweetStream.start(replay(spark, root, n, maxPerBatch), "https://kv.example/batch_save",
      new CountingTransport, Files.createTempDirectory("streambench_ckpt").toString)
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9

    // recentProgress retains the last 100 entries; at 1M/50k = 20 batches
    // everything is present. Guard anyway: if the knob is set low enough to
    // overflow the buffer, fall back to totals over the retained window and
    // SAY so rather than report a silently-partial percentile.
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val batches = prog.size
    val rows = prog.map(_.numInputRows).sum
    val execMs = prog.map(_.durationMs.get("triggerExecution").toLong)
    val sorted = execMs.sorted
    def pct(p: Double): Long =
      if (sorted.isEmpty) 0L
      else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))
    val busySec = execMs.sum / 1e3
    // numInputRows counts SOURCE rows (raw lines, pre-filter), so the
    // retained window saw everything iff the totals match n
    val truncated = rows < n.toLong
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    spark.stop()
    // batch_ms_all: the raw per-batch triggerExecution vector in batch
    // order — percentiles hide WHICH batch paid (r14: a single 20 s
    // outlier batch on a bursty container swamped rps_busy over a 5-batch
    // run and made A/B deltas unreadable; the vector attributes it)
    println(
      s"""{"metric":"stream_throughput","records":$rows,"max_per_batch":$maxPerBatch,"batches":$batches,"rps_busy":${fmt(rows / busySec)},"rps_wall":${fmt(rows / wallSec)},"batch_ms_p50":${pct(0.5)},"batch_ms_p99":${pct(0.99)},"batch_ms_all":${execMs.mkString("[", ",", "]")},"busy_sec":${fmt(busySec)},"wall_sec":${fmt(wallSec)},"sink_posts":${CountingTransport.posts.get()},"sink_bytes":${CountingTransport.bytes.get()},"window_truncated":$truncated}""")
  }
}
