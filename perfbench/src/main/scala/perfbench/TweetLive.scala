package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Schemas
import graft.pipeline.TweetPipeline
import graft.sinks.RestBatchSink

/** `tweet_live`: the firehose.py journey as an open loop. One generator
  * thread drops a file of seeded raw-tweet JSON into a landing directory
  * every [[FileIntervalMs]] at a fixed offered rate, on a schedule that
  * does not slow when the engine does. The query is `readStream.text` →
  * `TweetPipeline.flatten` → `TweetPipeline.withPastebin` (static pages
  * table) → `RestBatchSink.write(keyed = true)` inside `foreachBatch`.
  *
  * Freshness of a tweet is the time from its scheduled creation (its
  * file's scheduled drop time, also stamped in the tweet as
  * `timestamp_ms`) to the return of the sink write that delivered its
  * records. */
final class TweetLive(seed: Long, work: Path) extends Workload {
  val RatePerS = 1000
  val FileIntervalMs = 100
  val PerFile: Int = RatePerS * FileIntervalMs / 1000
  val DrainDeadlineMs = 30000L
  /** The stream runs this long at the offered rate before the measured
    * window opens. Freshness keeps falling for 25-30 s of a fresh JVM while
    * the micro-batch path is compiled; the run budget leaves room for 10 s,
    * so the window sits on the tail of that drift, at the same point in
    * every run (`freshness_p50_per_5s_ms` shows it). Lead-in tweets are
    * checked like all others but give no freshness sample. */
  val WarmupS = 10
  /** Tweets in the set-up batch, which runs the query's plan once as a
    * batch job so that much of its per-record path is compiled before the
    * stream starts. */
  val WarmTweets = 2000
  override def setupReps: Int = 4
  private val WarmSeqBase = 1L << 40

  private val dir = work.resolve("tweet")
  private val pagesPath = dir.resolve("pages.jsonl")
  private val warmPath = dir.resolve("warm.jsonl")
  Files.createDirectories(dir)
  Files.writeString(pagesPath, TweetFeed.pagesJsonl(seed))
  private val warmTweets = (0 until WarmTweets).map(i => TweetFeed.tweet(seed, WarmSeqBase + i, 0L))
  Files.writeString(warmPath, warmTweets.map(_._1).mkString("", "\n", "\n"))
  private var nextSeq = 0L
  private var phase = 0

  def dataDir: String = dir.toString
  def inputInfo: Seq[(String, Any)] = Seq(
    "offered_rate_per_s" -> RatePerS, "file_interval_ms" -> FileIntervalMs,
    "tweets_per_file" -> PerFile, "pastebin_pages" -> TweetFeed.Pages,
    "warm_tweets" -> WarmTweets, "warmup_s" -> WarmupS, "drain_deadline_ms" -> DrainDeadlineMs, "loop" -> "open")

  private def pages(spark: SparkSession): DataFrame =
    spark.read.schema(Schemas.pastebinPages).json(pagesPath.toString)

  def prepare(spark: SparkSession): Seq[(String, Double)] = {
    val raw = spark.read.text(warmPath.toString)
    RestBatchSink.write(TweetPipeline.withPastebin(TweetPipeline.flatten(raw), pages(spark)),
      CountingTransport.Endpoint, new CountingTransport, keyed = true)
    CountingTransport.reset()
    Nil
  }

  /** File `k` of one phase: its tweets and their expected records. */
  private def file(base: Long, k: Int, stampMs: Long): IndexedSeq[(String, Vector[Rec])] =
    (0 until PerFile).map(i => TweetFeed.tweet(seed, base + k.toLong * PerFile + i, stampMs))

  def measure(spark: SparkSession, seconds: Double, t: Option[Tracer]): Measured = {
    phase += 1
    val landing = dir.resolve(s"landing-$phase")
    val staging = dir.resolve(s"staging-$phase")
    Files.createDirectories(landing); Files.createDirectories(staging)
    CountingTransport.reset()
    // warm-up file: the first micro-batch pays query start-up, not a tweet
    Files.copy(warmPath, landing.resolve("warm.jsonl"))

    val deliveries = new ConcurrentLinkedQueue[(Long, Vector[String])]()
    val batchRest = new java.util.concurrent.atomic.AtomicLong
    val raw = spark.readStream.text(landing.toString)
    val out = TweetPipeline.withPastebin(TweetPipeline.flatten(raw), pages(spark))
    val q = out.writeStream
      .option("checkpointLocation", dir.resolve(s"ckpt-$phase").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val s0 = System.nanoTime()
        RestBatchSink.write(b, CountingTransport.Endpoint, new CountingTransport, keyed = true)
        val now = System.nanoTime()
        batchRest.addAndGet(now - s0)
        deliveries.add(now -> CountingTransport.drain())
        ()
      }
      .start()

    val failures = Vector.newBuilder[String]
    try {
      val warmDeadline = System.currentTimeMillis() + 120000L
      while (deliveries.isEmpty && q.isActive && System.currentTimeMillis() < warmDeadline) Thread.sleep(20)
      if (deliveries.isEmpty) throw new IllegalStateException("stream did not deliver the warm-up file")
      deliveries.clear()
      CountingTransport.reset()
      batchRest.set(0)

      val warmFiles = WarmupS * 1000 / FileIntervalMs
      val files = warmFiles + math.max(1, (seconds * 1000 / FileIntervalMs).toInt)
      val base = nextSeq
      nextSeq += files.toLong * PerFile
      // (id, scheduled creation on the nanoTime clock, records)
      val expected = new ConcurrentLinkedQueue[(Long, Long, Vector[Rec])]()
      val lateMs = new ConcurrentLinkedQueue[java.lang.Double]()
      val genStart = System.currentTimeMillis() + 50
      val genStartNs = System.nanoTime() + 50000000L
      val gen = new Thread(() => {
        for (k <- 0 until files) {
          val dueNs = genStartNs + k * FileIntervalMs * 1000000L
          val tweets = file(base, k, genStart + k * FileIntervalMs)
          val body = tweets.map(_._1).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
          val waitNs = dueNs - System.nanoTime()
          if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
          val tmp = staging.resolve(f"part-$k%05d.jsonl")
          Files.write(tmp, body)
          Files.move(tmp, landing.resolve(f"part-$k%05d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
          lateMs.add((System.nanoTime() - dueNs) / 1e6)
          tweets.zipWithIndex.foreach { case ((_, recs), i) =>
            expected.add((1000000000L + base + k.toLong * PerFile + i, dueNs, recs))
          }
        }
      }, "perfbench-tweet-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      val want = expected.asScala.toVector
      val wantRecs = want.map(_._3.size.toLong).sum
      def deliveredRecs = deliveries.asScala.iterator.map(_._2.iterator.map(p =>
        p.count(_ == '{')).sum.toLong).sum
      val drainBy = System.currentTimeMillis() + DrainDeadlineMs
      while (deliveredRecs < wantRecs && q.isActive && System.currentTimeMillis() < drainBy) Thread.sleep(20)
      q.stop()
      q.exception.foreach(e => failures += s"stream failed: ${e.getMessage}")

      // one record per delivery, stamped with the return time of its write
      val got = deliveries.asScala.toVector.flatMap { case (at, ps) =>
        Truth.fromPayloads(ps).map(_ -> at)
      }
      val check = Truth.compare(want.flatMap(_._3), got.map(_._1))
      val doneAt = got.groupMapReduce(_._1.id)(_._2)(math.max)
      val windowNs = genStartNs + warmFiles * FileIntervalMs * 1000000L
      val measured = want.filter(_._2 >= windowNs)
      val fresh = measured.filter(_._3.nonEmpty).flatMap { case (id, dueNs, _) =>
        doneAt.get(id.toString).map(at => (at - dueNs) / 1e6)
      }
      // freshness p50 per 5 s of the stream, lead-in included: shows drift
      val drift = want.filter(_._3.nonEmpty).flatMap { case (id, dueNs, _) =>
        doneAt.get(id.toString).map(at => ((dueNs - genStartNs) / 5000000000L, (at - dueNs) / 1e6))
      }.groupMap(_._1)(_._2).toSeq.sortBy(_._1).map(kv => Stats.median(kv._2))
      val lastAt = if (got.isEmpty) System.nanoTime() else got.map(_._2).max
      val itemsPerS = measured.size / math.max(1e-3, (lastAt - windowNs) / 1e9)
      val posts = CountingTransport.posts.get()
      val bad = if (check.ok) 0L else math.max(1L, check.failed)
      if (bad > 0) failures += s"tweets: missing ${check.missing} extra ${check.extra}"
      val lates = lateMs.asScala.map(_.doubleValue).toSeq
      val info = Seq(
        "freshness_p50_ms" -> Stats.median(fresh),
        "freshness_p99_ms" -> Stats.quantile(fresh, 0.99),
        "freshness_samples" -> fresh.size,
        "freshness_p50_per_5s_ms" -> drift,
        "tweets_offered" -> want.size, "tweets_measured" -> measured.size,
        "records_expected" -> wantRecs,
        "records_delivered" -> check.delivered, "undelivered" -> check.missing,
        "generator_late_ms_p50" -> Stats.median(lates),
        "generator_late_ms_p99" -> Stats.quantile(lates, 0.99),
        "records_per_s" -> itemsPerS)
      val layers = t.fold(Map.empty[String, Double])(tr =>
        traced(spark, tr, landing, want, check, lates, posts, batchRest.get() / 1e6, genStart))
      Measured(fresh, itemsPerS, check.expected + posts, bad, failures.result(), info, layers)
    } finally if (q.isActive) q.stop()
  }

  /** Per-layer numbers for the traced phase. Stream counters come from the
    * StreamingQueryListener. Flatten, extract and enrich are timed after the
    * stream stops, as three batch jobs over the files it consumed; each
    * includes the one before it (flatten ⊂ extract ⊂ enrich). */
  private def traced(spark: SparkSession, tr: Tracer, landing: Path,
                     want: Vector[(Long, Long, Vector[Rec])], check: Truth.Check,
                     lates: Seq[Double], posts: Long, restMs: Double,
                     genStart: Long): Map[String, Double] = {
    // batches after the warm-up file, which completes before the generator starts
    val prog = tr.streamProgress.filter(p => p._2 > 0 && p._1 >= genStart)
    def p50(key: String) = Stats.median(prog.map(_._3.getOrElse(key, 0L).toDouble))
    var consumed = 0L
    val backlog = prog.map { case (at, rows, _) =>
      consumed += rows
      val dropped = math.min(want.size.toLong, ((at - genStart) / FileIntervalMs + 1) * PerFile)
      (dropped - consumed).toDouble
    }
    val files = Files.list(landing).iterator().asScala.filter(_.toString.endsWith(".jsonl"))
      .filterNot(_.getFileName.toString == "warm.jsonl").map(_.toString).toSeq
    val raw = spark.read.text(files: _*)
    def timed(name: String)(df: => DataFrame): Double = {
      tr.tagged(spark, name)(df.write.format("noop").mode("overwrite").save())
      tr.spanMs(name)
    }
    val flat = TweetPipeline.flatten(raw)
    val flattenMs = timed("pipeline.flatten")(flat)
    val extractMs = timed("extract")(TweetPipeline.extract(flat))
    val enrichMs = timed("pipeline.enrich")(TweetPipeline.withPastebin(flat, pages(spark)))
    val extractTasks = tr.layerTaskMs("extract")
    val rawRows = raw.count().toDouble
    val kept = flat.count().toDouble
    val linked = flat.filter("urls like '%pastebin%'")
    val withLink = linked.count().toDouble
    val hits = linked.select(org.apache.spark.sql.functions.expr(
      "try_element_at(filter(split(urls, ';'), u -> u like '%pastebin%'), 1)").as("url"))
      .join(pages(spark).select("url"), "url").count().toDouble
    val byType = check.deliveredByType
    Map(
      "extract.ms" -> extractMs,
      "extract.task_max_ms" -> (if (extractTasks.isEmpty) 0.0 else extractTasks.max),
      "extract.task_p50_ms" -> Stats.median(extractTasks),
      "extract.iocs_ip" -> byType.getOrElse("ip", 0L).toDouble,
      "extract.iocs_hash" -> byType.getOrElse("hash", 0L).toDouble,
      "extract.iocs_url" -> byType.getOrElse("url", 0L).toDouble,
      "extract.iocs_email" -> byType.getOrElse("email", 0L).toDouble,
      "sources.rows" -> rawRows,
      "sources.gen_late_ms_p99" -> Stats.quantile(lates, 0.99),
      "pipeline.kept_ratio" -> (if (rawRows > 0) kept / rawRows else 0.0),
      "pipeline.flatten_ms" -> flattenMs,
      "pipeline.enrich_ms" -> enrichMs,
      "pipeline.enrich_hit_ratio" -> (if (withLink > 0) hits / withLink else 0.0),
      "streaming.batches" -> prog.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(prog.map(_._2.toDouble)),
      "streaming.batch_ms_p50" -> p50("triggerExecution"),
      "streaming.batch_ms_max" -> (if (prog.isEmpty) 0.0
        else prog.map(_._3.getOrElse("triggerExecution", 0L)).max.toDouble),
      "streaming.plan_ms_p50" -> p50("queryPlanning"),
      "streaming.offsets_ms_p50" -> p50("latestOffset"),
      "streaming.wal_ms_p50" -> Stats.median(prog.map(p =>
        (p._3.getOrElse("walCommit", 0L) + p._3.getOrElse("commitOffsets", 0L)).toDouble)),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.backlog_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "sinks.rest_ms" -> restMs,
      "sinks.posts" -> posts.toDouble,
      "sinks.bytes" -> CountingTransport.bytes.get().toDouble,
      "sinks.records_per_post" -> (if (posts > 0) check.delivered.toDouble / posts else 0.0),
      "sinks.post_ms_sum" -> CountingTransport.postNanos.get() / 1e6)
  }
}
