package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.TweetStream

/** The replay stream the stream mains run ([[StreamBench.replay]]: the
  * deterministic corpus through Spark's file stream source): rate-bounded
  * micro-batches of one file per core, exactly-once row delivery across
  * restarts, and composition with the shared tweet extraction core.
  */
class ReplaySourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tweet(id: Long, ip: String) =
    s"""{"created_at":"2024-02-02","id":$id,"text":"c2 $ip","retweeted":false,"user":{"screen_name":"u$id"},"entities":{"hashtags":[],"urls":[]}}"""

  /** The IOC core run as one batch over the corpus files: what the stream
    * must deliver, each row exactly once. */
  private def batchIocs(dir: String): Seq[String] =
    sorted(TweetStream.iocStream(spark.read.text(dir)).collect().toSeq)

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("replay source: bounded batches, every record exactly once, through the IOC core") {
    val cores = spark.sparkContext.defaultParallelism
    val maxPerBatch = 2 * cores
    val n = 4 * maxPerBatch // 4 micro-batches of `cores` two-line files
    val root = Files.createTempDirectory("replay")
    val raw = StreamBench.replay(spark, root, n, maxPerBatch)
    assert(raw.isStreaming && raw.schema.fieldNames.toSeq == Seq("value"))

    val parts = ArrayBuffer[Int]()
    val out = ArrayBuffer[Row]()
    val q = raw.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      parts += batch.rdd.getNumPartitions
      out ++= TweetStream.iocStream(batch).collect(); ()
    }.start()
    q.processAllAvailable(); q.stop()

    val dir = StreamBench.corpus(spark, root, n, maxPerBatch)
    assert(out.nonEmpty && sorted(out.toSeq) == batchIocs(dir))  // all, exactly once
    // every tweet but the retweets and the chatter carries an IOC
    assert(out.map(_.getAs[String]("id").toLong).distinct.sorted ==
      (0L until n).filter(_ % 20 < 18))
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)  // rate-bounded batches
    assert(q.recentProgress.forall(_.numInputRows <= maxPerBatch))
    // one file per core: a batch scanned as fewer tasks than cores would
    // leave cores idle
    assert(parts.nonEmpty && parts.forall(_ == cores), s"partitions per batch: $parts")
  }

  test("restart from checkpoint resumes at the committed offset - no reprocessing (S11)") {
    val root = Files.createTempDirectory("replay_ckpt_root")
    val ckpt = Files.createTempDirectory("replay_ckpt").toString
    val out = Files.createTempDirectory("replay_sink").toString
    val n = 10
    val maxPerBatch = 4

    def run(): Unit = {
      // durable file sink: appends across restarts would EXPOSE
      // reprocessing as duplicate rows (a memory sink is wiped per run)
      val q = TweetStream.iocStream(StreamBench.replay(spark, root, n, maxPerBatch))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    run()                              // pass 1: consumes all 10 records
    // pass 2: more records arrive, then the query RESTARTS from the
    // same checkpoint — it must pick up only the 5 new ones
    val dir = StreamBench.corpus(spark, root, n, maxPerBatch)
    Files.writeString(java.nio.file.Paths.get(dir, "arrived.jsonl"),
      (11 to 15).map(i => tweet(100 + i, s"10.1.0.$i")).mkString("\n"))
    run()

    val iocs = sorted(spark.read.parquet(out).collect().toSeq)
    assert(iocs == batchIocs(dir), s"restart reprocessed or lost records: $iocs")
    assert(iocs.count(_.contains("10.1.0.")) == 5)
  }

  test("Trigger.AvailableNow drains the whole file in rate-bounded batches, then terminates") {
    // A source that pins its AvailableNow end target at the FIRST rate-
    // limited batch delivers one batch, silently drops the rest and exits
    // clean; this pins the drain-everything contract at spec scale.
    val maxPerBatch = 2 * spark.sparkContext.defaultParallelism
    val n = 4 * maxPerBatch
    val root = Files.createTempDirectory("replay_an")
    val q = TweetStream.iocStream(StreamBench.replay(spark, root, n, maxPerBatch))
      .writeStream.format("memory").queryName("replay_an")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    assert(sorted(spark.table("replay_an").collect().toSeq) ==
      batchIocs(StreamBench.corpus(spark, root, n, maxPerBatch)),
      "AvailableNow must drain ALL lines, exactly once")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4, "still rate-bounded")
    assert(q.recentProgress.forall(_.numInputRows <= maxPerBatch))
  }
}
