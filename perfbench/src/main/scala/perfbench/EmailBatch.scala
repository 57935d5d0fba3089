package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.pipeline.EmailPipeline
import graft.sinks.{CsvSink, RestBatchSink}

/** `email_batch`: the h-isac.py journey as a closed loop of single batch
  * jobs. Each job reads the mailbox parquet and runs the README sequence:
  * `EmailPipeline(mail, dateAdded, sinceWatermark)`, then
  * `CsvSink.write(singleFile = true)`, then `RestBatchSink.write(keyed =
  * true)` into the benchmark's counting transport. Both sinks' outputs are
  * checked against the planted truth after every job, outside its timing. */
final class EmailBatch(seed: Long, work: Path) extends Workload {
  val Emails = 1000
  /** The mailbox is exported as several files, as a folder export is, so
    * the scan splits across cores and only the CSV leg runs in one task. */
  val MailboxFiles = 8
  /** Jobs in this lead-in are checked but not timed: the first jobs after
    * set-up still ran ~30% slower than the rest while the JIT settled. */
  val WarmupS = 5

  private val dir = work.resolve("email")
  private val mailbox = dir.resolve("mailbox").toString
  private val csvDir = dir.resolve("csv").toString
  private val runDate = LocalDate.parse(Mailbox.DateAdded)

  private val (emails, truth) = Mailbox.generate(seed, Emails)
  Files.createDirectories(dir)
  Mailbox.writeParquet(emails, mailbox, MailboxFiles)
  private val mailboxBytes =
    Files.list(java.nio.file.Paths.get(mailbox)).iterator().asScala.map(Files.size(_)).sum

  def dataDir: String = mailbox
  def inputInfo: Seq[(String, Any)] = Seq(
    "emails" -> Emails, "mailbox_files" -> MailboxFiles, "mailbox_bytes" -> mailboxBytes,
    "expected_records" -> truth.size, "long_to_emails" -> Mailbox.longToCount(Emails),
    "watermark" -> Mailbox.Watermark, "closed_loop_clients" -> 1)

  /** One job; returns the CSV output directory. */
  private def job(spark: SparkSession, t: Option[Tracer]): String = {
    def span[T](n: String)(f: => T): T = t.fold(f)(_.span(n)(f))
    span("email.job") {
      val mail = span("sources.read")(spark.read.parquet(mailbox))
      val iocs = span("pipeline.build")(EmailPipeline(mail, Mailbox.DateAdded, Some(Mailbox.Watermark)))
      val out = span("sinks.csv")(CsvSink.write(iocs, csvDir, runDate, singleFile = true))
      span("sinks.rest")(RestBatchSink.write(iocs, CountingTransport.Endpoint, new CountingTransport,
        keyed = true))
      out
    }
  }

  /** Warm-up is one whole job over the mailbox, so the regex and sink
    * paths the timed jobs take are compiled before the first of them. */
  def prepare(spark: SparkSession): Seq[(String, Double)] = {
    job(spark, None)
    CountingTransport.reset()
    Nil
  }

  private def csvFiles(out: String): Seq[Path] =
    Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".csv")).toSeq

  def measure(spark: SparkSession, seconds: Double, t: Option[Tracer]): Measured = {
    CountingTransport.reset()
    val lat = Vector.newBuilder[Double]
    val failures = Vector.newBuilder[String]
    var attempted, failed, jobs, timedJobs, csvBytes, delivered = 0L
    var lastByType = Map.empty[String, Long]
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (timedJobs == 0 || elapsedS < WarmupS + seconds) {
      val timed = elapsedS >= WarmupS
      if (timed) timedJobs += 1
      val j0 = System.nanoTime()
      val outcome = try Right(job(spark, t)) catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - j0) / 1e6
      jobs += 1
      outcome match {
        case Left(e) =>
          attempted += 1; failed += 1; failures += s"job $jobs failed: ${e.getMessage}"
        case Right(out) =>
          if (timed) lat += ms
          val files = csvFiles(out)
          csvBytes += files.map(Files.size).sum
          val csv = Truth.compare(truth, files.flatMap(f => Truth.fromCsv(Files.readAllLines(f).asScala.toSeq)))
          val rest = Truth.compare(truth, Truth.fromPayloads(CountingTransport.drain()))
          Seq("csv" -> csv, "rest" -> rest).foreach { case (sink, c) =>
            attempted += c.expected
            val bad = if (c.ok) 0L else math.max(1L, c.failed)
            failed += bad
            if (bad > 0) failures += s"job $jobs $sink: missing ${c.missing} extra ${c.extra}"
          }
          delivered += rest.delivered
          lastByType = rest.deliveredByType
      }
      t.foreach(tr => tr.tagged(spark, "extract") {
        EmailPipeline(spark.read.parquet(mailbox), Mailbox.DateAdded, Some(Mailbox.Watermark))
          .write.format("noop").mode("overwrite").save()
      })
    }
    val posts = CountingTransport.posts.get()
    attempted += posts
    val samples = lat.result()
    val layers = t.fold(Map.empty[String, Double]) { tr =>
      val tasks = tr.layerTaskMs("extract")
      val n = math.max(1L, jobs).toDouble
      Map(
        "extract.ms" -> tr.spanMs("extract") / n,
        "extract.task_max_ms" -> (if (tasks.isEmpty) 0.0 else tasks.max),
        "extract.task_p50_ms" -> Stats.median(tasks),
        "extract.iocs_ip" -> lastByType.getOrElse("ip", 0L).toDouble,
        "extract.iocs_hash" -> lastByType.getOrElse("hash", 0L).toDouble,
        "extract.iocs_url" -> lastByType.getOrElse("url", 0L).toDouble,
        "extract.iocs_email" -> lastByType.getOrElse("email", 0L).toDouble,
        // rows every scan of the mailbox read, per job
        "sources.rows" -> tr.inputRecords.toDouble / n,
        "sources.bytes_read" -> tr.inputBytes.toDouble / n,
        // bytes read per job (two sink actions plus the traced extract
        // probe) over the mailbox file size
        "sources.read_amplification" -> tr.inputBytes.toDouble / n / mailboxBytes,
        "sinks.rest_ms" -> tr.spanMs("sinks.rest") / n,
        "sinks.csv_ms" -> tr.spanMs("sinks.csv") / n,
        "sinks.csv_bytes" -> csvBytes.toDouble / n,
        "sinks.posts" -> posts / n,
        "sinks.bytes" -> CountingTransport.bytes.get() / n,
        "sinks.records_per_post" -> (if (posts > 0) delivered.toDouble / posts else 0.0),
        "sinks.post_ms_sum" -> CountingTransport.postNanos.get() / 1e6 / n)
    }
    val p50 = Stats.median(samples)
    Measured(samples, if (p50 > 0) Emails / (p50 / 1e3) else 0.0, attempted, failed,
      failures.result(), Seq("jobs" -> jobs, "timed_jobs" -> timedJobs, "job_ms" -> samples,
        "records_per_s" -> (if (p50 > 0) Emails / (p50 / 1e3) else 0.0),
        "records_per_job" -> truth.size), layers, units = jobs.toDouble)
  }
}
