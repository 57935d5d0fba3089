package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What one measuring phase of a workload produced. `latencyMs` are the
  * samples behind `latency_p50_ms`; `layers` holds the per-layer numbers
  * the workload measured itself (traced phase only). */
final case class Measured(latencyMs: Seq[Double], itemsPerS: Double,
                          attempted: Long, failed: Long, failures: Seq[String],
                          info: Seq[(String, Any)], layers: Map[String, Double],
                          units: Double = 1.0)

/** A benchmark workload. Inputs are generated in the constructor, before
  * any Spark session exists, and are excluded from set-up time. */
trait Workload {
  /** Corpus directory the shuffle-partition posture is sized from. */
  def dataDir: String
  def inputInfo: Seq[(String, Any)]
  /** How many times a run sets up; `setup_s` is the median. */
  def setupReps: Int = 3
  /** Warm-up and any index builds; runs once per set-up repetition.
    * Returns named build timings in seconds. */
  def prepare(spark: SparkSession): Seq[(String, Double)]
  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Measured
}

/** Metric names and units; BENCHMARK.json lists the same names. */
object Metrics {
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "latency_p50_ms" -> "ms", "items_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "extract.ms" -> "ms", "extract.task_max_ms" -> "ms", "extract.task_p50_ms" -> "ms",
    "extract.iocs_ip" -> "count", "extract.iocs_hash" -> "count",
    "extract.iocs_url" -> "count", "extract.iocs_email" -> "count",
    "sources.rows" -> "count", "sources.gen_late_ms_p99" -> "ms",
    "pipeline.kept_ratio" -> "ratio", "pipeline.flatten_ms" -> "ms",
    "pipeline.enrich_ms" -> "ms", "pipeline.enrich_hit_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.batch_ms_p50" -> "ms", "streaming.batch_ms_max" -> "ms",
    "streaming.plan_ms_p50" -> "ms", "streaming.offsets_ms_p50" -> "ms",
    "streaming.wal_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.backlog_max" -> "count",
    "sinks.rest_ms" -> "ms", "sinks.posts" -> "count", "sinks.bytes" -> "bytes",
    "sinks.records_per_post" -> "count", "sinks.post_ms_sum" -> "ms",
    "plans.plan_ms_sum" -> "ms", "plans.codegen_ms" -> "ms", "plans.exchanges_sum" -> "count",
    "operators.exec_ms_sum" -> "ms", "operators.query_max_ms" -> "ms",
    "operators.warm_ms" -> "ms", "operators.warm_sum_ms" -> "ms", "operators.cached_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.core_busy_ratio" -> "ratio", "spark.task_skew" -> "ratio", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "host.steal_pct" -> "%", "host.probe_ms" -> "ms",
    "trace.overhead_pct" -> "%")
}

object Session {
  /** The engine's bench posture: AQE on with the data-sized initial
    * shuffle partition count, UTC, nanosecond timestamps read as longs. */
  def start(cores: Int, dataDir: String, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.Tuning.initialShufflePartitions(dataDir, cores).toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def posture(cores: Int, dataDir: String): Seq[(String, Any)] = Seq(
    "master" -> s"local[$cores]", "adaptive" -> true,
    "initial_partitions" -> graft.Tuning.initialShufflePartitions(dataDir, cores),
    "time_zone" -> "UTC", "nanos_as_long" -> true)
}

/** Result line and trace file writer: Jackson with Scala collections. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
  /** An object with its keys in the given order. */
  def obj(kv: (String, Any)*): scala.collection.immutable.ListMap[String, Any] =
    scala.collection.immutable.ListMap(kv: _*)
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload <name> --seed <n> --seconds <s> " +
      "--trace <0|1> --work <dir>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") match { case "0" => false; case "1" => true; case t => usage(s"bad --trace $t") }
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val wl: Workload = name match {
      case "email_batch" => new EmailBatch(seed, work)
      case "tweet_live" => new TweetLive(seed, work)
      case "store_queries" => new StoreQueries(seed, work)
      case other => usage(s"unknown workload $other")
    }

    val cpu0 = Host.cpu()
    val probe0 = Host.probeMs()
    var spark: SparkSession = null
    var ledger: Seq[(String, Double)] = Nil
    val sessionS = Vector.newBuilder[Double]
    val setups = (1 to wl.setupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(cores, wl.dataDir, work)
      sessionS += (System.nanoTime() - t0) / 1e9
      ledger = wl.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }

    // A traced run measures three phases of half length: an untraced one
    // that only warms up (each query's first execution, on store_queries),
    // then an untraced and a traced one, whose difference is the overhead.
    val tracer = if (trace) Some(new Tracer(s"$name-$seed-${System.currentTimeMillis()}", cores)) else None
    val untraced = tracer.toSeq.flatMap(_ => Seq.fill(2)(wl.measure(spark, seconds / 2, None)))
    val m = tracer match {
      case None => wl.measure(spark, seconds, None)
      case Some(t) =>
        t.attach(spark)
        val r = wl.measure(spark, seconds / 2, Some(t))
        val wall = t.detach(spark)
        r.copy(layers = r.layers ++ t.sparkLayers(wall, r.units))
    }
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val sparkVersion = spark.version
    spark.stop()
    val probe1 = Host.probeMs()
    val steal = Host.stealPct(cpu0, Host.cpu())

    val e2e = Seq(
      "setup_s" -> Stats.median(setups),
      "latency_p50_ms" -> Stats.median(m.latencyMs),
      "items_per_s" -> m.itemsPerS)
    val attempted = m.attempted + untraced.map(_.attempted).sum
    val failed = m.failed + untraced.map(_.failed).sum
    val failures = untraced.flatMap(_.failures) ++ m.failures

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e.map { case (k, v) => (k, v, Metrics.EndToEnd.toMap.apply(k)) }
      else {
        val u = untraced.last
        val uP50 = Stats.median(u.latencyMs)
        val overheadPct = if (uP50 > 0) 100.0 * (Stats.median(m.latencyMs) - uP50) / uP50 else 0.0
        val ledgerMs = ledger.map(_._2 * 1e3)
        val all = m.layers ++ Map(
          "operators.warm_ms" -> (if (ledgerMs.isEmpty) 0.0 else ledgerMs.max),
          "operators.warm_sum_ms" -> ledgerMs.sum,
          "operators.cached_mb" -> cachedMb,
          "host.steal_pct" -> steal,
          "host.probe_ms" -> Stats.median(Seq(probe0, probe1)),
          "trace.overhead_pct" -> overheadPct)
        val t = tracer.get
        t.write(work.getParent.resolve("trace").resolve(s"$name-seed$seed.json"), Seq(
          "workload" -> name, "seed" -> seed, "run_id" -> t.runId,
          "untraced_end_to_end" -> Map("latency_p50_ms" -> uP50, "items_per_s" -> u.itemsPerS),
          "traced_end_to_end" -> Map("latency_p50_ms" -> Stats.median(m.latencyMs),
            "items_per_s" -> m.itemsPerS),
          "tracing_overhead_pct" -> overheadPct,
          "warm_ledger_s" -> ledger.toMap,
          "info" -> m.info.toMap))
        Metrics.PerLayer.map { case (k, unit) => (k, all.getOrElse(k, 0.0), unit) }
      }

    metrics.foreach { case (k, v, _) => require(!v.isNaN && !v.isInfinite, s"metric $k is $v") }
    val context = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
      "spark_version" -> sparkVersion, "java_version" -> System.getProperty("java.version"),
      "posture" -> Json.obj(Session.posture(cores, wl.dataDir): _*),
      "inputs" -> Json.obj(wl.inputInfo: _*),
      "setup_runs_s" -> setups, "session_start_s" -> sessionS.result(),
      "host_steal_pct" -> steal, "host_probe_ms" -> Seq(probe0, probe1),
      "cached_mb" -> cachedMb)
    val line = Json(Json.obj(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      // layer numbers of the email_batch workload only (its CSV leg and
      // mailbox reads), which no listed per-layer metric covers
      "info" -> Json.obj(m.info ++ m.layers.toSeq.sortBy(_._1)
        .filterNot(kv => Metrics.PerLayer.exists(_._1 == kv._1)): _*),
      "context" -> context,
      "failures" -> failures.take(20)))
    println("PERFBENCH_RESULT " + line)
  }
}
