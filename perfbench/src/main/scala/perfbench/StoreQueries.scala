package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `store_queries`: one analyst in a closed loop runs every `ioc_*` entry
  * of `SparkEntry.queries` over a seeded corpus. Set-up builds the memoized
  * store those queries read (unified feed, then sightings, then campaign
  * labels) by constructing the queries that own them.
  *
  * A pass times each query once, as `graft.Bench` does after its warm-up:
  * the first execution of the query's plan in the JVM. Each execution
  * writes the query's result as parquet, and `run.py` compares the last
  * pass's files with the query's `SparkEntry.oracleSql` twin in DuckDB.
  * Writing the result, rather than `graft.Bench`'s `noop` write, lets one
  * execution serve both the timing and the check.
  *
  * `run.py` runs the DuckDB twins while the first, cold set-up runs: it
  * starts once `oracle_sql.json` exists and writes `oracle.done` when it
  * is finished, and the first set-up waits for that file, so no later
  * set-up shares the CPU with it. */
final class StoreQueries(seed: Long, work: Path) extends Workload {
  private val corpus = work.resolve("corpus")
  private val resultDir = work.resolve("verify")
  Files.createDirectories(corpus)
  StoreCorpus.write(seed, corpus.toString)

  private val queries: Seq[String] = SparkEntry.queries.keys.filter(_.startsWith("ioc_")).toSeq.sorted
  private val builds = Seq("unified_feed" -> "ioc_unified", "ioc_sightings" -> "ioc_sightings",
    "campaign_labels" -> "ioc_campaigns")
  Files.createDirectories(resultDir)
  Files.move(Files.writeString(resultDir.resolve("oracle_sql.json.tmp"),
    Json(SparkEntry.oracleSql.filter(kv => queries.contains(kv._1)))),
    resultDir.resolve("oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
  private var firstSetUp = true

  def dataDir: String = corpus.toString
  def inputInfo: Seq[(String, Any)] = Seq(
    "documents" -> StoreCorpus.Documents, "events" -> StoreCorpus.Events,
    "parts" -> StoreCorpus.Parts, "queries" -> queries.size,
    "corpus_bytes" -> Files.walk(corpus).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum(),
    "closed_loop_clients" -> 1)

  def prepare(spark: SparkSession): Seq[(String, Double)] = {
    Seq("documents", "events", "part").foreach(t =>
      spark.read.parquet(corpus.resolve(s"$t.parquet").toString)
        .write.format("noop").mode("overwrite").save())
    // constructing these queries materializes the memoized store they read
    val ledger = builds.map { case (name, q) =>
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, corpus.toString)
      name -> (System.nanoTime() - t0) / 1e9
    }
    if (firstSetUp) {
      firstSetUp = false
      val done = resultDir.resolve("oracle.done")
      val deadline = System.nanoTime() + 120000000000L
      while (!Files.exists(done) && System.nanoTime() < deadline) Thread.sleep(20)
    }
    ledger
  }

  def measure(spark: SparkSession, seconds: Double, t: Option[Tracer]): Measured = {
    val lat = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val failures = Vector.newBuilder[String]
    var attempted, failed, passes = 0L
    val t0 = System.nanoTime()
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      queries.foreach { q =>
        val q0 = System.nanoTime()
        attempted += 1
        try {
          def run(): Unit = SparkEntry.queries(q)(spark, corpus.toString)
            .write.mode("overwrite").parquet(resultDir.resolve(q).toString)
          t.fold(run())(_.span(s"query.$q")(run()))
          lat(q) = lat.getOrElse(q, Vector.empty) :+ (System.nanoTime() - q0) / 1e6
        } catch { case e: Exception =>
          failed += 1; failures += s"$q failed: ${e.getMessage}"
        }
      }
      passes += 1
    }
    val perQuery = lat.map { case (q, xs) => q -> Stats.median(xs) }
    val suiteMs = perQuery.values.sum
    val layers = t.fold(Map.empty[String, Double]) { tr =>
      tr.notes("query_ms") = perQuery
      Map(
        "operators.exec_ms_sum" -> tr.plans.synchronized(tr.plans.execMs) / passes,
        "operators.query_max_ms" -> (if (perQuery.isEmpty) 0.0 else perQuery.values.max))
    }
    Measured(perQuery.values.toSeq, if (suiteMs > 0) perQuery.size / (suiteMs / 1e3) else 0.0,
      attempted, failed, failures.result(),
      Seq("passes" -> passes, "suite_s" -> suiteMs / 1e3,
        "query_p50_ms" -> Stats.median(perQuery.values.toSeq)), layers, units = passes.toDouble)
  }
}
