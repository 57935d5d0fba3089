package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Executor-loss fault injection (DEPLOYMENT.md resilience evidence).
  *
  * Runs a shuffle-heavy query twice on a multi-process master
  * (`local-cluster[2,8,8192]` — two separate executor JVMs): once clean to
  * record the expected result, once with a saboteur thread that SIGKILLs
  * one executor JVM while the query has tasks in flight. The lost
  * executor's shuffle map outputs disappear with it, so the re-run
  * exercises the real recovery path — FetchFailed → DAGScheduler stage
  * resubmission → recompute on the surviving executor while the Worker
  * relaunches a replacement — and the order-independent result hash must
  * still match the clean run exactly.
  *
  * Default queries are pure-parquet multi-join shapes (q18, q21): the
  * memoized intermediates ([[Memo]]) are OUT of scope here by design —
  * `localCheckpoint` truncates lineage, so its blocks are deliberately
  * non-recomputable; in production those are persisted tables (the
  * scaladoc contract), and a lost executor re-reads them from storage.
  *
  * The saboteur polls the status tracker until BOTH executors report
  * active tasks, so the kill provably lands mid-shuffle, then SIGKILLs the
  * oldest CoarseGrainedExecutorBackend process (`pkill -o`). The run
  * aborts (exit 2) if the kill could not be confirmed — a fault test whose
  * fault silently failed to inject must not read as a pass.
  *
  * Usage:
  *   sbt -batch package
  *   SPARK_GRAFT_JARS=target/scala-2.13/<app>.jar SPARK_SCALA_VERSION=2.13 \
  *     sbt -batch "runMain graft.FaultInject target/sf1 q18_bigorders q21_waiting"
  */
object FaultInject {

  /** Order-independent content digest + row count: decimal(38) sum of
    * per-row xxhash64 over every column (wide enough that 10^9 longs
    * cannot overflow — ANSI mode aborts a plain long sum) plus the xor
    * fold, so task/partition order cannot affect either. */
  private def digest(df: DataFrame): (String, Long, Long) = {
    val cols = df.columns.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s"),
        expr("bit_xor(h)").as("x"), count(lit(1)).as("c"))
      .collect()(0)
    (if (r.isNullAt(0)) "0" else r.getDecimal(0).toPlainString,
      if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q18_bigorders", "q21_waiting")
    val spark = Session.start(Some(sfDir), defaultMaster = "local-cluster[2,8,8192]")
    val sc = spark.sparkContext
    val master = sc.master
    require(master.startsWith("local-cluster"),
      "fault injection needs separate executor JVMs (local-cluster master)")

    var failures = 0
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))

      val expected = digest(fn(spark, sfDir))
      println(s"[fault] $name clean run: hash=${expected._1} rows=${expected._3}")

      // saboteur: wait until tasks are genuinely in flight, then SIGKILL
      // one executor JVM. Confirmation is two-sided: pkill must match a
      // process AND the driver must observe the executor count drop.
      @volatile var killed = false
      @volatile var killErr: String = null
      val before = sc.statusTracker.getExecutorInfos.length // incl. driver
      val saboteur = new Thread(() => {
        try {
          val deadline = System.nanoTime() + 120L * 1000000000L
          var active = 0
          while (active == 0 && System.nanoTime() < deadline) {
            active = sc.statusTracker.getActiveStageIds
              .map(id => sc.statusTracker.getStageInfo(id)
                .map(_.numActiveTasks).getOrElse(0)).sum
            if (active == 0) Thread.sleep(50)
          }
          if (active == 0) killErr = "no active tasks within 120s"
          else {
            val rc = new ProcessBuilder("pkill", "-o", "-9", "-f",
              "CoarseGrainedExecutorBackend").inheritIO().start().waitFor()
            if (rc != 0) killErr = s"pkill exit $rc (no executor process matched)"
            else {
              // executor death is asynchronous from the driver's view; wait
              // for the tracker to register the loss so the pass is
              // evidence-backed
              val lossDeadline = System.nanoTime() + 60L * 1000000000L
              while (sc.statusTracker.getExecutorInfos.length >= before &&
                     System.nanoTime() < lossDeadline) Thread.sleep(100)
              killed = true
            }
          }
        } catch { case e: Throwable => killErr = e.toString }
      }, s"saboteur-$name")
      saboteur.start()
      val got = digest(fn(spark, sfDir))
      saboteur.join(130000)
      if (!killed) {
        System.err.println(s"[fault] $name: kill NOT confirmed (${Option(killErr).getOrElse("timeout")}) — run is inconclusive")
        failures += 1
      } else if (got != expected) {
        System.err.println(s"[fault] $name: MISMATCH after executor loss: got hash=${got._1} rows=${got._3}")
        failures += 1
      } else {
        println(s"[fault] $name OK: executor SIGKILLed mid-query, result hash-matches clean run (hash=${got._1} rows=${got._3})")
      }
      // let the worker finish relaunching the replacement executor before
      // the next query's clean run, so each round starts from full strength
      val refill = System.nanoTime() + 60L * 1000000000L
      while (sc.statusTracker.getExecutorInfos.length < before &&
             System.nanoTime() < refill) Thread.sleep(200)
    }
    spark.stop()
    if (failures > 0) sys.exit(2)
    println(s"""{"metric":"fault_inject","queries":${names.size},"failures":0,"master":"$master","sf":"$sfDir"}""")
  }
}
