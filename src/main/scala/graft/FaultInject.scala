package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Executor-loss fault injection (DEPLOYMENT.md resilience evidence).
  *
  * Runs a shuffle-heavy query twice on a multi-process master
  * (`local-cluster[2,8,8192]` — two separate executor JVMs): once clean to
  * record the expected result, once with a saboteur ([[killExecutor]])
  * that SIGKILLs one executor JVM while the query has tasks in flight. The
  * lost executor's shuffle map outputs disappear with it, so the re-run
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
  * The run aborts (exit 2) if the kill could not be confirmed — a fault
  * test whose fault silently failed to inject must not read as a pass.
  * [[FaultInjectStream]] is the streaming twin and shares [[digest]] and
  * [[killExecutor]].
  *
  * Usage:
  *   sbt -batch package
  *   SPARK_GRAFT_JARS=target/scala-2.13/<app>.jar SPARK_SCALA_VERSION=2.13 \
  *     sbt -batch "runMain graft.FaultInject target/sf1 q18_bigorders q21_waiting"
  */
object FaultInject {

  /** Order-independent content digest + row count: decimal(38) sum of
    * per-row xxhash64 over every column in name order (wide enough that
    * 10^9 longs cannot overflow — ANSI mode aborts a plain long sum) plus
    * the xor fold, so neither task/partition order nor column order can
    * affect it. */
  private[graft] def digest(df: DataFrame): (String, Long, Long) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col): _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s"),
        expr("bit_xor(h)").as("x"), count(lit(1)).as("c"))
      .collect()(0)
    (if (r.isNullAt(0)) "0" else r.getDecimal(0).toPlainString,
      if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
  }

  /** Tasks running right now, over every active stage. */
  private[graft] def activeTasks(sc: SparkContext): Int =
    sc.statusTracker.getActiveStageIds
      .map(id => sc.statusTracker.getStageInfo(id).map(_.numActiveTasks).getOrElse(0)).sum

  /** The saboteur: polls `ready` for up to `waitSec`, then SIGKILLs the
    * oldest executor JVM (`pkill -o` on CoarseGrainedExecutorBackend).
    * Confirmation is two-sided: pkill must match a process AND the driver's
    * status tracker must register the executor loss within 60 s. The
    * future yields None on a confirmed kill, else why the run is
    * inconclusive; every wait in it is bounded, so it always completes. */
  private[graft] def killExecutor(sc: SparkContext, waitSec: Int)(ready: => Boolean)
      : Future[Option[String]] = {
    val before = sc.statusTracker.getExecutorInfos.length // incl. driver
    Future {
      try {
        val deadline = System.nanoTime() + waitSec * 1000000000L
        var ok = ready
        while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = ready }
        if (!ok) Some(s"saboteur never saw the ready condition within ${waitSec}s")
        else {
          val rc = new ProcessBuilder("pkill", "-o", "-9", "-f",
            "CoarseGrainedExecutorBackend").inheritIO().start().waitFor()
          if (rc != 0) Some(s"pkill exit $rc (no executor process matched)")
          else {
            // executor death is asynchronous from the driver's view
            val lossDeadline = System.nanoTime() + 60L * 1000000000L
            while (sc.statusTracker.getExecutorInfos.length >= before &&
                   System.nanoTime() < lossDeadline) Thread.sleep(100)
            if (sc.statusTracker.getExecutorInfos.length < before) None
            else Some("driver never observed the executor loss")
          }
        }
      } catch { case e: Throwable => Some(e.toString) }
    }(ExecutionContext.global)
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

      val before = sc.statusTracker.getExecutorInfos.length
      val kill = killExecutor(sc, 120)(activeTasks(sc) > 0)
      val got = digest(fn(spark, sfDir))
      Await.result(kill, Duration.Inf) match {
        case Some(err) =>
          System.err.println(s"[fault] $name: kill NOT confirmed ($err) — run is inconclusive")
          failures += 1
        case None if got != expected =>
          System.err.println(s"[fault] $name: MISMATCH after executor loss: got hash=${got._1} rows=${got._3}")
          failures += 1
        case None =>
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
