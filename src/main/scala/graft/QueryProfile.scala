package graft

/** Per-query cost decomposition for the optimization rounds: for each named
  * query, REPS repetitions of (build → resolve the executed plan → noop
  * write), timing the plan/codegen-prep phase and the execution phase
  * separately. Tells you whether a slow bench number is Catalyst planning,
  * whole-stage-codegen compilation (first-rep exec vs later reps), or real
  * data movement — guide §1 "measure first", §7.3 "driver-side work".
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.QueryProfile text_winnowing basket_pairs"
  *
  * Emits one line per query: plan_ms (median), exec_ms per rep (first rep
  * carries codegen compile), all after the same warm-up Bench performs.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val spark = Session.start(Some(sfDir))
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    graft.operators.Warm.all(spark, sfDir)

    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    println(f"${"query"}%-26s plan_ms  exec_ms(reps)")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val planMs = scala.collection.mutable.ArrayBuffer[Long]()
      val execMs = scala.collection.mutable.ArrayBuffer[Long]()
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan // analysis + optimization + physical planning
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        planMs += (t1 - t0) / 1000000
        execMs += (t2 - t1) / 1000000
      }
      println(f"$name%-26s ${planMs.sorted.apply(reps / 2)}%7d  ${execMs.mkString(" ")}")
      if (sys.env.get("SPARK_GRAFT_PROFILE_METRICS").contains("1")) {
        // final (post-AQE) plan of the LAST rep with its SQLMetrics — the
        // per-operator time/row attribution the UI would show (guide §7.1,
        // headless). The noop write runs its OWN QueryExecution, so the
        // executed plan is captured via a QueryExecutionListener (the
        // listener bus is async — drained below). Only time-like metrics
        // above 50 ms are printed.
        @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
          // only the noop write's own QE (funcName "save") — intermediate
          // actions inside query construction (Memo builds, checkpoint
          // jobs) also fire onSuccess and would be walked instead (r14
          // ADVICE)
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
            if (funcName == "save") lastQe = qe
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        var waited = 0
        while (lastQe == null && waited < 5000) { Thread.sleep(100); waited += 100 }
        spark.listenerManager.unregister(listener)
        def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
          val interesting = p.metrics.toSeq
            .filter { case (_, m) =>
              (m.metricType == "timing" || m.metricType == "nsTiming") && m.value > 50 }
            .map { case (k, m) =>
              val ms = if (m.metricType == "nsTiming") m.value / 1000000 else m.value
              s"$k=${ms}ms" }
          val rows = p.metrics.get("numOutputRows").map(m => s"rows=${m.value}")
          if (interesting.nonEmpty || rows.nonEmpty)
            println("  " * (depth + 1) + p.nodeName + ": " +
              (interesting ++ rows).mkString(", "))
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              walk(a.executedPlan, depth + 1)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              walk(q.plan, depth + 1)
            case other => other.children.foreach(walk(_, depth + 1))
          }
        }
        if (lastQe != null) walk(lastQe.executedPlan, 0)
      }
    }
    spark.stop()
  }
}
