package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary; the trace file stamps every span
  * with its tracer's `runId`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Tracing for the per-layer run: spans recorded by the benchmark around
  * its calls into each engine module, plus counts from a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener. Everything stays in
  * memory until [[write]]. */
final class Tracer(val runId: String, cores: Int) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0
  private val t0 = System.nanoTime()
  val notes = mutable.LinkedHashMap[String, Any]()

  def span[T](name: String)(f: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val s = System.nanoTime()
    try f
    finally {
      val e = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, parent, name, s, e) }
    }
  }

  /** Runs `f` with its Spark jobs tagged as `layer`, so task statistics
    * can be read per layer. */
  def tagged[T](spark: SparkSession, layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.LayerKey)
    sc.setLocalProperty(Tracer.LayerKey, layer)
    try span(layer)(f) finally sc.setLocalProperty(Tracer.LayerKey, prev)
  }

  def spanMs(name: String): Double = synchronized {
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
  }

  /** Self time per span name: duration minus the union of its children. */
  def selfMs: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        iv.foreach { case (a, b) =>
          val lo = math.max(a, end)
          if (b > lo) { covered += b - lo; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  // ---- Spark scheduler counts ---------------------------------------------
  private[perfbench] object sched extends SparkListener {
    var jobs, stages, tasks = 0L
    var runMs, gcMs, shuffleRead, shuffleWrite, spill, bytesRead, recordsRead = 0L
    val stageLayer = mutable.HashMap[Int, String]()
    val stageTasks = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    val layerTasks = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerKey)))
      layer.foreach(l => e.stageIds.foreach(stageLayer(_) = l))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val d = e.taskInfo.duration
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += d
      stageLayer.get(e.stageId).foreach(l => layerTasks.getOrElseUpdate(l, mutable.ArrayBuffer()) += d)
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime; gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        bytesRead += m.inputMetrics.bytesRead
        recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  // ---- query planning ------------------------------------------------------
  private object walk extends AdaptiveSparkPlanHelper
  private def exchanges(p: SparkPlan): Int = p match {
    case c: CommandResultExec => exchanges(c.commandPhysicalPlan)
    case _ => walk.collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
  }

  private[perfbench] object plans extends QueryExecutionListener {
    var exchangesSum = 0L
    var planMs, execMs = 0.0
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val pm = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val ex = exchanges(qe.executedPlan)
      synchronized { planMs += pm; execMs += durationNs / 1e6; exchangesSum += ex }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- streaming progress --------------------------------------------------
  private[perfbench] object stream extends StreamingQueryListener {
    val progress = mutable.ArrayBuffer[(Long, Long, Map[String, Long])]() // (arrivalMs, rows, durations)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      synchronized { progress += ((System.currentTimeMillis(), p.numInputRows, d)) }
    }
  }

  private var codegen0 = 0L
  private var attachedAt = 0L

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(plans)
    spark.streams.addListener(stream)
    codegen0 = CodeGenerator.compileTime
    attachedAt = System.nanoTime()
  }

  /** Detaches the listeners after every posted event has been delivered;
    * returns the traced wall time in seconds. */
  def detach(spark: SparkSession): Double = {
    val wall = (System.nanoTime() - attachedAt) / 1e9
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sched)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(stream)
    notes("codegen_ms") = (CodeGenerator.compileTime - codegen0) / 1e6
    notes("traced_wall_s") = wall
    wall
  }

  /** Per-layer numbers this tracer measured itself (spark, plans). Work
    * counts are divided by `units`, the jobs or query passes the traced
    * phase completed, so they do not grow with a faster engine. */
  def sparkLayers(wallS: Double, units: Double): Map[String, Double] = sched.synchronized {
    val u = math.max(1.0, units)
    val skews = sched.stageTasks.values.filter(_.size >= 2).map { ds =>
      val med = Stats.median(ds.map(_.toDouble).toSeq)
      if (med > 0) ds.max / med else 1.0
    }.toSeq
    Map(
      "spark.jobs" -> sched.jobs.toDouble / u,
      "spark.stages" -> sched.stages.toDouble / u,
      "spark.tasks" -> sched.tasks.toDouble / u,
      "spark.core_busy_ratio" -> (if (wallS > 0) sched.runMs / 1e3 / (wallS * cores) else 0.0),
      "spark.task_skew" -> Stats.median(skews),
      "spark.gc_ms" -> sched.gcMs.toDouble / u,
      "spark.shuffle_read_bytes" -> sched.shuffleRead.toDouble / u,
      "spark.shuffle_write_bytes" -> sched.shuffleWrite.toDouble / u,
      "spark.spill_bytes" -> sched.spill.toDouble / u,
      "plans.plan_ms_sum" -> plans.planMs / u,
      "plans.codegen_ms" -> notes.getOrElse("codegen_ms", 0.0).asInstanceOf[Double] / u,
      "plans.exchanges_sum" -> plans.exchangesSum.toDouble / u)
  }

  def layerTaskMs(layer: String): Seq[Double] = sched.synchronized {
    sched.layerTasks.get(layer).map(_.map(_.toDouble).toSeq).getOrElse(Nil)
  }
  def inputBytes: Long = sched.synchronized(sched.bytesRead)
  def inputRecords: Long = sched.synchronized(sched.recordsRead)
  def streamProgress: Seq[(Long, Long, Map[String, Long])] = stream.synchronized(stream.progress.toSeq)

  /** Writes spans (with derived self time) and notes as one JSON file. */
  def write(path: java.nio.file.Path, header: Seq[(String, Any)]): Unit = {
    val ss = synchronized(spans.toVector).sortBy(_.startNs)
    val body = Json.obj(header: _*) ++ Json.obj(
      "notes" -> notes,
      "self_ms" -> Json.obj(selfMs.toSeq.sortBy(_._1): _*),
      "spans" -> ss.map(s => Json.obj("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, Json(body) + "\n")
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"
}
