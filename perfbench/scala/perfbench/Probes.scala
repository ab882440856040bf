package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `run` groups the spans of one
  * pass (or of setup); `parent` is the enclosing span's id, -1 at a root.
  */
final case class Span(id: Int, parent: Int, run: String, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` only runs its body, so an
  * untraced pass pays nothing for it.
  */
final class Trace(var on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var run = "setup"

  def inRun[T](id: String)(body: => T): T = { run = id; body }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, run, layer, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Self seconds per layer within one run: each span's duration minus
    * the part of it its direct children cover.
    */
  def selfSeconds(runId: String): Map[String, Double] = {
    val mine = spans.filter(_.run == runId)
    val childNs = mine.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    mine.groupBy(_.layer).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  def writeJsonl(f: File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"run":${Json.str(s.run)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark work done under one job group. */
final class Work {
  val jobs, stages, tasks, taskFailures = new AtomicLong
  val shuffleWrite, shuffleRead, spill, cpuNs, runMs = new AtomicLong
  val peakMem = new AtomicLong
}

/** Benchmark-owned listener: attributes jobs, stages and task metrics to
  * the job group that launched them. Jobs started from threads that do not
  * inherit the group (pool threads) fall back to `current`, which the
  * harness only changes after draining the bus, so attribution is exact
  * while one query or stage runs at a time.
  */
final class WorkListener extends SparkListener {
  @volatile var current: String = "setup"
  private val stageGroup = new ConcurrentHashMap[Int, String]
  val byGroup = new ConcurrentHashMap[String, Work]

  private def work(g: String): Work = byGroup.computeIfAbsent(g, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(current)
    e.stageIds.foreach(stageGroup.put(_, g))
    work(g).jobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    work(stageGroup.getOrDefault(e.stageInfo.stageId, current)).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(stageGroup.getOrDefault(e.stageId, current))
    w.tasks.incrementAndGet()
    if (e.reason != Success) w.taskFailures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      w.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      w.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      w.cpuNs.addAndGet(m.executorCpuTime)
      w.runMs.addAndGet(m.executorRunTime)
      w.peakMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
  }

  /** Work summed over every group whose id starts with `prefix`. */
  def sum(prefix: String, suffix: String = ""): Map[String, Double] = {
    val ws = byGroup.asScala.collect {
      case (g, w) if g.startsWith(prefix) && g.endsWith(suffix) => w
    }
    def total(f: Work => AtomicLong) = ws.map(f(_).get.toDouble).sum
    Map(
      "jobs" -> total(_.jobs), "stages" -> total(_.stages), "tasks" -> total(_.tasks),
      "task_failures" -> total(_.taskFailures),
      "shuffle_write_bytes" -> total(_.shuffleWrite),
      "shuffle_read_bytes" -> total(_.shuffleRead),
      "spill_bytes" -> total(_.spill),
      "executor_cpu_s" -> total(_.cpuNs) / 1e9,
      "executor_run_s" -> total(_.runMs) / 1e3,
      "peak_exec_mem_bytes" -> ws.map(_.peakMem.get.toDouble).foldLeft(0.0)(math.max))
  }
}

/** Captures the executed QueryExecution of every successful action, so the
  * final adaptive plan and its SQL metrics can be read after the action.
  */
final class QeCapture extends QueryExecutionListener {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def takeLast(): Option[QueryExecution] = {
    val all = seen.asScala.toList
    seen.clear()
    all.lastOption
  }
}

object Probes {

  /** Flush the listener bus (`listenerBus.waitUntilEmpty`, reached by
    * reflection because it is private to Spark), so every event of the
    * actions already run has been delivered before counters are read.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus")
      .getOrElse(sys.error("SparkContext.listenerBus not found")).invoke(sc)
    val m = bus.getClass.getMethods.find(_.getName == "waitUntilEmpty")
      .getOrElse(sys.error("LiveListenerBus.waitUntilEmpty not found"))
    if (m.getParameterCount == 0) m.invoke(bus)
    else m.invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** Every node of an executed plan: the final adaptive plan, the plans
    * inside query stages, and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, key: String): Option[Long] = p.metrics.get(key).map(_.value)

  /** Plan-layer numbers of one executed action: aggregate build seconds,
    * rows produced by join nodes, and rows the query returned (the first
    * node from the root that counts its output rows).
    */
  final case class PlanWork(aggSeconds: Double, joinRows: Long, outRows: Long)

  def planWork(qe: QueryExecution): PlanWork = {
    val all = nodes(qe.executedPlan)
    val agg = all.filter(_.nodeName.contains("Aggregate")).flatMap { n =>
      n.metrics.get("aggTime").map { m =>
        if (m.metricType == "nsTiming") m.value / 1e9 else m.value / 1e3
      }
    }.sum
    val joins = all.filter(n => n.nodeName.contains("Join") || n.nodeName.contains("Cartesian"))
      .flatMap(metric(_, "numOutputRows")).sum
    val out = all.iterator.flatMap(metric(_, "numOutputRows")).nextOption().getOrElse(0L)
    PlanWork(agg, joins, out)
  }

  /** Path -> (size, mtime) of every regular file under `roots`, for
    * detecting writes between two points.
    */
  def files(roots: Seq[File]): Map[String, (Long, Long)] =
    roots.filter(_.exists).flatMap { r =>
      val s = java.nio.file.Files.walk(r.toPath)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> (p.toFile.length, p.toFile.lastModified)).toList
      finally s.close()
    }.toMap

  /** Data files (not `_SUCCESS`/`.crc` bookkeeping) new or changed between
    * two snapshots: (count, bytes).
    */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val data = after.filter { case (p, v) =>
      val n = new File(p).getName
      !n.startsWith("_") && !n.startsWith(".") && !before.get(p).contains(v)
    }
    (data.size.toLong, data.values.map(_._1).sum)
  }
}
