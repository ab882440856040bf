package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.{GraftSparkBridge, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The one per-query lifecycle behind every entry point that runs
  * registered queries: `Bench`, `Verify`, and the modes of this object's
  * `main`.
  *
  * A run names its Spark jobs after the query (job group id and
  * description), times the sink, and always frees the session's cached
  * relations and persisted RDDs afterwards, so 300+ queries in one session
  * neither squeeze each other's execution memory nor leak state into the
  * next query. Work counters come from one listener keyed by job group and
  * are read after a deterministic listener-bus drain.
  *
  * Usage: runMain graft.QueryRun <mode> <sfDir> <names> [out]
  *  - `profile`: per query, one warm run, then per-job and per-stage rows
  *    of a second run (which operator the time goes to, with the UI off)
  *    and the number of classes that run compiled, 0 when the codegen
  *    cache still holds everything the warm run generated;
  *  - `shuffle`: one markdown row per query of shuffle write/read and spill
  *    MB from real task metrics (SCALE.md "Measured shuffle volumes");
  *  - `plans`: formatted physical plans, one section per query, written to
  *    `out` (default `PLANS.md`).
  *
  * `names` is a comma list; `headline` and `audit` expand to PlanDump's lists.
  */
object QueryRun {

  /** Consumes a built frame; the name keys outputs written per query. */
  type Sink = (String, DataFrame) => Unit

  /** Every column is computed and serialized, nothing is written — unlike
    * count(), which lets Catalyst prune the whole projection and would time
    * only the scan.
    */
  val noop: Sink = (_, df) => df.write.format("noop").mode("overwrite").save()

  /** Verify's sink: one single-file `<outDir>/<name>.parquet` per query. */
  def parquet(outDir: String): Sink = (name, df) =>
    df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

  final case class Record(name: String, seconds: Double, error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
  }

  /** Builds `frame` and sinks it with every job it launches grouped under
    * `name`. The time covers build and sink; cleanup runs even when either
    * throws, and a failure is returned, never thrown.
    */
  def run(spark: SparkSession, name: String, frame: => DataFrame, sink: Sink): Record = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    def record(error: Option[Throwable]) = Record(name, (System.nanoTime() - t0) / 1e9, error)
    try { sink(name, frame); record(None) }
    catch { case e: Throwable => record(Some(e)) }
    finally {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      sc.clearJobGroup()
    }
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** [[run]] for a registered query on the tables under `sfDir`. */
  def runQuery(spark: SparkSession, sfDir: String, name: String, sink: Sink): Record =
    run(spark, name, queries(name)(spark, sfDir), sink)

  /** The registered names a comma list selects, in order and without
    * repeats. Unknown names fail fast: a typo would otherwise silently
    * omit the query and misread as "removed" or "improved".
    */
  def select(spec: String): Seq[String] = {
    val names = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq.flatMap {
      case "headline" => PlanDump.headline
      case "audit" => PlanDump.audit
      case name => Seq(name)
    }.distinct
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"queries not registered: ${unknown.mkString(", ")}")
    names
  }

  /** Spark work of one job group; `peakMem` is the largest peak execution
    * memory of any single task.
    */
  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
      cpuNs: Long = 0, peakMem: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill,
      cpuNs + o.cpuNs, math.max(peakMem, o.peakMem))
  }

  final case class JobRow(group: String, id: Int, ms: Long, description: String)
  final case class StageRow(group: String, id: Int, name: String, wallMs: Long, work: Work)

  /** The one counting listener. Every job, stage and task is billed to the
    * `spark.jobGroup.id` of the job that submitted it ("" when none), so a
    * late event of one query never lands on the next. Every read drains
    * the listener bus first.
    */
  final class Counters private[QueryRun] (sc: SparkContext) extends SparkListener {
    private val byGroup = mutable.Map[String, Work]()
    private val byStage = mutable.Map[Int, (String, Work)]()
    private val started = mutable.Map[Int, (String, Long, String)]()
    private val jobRows = mutable.ArrayBuffer[JobRow]()
    private val stageRows = mutable.ArrayBuffer[StageRow]()

    private def prop(p: java.util.Properties, key: String): String =
      Option(p).flatMap(p => Option(p.getProperty(key))).getOrElse("")
    private def group(p: java.util.Properties): String = prop(p, "spark.jobGroup.id")
    private def bill(g: String, w: Work): Unit = byGroup(g) = byGroup.getOrElse(g, Work()) + w

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started(e.jobId) = (group(e.properties), e.time, prop(e.properties, "spark.job.description"))
      bill(group(e.properties), Work(jobs = 1))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (g, t0, desc) =>
        jobRows += JobRow(g, e.jobId, e.time - t0, desc)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      byStage.getOrElseUpdate(e.stageInfo.stageId, (group(e.properties), Work())): Unit
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val w = if (m == null) Work(tasks = 1) else Work(tasks = 1,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        cpuNs = m.executorCpuTime, peakMem = m.peakExecutionMemory)
      val (g, stageWork) = byStage.getOrElse(e.stageId, ("", Work()))
      byStage(e.stageId) = (g, stageWork + w)
      bill(g, w)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val (g, w) = byStage.getOrElse(si.stageId, ("", Work()))
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
        .getOrElse(-1L)
      stageRows += StageRow(g, si.stageId, si.name, wall, w + Work(stages = 1))
      bill(g, Work(stages = 1))
    }

    private def read[T](body: => T): T = {
      GraftSparkBridge.waitUntilEmpty(sc)
      synchronized(body)
    }
    def of(group: String): Work = read(byGroup.getOrElse(group, Work()))
    def total: Work = read(byGroup.values.foldLeft(Work())(_ + _))
    def jobs(group: String): Seq[JobRow] = read(jobRows.filter(_.group == group).toSeq)
    def stages(group: String): Seq[StageRow] = read(stageRows.filter(_.group == group).toSeq)
  }

  /** Generated classes compiled so far in this JVM, on the driver and on
    * local-mode executor threads alike; a cache hit compiles nothing.
    */
  def classesCompiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` with fresh [[Counters]] on the session's listener bus. */
  def watch[T](spark: SparkSession)(body: Counters => T): T = {
    val c = new Counters(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    try body(c) finally spark.sparkContext.removeSparkListener(c)
  }

  /** One PLANS.md section: the frame's formatted physical plan under its name. */
  private def planSection(name: String, df: DataFrame): String =
    s"\n## $name\n\n```\n${df.queryExecution.explainString(FormattedMode)}```\n"

  // two decimals: pruned-column scans and partial-agg shuffles are often
  // tens of KB — the point of the shuffle audit is that they are NOT MBs
  private def mb(b: Long): String = f"${b / 1048576.0}%.2f"

  private def profile(r: Record, c: Counters, compiled: Long): Unit = {
    val w = c.of(r.name)
    println(f"== ${r.name}: ${r.seconds}%.3f s, $compiled classes compiled, " +
      f"${w.jobs} jobs, ${w.stages} stages, " +
      f"${w.tasks} tasks, cpu ${w.cpuNs / 1e9}%.2f s, sw ${mb(w.shuffleWrite)} MB, " +
      s"sr ${mb(w.shuffleRead)} MB, spill ${mb(w.spill)} MB, peak task mem ${mb(w.peakMem)} MB")
    c.jobs(r.name).sortBy(-_.ms).take(30).foreach { j =>
      println(f"  job ${j.id}%4d ${j.ms}%6d ms  ${j.description}")
    }
    println("  -- stages by wall ms --")
    c.stages(r.name).sortBy(-_.wallMs).take(30).foreach { s =>
      println(f"  stage ${s.id}%4d wall=${s.wallMs}%6d ms cpu=${s.work.cpuNs / 1000000}%7d ms " +
        f"tasks=${s.work.tasks}%3d sr=${mb(s.work.shuffleRead)}%8s MB " +
        f"sw=${mb(s.work.shuffleWrite)}%8s MB  ${s.name.take(110)}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("profile", "shuffle", "plans")(args(0)),
      "usage: QueryRun profile|shuffle|plans <sfDir> <names> [out]")
    val Array(mode, sfDir, spec) = args.take(3)
    val names = select(spec)
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    def once(name: String, sink: Sink): Record = {
      val r = runQuery(spark, sfDir, name, sink)
      r.error.foreach(e => System.err.println(s"[$mode] $name failed: ${e.getMessage}"))
      r
    }
    val records = mode match {
      case "profile" => names.map { name =>
        once(name, noop)
        watch(spark) { c =>
          val n0 = classesCompiled()
          val r = once(name, noop)
          profile(r, c, classesCompiled() - n0)
          r
        }
      }
      case "shuffle" =>
        println("| query | shuffle write MB | shuffle read MB | spill MB |")
        println("|---|---|---|---|")
        watch(spark) { c => names.map { name =>
          val r = once(name, noop)
          val w = c.of(name)
          println(s"| $name | ${mb(w.shuffleWrite)} | ${mb(w.shuffleRead)} | ${mb(w.spill)} |")
          r
        } }
      case "plans" =>
        val out = args.lift(3).getOrElse("PLANS.md")
        val sb = new StringBuilder(s"# Physical plans ($spec, $sfDir)\n\n" +
          "Generated by `graft.QueryRun plans`. Things to check per plan: " +
          "broadcasts on dimension sides, PushedFilters reaching the scan, " +
          "ReadSchema pruned to used columns, one exchange per semantic shuffle.\n")
        val rs = names.map(once(_, (name, df) => sb.append(planSection(name, df)): Unit))
        Files.writeString(Paths.get(out), sb.toString)
        println(s"[plans] wrote $out")
        rs
    }
    spark.stop()
    val failed = records.filterNot(_.ok).map(_.name)
    require(failed.isEmpty, s"failed: ${failed.mkString(", ")}")
  }
}
