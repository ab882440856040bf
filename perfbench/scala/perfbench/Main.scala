package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: builds one session, runs one workload's
  * setup and measured passes against graft's public entry points, and
  * writes what it measured as JSON for `perfbench/run.py`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --data <fixture dir> --work <scratch dir>
  *   --out <result.json> --input-rows <n> [--smoke]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, data: String, work: String, out: String,
                        inputRows: Long, smoke: Boolean)

  /** Measured passes stop starting once this much time has gone by, so a
    * slow box still finishes inside the run's time limit.
    */
  val PassBudgetS = 60.0

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--cores").toInt, get("--data"), get("--work"),
      get("--out"), kv.getOrElse("--input-rows", "0").toLong, args.contains("--smoke"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val tr = new Trace(o.trace)
    val t0 = System.nanoTime()
    val spark = tr.span("sessions", "Sessions.base") {
      graft.Sessions.base(s"local[${o.cores}]", o.cores)
    }
    val startS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, o, tr)
    try {
      o.workload match {
        case "etl_backfill" => Etl.run(ctx)
        case "olap_headline" => Queries.run(ctx, Queries.headline)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        ctx.fail(s"workload aborted: $e")
    }
    spark.stop()
    tr.writeJsonl(new File(o.work, "spans.jsonl"))
    Json.write(new File(o.out), ctx.result(startS))
  }
}

/** Shared state of one run: options, the session, the probes, and what
  * the workload has measured so far.
  */
final class Ctx(val spark: SparkSession, val o: Main.Opts, val tr: Trace) {
  val work: Option[WorkListener] = if (o.trace) Some(new WorkListener) else None
  val qe: Option[QeCapture] = if (o.trace) Some(new QeCapture) else None

  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Setup seconds after the session exists: JIT warm-up, artifact builds. */
  var setupS = 0.0
  var genS = 0.0
  /** Input rows one pass consumes, for `rows_per_s`. */
  var inputRows: Long = o.inputRows
  /** Latency of every operation in a timed pass, by name. */
  val ops = mutable.ArrayBuffer.empty[(String, Double)]
  final case class PassRec(pass: Int, traced: Boolean, warmup: Boolean, seconds: Double,
                           cpuSeconds: Double)
  val passes = mutable.ArrayBuffer.empty[PassRec]
  /** Per-call layer samples, pooled over traced passes; reported as medians. */
  val calls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-pass layer totals of traced passes; reported as medians over passes. */
  val perPass = mutable.Map.empty[Int, mutable.Map[String, Double]]
  /** Layer values measured once per run (setup, inputs). */
  val once = mutable.Map.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private var tracing = false
  private var pass = -1
  private var warmupPasses = 0

  def traced: Boolean = tracing

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Layer samples come from traced measured passes only, never setup. */
  private def sampling = tracing && pass >= 0

  /** Whether the current pass is an untimed warm-up pass. */
  private def warmup: Boolean = pass >= 0 && pass < warmupPasses

  /** Whether the current pass's times count: a measured pass that is
    * neither traced nor a warm-up pass.
    */
  def timed: Boolean = !tracing && pass >= 0 && !warmup

  /** One operation's latency, kept from timed passes only. */
  def op(name: String, seconds: Double): Unit = if (timed) ops += name -> seconds

  def call(name: String, v: Double): Unit =
    if (sampling) calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def add(name: String, v: Double): Unit =
    if (sampling) {
      val m = perPass.getOrElseUpdate(pass, mutable.Map.empty)
      m(name) = m.getOrElse(name, 0.0) + v
    }

  /** Attribute the Spark jobs that follow to `group` (traced passes only). */
  def enter(group: String): Unit =
    if (tracing) {
      Probes.drain(spark)
      work.foreach(_.current = s"p$pass/$group")
      spark.sparkContext.setJobGroup(s"p$pass/$group", group, interruptOnCancel = false)
    }

  def drain(): Unit = if (tracing) Probes.drain(spark)

  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    val sc = spark.sparkContext
    if (on) {
      work.foreach(sc.addSparkListener)
      qe.foreach(spark.listenerManager.register)
    } else {
      Probes.drain(spark)
      work.foreach(sc.removeSparkListener)
      qe.foreach(spark.listenerManager.unregister)
      sc.clearJobGroup()
    }
    tracing = on
    tr.on = on
  }

  /** Run untimed-by-the-caller setup under the trace and time it. */
  def setup(body: => Unit): Unit = {
    setTracing(o.trace)
    val t = System.nanoTime()
    tr.inRun("setup") { body }
    setupS += (System.nanoTime() - t) / 1e9
    System.err.println(f"[perfbench] setup done: $setupS%.2f s")
  }

  /** Passes: first `warmups` untimed passes, left out of every figure, for
    * a workload whose setup leaves the JIT still warming; then measured
    * passes until `--seconds` have gone by, at least `minPasses` (one in
    * smoke mode). With `--trace 1` measured passes run traced, untraced,
    * untraced, traced, and so on, so the run also yields tracing overhead
    * between warm passes, with a steady warming trend cancelled out; such
    * a run makes two measured passes more.
    * `after` runs once per pass outside its timing (output checks).
    */
  def measure(minPasses: Int, warmups: Int = 0, after: Int => Unit = _ => ())
             (body: Int => Unit): Unit = {
    warmupPasses = warmups
    var t0 = System.nanoTime()
    def el = (System.nanoTime() - t0) / 1e9
    val least = warmups + (if (o.smoke) 1 else minPasses) + (if (o.trace) 2 else 0)
    var p = 0
    while ((p < least || el < o.seconds) && el < Main.PassBudgetS) {
      pass = p
      if (p == warmups) t0 = System.nanoTime()
      setTracing(o.trace && p >= warmups && Set(0, 3)((p - warmups) % 4))
      val s = System.nanoTime()
      val c = Stats.processCpuNs()
      tr.inRun(s"p$p") { tr.span("bench", s"pass $p") { body(p) } }
      val wall = (System.nanoTime() - s) / 1e9
      val cpu = (Stats.processCpuNs() - c) / 1e9
      drain()
      passes += PassRec(p, tracing, warmup, wall, cpu)
      if (tracing) {
        val w = work.get.sum(s"p$p/")
        w.foreach { case (k, v) if k != "executor_run_s" => add(s"exec.$k", v); case _ => () }
        add("exec.busy_ratio", w("executor_run_s") / (wall * o.cores))
        add("operators.build_jobs", work.get.sum(s"p$p/", "/build")("jobs"))
        val m = perPass.getOrElseUpdate(p, mutable.Map.empty)
        m.get("plans.out_rows").filter(_ > 0).foreach { out =>
          m("plans.rows_examined_per_row_out") = m.getOrElse("plans.join_rows", 0.0) / out
        }
        tr.selfSeconds(s"p$p").foreach { case (layer, v) => add(s"self_s.$layer", v) }
      }
      tr.inRun("check") { after(p) }
      p += 1
    }
    setTracing(false)
    System.err.println(s"[perfbench] measured ${passes.size} passes: " +
      passes.map(p => f"${p.seconds}%.2f").mkString(" "))
  }

  def result(startS: Double): Map[String, Any] = {
    val untraced = passes.filterNot(p => p.traced || p.warmup).map(_.seconds).toSeq
    val traced = passes.filter(_.traced).map(_.seconds).toSeq
    // JIT compilation, GC and CPU taken by other tenants only ever slow a
    // pass down, so the fastest timed pass is the steadiest estimate of
    // the warm cost of one
    val wall = if (untraced.isEmpty) 0.0 else untraced.min
    val lat = ops.map(_._2).toSeq
    val (tail, tailPct) = Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> (startS + setupS),
      "wall_s" -> wall,
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tail,
      "rows_per_s" -> (if (wall > 0) inputRows / wall else 0.0))
    val layer = mutable.Map.empty[String, Double]
    layer ++= once
    layer("sessions.start_s") = startS
    calls.foreach { case (k, xs) => layer(k) = Stats.median(xs.toSeq) }
    perPass.values.flatMap(_.keys).toSet.foreach { (k: String) =>
      layer(k) = Stats.median(perPass.values.map(_.getOrElse(k, 0.0)).toSeq)
    }
    if (traced.nonEmpty && untraced.nonEmpty)
      layer("trace.overhead_s") = Stats.median(traced) - Stats.median(untraced)
    info("passes") = passes.map(p =>
      Map("pass" -> p.pass, "traced" -> p.traced, "warmup" -> p.warmup, "s" -> p.seconds,
        "cpu_s" -> p.cpuSeconds))
    info("ops") = ops.size
    info("op_s") = ops.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    info("op_tail_percentile") = tailPct
    info("op_tail_n") = lat.size
    info("gen_s") = genS
    Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "e2e" -> e2e, "layer" -> layer.toMap, "info" -> info.toMap)
  }
}

object Stats {
  /** CPU time of this JVM, every thread, so far. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest sample with at least ten samples above it, and its
    * percentile rank; the maximum when there are ten or fewer samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted
      val i = math.max(s.size - 11, 0)
      val at = if (s.size > 10) i else s.size - 1
      (s(at), 100.0 * (at + 1) / s.size)
    }
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and string-keyed maps).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(f: File, v: Any): Unit =
    java.nio.file.Files.writeString(f.toPath, render(v) + "\n")
}
