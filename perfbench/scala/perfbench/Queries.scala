package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query workload: each measured operation is one registered query,
  * `SparkEntry.queries(name)(spark, dir)` built and written to the `noop`
  * sink as `graft.Bench` does.
  */
object Queries {

  /** The frozen cross-round subset. */
  val headline: Seq[String] = graft.PlanDump.headline

  private def artifactRoots: Seq[File] =
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft_")).toSeq

  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def run(ctx: Ctx, names: Seq[String]): Unit = {
    val spark = ctx.spark
    val tr = ctx.tr
    val all = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    // Every query's result is written to `verify` for run.py to compare
    // with its oracle SQL: the cold first call of setup as `<name>`, the
    // warm second call as `<name>~warm`.
    val verifyDir = new File(ctx.o.work, "verify")
    verifyDir.mkdirs()
    Json.write(new File(verifyDir, "oracle_sql.json"), names.filter(oracle.contains)
      .flatMap(n => Seq(n -> oracle(n), s"$n~warm" -> oracle(n))).toMap)
    def writeResult(n: String, suffix: String): Unit =
      all(n)(spark, ctx.o.data).coalesce(1).write.mode("overwrite")
        .parquet(new File(verifyDir, s"$n$suffix.parquet").getPath)
    def attempt(n: String, stage: String)(body: => Unit): Unit = {
      ctx.attempted += 1
      try body
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) => ctx.fail(s"$n $stage: $e")
      } finally cleanup(spark)
    }

    // Setup, on a fresh artifact root: the first call of every query, cold.
    val builders = mutable.ArrayBuffer.empty[String]
    ctx.setup {
      names.foreach { n =>
        val before = Probes.files(artifactRoots)
        val t = System.nanoTime()
        attempt(n, "setup") { tr.span("artifacts", n) { writeResult(n, "") } }
        ctx.once(s"artifacts.build_s.$n") = (System.nanoTime() - t) / 1e9
        if (Probes.files(artifactRoots) != before) builders += n
      }
    }
    ctx.info("artifact_builders") = builders.toSeq
    val missing = names.filterNot(oracle.contains)
    missing.foreach(n => ctx.fail(s"$n has no oracle SQL"))
    ctx.attempted += missing.size
    val afterSetup = Probes.files(artifactRoots)
    ctx.once("artifacts.files") = afterSetup.size.toDouble
    ctx.once("artifacts.bytes") = afterSetup.values.map(_._1).sum.toDouble

    // The measured passes write to noop. Before them every query runs once
    // more, untimed, into `~warm` results for the oracle check: its second
    // call takes the warm path the passes time, artifact reuse included
    // (`artifacts.rebuilds` shows the passes leave the artifact roots as
    // they were), and it is also the JIT warm-up for the passes.
    names.foreach(n => attempt(n, "warm check") { writeResult(n, "~warm") })
    ctx.measure(minPasses = 2) { p =>
      val order = new scala.util.Random(ctx.o.seed * 1000003L + p).shuffle(names)
      order.foreach { n =>
        attempt(n, s"pass $p") {
          val t = System.nanoTime()
          tr.span("bench", n) { runOne(ctx, n, all(n)) }
          ctx.op(n, (System.nanoTime() - t) / 1e9)
        }
      }
    }

    val after = Probes.files(artifactRoots)
    ctx.once("artifacts.rebuilds") =
      (after.keySet ++ afterSetup.keySet).count(k => after.get(k) != afterSetup.get(k)).toDouble
    ctx.info("queries") = names
  }

  /** One measured query. Traced, it is split into the operator call, a
    * forced physical plan, and the execution, each under its own job group.
    */
  private def runOne(ctx: Ctx, n: String, fn: (SparkSession, String) => DataFrame): Unit = {
    val tr = ctx.tr
    ctx.enter(s"$n/build")
    val tb = System.nanoTime()
    val df = tr.span("operators", n) { fn(ctx.spark, ctx.o.data) }
    ctx.call("operators.build_s", (System.nanoTime() - tb) / 1e9)
    if (ctx.traced) {
      ctx.enter(s"$n/plan")
      val tp = System.nanoTime()
      tr.span("plans", n) { df.queryExecution.executedPlan }
      ctx.call("plans.plan_s", (System.nanoTime() - tp) / 1e9)
      ctx.qe.foreach(_.seen.clear())
    }
    ctx.enter(s"$n/exec")
    tr.span("exec", n) { df.write.format("noop").mode("overwrite").save() }
    if (ctx.traced) {
      ctx.drain()
      ctx.qe.flatMap(_.takeLast()).foreach { qe =>
        val w = Probes.planWork(qe)
        ctx.add("plans.agg_time_s", w.aggSeconds)
        ctx.add("plans.join_rows", w.joinRows.toDouble)
        ctx.add("plans.out_rows", w.outRows.toDouble)
      }
    }
  }
}
