package graft

import java.time.LocalDate

import graft.pipeline.{BatchContext, BatchRunner, Pipeline, RetryPolicy,
  RunTimeoutException, Stage, Warehouse}

/** Retry / timeout semantics of the backfill runner — the reference's
  * `retries: 1, retry_delay: 5 minutes` per task and 20-minute
  * `dagrun_timeout` (`dags/airflow_monitoring.py:9-10,18`), exercised with
  * an injected clock/sleep so no test ever waits on the wall clock.
  */
class BatchRunnerSpec extends SparkSuiteBase {

  private def wh = new Warehouse(tmpDir("brspec"))
  private val twoDates =
    Seq(LocalDate.of(2021, 3, 10), LocalDate.of(2021, 3, 11))

  test("a stage that fails once then succeeds completes the backfill with one recorded retry") {
    val failures = scala.collection.mutable.Map[String, Int]()
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    val flaky = Stage("flaky", (_, _, ctx: BatchContext) => {
      // first attempt per date throws (flaky IO), the retry succeeds
      if (failures.getOrElse(ctx.ds, 0) == 0) {
        failures(ctx.ds) = 1
        throw new RuntimeException(s"transient failure for ${ctx.ds}")
      }
      ran += ctx.ds
    })
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val report = BatchRunner.run(spark, wh, Pipeline("p", Seq(flaky)), twoDates,
      RetryPolicy(retries = 1, retryDelayMs = 300000L, sleep = slept += _))
    assert(report.completedDates == twoDates, "backfill must complete after retries")
    assert(ran.toSeq == Seq("2021-03-10", "2021-03-11"))
    assert(report.retries == Map(("2021-03-10", "flaky") -> 1,
      ("2021-03-11", "flaky") -> 1))
    assert(slept.toSeq == Seq(300000L, 300000L), "retry delay must be honored via sleep")
  }

  test("a stage that exhausts its retries fail-stops the backfill (later dates unrun)") {
    val attempts = scala.collection.mutable.ArrayBuffer[String]()
    val broken = Stage("broken", (_, _, ctx: BatchContext) => {
      attempts += ctx.ds
      throw new RuntimeException("permanent failure")
    })
    val ex = intercept[RuntimeException] {
      BatchRunner.run(spark, wh, Pipeline("p", Seq(broken)), twoDates,
        RetryPolicy(retries = 1))
    }
    assert(ex.getMessage == "permanent failure")
    // 2 attempts (first + one retry) for the FIRST date only; the second
    // date never runs — depends_on_past
    assert(attempts.toSeq == Seq("2021-03-10", "2021-03-10"))
  }

  test("a run exceeding the timeout aborts the backfill; later dates never run") {
    // fake clock: each stage "takes" 9 minutes; two stages -> 18 min < 20
    // for date 1... make stage 2 slow on the first date: 25 min total
    var now = 0L
    val ran = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def stage(name: String, costMs: Long) = Stage(name, (_, _, ctx: BatchContext) => {
      ran += ((ctx.ds, name))
      now += costMs
    })
    val p = Pipeline("p", Seq(stage("fast", 60000L), stage("slow", 25 * 60000L)))
    val ex = intercept[RunTimeoutException] {
      BatchRunner.run(spark, wh, p, twoDates,
        RetryPolicy(runTimeoutMs = Some(20 * 60000L), clock = () => now))
    }
    assert(ex.getMessage.contains("2021-03-10"))
    // both stages of date 1 ran (stages are not killed mid-flight), but
    // date 2 never started
    assert(ran.toSeq == Seq(("2021-03-10", "fast"), ("2021-03-10", "slow")))
  }

  test("timeout is per run, not across the backfill: each date gets its own budget") {
    var now = 0L
    val p = Pipeline("p", Seq(Stage("s", (_, _, _) => now += 15 * 60000L)))
    // 15 min per date, 20-min per-run budget: every date completes even
    // though the BACKFILL total (45 min) exceeds one budget
    val report = BatchRunner.run(spark, wh, p,
      twoDates :+ LocalDate.of(2021, 3, 12),
      RetryPolicy(runTimeoutMs = Some(20 * 60000L), clock = () => now))
    assert(report.completedDates.size == 3)
    assert(report.retries.isEmpty)
  }

  test("missingDates: an interrupted backfill resumes with exactly the unwritten days") {
    import spark.implicits._
    val w = new Warehouse(tmpDir("brcatchup"))
    val schedule = BatchRunner.dateRange(
      LocalDate.of(2021, 3, 10), LocalDate.of(2021, 3, 13))
    // nothing written yet: the whole schedule is missing
    assert(BatchRunner.missingDates(spark, w, "t", "ds", schedule) == schedule)
    // a pipeline that upserts one partition per date
    val p = Pipeline("p", Seq(Stage("write", (sp, ww, ctx) =>
      ww.partitionedUpsertWrite(
        Seq((ctx.ds, 1)).toDF("ds", "v"), "t", "ds"))))
    // run days 1 and 3 only (simulating an interrupted / partial backfill)
    BatchRunner.run(spark, w, p, Seq(schedule(0), schedule(2)))
    val missing = BatchRunner.missingDates(spark, w, "t", "ds", schedule)
    assert(missing == Seq(schedule(1), schedule(3)))
    // resume: running exactly the missing days completes the schedule
    BatchRunner.run(spark, w, p, missing)
    assert(BatchRunner.missingDates(spark, w, "t", "ds", schedule).isEmpty)
    assert(w.read(spark, "t").count() == 4)
  }
}
