package graft

import org.apache.spark.storage.StorageLevel

/** The per-query lifecycle every query-running entry point shares: job
  * naming, repeatable work counters, cleanup on success and failure, and
  * the name selector.
  */
class QueryRunSpec extends SparkSuiteBase {

  private def counted(name: String): QueryRun.Work = QueryRun.watch(spark) { c =>
    val r = QueryRun.runQuery(spark, sf0001, name, QueryRun.noop)
    assert(r.ok, s"$name failed: ${r.error}")
    c.of(name)
  }

  test("a query run twice does identical Spark work") {
    Seq("q1_agg", "q3_join_topk", "q_window_rank").foreach { name =>
      val (a, b) = (counted(name), counted(name))
      def exact(w: QueryRun.Work) = (w.jobs, w.stages, w.tasks, w.shuffleRead, w.shuffleWrite)
      assert(a.jobs > 0 && a.tasks > 0, s"$name: nothing counted: $a")
      assert(exact(a) === exact(b), s"$name: first $a, second $b")
    }
  }

  test("every job a run launches carries the query name as its job group") {
    QueryRun.watch(spark) { c =>
      assert(QueryRun.runQuery(spark, sf0001, "q3_join_topk", QueryRun.noop).ok)
      val jobs = c.jobs("q3_join_topk")
      assert(jobs.nonEmpty)
      assert(jobs.forall(_.description == "q3_join_topk"), jobs)
      assert(c.total === c.of("q3_join_topk"), "no job ran outside the query's group")
    }
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null,
      "the group is cleared after the run")
  }

  test("a run leaves no persisted RDD or cached relation, also when it throws") {
    Seq(false, true).foreach { fail =>
      var cached: org.apache.spark.sql.DataFrame = null
      val r = QueryRun.run(spark, "leaky", {
        cached = spark.range(100).toDF("x").cache()
        cached.count()
        spark.sparkContext.parallelize(1 to 10).persist().count()
        if (fail) throw new IllegalStateException("boom")
        cached
      }, QueryRun.noop)
      assert(r.ok === !fail)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"fail=$fail")
      assert(cached.storageLevel === StorageLevel.NONE, s"fail=$fail")
    }
  }

  test("a throwing query returns a failed record and bills none of its jobs to the next") {
    val clean = counted("q1_agg")
    QueryRun.watch(spark) { c =>
      val bad = QueryRun.run(spark, "bad", spark.range(0, 1000, 1, 4).toDF("x")
        .selectExpr("assert_true(x < 999) AS ok"), QueryRun.noop)
      assert(!bad.ok && bad.error.exists(_.getMessage.contains("x < 999")), bad)
      val next = QueryRun.runQuery(spark, sf0001, "q1_agg", QueryRun.noop)
      assert(next.ok)
      assert(c.of("bad").jobs > 0)
      val w = c.of("q1_agg")
      assert((w.jobs, w.stages, w.tasks) === (clean.jobs, clean.stages, clean.tasks))
    }
  }

  test("the selector expands headline and audit and rejects unknown names") {
    assert(QueryRun.select("headline") === PlanDump.headline)
    assert(QueryRun.select(" q1_agg , headline,audit") ===
      (PlanDump.headline ++ PlanDump.audit).distinct)
    val e = intercept[IllegalArgumentException](QueryRun.select("q1_agg,q1_agq"))
    assert(e.getMessage.contains("q1_agq"))
  }

  test("a second headline pass compiles no generated class") {
    def pass(): Long = {
      val n0 = QueryRun.classesCompiled()
      PlanDump.headline.foreach { name =>
        val r = QueryRun.runQuery(spark, sf0001, name, QueryRun.noop)
        assert(r.ok, s"$name failed: ${r.error}")
      }
      QueryRun.classesCompiled() - n0
    }
    val first = pass()
    assert(pass() === 0, s"the first pass compiled $first")
  }
}
