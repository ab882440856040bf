package graft

import graft.operators.Similarity
import graft.plans.{AsOfJoinStrategy, DotProduct, GraftExtensions, VectorFoldRewrite}
import org.apache.spark.sql.functions._

/** The HOF→native optimizer rewrite: plans using the portable
  * zip_with+aggregate dot product execute graft's fused [[DotProduct]]
  * once the extensions are installed, with unchanged results.
  */
class VectorFoldRewriteSpec extends SparkSuiteBase {

  test("aggregate(zip_with(...)) is rewritten to DotProduct in the optimized plan") {
    GraftExtensions.ensureRegistered(spark)
    val df = Tables.embeddings(spark, sf0001)
      .select(Similarity.hofDot("embedding", "embedding").as("d"))
    val optimized = df.queryExecution.optimizedPlan
    val rewritten = optimized.expressions.exists(_.exists(_.isInstanceOf[DotProduct]))
    assert(rewritten, optimized.toString)
  }

  test("rewrite preserves values exactly (native == HOF result)") {
    GraftExtensions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, sf0001).limit(50)
    val viaRule = e.select(col("vec_id"), Similarity.hofDot("embedding", "embedding").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = e.select(col("vec_id"),
      call_function("graft_dot", col("embedding"), col("embedding")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaRule == native)
  }

  test("non-matching folds are left alone (sum of plain doubles)") {
    GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      // max instead of * inside zip_with: must NOT be rewritten
      .select(expr("aggregate(zip_with(a, b, (x, y) -> greatest(x, y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("m"))
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.expressions.exists(_.exists(_.isInstanceOf[DotProduct])))
    assert(df.collect()(0).getDouble(0) == 7.0)
  }

  test("post-hoc registration does not stack a second rule or strategy on an extended session") {
    // the suite session comes from Sessions.base, whose builder extensions
    // already put the rule in both operator-optimization batches and the
    // strategy in the planner once
    val rows = SparkEntry.queries("sim_topk_brute")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    GraftExtensions.ensureRegistered(spark)
    val ruleBatches = spark.sessionState.optimizer.batches
      .count(_.rules.contains(VectorFoldRewrite))
    assert(ruleBatches === 2)
    assert(spark.sessionState.planner.strategies.count(_ == AsOfJoinStrategy) === 1)
  }
}
