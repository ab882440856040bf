package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session extension wiring for graft's native expressions and
  * aggregates, the `VectorFoldRewrite` optimizer rule and the as-of join
  * planner strategy.
  *
  * Two ways in:
  *  - at session build time: `withExtensions(new GraftExtensions)` on the
  *    builder, as `graft.Sessions.base` does (or config
  *    `spark.sql.extensions=graft.plans.GraftExtensions`) — the idiomatic
  *    deployment path;
  *  - post-hoc on a live session: [[GraftExtensions.ensureRegistered]] —
  *    used by query modules so they work against ANY caller-provided session
  *    (the driver contract hands us a session we didn't build).
  *
  * After either, every `graft_*` function in [[GraftExtensions.descriptors]]
  * (vector, SimHash, HTML and UTF-8 expressions, and the bounded-state
  * [[SketchAggregate]]s) resolves in SQL text and via
  * `functions.call_function`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => VectorFoldRewrite)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  /** One registered function: `arity` counts every argument; `kArg` is the
    * index of the argument (if any) that carries `k`, a literal positive INT
    * which `build` receives separately from the other arguments.
    */
  private final case class Fn(
      name: String, usage: String, arity: Int, kArg: Option[Int],
      build: (Seq[Expression], Int) => Expression)

  private def fn(name: String, usage: String, arity: Int)(build: Seq[Expression] => Expression) =
    Fn(name, usage, arity, None, (args, _) => build(args))

  private def agg(name: String, usage: String, arity: Int, kArg: Option[Int] = None)(
      family: Int => SketchFamily[_]) =
    Fn(name, usage, arity, kArg, (args, k) => SketchAggregate(family(k), args))

  private val table: Seq[Fn] = Seq(
    fn("graft_dot", "graft_dot(a, b) - double dot product of two numeric arrays", 2)(
      a => DotProduct(a(0), a(1))),
    fn("graft_cosine", "graft_cosine(a, b) - cosine similarity of two numeric arrays", 2)(
      a => CosineSimilarity(a(0), a(1))),
    fn("graft_simhash16",
      "graft_simhash16(text) - one-pass 16-bit SimHash of whitespace-tokenized text", 1)(
      a => SimHash16(a.head)),
    fn("graft_simhash60",
      "graft_simhash60(text) - one-pass 60-bit SimHash of whitespace-tokenized text", 1)(
      a => SimHash60(a.head)),
    fn("graft_html_stats",
      "graft_html_stats(html) - one-pass visible-text extraction: " +
        "STRUCT<text, n_links, n_scripts, n_tags>", 1)(a => HtmlStats(a.head)),
    fn("graft_html_links",
      "graft_html_links(html) - one-pass anchor-href outlink extraction: " +
        "ARRAY<STRING> in document order", 1)(a => HtmlLinks(a.head)),
    fn("graft_utf8_stats",
      "graft_utf8_stats(bytes) - one-pass UTF-8 well-formedness audit: " +
        "STRUCT<n_valid_chars, n_invalid_bytes, n_multibyte, n_control, is_valid>", 1)(
      a => Utf8Stats(a.head)),
    agg("graft_topk",
      "graft_topk(score, id, k) - bounded per-group top-k aggregate, (score DESC, id ASC)",
      3, Some(2))(TopKAggregate(_)),
    agg("graft_bottomk",
      "graft_bottomk(hash, value, k) - k smallest distinct hashes with payload, " +
        "ARRAY<STRUCT<h,v>> ASC by h (KMV sketch / deterministic bottom-k sample)",
      3, Some(2))(BottomKAggregate(_)),
    agg("graft_qsketch",
      "graft_qsketch(value) - mergeable log-linear quantile sketch over " +
        "non-negative BIGINT units, ARRAY<STRUCT<b,cnt>> ASC by bucket " +
        "(constant ~8KB state per group, <= 1/32 relative error)", 1)(
      _ => QuantileSketchAggregate()),
    agg("graft_qsketch_merge",
      "graft_qsketch_merge(sketch) - merge already-built graft_qsketch " +
        "summaries (rollup without re-reading raw rows; bit-identical to " +
        "sketching the union)", 1)(_ => QuantileSketchAggregate(merging = true)),
    agg("graft_hll",
      "graft_hll(hash) - HyperLogLog registers (p=8, constant 256B state) " +
        "over a 60-bit md5-derived hash, ARRAY<STRUCT<b,r>> ASC by bucket", 1)(
      _ => HllAggregate()),
    agg("graft_hll_merge",
      "graft_hll_merge(sketch) - element-wise-max union of graft_hll " +
        "register sets (rollup without re-reading raw rows; bit-identical " +
        "to sketching the union)", 1)(_ => HllAggregate(merging = true)),
    agg("graft_bloom",
      "graft_bloom(hash) - 32768-bit Bloom filter (the four 15-bit lanes " +
        "of a 60-bit md5 hash) as ARRAY<BIGINT>[512]; merge is bitwise OR", 1)(
      _ => BloomAggregate),
    agg("graft_cms",
      "graft_cms(hash) - Count-Min sketch (4 rows x 64 buckets, constant " +
        "2KB state) over a 60-bit md5-derived hash, ARRAY<STRUCT<cell,cnt>> " +
        "ASC by cell; estimates never undercount", 1)(_ => CmsAggregate()),
    agg("graft_cms_merge",
      "graft_cms_merge(sketch) - element-wise sum of graft_cms summaries " +
        "(rollup without re-reading raw rows; bit-identical to sketching " +
        "the union)", 1)(_ => CmsAggregate(merging = true)),
    agg("graft_bounded_collect",
      "graft_bounded_collect(row_struct, k) - per-group row collection with " +
        "a hard k-entry buffer bound (map-side AND merge); groups of <= k " +
        "rows are collected losslessly, larger groups are truncated " +
        "arbitrarily (callers decide by a count riding the same aggregate)",
      2, Some(1))(BoundedCollectAggregate(_)),
    agg("graft_mgsketch",
      "graft_mgsketch(item, k) - Misra-Gries heavy-hitters summary, at " +
        "most k counters; every item with frequency > n/(k+1) is present",
      2, Some(1))(MisraGriesAggregate(_)))

  /** The one argument check every function shares. */
  private def builder(f: Fn): Builder = { args =>
    require(args.length == f.arity,
      s"${f.name} expects ${f.arity} argument${if (f.arity == 1) "" else "s"}, got ${args.length}")
    f.kArg match {
      case None => f.build(args, 0)
      case Some(i) =>
        val k = args(i) match {
          case Literal(v: Int, IntegerType) if v > 0 => v
          case other => throw new IllegalArgumentException(
            s"${f.name} k must be a positive INT literal, got $other")
        }
        f.build(args.patch(i, Nil, 1), k)
    }
  }

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = table.map(f =>
    (new FunctionIdentifier(f.name),
      new ExpressionInfo(classOf[GraftExtensions].getName, f.name, f.usage),
      builder(f)))

  /** Idempotently register the functions + the HOF→native rewrite on an
    * existing session (builder-time extensions can't be added post-hoc;
    * the optimizer rule goes through the experimental-methods hook instead).
    * The rule and strategy are checked in the session's optimizer batches
    * and planner strategies, which hold both the builder-time and the
    * experimental copies, so the two paths never stack a second copy.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    if (!spark.sessionState.optimizer.batches.exists(_.rules.contains(VectorFoldRewrite))) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ VectorFoldRewrite
    }
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
  }
}
