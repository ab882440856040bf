package graft

/** Inputs the sketch aggregates refuse: wrong argument types and a `k` that
  * is not a positive INT literal fail analysis; a persisted summary entry
  * outside its sketch's domain fails the `_merge` twin with an error naming
  * the function.
  */
class SketchInputSpec extends SparkSuiteBase {

  /** Messages of the whole cause chain of the failure `sql` raises. */
  private def failure(sql: String): String = {
    val e = intercept[Throwable](spark.sql(sql).collect())
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString("\n")
  }

  private def assertOutside(fn: String, entry: String): Unit = {
    val msg = failure(s"SELECT $fn(s) FROM VALUES (array($entry)) AS t(s)")
    assert(msg.contains(fn) && msg.contains("outside"), msg)
  }

  test("graft_hll_merge rejects an entry outside the register domain") {
    assertOutside("graft_hll_merge", "named_struct('b', 5000, 'r', 1)")
  }

  test("graft_cms_merge rejects an entry outside the sketch domain") {
    assertOutside("graft_cms_merge", "named_struct('cell', 5000, 'cnt', 1L)")
  }

  test("graft_qsketch_merge rejects a bucket id >= 1040 and a negative count") {
    assertOutside("graft_qsketch_merge", "named_struct('b', 5000, 'cnt', 1L)")
    assertOutside("graft_qsketch_merge", "named_struct('b', 5, 'cnt', -1L)")
  }

  test("graft_hll over a STRING column fails analysis") {
    val msg = failure("SELECT graft_hll(s) FROM VALUES ('a'), ('b') AS t(s)")
    assert(msg.contains("graft_hll expects BIGINT"), msg)
  }

  test("graft_topk over an INT score fails analysis") {
    val msg = failure("SELECT graft_topk(x, id, 3) FROM VALUES (1, 2L) AS t(x, id)")
    assert(msg.contains("graft_topk expects (DOUBLE, BIGINT)"), msg)
  }

  test("graft_mgsketch with k = 0 fails analysis") {
    val msg = failure("SELECT graft_mgsketch(s, 0) FROM VALUES ('a') AS t(s)")
    assert(msg.contains("k must be a positive INT literal"), msg)
  }

  test("graft_bounded_collect with k given as a column fails analysis") {
    val msg = failure(
      "SELECT graft_bounded_collect(named_struct('x', x), k) FROM VALUES (1, 3) AS t(x, k)")
    assert(msg.contains("k must be a positive INT literal"), msg)
  }
}
