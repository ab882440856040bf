package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pushdown-friendly day-boundary predicates over TIMESTAMP columns.
  *
  * `to_date(ts) <op> 'yyyy-MM-dd'` wraps the column in a derived
  * expression, which never reaches the parquet scan's PushedFilters
  * (guide §6: filters on derived columns do not push down) — at 100 TB
  * that is the difference between row-group min/max skipping and reading
  * every file. Each helper states the SAME day-granularity predicate as a
  * direct timestamp comparison against a constant-foldable literal, which
  * pushes. Semantics are identical under the session's UTC zone:
  * `to_date(ts) <= D ⟺ ts < D+1d`, `to_date(ts) > D ⟺ ts >= D+1d`, etc.
  * (nulls compare to null and are filtered either way).
  */
object DateFilters {
  private def dayTs(day: String): Column = lit(day).cast("timestamp")
  private def nextDayTs(day: String): Column =
    date_add(lit(day).cast("date"), 1).cast("timestamp")

  /** to_date(ts) <= day */
  def onOrBefore(ts: Column, day: String): Column = ts < nextDayTs(day)

  /** to_date(ts) < day */
  def before(ts: Column, day: String): Column = ts < dayTs(day)

  /** to_date(ts) > day */
  def after(ts: Column, day: String): Column = ts >= nextDayTs(day)

  /** to_date(ts) BETWEEN d1 AND d2 (inclusive both ends) */
  def betweenDays(ts: Column, d1: String, d2: String): Column =
    ts >= dayTs(d1) && ts < nextDayTs(d2)
}
