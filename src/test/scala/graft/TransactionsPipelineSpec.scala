package graft

import java.sql.Timestamp
import java.time.LocalDate

import graft.pipeline.{BatchRunner, TransactionsPipeline, Warehouse}

/** End-to-end run of reference pipeline 2 over FIXTURES.md §B2-shaped
  * events: full-length arrays, a short (len-2) array, an empty array,
  * non-matching event names, and out-of-window rows.
  */
// top-level: Spark encoders can't materialize inner classes of a suite
case class PValue(string_value: String, int_value: java.lang.Long, float_value: java.lang.Double)
case class Param(key: String, value: PValue)
case class Event(event_name: String, event_datetime: Timestamp,
                 event_params: Seq[Param], user_id: String, state: String,
                 city: String, created_at: String)

class TransactionsPipelineSpec extends SparkSuiteBase {
  import spark.implicits._

  private def iv(k: String, v: Long) = Param(k, PValue(null, v, null))
  private def sv(k: String, v: String) = Param(k, PValue(v, null, null))
  private def fv(k: String, v: Double) = Param(k, PValue(null, null, v))

  /** A full GA4-style 21-slot param array (positions 0-7 are consumed). */
  private def fullParams(txId: Long): Seq[Param] =
    Seq(
      iv("transaction_id", txId),
      iv("transaction_detail_id", txId * 10),
      sv("transaction_number", s"TX-$txId"),
      iv("purchase_quantity", 2L),
      fv("purchase_amount", 99.5),
      sv("purchase_payment_method", "card"),
      sv("purchase_source", "app"),
      iv("product_id", 7L)
    ) ++ (8 until 21).map(i => sv(s"pad_$i", s"v$i"))

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Event("purchase_item", ts("2021-03-21 10:00:00"), fullParams(1), "u1", "CA", "SF", "2021-03-21"),
    Event("purchase_item", ts("2021-03-22 11:00:00"),
      Seq(sv("transaction_number", "TX-SHORT"), iv("product_id", 8L)), "u2", "NY", "NYC", "2021-03-22"),
    Event("purchase_item", ts("2021-03-23 12:00:00"), Seq.empty, "u3", "TX", "AUS", "2021-03-23"),
    Event("page_view", ts("2021-03-21 10:00:00"), fullParams(9), "u4", "CA", "LA", "2021-03-21"),
    Event("purchase_item", ts("2021-03-30 10:00:00"), fullParams(5), "u5", "WA", "SEA", "2021-03-30"))

  test("unpack + final projection: full, short, empty arrays; filters applied") {
    val whRoot = tmpDir("tx_wh")
    val wh = new Warehouse(whRoot)
    wh.truncateWrite(events.toDF(), TransactionsPipeline.sourceTable)

    BatchRunner.run(spark, wh, TransactionsPipeline(),
      Seq(LocalDate.of(2021, 3, 21)))

    val out = wh.read(spark, TransactionsPipeline.finalTable)
      .orderBy("user_id").collect()
    // u4 (wrong event name), u5 (outside 3-day window) excluded;
    // u3 (2021-03-23) is inside [21st, 23rd]
    assert(out.map(_.getAs[String]("user_id")).toSeq == Seq("u1", "u2", "u3"))

    val full = out(0)
    assert(full.getAs[Long]("transaction_id") == 1L)
    assert(full.getAs[Long]("transaction_detail_id") == 10L)
    assert(full.getAs[String]("transaction_number") == "TX-1")
    assert(full.getAs[Long]("purchase_quantity") == 2L)
    assert(full.getAs[Double]("purchase_amount") == 99.5)
    assert(full.getAs[String]("purchase_payment_method") == "card")
    assert(full.getAs[String]("purchase_source") == "app")
    assert(full.getAs[Long]("product_id") == 7L)
    assert(full.getAs[String]("ext_created_at") == "2021-03-21")

    // short array: pos 0 -> transaction_number, pos 1 -> product_id, rest null
    // (typed-null deviation from the reference's ''/NaN mix, SURVEY.md §7.4)
    val short = out(1)
    assert(short.getAs[String]("transaction_number") == "TX-SHORT")
    assert(short.getAs[Long]("product_id") == 8L)
    assert(short.isNullAt(short.fieldIndex("transaction_id")))
    assert(short.isNullAt(short.fieldIndex("purchase_amount")))

    // empty array: ValueError->pass path — everything null
    val empty = out(2)
    Seq("transaction_id", "transaction_number", "product_id", "purchase_amount")
      .foreach(c => assert(empty.isNullAt(empty.fieldIndex(c)), s"$c should be null"))
  }

  test("staging table is truncated per run (WRITE_TRUNCATE), final appends") {
    val whRoot = tmpDir("tx_wh2")
    val wh = new Warehouse(whRoot)
    wh.truncateWrite(events.toDF(), TransactionsPipeline.sourceTable)
    val p = TransactionsPipeline()
    BatchRunner.run(spark, wh, p, Seq(LocalDate.of(2021, 3, 21)))
    val stage1 = wh.read(spark, TransactionsPipeline.stagingTable).count()
    BatchRunner.run(spark, wh, p, Seq(LocalDate.of(2021, 3, 21)))
    assert(wh.read(spark, TransactionsPipeline.stagingTable).count() == stage1)
    assert(wh.read(spark, TransactionsPipeline.finalTable).count() == 2 * 3)
  }
}
