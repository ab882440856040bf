package graft

import java.nio.file.{Files, Paths}

import graft.streaming.EventStreams
import org.apache.spark.sql.types._

/** Checkpoint recovery: a streaming query stopped and restarted from the
  * same checkpoint resumes exactly-once — already-processed input files are
  * not reprocessed, new ones are, and the file sink contains no duplicates.
  */
class StreamingRecoverySpec extends SparkSuiteBase {

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  test("restart from checkpoint: no reprocessing, no duplicates in the sink") {
    val landing = tmpDir("rec_landing")
    val sink = tmpDir("rec_sink")
    val ckpt = tmpDir("rec_ckpt")

    def drop(name: String, ids: Seq[Long]): Unit =
      Files.write(Paths.get(landing, name), ids.map(i =>
        s"""{"event_id":$i,"ts":"2024-01-01T00:0$i:00.000Z","user_id":1,"event_type":"click","value":1.0}""")
        .mkString("\n").getBytes("UTF-8"))

    def runOnce(): Unit = {
      val q = EventStreams.dedupByEventId(
        spark.readStream.schema(eventSchema).json(landing))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    drop("b0.jsonl", Seq(1L, 2L))
    runOnce()
    // second run, same checkpoint: b0 must NOT be reprocessed; b1 must be
    drop("b1.jsonl", Seq(2L, 3L)) // id 2 repeats across batches
    runOnce()

    val ids = spark.read.parquet(sink).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // 1,2 from b0; from b1 only 3 — id 2's cross-restart duplicate is
    // dropped because the dedup operator's state store is RESTORED from the
    // checkpoint, and b0 itself is not re-ingested (source offsets are
    // checkpointed too). A bare 1,2,2,3 here would mean lost state; a
    // 1,1,2,2,2,3 would mean reprocessed input.
    assert(ids == Seq(1L, 2L, 3L), ids.mkString(","))
  }

  test("asofJoin state survives restart: a probe buffered before the stop matches after recovery") {
    import spark.implicits._
    val landing = tmpDir("asof_landing")
    val sink = tmpDir("asof_sink")
    val ckpt = tmpDir("asof_ckpt")

    val asofSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("is_snapshot", BooleanType),
      StructField("event_id", LongType),
      StructField("value", DoubleType)))

    def drop(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(landing, name), lines.mkString("\n").getBytes("UTF-8"))

    def runOnce(): Unit = {
      val in = spark.readStream.schema(asofSchema).json(landing)
        .as[graft.streaming.AsOfEvent]
      val q = EventStreams.asofJoin(in)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: snapshot at 01:00 + probe at 02:00 — watermark (01:50) hasn't
    // passed the probe, so BOTH live only in the state store at stop
    drop("b0.jsonl", Seq(
      """{"user_id":1,"ts":"2024-01-01T01:00:00.000Z","is_snapshot":true,"event_id":0,"value":7.5}""",
      """{"user_id":1,"ts":"2024-01-01T02:00:00.000Z","is_snapshot":false,"event_id":100,"value":0.0}"""))
    runOnce()
    assert(spark.read.schema(StructType(Seq(StructField("p_event_id", LongType))))
      .parquet(sink).isEmpty)

    // run 2, same checkpoint: a far-future event advances the watermark;
    // the restored probe must match the restored snapshot
    drop("b1.jsonl", Seq(
      """{"user_id":999,"ts":"2024-01-01T12:00:00.000Z","is_snapshot":true,"event_id":0,"value":0.0}"""))
    runOnce()

    val rows = spark.read.parquet(sink)
      .select("p_event_id", "user_id", "s_ts_us", "s_val")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val snapUs = java.time.Instant.parse("2024-01-01T01:00:00Z").toEpochMilli * 1000L
    assert(rows == Seq((100L, 1L, snapUs, 7.5)), rows.mkString(","))
  }
}
