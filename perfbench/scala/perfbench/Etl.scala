package perfbench

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's daily backfill: per logical date, `SearchHistoryPipeline`
  * through `BatchRunner.run`, plus `TransactionsPipeline` on its 3-day
  * cadence, each pass on a fresh `Warehouse` root.
  *
  * Inputs are generated here from the seed, and the expected outputs are
  * computed from the generated rows in plain Scala, independently of Spark.
  */
object Etl {

  val Start: LocalDate = LocalDate.of(2024, 3, 1)
  val TxCadenceDays = 3

  final case class Sizes(days: Int, rowsPerDay: Int, eventsPerDay: Int)
  def sizes(smoke: Boolean): Sizes =
    if (smoke) Sizes(days = 2, rowsPerDay = 2000, eventsPerDay = 200)
    else Sizes(days = 4, rowsPerDay = 30000, eventsPerDay = 2000)

  /** What a correct backfill produces. `top1` is (keyword, count) per date. */
  final case class Truth(csvRows: Long, malformed: Long, top1: Map[String, (String, Long)],
                         txRows: Long, txQuantity: Long, txProduct: Long, txAmountCents: Long)

  private val adjectives = Seq("cheap", "best", "new", "used", "red", "mini", "pro", "smart",
    "fast", "quiet", "big", "light", "eco", "kids", "wireless", "vintage", "gaming", "home",
    "travel", "outdoor")
  private val nouns = Seq("phone", "laptop", "shoes", "flights", "hotel", "camera", "watch",
    "bike", "desk", "chair", "lamp", "tent", "jacket", "speaker", "monitor", "router",
    "blender", "stroller", "guitar", "backpack")

  /** Write `search_<yyyymmdd>.csv` per date and return the event rows and
    * the expected outputs.
    */
  def generate(dir: File, seed: Long, s: Sizes): (Seq[LocalDate], Seq[Row], Truth) = {
    val rnd = new scala.util.Random(seed)
    val dates = (0 until s.days).map(i => Start.plusDays(i.toLong))
    // Zipf-skewed keyword popularity over a seed-shuffled ranking
    val keywords = rnd.shuffle(for (a <- adjectives; n <- nouns) yield s"$a $n").toIndexedSeq
    val cdf = keywords.indices.map(r => 1.0 / math.pow(r + 1, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    def keyword(): String = {
      val x = rnd.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, x)
      keywords(math.min(if (i >= 0) i else -i - 1, keywords.size - 1))
    }
    def malformed(): Option[String] =
      if (rnd.nextDouble() < 0.01) Some(if (rnd.nextBoolean()) "n/a" else s"${rnd.nextInt(99)}x")
      else None

    var malformedRows = 0L
    val top1 = dates.map { d =>
      val ds = d.toString
      val w = new java.io.PrintWriter(new File(dir, s"search_${ds.replace("-", "")}.csv"), "UTF-8")
      var best: (String, Long) = null
      try {
        w.println("user_id,search_keyword,search_result_count,created_at")
        (0 until s.rowsPerDay).foreach { _ =>
          val badUser = malformed()
          val badCount = malformed()
          val kw = keyword()
          // counts up to 9999 over tens of thousands of rows: the daily
          // maximum is usually tied, so the keyword tiebreak is exercised
          val count = rnd.nextInt(10000).toLong
          val sec = rnd.nextInt(86400)
          w.println(Seq(badUser.getOrElse((rnd.nextInt(50000) + 1).toString), kw,
            badCount.getOrElse(count.toString),
            f"$ds ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d").mkString(","))
          if (badUser.nonEmpty || badCount.nonEmpty) malformedRows += 1
          if (badCount.isEmpty && (best == null || count > best._2 ||
              (count == best._2 && kw < best._1))) best = (kw, count)
        }
      } finally w.close()
      ds -> best
    }.toMap

    // unified_events across the window plus the last cadence's overhang
    val evDays = s.days + TxCadenceDays - 1
    val names = Seq("purchase_item", "purchase_item", "purchase_item", "page_view", "add_to_cart")
    val states = Seq("CA", "NY", "TX", "WA", "FL", "IL")
    def iv(k: String, v: Long) = Row(k, Row(null, v, null))
    def sv(k: String, v: String) = Row(k, Row(v, null, null))
    def fv(k: String, v: Double) = Row(k, Row(null, null, v))
    val runDates = dates.indices.filter(_ % TxCadenceDays == 0).map(dates(_))
    def inWindow(d: LocalDate) = runDates.exists(r => !d.isBefore(r) && !d.isAfter(r.plusDays(2)))
    var txRows, txQty, txProduct, txCents = 0L
    var txId = 0L
    val events = (0 until evDays).flatMap { di =>
      val day = Start.plusDays(di.toLong)
      (0 until s.eventsPerDay).map { _ =>
        txId += 1
        val name = names(rnd.nextInt(names.size))
        val at = day.atStartOfDay(ZoneOffset.UTC).toInstant.plusSeconds(rnd.nextInt(86400).toLong)
        val kind = rnd.nextDouble()
        val qty = (rnd.nextInt(5) + 1).toLong
        val cents = (rnd.nextInt(49900) + 100).toLong
        val product = (rnd.nextInt(1000) + 1).toLong
        val params: Seq[Row] =
          if (kind < 0.6) Seq(iv("transaction_id", txId), iv("transaction_detail_id", txId * 10),
            sv("transaction_number", s"TX-$txId"), iv("purchase_quantity", qty),
            fv("purchase_amount", cents / 100.0), sv("purchase_payment_method", "card"),
            sv("purchase_source", "app"), iv("product_id", product)) ++
            (8 until 21).map(i => sv(s"pad_$i", s"v$i"))
          else if (kind < 0.85) Seq(sv("transaction_number", s"TX-$txId"), iv("product_id", product)) ++
            (0 until rnd.nextInt(4)).map(i => sv(s"extra_$i", "x"))
          else Seq.empty
        if (name == "purchase_item" && inWindow(day)) {
          txRows += 1
          if (params.size == 21) { txQty += qty; txCents += cents }
          if (params.nonEmpty) txProduct += product
        }
        Row(name, Timestamp.from(at), params, s"u${rnd.nextInt(5000)}",
          states(rnd.nextInt(states.size)), s"city${rnd.nextInt(40)}", day.toString)
      }
    }
    (dates, events, Truth(s.days.toLong * s.rowsPerDay, malformedRows, top1,
      txRows, txQty, txProduct, txCents))
  }

  val eventSchema: StructType = {
    val value = StructType(Seq(StructField("string_value", StringType),
      StructField("int_value", LongType), StructField("float_value", DoubleType)))
    val param = StructType(Seq(StructField("key", StringType), StructField("value", value)))
    StructType(Seq(StructField("event_name", StringType), StructField("event_datetime", TimestampType),
      StructField("event_params", ArrayType(param)), StructField("user_id", StringType),
      StructField("state", StringType), StructField("city", StringType),
      StructField("created_at", StringType)))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tr
    val s = sizes(ctx.o.smoke)
    val csvDir = new File(ctx.o.work, "csv")
    csvDir.mkdirs()
    val g0 = System.nanoTime()
    val (dates, events, truth) = generate(csvDir, ctx.o.seed, s)
    val landed = new File(ctx.o.work, "unified_events")
    spark.createDataFrame(events.asJava, eventSchema).write.parquet(landed.getPath)
    ctx.genS = (System.nanoTime() - g0) / 1e9
    ctx.info("inputs") = Map("days" -> s.days, "csv_rows" -> truth.csvRows,
      "event_rows" -> events.size, "malformed_rows" -> truth.malformed)
    ctx.once("sources.csv_rows") = truth.csvRows.toDouble
    ctx.inputRows = truth.csvRows + events.size

    var root = 0
    def freshWarehouse(): Warehouse = {
      root += 1
      val dir = new File(ctx.o.work, s"wh$root")
      dir.mkdirs()
      Files.createSymbolicLink(new File(dir, TransactionsPipeline.sourceTable).toPath,
        landed.getAbsoluteFile.toPath)
      new Warehouse(dir.getPath)
    }
    val search = traced(ctx, SearchHistoryPipeline(csvDir.getPath))
    val tx = traced(ctx, TransactionsPipeline())
    val policy = RetryPolicy(retries = 1)

    def backfill(wh: Warehouse, ds: Seq[LocalDate], onDate: Double => Unit): Unit =
      ds.zipWithIndex.foreach { case (d, i) =>
        val t = System.nanoTime()
        val reports = tr.span("bench", d.toString) {
          tr.span("pipeline", s"${search.name} $d") { BatchRunner.run(spark, wh, search, Seq(d), policy) } +:
            (if (i % TxCadenceDays == 0)
              Seq(tr.span("pipeline", s"${tx.name} $d") { BatchRunner.run(spark, wh, tx, Seq(d), policy) })
            else Nil)
        }
        onDate((System.nanoTime() - t) / 1e9)
        ctx.add("pipeline.retries", reports.map(_.retries.values.sum).sum.toDouble)
      }

    // Setup: a cold backfill of the first two dates (every stage runs) on a
    // throwaway root, so measured passes start warm
    ctx.setup { backfill(freshWarehouse(), dates.take(2), _ => ()) }

    // an operation is one stage on one date; one date's batch time goes to the detail record
    val dateS = mutable.ArrayBuffer.empty[Double]
    var wh: Warehouse = null
    // a pass is short and the setup backfill leaves the JIT warming, so
    // one untimed pass comes first, then three measured at least
    ctx.measure(minPasses = 3, warmups = 1, after = _ => check(ctx, wh, dates, truth)) { p =>
      wh = freshWarehouse()
      try backfill(wh, dates, sec => if (ctx.timed) dateS += sec)
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) => ctx.fail(s"backfill pass $p: $e")
      }
    }
    ctx.info("date_s") = dateS.toSeq
  }

  /** The pipeline with every stage counted and timed as one operation;
    * in traced passes also attributed to a job group, with the bytes it
    * read and the files it wrote counted.
    */
  private def traced(ctx: Ctx, p: Pipeline): Pipeline = p.copy(stages = p.stages.map { st =>
    Stage(st.name, (spark, wh, bc) =>
      if (!ctx.traced) {
        ctx.attempted += 1
        val t = System.nanoTime()
        st.run(spark, wh, bc)
        ctx.op(s"${bc.ds}/${st.name}", (System.nanoTime() - t) / 1e9)
      } else {
        ctx.attempted += 1
        ctx.enter(s"${bc.ds}/${st.name}")
        val root = new File(wh.root)
        if (st.name == "daily_top1")
          ctx.add("pipeline.bytes_read.daily_top1",
            Probes.written(Map.empty, Probes.files(Seq(new File(root, SearchHistoryPipeline.typedTable))))._2.toDouble)
        val before = Probes.files(Seq(root))
        val t = System.nanoTime()
        ctx.tr.span(if (st.name == "load_raw") "sources" else "pipeline", st.name) { st.run(spark, wh, bc) }
        val sec = (System.nanoTime() - t) / 1e9
        ctx.drain()
        ctx.call(s"pipeline.stage_s.${st.name}", sec)
        if (st.name == "load_raw") ctx.call("sources.csv_read_s", sec)
        val (files, bytes) = Probes.written(before, Probes.files(Seq(root)))
        ctx.add("pipeline.files_written", files.toDouble)
        ctx.add("pipeline.bytes_written", bytes.toDouble)
      })
  })

  /** Compare a finished backfill with the generator's truth: every date's
    * top-1 row, the typed row and malformed counts, and the transactions
    * row count and sums. Each mismatch, or a check that throws, is one
    * failure.
    */
  private def check(ctx: Ctx, wh: Warehouse, dates: Seq[LocalDate], truth: Truth): Unit = {
    val spark = ctx.spark
    def expect(what: String, ok: => Boolean): Unit = {
      ctx.attempted += 1
      val good = try ok catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] check $what threw: $e"); false
      }
      if (!good) ctx.fail(s"check $what")
    }
    val report = try wh.read(spark, SearchHistoryPipeline.reportTable)
      .select(col("created_date").cast("string"), col("search_keyword"), col("search_result_count"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toSeq
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Nil }
    dates.foreach { d =>
      expect(s"top1 ${d}", report.filter(_._1 == d.toString).map(_._2) == Seq(truth.top1(d.toString)))
    }
    expect("typed rows", {
      val typed = wh.read(spark, SearchHistoryPipeline.typedTable)
        .agg(count(lit(1)), sum(when(col("user_id").isNull || col("search_result_count").isNull, 1)
          .otherwise(0))).head()
      ctx.add("sources.malformed_rows", typed.getLong(1).toDouble)
      typed.getLong(0) == truth.csvRows && typed.getLong(1) == truth.malformed
    })
    expect("transactions", {
      val t = wh.read(spark, TransactionsPipeline.finalTable)
        .agg(count(lit(1)), sum("purchase_quantity"), sum("product_id"), sum("purchase_amount")).head()
      t.getLong(0) == truth.txRows && t.getLong(1) == truth.txQuantity &&
        t.getLong(2) == truth.txProduct &&
        math.abs(t.getDouble(3) - truth.txAmountCents / 100.0) <= 1e-6 * (truth.txAmountCents / 100.0)
    })
  }
}
