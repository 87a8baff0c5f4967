package graft.pipeline

import graft.etl.CandyEtl
import graft.forecast.Forecaster
import graft.model.CandyModel.Money
import graft.sinks.SingleFileCsvSink
import graft.sources.CandySources
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import java.time.LocalDate
import scala.collection.mutable.ListBuffer
import scala.concurrent.duration._
import scala.concurrent.{Await, Promise}

/** End-to-end candy-store pipeline (reference main.py:141-205, EP1→EP2→EP3),
  * producing the five reports of SURVEY.md §1.2 as single-file CSVs.
  *
  * `run()` walks the stages of the reference's Airflow DAG
  * (candy_store_pipeline_dag.py:284-327) in order:
  *
  *   setup_environment (the constructor's checks) → process_daily_transactions
  *   → generate_daily_summary → generate_forecasts → cleanup
  *
  * Unlike that DAG (a SparkSession per task, temp views that do not survive
  * the session boundary — SURVEY.md §3), every stage shares one session and
  * hands its persisted frames on, and cleanup runs on every path.
  *
  * Structural fixes over the reference, besides the distributed allocator:
  * every transaction day is read ONCE and persisted (the reference re-scans
  * MongoDB per day in both EP1 and EP2, data_processor.py:176,310-313), and
  * there is no per-day driver round-trip — the whole date range is one
  * lineage.
  */
class CandyPipeline(spark: SparkSession, cfg: CandyConfig) {
  // setup_environment (candy_store_pipeline_dag.py:70-104): fail before
  // any read, on every construction path
  require(cfg.dataDir.nonEmpty, "CANDY_DATA_DIR must be set")
  require(cfg.outputPath.nonEmpty, "OUTPUT_PATH must be set")
  require(!cfg.endDate.isBefore(cfg.startDate),
    s"date range inverted: ${cfg.startDate}..${cfg.endDate}")

  /** File fixtures under `dataDir`; every other setting at its default. */
  def this(spark: SparkSession, dataDir: String, outputDir: String,
      start: LocalDate, endInclusive: LocalDate) = this(spark, CandyConfig.fromEnv(Map.empty)
    .copy(dataDir = dataDir, outputPath = outputDir, startDate = start, endDate = endInclusive))

  /** The number of cancelled allocation lines and the written report
    * paths, in writing order.
    */
  final case class Result(cancelledLines: Long, reports: Seq[String])

  /** Persist `df` for this run. `cached` holds the run's frames newest
    * first, so `cleanup` releases each before the frames it reads.
    */
  private def persist(cached: ListBuffer[DataFrame], df: DataFrame): DataFrame = {
    df +=: cached
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def write(df: DataFrame, filename: String): String =
    SingleFileCsvSink.write(df, cfg.outputPath, filename)

  /** Run all stages and write the five CSV reports. */
  def run(): Result = {
    val cached = ListBuffer.empty[DataFrame]
    try {
      val (allocated, orders, written) = processDailyTransactions(cached)
      val daily = persist(cached, CandyEtl.dailySummary(orders, allocated))
      written.copy(
        reports = written.reports :+ generateDailySummary(daily) :+ generateForecasts(daily))
    } finally cleanup(cached)
  }

  /** process_daily_transactions (EP1+EP2): allocate inventory and write
    * the three transaction-grain reports.
    */
  private def processDailyTransactions(
      cached: ListBuffer[DataFrame]): (DataFrame, DataFrame, Result) = {
    val transactions = persist(cached,
      CandySources.transactions(spark, cfg, cfg.startDate, cfg.endDate))
    val products = CandySources.products(spark, cfg)
    val allocated = persist(cached, CandyEtl
      .allocate(CandyEtl.pricedLines(transactions, products), cfg.reloadInventoryDaily))
    // Under daily inventory reload, "current stock" means stock after the
    // LAST business day (each day started from full stock).
    val stockSource =
      if (cfg.reloadInventoryDaily)
        allocated.filter(col("day_idx") === lit(cfg.endDate.toEpochDay))
      else allocated
    val orders = CandyEtl.orders(transactions, allocated)
    val (lineItems, cancelled) = writeLineItems(allocated)
    val reports = Seq(
      lineItems,
      write(CandyEtl.productsUpdated(products, stockSource), "products_updated.csv"),
      write(orders, "orders.csv"))
    (allocated, orders, Result(cancelled, reports))
  }

  /** Write `order_line_items.csv` and return its path and cancelled-line
    * count. The count is a named observed metric of the write, placed above
    * the report's sort so the range-partition sampler never counts a row,
    * and read back through a query listener. `Observation` is not used: in
    * Spark 4.1 it initializes `SparkSession.observationManager`, a field
    * that is not transient, so the session can no longer be serialized and
    * Spark ML scoring later in the same session fails.
    */
  private def writeLineItems(allocated: DataFrame): (String, Long) = {
    val name = s"graft.cancelled_lines.${java.util.UUID.randomUUID()}"
    val seen = Promise[Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get(name).foreach(r => seen.trySuccess(r.getLong(0)))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val path = write(
        CandyEtl.orderLineItems(allocated).observe(name, count_if(col("quantity") === 0)),
        "order_line_items.csv")
      (path, Await.result(seen.future, 10.minutes))
    } finally spark.listenerManager.unregister(listener)
  }

  /** generate_daily_summary (EP3). */
  private def generateDailySummary(daily: DataFrame): String =
    write(CandyEtl.formatDailySummary(daily), "daily_summary.csv")

  /** generate_forecasts. */
  private def generateForecasts(daily: DataFrame): String =
    write(forecastFrame(daily), "sales_profit_forecast.csv")

  /** cleanup: release every frame the run persisted. */
  private def cleanup(cached: ListBuffer[DataFrame]): Unit = cached.foreach(_.unpersist())

  /** Fit sales + profit series and emit the one-day-ahead forecast frame
    * (date, forecasted_sales, forecasted_profit), 2dp-rounded.
    * Non-fatal on degenerate input, like the reference (main.py:193-194):
    * an empty daily summary yields an empty (schema-correct) frame.
    */
  def forecastFrame(dailySummary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("date", DateType),
      StructField("forecasted_sales", Money),
      StructField("forecasted_profit", Money)))
    val rows = dailySummary
      .select("date", "total_sales", "total_profit")
      .orderBy("date")
      .collect() // ≤ one row per business day — driver-side by design (§2.9)
    if (rows.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      val series = rows.map { r =>
        (r.getDate(0).toLocalDate,
          r.getDecimal(1).doubleValue(),
          r.getDecimal(2).doubleValue())
      }
      // full Prophet model family (piecewise trend + Fourier seasonality),
      // deterministic closed-form fit — see Forecaster.fitSeasonal
      val sales = Forecaster.fitSeasonal(series.map(x => (x._1, x._2)).toSeq)
      val profit = Forecaster.fitSeasonal(series.map(x => (x._1, x._3)).toSeq)
      // in-sample fit metrics, printed like the reference does
      // (reference time_series.py:45-67 — reported, never saved)
      val (sm, pm) = (sales.metrics, profit.metrics)
      println(f"Forecast fit — sales MAE=${sm.mae}%.2f MSE=${sm.mse}%.2f; " +
        f"profit MAE=${pm.mae}%.2f MSE=${pm.mse}%.2f")
      val out = sales.predict(1).zip(profit.predict(1)).map {
        case ((d, s), (_, p)) =>
          Row(
            java.sql.Date.valueOf(d),
            new java.math.BigDecimal(s).setScale(2, java.math.RoundingMode.HALF_UP),
            new java.math.BigDecimal(p).setScale(2, java.math.RoundingMode.HALF_UP))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, 1), schema)
    }
  }
}
