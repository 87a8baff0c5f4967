package graft.pipeline

import graft.SparkTestBase
import graft.etl.CandyEtl
import graft.sources.CandySources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** End-to-end golden parity.
  *
  * Two golden sets:
  *
  * 1. `src/test/resources/candy_expected` — the independent non-Spark
  *    replay `tools/gen_candy_golden.py` over the in-repo inputs
  *    `src/test/resources/candy_input` (dataset_5-shaped, generated by
  *    `perfbench/gen_candy.py`; see FIXTURES.md), under the DETERMINISTIC
  *    processing order this engine guarantees (day, file position, item
  *    position). The pipeline must match it byte for byte (the replay
  *    writes CRLF line ends, Spark LF).
  *
  * 2. `/root/reference/data/answers_5` — the reference's own goldens,
  *    for its dataset_5 inputs, checked only when that snapshot is present
  *    (the tests report canceled otherwise), under the reference's CI
  *    tolerance model (.gitlab-ci.yml:137-170): money ±(1% rel, 0.01 abs),
  *    order_datetime exact after parse, rest exact. The reference's run
  *    embedded ONE arbitrary shuffle-fetch interleaving: its day-10 scan
  *    was split mid-file and the allocation loop saw the later block
  *    first, flipping exactly 3 allocation-order-sensitive lines of
  *    product 30 (123 cancelled vs 122 deterministic; per-product stock
  *    totals identical). Those order-degenerate lines — and the 3
  *    downstream orders.csv rows they feed (one per flipped transaction) —
  *    are the ONLY tolerated deviations; bounds asserted.
  */
class CandyGoldenSpec extends AnyFunSuite with SparkTestBase {

  private val dataDir = "src/test/resources/candy_input"
  private val referenceGolden = "/root/reference/data/answers_5"
  private val deterministicGolden = "src/test/resources/candy_expected"
  // the reference snapshot keeps its inputs beside its answers
  private val referenceData = Paths.get(referenceGolden).resolveSibling("dataset_5").toString
  private val (start, end) = (LocalDate.of(2024, 2, 1), LocalDate.of(2024, 2, 10))

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private lazy val outDir = tmp("candy_golden")
  private lazy val result = new CandyPipeline(spark, dataDir, outDir, start, end).run()

  private lazy val referenceOutDir = tmp("candy_reference")
  private lazy val referenceRun =
    new CandyPipeline(spark, referenceData, referenceOutDir, start, end).run()

  private def assumeReference(): Unit = {
    assume(Files.exists(Paths.get(referenceGolden)), s"$referenceGolden is absent")
    referenceRun
  }

  private val moneyCols = Set(
    "unit_price", "line_total", "total_amount", "total_sales", "total_profit")

  /** Read a headered CSV fully as strings (handles quoted commas). */
  private def readCsv(path: String): (Array[String], Seq[Array[String]]) = {
    val df = spark.read.option("header", "true")
      .option("inferSchema", "false").csv(path)
    (df.columns, df.collect().toIndexedSeq.map(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) "" else r.getString(i)).toArray))
  }

  /** Positional compare (like the reference CI's pandas validator).
    * Returns the row indices that deviate beyond the tolerance model.
    */
  private def deviations(file: String): Seq[Int] = {
    val (gCols, gRows) = readCsv(s"$referenceGolden/$file")
    val (aCols, aRows) = readCsv(s"$referenceOutDir/$file")
    assert(aCols.toSeq == gCols.toSeq, s"$file columns")
    assert(aRows.size == gRows.size, s"$file rows: ${aRows.size} vs ${gRows.size}")
    gRows.zip(aRows).zipWithIndex.flatMap { case ((g, a), i) =>
      val bad = gCols.indices.exists { c =>
        gCols(c) match {
          case n if moneyCols.contains(n) =>
            math.abs(g(c).toDouble - a(c).toDouble) > 0.01 + 0.01 * math.abs(g(c).toDouble)
          case "order_datetime" =>
            java.time.LocalDateTime.parse(a(c)) != java.time.LocalDateTime.parse(g(c))
          case _ => a(c) != g(c)
        }
      }
      if (bad) Some(i) else None
    }
  }

  private def text(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).replace("\r\n", "\n")

  private def assertExact(file: String, rows: Int): Unit = {
    result
    val (actual, golden) = (text(s"$outDir/$file"), text(s"$deterministicGolden/$file"))
    assert(golden.count(_ == '\n') == rows + 1, s"$file golden rows")
    assert(actual == golden, s"$file deviates from the deterministic golden")
  }

  private lazy val goldenLines = spark.read.option("header", "true")
    .option("inferSchema", "true").csv(s"$deterministicGolden/order_line_items.csv")

  test("the fixture covers every edge case the goldens depend on") {
    val tx = CandySources.transactions(spark, dataDir, start, end)
    val items = col("items")
    // transactions whose every line is null-qty (must vanish from orders.csv)
    assert(tx.filter(size(items) > 0 && forall(items, _("qty").isNull)).count() > 0)
    // a product repeated inside one transaction (allocated sequentially)
    assert(tx.filter(size(array_distinct(items("product_id"))) < size(items)).count() > 0)
    // cancelled lines, on more than one product
    val cancelled = goldenLines.filter(col("quantity") === 0)
    assert(cancelled.select("product_id").distinct().count() > 1)
    // release after cancel: a later line of a product fills after an
    // earlier one was cancelled (transaction ids rise with time)
    val firstCancel = cancelled.groupBy("product_id").agg(min("order_id").as("c"))
    assert(goldenLines.join(firstCancel, "product_id")
      .filter(col("order_id") > col("c") && col("quantity") > 0).count() > 0)
    // multi-day stock carry: a line cancelled only because earlier days
    // used up the stock — it would fill under daily reload
    val priced = CandyEtl.pricedLines(tx, CandySources.products(spark, dataDir))
    def alloc(reload: Boolean) = CandyEtl.allocate(priced, reload)
      .select("day_idx", "tx_seq", "item_pos", "quantity")
    val carried = alloc(reload = false).filter(col("quantity") === 0)
      .join(alloc(reload = true).filter(col("quantity") > 0), Seq("day_idx", "tx_seq", "item_pos"))
    assert(carried.count() > 0)
  }

  test("pipeline runs; cancelled lines = the replay's count (135)") {
    val replay = goldenLines.filter(col("quantity") === 0).count()
    assert(replay == 135)
    assert(result.cancelledLines == replay)
  }

  test("order_line_items.csv == deterministic golden (8,641 rows)") {
    assertExact("order_line_items.csv", 8641)
  }
  test("products_updated.csv == deterministic golden (36 rows)") {
    assertExact("products_updated.csv", 36)
  }
  test("orders.csv == deterministic golden (3,076 rows)") {
    assertExact("orders.csv", 3076)
  }
  test("daily_summary.csv == deterministic golden (10 rows)") {
    assertExact("daily_summary.csv", 10)
  }

  test("reference golden: order_line_items deviates ONLY on the 3 order-degenerate lines") {
    assumeReference()
    val devs = deviations("order_line_items.csv")
    assert(devs.size <= 3, s"${devs.size} deviations: ${devs.take(10)}")
  }
  test("reference golden: orders deviates only on the 3 downstream rows") {
    assumeReference()
    assert(deviations("orders.csv").size <= 3)
  }
  test("reference golden: products_updated exact") {
    assumeReference()
    assert(deviations("products_updated.csv").isEmpty)
  }
  test("reference golden: daily_summary exact under tolerance model") {
    assumeReference()
    assert(deviations("daily_summary.csv").isEmpty)
  }

  test("sales_profit_forecast.csv exists with golden schema, 1 row") {
    result
    val (cols, rows) = readCsv(s"$outDir/sales_profit_forecast.csv")
    assert(cols.toSeq == Seq("date", "forecasted_sales", "forecasted_profit"))
    assert(rows.size == 1)
    assert(LocalDate.parse(rows.head(0)) == end.plusDays(1))
    rows.head(1).toDouble; rows.head(2).toDouble
  }
}
