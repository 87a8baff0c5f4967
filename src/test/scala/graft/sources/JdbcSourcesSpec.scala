package graft.sources

import graft.SparkTestBase
import graft.model.CandyModel
import graft.pipeline.{CandyConfig, CandyPipeline}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.DriverManager

/** The real `format("jdbc")` code path (reference data_processor.py:87-101),
  * exercised against an embedded Apache Derby database — the same Spark
  * JDBC source a production MySQL deployment hits, minus only the driver
  * class (configurable, like the reference's `.env` surface).
  *
  * The database is populated from the in-repo dimension CSVs
  * (`src/test/resources/candy_input`), so JDBC-loaded dimensions must
  * match the CSV-fixture source exactly, and the full pipeline must still
  * hit its deterministic golden byte for byte when dimensions come from
  * JDBC.
  */
class JdbcSourcesSpec extends AnyFunSuite with SparkTestBase {

  private val dataDir = "src/test/resources/candy_input"

  private lazy val dbUrl: String = {
    val home = Files.createTempDirectory("derby_home").toFile
    home.deleteOnExit()
    System.setProperty("derby.system.home", home.getAbsolutePath)
    val url = s"jdbc:derby:${home.getAbsolutePath}/candy"
    val conn = DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      // mirrors the reference's MySQL DDL (reference README.md:32-59)
      st.executeUpdate(
        """CREATE TABLE products (
          |  product_id INT PRIMARY KEY,
          |  product_name VARCHAR(255),
          |  product_category VARCHAR(255),
          |  product_subcategory VARCHAR(255),
          |  product_shape VARCHAR(255),
          |  sales_price DECIMAL(10,2),
          |  cost_to_make DECIMAL(10,2),
          |  stock INT)""".stripMargin)
      st.executeUpdate(
        """CREATE TABLE customers (
          |  customer_id INT PRIMARY KEY,
          |  first_name VARCHAR(50),
          |  last_name VARCHAR(50),
          |  email VARCHAR(100),
          |  address VARCHAR(255),
          |  phone VARCHAR(50))""".stripMargin)
      val insP = conn.prepareStatement(
        "INSERT INTO products VALUES (?,?,?,?,?,?,?,?)")
      CandySources.products(spark, dataDir).collect().foreach { r =>
        insP.setInt(1, r.getInt(0))
        (1 to 4).foreach(i => insP.setString(i + 1, r.getString(i)))
        insP.setBigDecimal(6, r.getDecimal(5))
        insP.setBigDecimal(7, r.getDecimal(6))
        insP.setInt(8, r.getInt(7))
        insP.addBatch()
      }
      insP.executeBatch()
      val insC = conn.prepareStatement(
        "INSERT INTO customers VALUES (?,?,?,?,?,?)")
      CandySources.customers(spark, dataDir).collect().foreach { r =>
        insC.setInt(1, r.getInt(0))
        (1 to 5).foreach(i => insC.setString(i + 1, r.getString(i)))
        insC.addBatch()
      }
      insC.executeBatch()
    } finally conn.close()
    url
  }

  private lazy val cfg = CandyConfig.fromEnv(Map(
    "CANDY_DATA_DIR" -> dataDir,
    "MYSQL_URL" -> dbUrl,
    "MYSQL_DRIVER" -> "org.apache.derby.jdbc.EmbeddedDriver",
    "MONGO_START_DATE" -> "20240201",
    "MONGO_END_DATE" -> "20240210"))

  test("products over live JDBC == CSV fixture (schema + rows)") {
    val viaJdbc = CandySources.products(spark, cfg)
    val viaCsv = CandySources.products(spark, dataDir)
    assert(viaJdbc.schema == viaCsv.schema)
    assert(viaJdbc.collect().toSet == viaCsv.collect().toSet)
    assert(viaJdbc.count() == 36)
  }

  test("customers over live JDBC == CSV fixture (schema + rows)") {
    val viaJdbc = CandySources.customers(spark, cfg)
    val viaCsv = CandySources.customers(spark, dataDir)
    assert(viaJdbc.schema == viaCsv.schema)
    assert(viaJdbc.collect().toSet == viaCsv.collect().toSet)
    assert(viaJdbc.count() == 30)
  }

  test("the JDBC scan is a real jdbc relation, not a disguised fixture read") {
    val plan = CandySources.products(spark, cfg).queryExecution
      .optimizedPlan.toString()
    assert(plan.contains("JDBCRelation"), s"plan was:\n$plan")
  }

  test("golden e2e with JDBC dimensions: all four reports byte-exact") {
    val outDir = Files.createTempDirectory("candy_jdbc_out").toFile
    outDir.deleteOnExit()
    val result = new CandyPipeline(spark, cfg.copy(outputPath = outDir.getAbsolutePath)).run()
    assert(result.cancelledLines == 135)
    def text(path: String) =
      new String(Files.readAllBytes(Paths.get(path)), UTF_8).replace("\r\n", "\n")
    for (file <- Seq("order_line_items.csv", "products_updated.csv",
        "orders.csv", "daily_summary.csv")) {
      assert(text(s"${outDir.getAbsolutePath}/$file") ==
        text(s"src/test/resources/candy_expected/$file"), s"$file deviates")
    }
  }

  test("decimal types survive the JDBC round-trip") {
    val viaJdbc = CandySources.products(spark, cfg)
    assert(viaJdbc.schema("sales_price").dataType == CandyModel.Money)
    assert(viaJdbc.schema("cost_to_make").dataType == CandyModel.Money)
  }
}
