package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import java.time.LocalDate

/** Every variable of the reference's `.env.example` (reference
  * .env.example:1-21) must round-trip through [[CandyConfig.fromEnv]] —
  * the reference-user migration contract: an existing `.env` keeps
  * working unchanged. One reference variable is intentionally
  * repurposed, documented here:
  *
  *   - `RELOAD_INVENTORY_DAILY` is parsed by the reference but never
  *     acted on (reference data_processor.py:54-60 — dead config); this
  *     engine IMPLEMENTS it (per-day restock, `CandyReloadSpec`).
  */
class CandyConfigSpec extends AnyFunSuite {

  private val fullEnv = Map(
    "DATASET_NUMBER" -> "5",
    "MYSQL_CONNECTOR_PATH" -> "/opt/jars/mysql-connector-j.jar",
    "MONGODB_URI" -> "mongodb://mongo.example:27017",
    "MYSQL_URL" -> "jdbc:mysql://db.example:3306/candy_store_5",
    "MYSQL_USER" -> "etl_user",
    "MYSQL_PASSWORD" -> "s3cret",
    "MYSQL_DB" -> "candy_store_5",
    "CUSTOMERS_TABLE" -> "customers_v2",
    "PRODUCTS_TABLE" -> "products_v2",
    "MONGO_DB" -> "candy_store_5",
    "MONGO_COLLECTION_PREFIX" -> "tx_",
    "MONGO_START_DATE" -> "20240203",
    "MONGO_END_DATE" -> "20240207",
    "OUTPUT_PATH" -> "/data/out",
    // engine-side extensions of the same surface
    "CANDY_DATA_DIR" -> "/data/in",
    "MYSQL_DRIVER" -> "org.apache.derby.jdbc.EmbeddedDriver",
    "RELOAD_INVENTORY_DAILY" -> "TRUE",
    "MONGO_ENABLED" -> "true")

  test("every reference .env.example variable round-trips") {
    val c = CandyConfig.fromEnv(fullEnv)
    assert(c.datasetNumber == "5")
    assert(c.mysqlConnectorPath == "/opt/jars/mysql-connector-j.jar")
    assert(c.mongoUri == "mongodb://mongo.example:27017")
    assert(c.mysqlUrl == "jdbc:mysql://db.example:3306/candy_store_5")
    assert(c.mysqlUser == "etl_user")
    assert(c.mysqlPassword == "s3cret")
    assert(c.mysqlDb == "candy_store_5")
    assert(c.customersTable == "customers_v2")
    assert(c.productsTable == "products_v2")
    assert(c.mongoDb == "candy_store_5")
    assert(c.mongoCollectionPrefix == "tx_")
    assert(c.startDate == LocalDate.of(2024, 2, 3))
    assert(c.endDate == LocalDate.of(2024, 2, 7))
    assert(c.outputPath == "/data/out")
    assert(c.dataDir == "/data/in")
    assert(c.mysqlDriver == "org.apache.derby.jdbc.EmbeddedDriver")
    assert(c.reloadInventoryDaily)
    assert(c.jdbcDims)
    assert(c.mongoTransactions)
  }

  test("defaults mirror the reference when the environment is empty") {
    val c = CandyConfig.fromEnv(Map.empty)
    assert(c.mongoCollectionPrefix == "transactions_")
    assert(c.customersTable == "customers")
    assert(c.productsTable == "products")
    assert(c.mysqlDriver == "com.mysql.cj.jdbc.Driver")
    assert(c.outputPath == "data/output")
    assert(!c.reloadInventoryDaily)
    assert(!c.jdbcDims)
    // a nonempty default URI must NOT imply a live server: the mongo
    // source is an explicit opt-in
    assert(c.mongoUri.nonEmpty && !c.mongoTransactions)
  }

  test("mongo read options compose uri/db/collection like the reference") {
    val c = CandyConfig.fromEnv(fullEnv ++ Map(
      "MONGO_DB" -> "candy_store_5 # production", // comment-stripping quirk
      "MONGO_COLLECTION_PREFIX" -> "tx_"))
    val opts = graft.sources.CandySources
      .mongoReadOptions(c, LocalDate.of(2024, 2, 4))
    assert(opts("connection.uri") == "mongodb://mongo.example:27017")
    assert(opts("database") == "candy_store_5")
    assert(opts("collection") == "tx_20240204")
  }

  test("boolean flags accept only true/false (any case); anything else " +
    "is rejected naming the variable") {
    for (k <- Seq("RELOAD_INVENTORY_DAILY", "MONGO_ENABLED")) {
      assert(CandyConfig.fromEnv(Map(k -> "False")) == CandyConfig.fromEnv(Map.empty))
      assert(CandyConfig.fromEnv(Map(k -> "")) == CandyConfig.fromEnv(Map.empty))
      for (bad <- Seq("yes", "1", "on", "ture", " true")) {
        val e = intercept[IllegalArgumentException](
          CandyConfig.fromEnv(Map(k -> bad)))
        assert(e.getMessage.contains(k) && e.getMessage.contains(s"'$bad'"),
          e.getMessage)
      }
    }
    assert(CandyConfig.fromEnv(Map("RELOAD_INVENTORY_DAILY" -> "tRuE"))
      .reloadInventoryDaily)
    assert(CandyConfig.fromEnv(Map("MONGO_ENABLED" -> "TRUE")).mongoTransactions)
  }

  test("empty-string env values fall back to defaults (reference get-or-default)") {
    val c = CandyConfig.fromEnv(Map("MYSQL_URL" -> "", "PRODUCTS_TABLE" -> ""))
    assert(!c.jdbcDims)
    assert(c.productsTable == "products")
  }
}
