package graft.pipeline

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Environment-driven configuration mirroring the reference's `.env`
  * surface (reference .env.example:1-21, parsed in main.py:76-107) so a
  * user of the reference can switch without changing their deployment
  * config. File-backed fixtures only need `CANDY_DATA_DIR`; the
  * MongoDB/MySQL variables are carried for the production source
  * implementations (`format("mongodb")` / `format("jdbc")`).
  *
  * `RELOAD_INVENTORY_DAILY` is parsed by the reference but never acted on
  * (data_processor.py:54-60 — dead config); here it is IMPLEMENTED:
  * when true, each day's allocation starts from the full dimension stock
  * instead of carrying remaining stock across days.
  */
final case class CandyConfig(
    dataDir: String,
    outputPath: String,
    startDate: LocalDate,
    endDate: LocalDate,
    mongoUri: String,
    mongoDb: String,
    mongoCollectionPrefix: String,
    mysqlUrl: String,
    mysqlUser: String,
    mysqlPassword: String,
    mysqlDriver: String,
    mysqlDb: String,
    mysqlConnectorPath: String,
    datasetNumber: String,
    customersTable: String,
    productsTable: String,
    reloadInventoryDaily: Boolean,
    mongoEnabled: Boolean) {

  /** Dimensions come from a live JDBC database when a URL is configured;
    * otherwise from the `dataDir` CSV fixtures.
    */
  def jdbcDims: Boolean = mysqlUrl.nonEmpty

  /** Day-partitioned transactions come from live MongoDB when opted in
    * (`MONGO_ENABLED=true`); JSON fixtures otherwise. An explicit flag,
    * not `mongoUri.nonEmpty`, because the reference defaults the URI to
    * localhost (reference .env.example:2) — a nonempty URI does not mean
    * a reachable server.
    */
  def mongoTransactions: Boolean = mongoEnabled
}

object CandyConfig {
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  def fromEnv(env: Map[String, String] = sys.env): CandyConfig = {
    def get(k: String, default: String): String =
      env.get(k).filter(_.nonEmpty).getOrElse(default)
    // only true/false (any case): a typo such as `yes` must not silently
    // pick the other allocation mode or source
    def flag(k: String): Boolean = {
      val v = get(k, "false")
      v.toLowerCase match {
        case "true" => true
        case "false" => false
        case _ => throw new IllegalArgumentException(
          s"$k must be true or false, got '$v'")
      }
    }
    CandyConfig(
      dataDir = get("CANDY_DATA_DIR", "data"),
      outputPath = get("OUTPUT_PATH", "data/output"),
      startDate = LocalDate.parse(get("MONGO_START_DATE", "20240201"), fmt),
      endDate = LocalDate.parse(get("MONGO_END_DATE", "20240210"), fmt),
      mongoUri = get("MONGODB_URI", "mongodb://localhost:27017"),
      mongoDb = get("MONGO_DB", "candy_store"),
      mongoCollectionPrefix = get("MONGO_COLLECTION_PREFIX", "transactions_"),
      mysqlUrl = get("MYSQL_URL", ""),
      mysqlUser = get("MYSQL_USER", ""),
      mysqlPassword = get("MYSQL_PASSWORD", ""),
      // the reference hardcodes the MySQL driver class
      // (data_processor.py:94); configurable here so tests can run the
      // SAME format("jdbc") code path against an embedded database
      mysqlDriver = get("MYSQL_DRIVER", "com.mysql.cj.jdbc.Driver"),
      mysqlDb = get("MYSQL_DB", "candy_store"),
      // reference .env.example:5 — the connector jar is a spark-submit
      // --jars concern, carried for config-surface parity only
      mysqlConnectorPath = get("MYSQL_CONNECTOR_PATH", ""),
      datasetNumber = get("DATASET_NUMBER", ""),
      customersTable = get("CUSTOMERS_TABLE", "customers"),
      productsTable = get("PRODUCTS_TABLE", "products"),
      reloadInventoryDaily = flag("RELOAD_INVENTORY_DAILY"),
      mongoEnabled = flag("MONGO_ENABLED"))
  }
}
