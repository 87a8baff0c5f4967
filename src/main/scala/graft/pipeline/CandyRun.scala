package graft.pipeline

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** CLI runner for the candy-store pipeline — the analogue of the
  * reference's `main.py` entry point (reference main.py:141-205).
  *
  * Usage: CandyRun <dataDir> <outputDir> <startDate yyyyMMdd> <endDate yyyyMMdd>
  *
  * Configuration always starts from the reference-shaped environment
  * variables (see [[CandyConfig]] / reference .env.example); positional
  * arguments, when given, override ONLY the paths and date range —
  * behavioural env flags like `RELOAD_INVENTORY_DAILY` stay effective
  * either way.
  */
object CandyRun {
  def main(args: Array[String]): Unit = {
    require(
      args.isEmpty || args.length == 4,
      "usage: CandyRun [<dataDir> <outputDir> <startDate yyyyMMdd> <endDate yyyyMMdd>] " +
        "(no args: configure fully from environment)")
    val base = CandyConfig.fromEnv()
    val cfg =
      if (args.isEmpty) base
      else {
        val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")
        base.copy(
          dataDir = args(0),
          outputPath = args(1),
          startDate = LocalDate.parse(args(2), fmt),
          endDate = LocalDate.parse(args(3), fmt))
      }

    val spark = graft.GraftSession.builder(
      master = sys.env.getOrElse(
        "SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .appName("candy-store-etl")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val result = new CandyPipeline(spark, cfg).run()
    result.reports.foreach(p => println(s"wrote $p"))
    println(s"cancelled lines: ${result.cancelledLines}")
    spark.stop()
  }
}
