package graft.pipeline

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.time.LocalDate

/** Orchestration contracts of [[CandyPipeline]]: setup rejects a bad
  * config before any read, and cleanup releases every frame a run
  * persisted, whether the run succeeds or fails part-way.
  */
class CandyPipelineSpec extends AnyFunSuite with SparkTestBase {

  private val dataDir = "src/test/resources/candy_input"
  private val (start, end) = (LocalDate.of(2024, 2, 1), LocalDate.of(2024, 2, 10))

  test("setup fails fast on an inverted date range") {
    val cfg = CandyConfig.fromEnv(Map(
      "CANDY_DATA_DIR" -> dataDir,
      "MONGO_START_DATE" -> "20240210",
      "MONGO_END_DATE" -> "20240201"))
    assertThrows[IllegalArgumentException](new CandyPipeline(spark, cfg))
    assertThrows[IllegalArgumentException](
      new CandyPipeline(spark, dataDir, "unused", end, start))
  }

  /** Runs `body` from an empty cache and asserts it leaves no
    * CacheManager entry and no persisted RDD behind.
    */
  private def assertReleases(body: => Unit): Unit = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    assert(spark.sharedState.cacheManager.isEmpty, "cached plans left behind")
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before),
      "persisted RDDs left behind")
  }

  test("run() releases every cached frame after a successful run") {
    val out = Files.createTempDirectory("candy_release").toFile
    out.deleteOnExit()
    assertReleases {
      val r = new CandyPipeline(spark, dataDir, out.getAbsolutePath, start, end).run()
      assert(r.reports.size == 5)
    }
  }

  test("run() leaves the session serializable") {
    // Spark ML scoring captures the session in its closures; an
    // `Observation` would leave a non-transient field behind that breaks it
    val out = Files.createTempDirectory("candy_serializable").toFile
    out.deleteOnExit()
    new CandyPipeline(spark, dataDir, out.getAbsolutePath, start, end).run()
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream).writeObject(spark)
  }

  test("run() releases every cached frame when a report write fails") {
    // an existing regular file as the output directory: the first report
    // write fails after the sources and the allocation are persisted
    val file = Files.createTempFile("candy_release", ".csv").toFile
    file.deleteOnExit()
    assertReleases {
      intercept[Exception] {
        new CandyPipeline(spark, dataDir, file.getAbsolutePath, start, end).run()
      }
    }
  }
}
