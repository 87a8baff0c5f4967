package perfbench

import graft.{BenchHarness, SparkEntry}
import graft.etl.CandyEtl
import graft.pipeline.CandyPipeline
import graft.sinks.SingleFileCsvSink
import graft.sources.CandySources
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** One unit of work as the workload reports it: timed seconds, seconds per
  * named part, and the layer metrics a traced unit yields.
  */
final case class UnitOut(seconds: Double, parts: Map[String, Double], facts: Map[String, Double])

/** Spans around calls into the program's modules. When `on`, each span tags
  * the jobs it submits (see [[Probe]]) and is logged; parts are timed either
  * way, so traced and untraced units report the same parts.
  */
final class Spans(sc: SparkContext, val on: Boolean, unit: Int) {
  val parts = mutable.LinkedHashMap.empty[String, Double]
  val log = mutable.ArrayBuffer.empty[String]

  def apply[T](name: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Probe.SpanKey)
    if (on) sc.setLocalProperty(Probe.SpanKey, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      parts(name) = parts.getOrElse(name, 0.0) + (t1 - t0) / 1e9
      if (on) {
        sc.setLocalProperty(Probe.SpanKey, prev)
        log += s"""{"unit":$unit,"name":"$name","parent":"unit","start_ns":$t0,"end_ns":$t1}"""
      }
    }
  }
}

trait Workload {
  /** Untimed, once before the warm-ups: writes what a gate outside the
    * JVM reads.
    */
  def prepare(): Unit = ()
  /** Untimed run that warms the JIT, like a timed unit. */
  def warmup(): Unit
  def unit(sp: Spans): UnitOut
  /** Correctness of the last unit's outputs; `Some(reason)` when wrong. */
  def check(): Option[String]
  /** Layer metrics of a traced unit from the work its spans recorded. */
  def layers(out: UnitOut, snap: Probe.Snapshot): Map[String, Double]
}

/** The paper's pipeline over one generated dataset. Untraced units call
  * `CandyPipeline.run()`; traced units make the same module calls in the
  * same order with a span around each, forcing only the frames the
  * pipeline itself persists.
  */
final class Candy(
    spark: SparkSession,
    data: String,
    golden: String,
    out: String,
    start: LocalDate,
    end: LocalDate) extends Workload {

  private val reports =
    Seq("order_line_items.csv", "products_updated.csv", "orders.csv", "daily_summary.csv")

  def warmup(): Unit = { untraced(); release() }

  private def untraced(): Unit = new CandyPipeline(spark, data, out, start, end).run()

  /** The pipeline leaves its persisted frames cached; free them between
    * units so one unit's cache never weighs on the next.
    */
  private def release(): Unit = {
    spark.catalog.clearCache()
    BenchHarness.dropCheckpointBlocks(spark)
  }

  /** Removes the last unit's reports, so `check` reads only what the
    * next unit writes.
    */
  private def clearOut(): Unit = {
    val dir = new org.apache.hadoop.fs.Path(out)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
  }

  def unit(sp: Spans): UnitOut =
    try {
      clearOut()
      val t0 = System.nanoTime()
      val facts =
        if (!sp.on) { sp("pipeline")(untraced()); Map.empty[String, Double] }
        else traced(sp)
      UnitOut((System.nanoTime() - t0) / 1e9, sp.parts.toMap, facts)
    } finally release()

  private def traced(sp: Spans): Map[String, Double] = {
    val mem = StorageLevel.MEMORY_AND_DISK
    val pipeline = new CandyPipeline(spark, data, out, start, end)
    val (tx, products) = sp("source") {
      val t = CandySources.transactions(spark, data, start, end).persist(mem)
      t.count()
      (t, CandySources.products(spark, data))
    }
    val (allocated, attempted) = sp("allocate") {
      val a = CandyEtl.allocate(CandyEtl.pricedLines(tx, products)).persist(mem)
      (a, a.count())
    }
    val (lineItems, stock, orders, daily) = sp("reports") {
      val o = CandyEtl.orders(tx, allocated)
      val d = CandyEtl.dailySummary(o, allocated).persist(mem)
      d.count()
      (CandyEtl.orderLineItems(allocated), CandyEtl.productsUpdated(products, allocated), o, d)
    }
    val forecast = sp("forecast")(pipeline.forecastFrame(daily))
    sp("sink.order_line_items")(SingleFileCsvSink.write(lineItems, out, "order_line_items.csv"))
    sp("sink.products_updated")(SingleFileCsvSink.write(stock, out, "products_updated.csv"))
    sp("sink.orders")(SingleFileCsvSink.write(orders, out, "orders.csv"))
    sp("sink.daily_summary")(
      SingleFileCsvSink.write(CandyEtl.formatDailySummary(daily), out, "daily_summary.csv"))
    sp("sink.sales_profit_forecast")(
      SingleFileCsvSink.write(forecast, out, "sales_profit_forecast.csv"))
    val cancelled = sp("reports")(allocated.filter(col("quantity") === 0).count())
    Map("attempted_lines" -> attempted.toDouble, "cancelled_lines" -> cancelled.toDouble)
  }

  private def text(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).replace("\r\n", "\n")

  def check(): Option[String] = {
    val wrong = reports.filter(f => text(s"$out/$f") != text(s"$golden/$f"))
    if (wrong.nonEmpty) Some(s"differs from the replay: ${wrong.mkString(", ")}")
    else {
      val lines = text(s"$out/sales_profit_forecast.csv").split("\n").toSeq
      val row = lines.drop(1).map(_.split(",", -1).toSeq)
      val ok = lines.headOption.contains("date,forecasted_sales,forecasted_profit") &&
        row.size == 1 && row.head.size == 3 &&
        row.head.head == end.plusDays(1).toString &&
        row.head.tail.forall(v => v.toDoubleOption.exists(d => !d.isNaN && !d.isInfinite))
      if (ok) None else Some(s"bad forecast: ${lines.mkString(" | ")}")
    }
  }

  def layers(u: UnitOut, snap: Probe.Snapshot): Map[String, Double] = {
    def in(prefix: String)(n: String) = n == prefix || n.startsWith(prefix + ".")
    def cpu(p: String) = snap.sum(in(p))(_.cpuNs) / 1e9
    def mb(p: String)(f: Counters => Long) = snap.sum(in(p))(f) / Probe.MB
    def part(p: String) = u.parts.collect { case (n, s) if in(p)(n) => s }.sum
    val attempted = u.facts("attempted_lines")
    Map(
      "source.s" -> part("source"),
      "source.task_cpu_s" -> cpu("source"),
      "source.input_mb" -> mb("source")(_.inputBytes),
      "source.tasks" -> snap.sum(in("source"))(_.tasks).toDouble,
      "allocate.s" -> part("allocate"),
      "allocate.task_cpu_s" -> cpu("allocate"),
      "allocate.shuffle_mb" -> mb("allocate")(_.shuffleWriteBytes),
      "allocate.skew" -> snap.skew(in("allocate")),
      "allocate.fill_ratio" ->
        (if (attempted > 0) (attempted - u.facts("cancelled_lines")) / attempted else 0.0),
      "reports.s" -> part("reports"),
      "reports.task_cpu_s" -> cpu("reports"),
      "reports.shuffle_mb" -> mb("reports")(_.shuffleWriteBytes),
      "sink.s" -> part("sink"),
      "sink.mb_written" -> mb("sink")(_.outputBytes),
      "sink.order_line_items.s" -> part("sink.order_line_items"),
      "sink.orders.s" -> part("sink.orders"),
      "forecast.s" -> part("forecast"))
  }
}

/** The heavy query set through the `noop` sink, one pass in `order`.
  * `prepare` collects every result once and writes it as parquet for the
  * oracle gate; warm-up passes run like the timed ones.
  */
final class Queries(spark: SparkSession, sf: String, order: Seq[String], work: String)
    extends Workload {

  private val fns = order.map(n => n -> SparkEntry.queries(n))
  def short(name: String): String = name.takeWhile(_ != '_')

  def warmup(): Unit = unit(new Spans(spark.sparkContext, on = false, unit = -1))

  override def prepare(): Unit = {
    fns.foreach { case (n, f) =>
      val df = f(spark, sf)
      val rows = df.collect()
      BenchHarness.dropCheckpointBlocks(spark)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/verify/$n")
    }
    val oracles = order.map(n => s""""$n": ${Json.quote(SparkEntry.oracleSql(n))}""")
    Files.writeString(Paths.get(s"$work/verify/oracle_sql.json"), oracles.mkString("{", ",\n", "}"))
  }

  def unit(sp: Spans): UnitOut = {
    fns.foreach { case (n, f) =>
      sp(s"q.${short(n)}")(f(spark, sf).write.format("noop").mode("overwrite").save())
      BenchHarness.dropCheckpointBlocks(spark)
    }
    UnitOut(sp.parts.values.sum, sp.parts.toMap, Map.empty)
  }

  def check(): Option[String] = None // the oracle gate runs on prepare's outputs

  def layers(u: UnitOut, snap: Probe.Snapshot): Map[String, Double] =
    order.map(short).flatMap { q =>
      val key = s"q.$q"
      Seq(
        s"$key.s" -> u.parts(key),
        s"$key.jobs" -> snap.sum(_ == key)(_.jobs).toDouble,
        s"$key.task_cpu_s" -> snap.sum(_ == key)(_.cpuNs) / 1e9)
    }.toMap
}

/** The few JSON spellings the result file needs. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s"${quote(k)}:${num(v)}" }.mkString("{", ",", "}")
}

/** Peak heap in use just after a collection, over a window. */
object Heap {
  @volatile private var peak = 0L
  private lazy val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }
        }, null, null)
      case _ =>
    }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / Probe.MB
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** Hypervisor steal from /proc/stat, in seconds summed over CPUs. */
object Steal {
  def read(): Double =
    Try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      cpu(8).toDouble / 100.0
    }.getOrElse(0.0)
}

/** Runs one workload in one JVM: set-up, warm-up, then units until the
  * window closes, and writes a JSON result for perfbench/run.py.
  *
  * Args (pairs): --workload --data --golden --work --start --end --queries
  * --setups --warmups --min-units --seconds --trace --result
  */
object PerfMain {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors

    // set-up: the shared measurement session, started `setups` times
    var spark: SparkSession = null
    val sessionS = (1 to opt("setups").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = BenchHarness.session(cpusDefault = cpus)
      spark.range(1).count()
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    Heap.install()

    val w: Workload = opt("workload") match {
      case "queries_heavy" => new Queries(spark, opt("data"), opt("queries").split(",").toSeq, work)
      case _ =>
        new Candy(spark, opt("data"), opt("golden"), s"$work/out",
          LocalDate.parse(opt("start")), LocalDate.parse(opt("end")))
    }
    val prep0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - prep0) / 1e9
    val warm0 = System.nanoTime()
    val warmups = opt("warmups").toInt
    (1 until warmups).foreach(_ => w.warmup())
    // collect the warm-up's garbage and quiet the context cleaner, so the
    // window's heap peak is not charged with it; the last warm-up runs
    // after that, so the first timed unit starts, as every later one does,
    // right after a unit and not after a full collection
    BenchHarness.quiesce(spark)
    if (warmups > 0) w.warmup()
    val warmupS = (System.nanoTime() - warm0) / 1e9
    Bus.drain(sc)
    probe.take()

    val units = mutable.ArrayBuffer.empty[String]
    val spanLog = mutable.ArrayBuffer.empty[String]
    // a traced run needs untraced units too, for the overhead
    val minUnits = if (trace) math.max(4, opt("min-units").toInt) else opt("min-units").toInt
    Heap.reset()
    val steal0 = Steal.read()
    val t0 = System.nanoTime()
    var i = 0
    while (i < minUnits || (System.nanoTime() - t0) / 1e9 < seconds || (trace && i % 4 != 0)) {
      // a traced run interleaves untraced and traced units in whole
      // u t t u blocks, so both medians cover the same stretch of the
      // window and its drift, and their difference is the overhead
      val sp = new Spans(sc, trace && (i % 4 == 1 || i % 4 == 2), i)
      val wall0 = System.currentTimeMillis()
      val gc0 = Heap.gcSeconds
      val res = Try(w.unit(sp))
      val wall1 = System.currentTimeMillis()
      val gcS = Heap.gcSeconds - gc0
      Bus.drain(sc)
      val snap = probe.take()
      val err = res match {
        case Failure(e) => Some(s"failed: $e")
        case Success(_) => Try(w.check()).fold(e => Some(s"check failed: $e"), identity)
      }
      err.foreach(e => System.err.println(s"[perfbench] unit $i: $e"))
      val u = res.getOrElse(UnitOut(Double.NaN, sp.parts.toMap, Map.empty))
      val unitLayer = Map(
        "spark.task_cpu_s" -> snap.total(_.cpuNs) / 1e9,
        "input_records" -> snap.total(_.inputRecords).toDouble,
        "spark.jobs" -> snap.total(_.jobs).toDouble,
        "spark.stages" -> snap.total(_.stages).toDouble,
        "spark.tasks" -> snap.total(_.tasks).toDouble,
        "spark.planning_s" -> snap.planningMs / 1e3,
        "spark.idle_s" -> snap.idleMs(wall0, wall1) / 1e3,
        "spark.gc_s" -> gcS,
        "task_run_s" -> snap.total(_.runMs) / 1e3,
        "task_gc_s" -> snap.total(_.gcMs) / 1e3,
        "input_mb" -> snap.total(_.inputBytes) / Probe.MB,
        "shuffle_read_mb" -> snap.total(_.shuffleReadBytes) / Probe.MB,
        "shuffle_write_mb" -> snap.total(_.shuffleWriteBytes) / Probe.MB,
        "spill_memory_mb" -> snap.total(_.memSpillBytes) / Probe.MB,
        "spill_disk_mb" -> snap.total(_.diskSpillBytes) / Probe.MB,
        "peak_execution_memory_mb" ->
          snap.spans.values.map(_.peakExecMem).foldLeft(0L)(math.max) / Probe.MB)
      val layer = if (sp.on && res.isSuccess) Try(w.layers(u, snap)).getOrElse(Map.empty) else Map.empty
      units += s"""{"traced":${sp.on},"ok":${err.isEmpty},"s":${Json.num(u.seconds)},""" +
        s""""parts":${Json.obj(u.parts)},"unit":${Json.obj(unitLayer)},"layer":${Json.obj(layer)}}"""
      spanLog ++= sp.log
      i += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val stealS = Steal.read() - steal0

    val result =
      s"""{"session_s":[${sessionS.map(Json.num).mkString(",")}],"prepare_s":${Json.num(prepareS)},""" +
        s""""warmup_s":${Json.num(warmupS)},""" +
        s""""window_s":${Json.num(windowS)},"steal_s":${Json.num(stealS)},""" +
        s""""peak_heap_mb":${Json.num(Heap.peakMb)},"cpus":$cpus,""" +
        s""""units":[${units.mkString(",\n")}]}"""
    Files.writeString(Paths.get(opt("result")), result)
    Files.writeString(Paths.get(s"$work/spans.jsonl"), spanLog.mkString("", "\n", "\n"))
    spark.stop()
  }
}
