package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Result of one workload run. `setupS` is the time from JVM start to
  * the timed window. `primaryMs` holds the latencies of the workload's
  * unit of work (a chart read, a backlog frame's catch-up, a catalog
  * pass); in a traced run the window ones come from the traced window.
  * `traceOverheadPct` compares the traced window's median latency with
  * the untraced one's. `report` and `layers` hold the named metrics.
  * The Spark listener's counts per op cover `primaryOps`; its executor
  * work also covers `workOps`.
  */
final case class Outcome(
    setupS: Double,
    primaryMs: Seq[Double],
    opsPerS: Double,
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    report: Seq[Metric],
    layers: Seq[Metric],
    primaryOps: Set[Long],
    traceOverheadPct: Double,
    workOps: Set[Long] = Set.empty)

final case class Metric(name: String, value: Double, unit: String)

/** Benchmark entry: `--workload <chart_reads|live_feed|catalog_heavy>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> [--smoke]
  * [--record <file>]`, run from the repository root.
  * Prints a human-readable report and, as the last stdout line, one
  * JSON result object. Exits non-zero when any output check fails.
  */
object Bench {
  private val t0Ns = System.nanoTime()
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNs(ms: Long): Long = ms * 1000000L + nsOffset

  @volatile var spark: SparkSession = _
  var work: Path = _
  var smoke = false
  lazy val probe = new SparkProbe

  /** The benchmark's directory (sources, frozen catalog list). */
  val benchDir: Path = Paths.get("perfbench").toAbsolutePath

  def readJson(p: Path): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)

  def sinceStartS: Double = (System.nanoTime() - t0Ns) / 1e9

  private var lastPhaseNs = t0Ns
  /** Print the wall time spent since the previous phase mark. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    println(f"phase $name%-12s ${(now - lastPhaseNs) / 1e9}%8.2f s")
    lastPhaseNs = now
  }

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", sys.error("--workload is required"))
    val seed = kv.getOrElse("seed", "1").toLong
    val seconds = kv.getOrElse("seconds", "10").toDouble
    smoke = args.contains("--smoke")
    val traced = kv.get("trace").contains("1")
    work = Paths.get(kv.getOrElse("work", ".bench_work")).toAbsolutePath
    deleteTree(work); Files.createDirectories(work)

    spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // bound the status store, which keeps job/stage/SQL data even
      // without a UI, so live heap tracks the workload and not run length
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    if (traced) spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(StreamProbe)

    val w: Workload = workload match {
      case "chart_reads" => new ChartReads(seed)
      case "live_feed" => new LiveFeed(seed)
      case "catalog_heavy" => new CatalogHeavy(seed, kv.get("record").map(Paths.get(_).toAbsolutePath))
      case other => sys.error(s"unknown workload $other")
    }
    val gc0 = gcMs()
    val out = w.run(seconds, traced)
    val gc = gcMs() - gc0
    val heapMb = heapLiveMb()
    phase("heap")
    val code = emit(workload, out, heapMb, gc, traced)
    try spark.stop() catch { case _: Throwable => }
    System.out.flush()
    sys.exit(code)
  }

  private def emit(workload: String, o: Outcome, heapMb: Double, gcMsWindow: Double, traced: Boolean): Int = {
    val setupS = o.setupS
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.pct(o.primaryMs, 50), "ms"),
      Metric("op_p90_ms", Stats.pct(o.primaryMs, 90), "ms"),
      Metric("ops_per_s", o.opsPerS, "1/s"),
      Metric("heap_live_mb", heapMb, "MB"))
    val errorRatio = if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted
    println(s"== $workload: ${o.primaryMs.size} primary samples")
    (o.report :+ Metric("error_ratio", errorRatio, "ratio") :+ Metric("heap_live_mb", heapMb, "MB") :+
      Metric("setup_s", setupS, "s")).foreach(m => println(f"metric ${m.name}%-28s ${Stats.f(m.value)}%14s ${m.unit}"))
    o.failures.take(20).foreach(f => println(s"FAILED: $f"))
    // every measured metric; run.py reports the ones BENCHMARK.json lists
    val metrics =
      if (!traced) e2e
      else {
        val spans = Trace.all
        val self = Trace.selfMsByLayer(spans)
        val spanFile = work.resolve(s"spans-$workload.jsonl")
        Trace.write(spanFile)
        println(s"spans: ${spans.size} written to $spanFile")
        self.toSeq.sortBy(-_._2).foreach { case (l, ms) => println(f"self_ms $l%-12s ${Stats.f(ms)}%14s ms") }
        val total = self.values.sum
        val layers = o.layers ++ sparkLayer(o.primaryOps, o.workOps, spans) ++ Seq(
          Metric("jvm.gc_ms", gcMsWindow, "ms"),
          Metric("jvm.jit_ms", jitMs(), "ms"),
          Metric("bench.trace_overhead_pct", o.traceOverheadPct, "%")) ++
          Seq("api", "storage", "streaming", "ingest", "maintenance", "spark", "catalog")
            .map(l => Metric(s"self_share.$l", if (total > 0) self.getOrElse(l, 0.0) / total else 0.0, "ratio"))
        layers.foreach(m => println(f"layer ${m.name}%-36s ${Stats.f(m.value)}%14s ${m.unit}"))
        layers
      }
    val ok = o.failed == 0 && o.attempted > 0
    val ms = metrics.map(m => s""""${m.name}": {"value": ${Stats.f(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": $ok, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    if (ok) 0 else 1
  }

  /** Listener totals per primary op: jobs, stages, tasks and driver-side
    * time (op wall minus the time when at least one of its jobs ran);
    * and the executor work of the primary ops and the `work` ops.
    */
  private def sparkLayer(primary: Set[Long], work: Set[Long], spans: Seq[Trace.Span]): Seq[Metric] = {
    val aggs = probe.byOp.asScala.filter { case (op, _) => primary.contains(op) }.values.toSeq
    val workAggs = probe.byOp.asScala.filter { case (op, _) => primary.contains(op) || work.contains(op) }.values.toSeq
    val n = math.max(1, primary.size).toDouble
    val roots = spans.filter(s => primary.contains(s.op) && s.parent == 0L && s.name != "spark.job")
      .groupMapReduce(_.op)(_.durMs)(math.max)
    val jobs = spans.filter(s => s.name == "spark.job" && primary.contains(s.op)).groupBy(_.op)
    val driverMs = primary.toSeq.map { op =>
      roots.getOrElse(op, 0.0) - Trace.coveredMs(jobs.getOrElse(op, Nil))
    }
    def sum(f: probe.Agg => Long): Double = aggs.map(f).sum.toDouble
    def sumWork(f: probe.Agg => Long): Double = workAggs.map(f).sum.toDouble
    Seq(
      Metric("spark.jobs_per_op", sum(_.jobs) / n, "count"),
      Metric("spark.stages_per_op", sum(_.stages) / n, "count"),
      Metric("spark.tasks_per_op", sum(_.tasks) / n, "count"),
      Metric("spark.driver_ms_per_op", if (driverMs.isEmpty) 0.0 else driverMs.sum / n, "ms"),
      Metric("spark.executor_cpu_ms", sumWork(_.cpuNs) / 1e6, "ms"),
      Metric("spark.shuffle_read_bytes", sumWork(_.shuffleRead), "bytes"),
      Metric("spark.shuffle_write_bytes", sumWork(_.shuffleWrite), "bytes"),
      Metric("spark.input_bytes", sumWork(_.input), "bytes"))
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Used heap after full collections, the least of three readings
    * taken 300 ms apart (Spark frees some blocks asynchronously).
    */
  def heapLiveMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** One benchmark workload: set up, run the timed window, check outputs.
  * A traced run runs an untraced window, then a traced one.
  */
trait Workload {
  def run(seconds: Double, traced: Boolean): Outcome
}

object Stats {
  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** How much higher the traced median is than the untraced one, in %. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    100.0 * (median(traced) - median(untraced)) / median(untraced)
  def f(v: Double): String = java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10)).stripTrailingZeros().toPlainString

  /** Seeded Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
    }
    def sample(r: java.util.Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
