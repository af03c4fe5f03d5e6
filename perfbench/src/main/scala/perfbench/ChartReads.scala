package perfbench

import graft.api.{OhlcvHttpServer, OhlcvReader, QueryCache}
import graft.core.{OhlcvFixture, Schemas}
import graft.maintenance.AggregateMaintenance
import graft.storage.TxTable
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Candle store shared by the read workloads: a base 1-minute TxTable
  * holding `OhlcvFixture` candles and the 8 rollups, each in its own
  * TxTable, populated with `fullPopulate` + `writePartitionedTx`.
  */
final class CandleStore(dir: java.nio.file.Path, nPairs: Int, rows: Int) {
  import Bench.spark
  val base = new TxTable(spark, dir.resolve("base").toString)
  val rollups: Map[String, TxTable] = Schemas.rollupIntervals
    .map(iv => iv -> new TxTable(spark, dir.resolve(s"roll_$iv").toString)).toMap
  val keys: IndexedSeq[(String, String, String)] =
    OhlcvFixture.symbolExchange(spark, nPairs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toIndexedSeq
  /** One minute after the last fixture candle: the reader's default end is the last candle. */
  val asOfMs: Long = (OhlcvFixture.startEpochSec + rows * 60L) * 1000L
  val asOf = new java.sql.Timestamp(asOfMs)

  /** Returns the populate time in ms. */
  def populate(): Double = {
    base.append(OhlcvFixture.ohlcvs(spark, nPairs, rows).withColumn("p_date", to_date(col("time"))))
    val t0 = System.nanoTime()
    val all = AggregateMaintenance.fullPopulate(base.read())
    rollups.foreach { case (iv, t) => AggregateMaintenance.writePartitionedTx(all(iv), t) }
    (System.nanoTime() - t0) / 1e6
  }

  def snapshot(): (DataFrame, Map[String, DataFrame]) =
    Trace.span("storage.snapshot") {
      (base.read(), rollups.map { case (iv, t) => iv -> t.read() })
    }

  def logFiles: Long = (base +: rollups.values.toSeq).map { t =>
    val d = new java.io.File(t.root, TxTable.LogDirName)
    Option(d.listFiles()).fold(0L)(_.length.toLong)
  }.sum
}

/** One chart request: a key index into the store's keys plus the
  * `GET /api/rest/ohlcvs` parameters.
  */
final case class ChartReq(key: Int, interval: String, startMs: Option[Long],
                          endMs: Option[Long], emptyTs: Boolean) {
  def params(s: CandleStore): OhlcvReader.Params = {
    val (e, b, q) = s.keys(key)
    OhlcvReader.Params(e, b, q, interval, startMs, endMs, emptyTs = emptyTs, asOf = s.asOf)
  }
  def query(s: CandleStore): String = {
    val (e, b, q) = s.keys(key)
    (Seq("exchange" -> e, "base_id" -> b, "quote_id" -> q, "interval" -> interval) ++
      startMs.map("start" -> _.toString) ++ endMs.map("end" -> _.toString) ++
      (if (emptyTs) Seq("empty_ts" -> "true") else Nil))
      .map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }.mkString("&")
  }
}

object ChartReq {
  /** Interval popularity, most requested first; 3h/14D/1M are not
    * materialized and are computed from the base table per request.
    */
  val intervals = Seq("1m", "1h", "5m", "15m", "1D", "30m", "3h", "6h", "12h", "7D", "14D", "1M")
  val onTheFly = Set("3h", "14D", "1M")

  /** Request shapes follow one fixed schedule for every seed, so each
    * run sees the same mix: Zipf(1.1) intervals, 60% live windows (end
    * defaults to now) and 40% historical ends at 6-hour steps, a start
    * bound on 25%, `empty_ts` on 30% of the fixed-width requests. Key
    * ranks (Zipf(1.1)) and historical ends (Zipf(1.1) over the steps)
    * come from the caller's stream `r`; the seed orders the keys, so it
    * picks which keys are popular.
    */
  final class Gen(seed: Long, nKeys: Int, asOfMs: Long, days: Int) {
    private val perm = {
      val r = new java.util.Random(seed)
      val a = (0 until nKeys).toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    private val keyZ = new Stats.Zipf(nKeys, 1.1)
    private val endZ = new Stats.Zipf(days * 4, 1.1)
    // (interval, historical end?, start span in widths or 0, empty_ts)
    private val shapes = {
      val r = new java.util.Random(0)
      val ivZ = new Stats.Zipf(intervals.size, 1.1)
      IndexedSeq.fill(1024) {
        val iv = intervals(ivZ.sample(r))
        (iv, r.nextDouble() < 0.4, if (r.nextDouble() < 0.25) (if (r.nextBoolean()) 50 else 200) else 0,
          iv != "1M" && r.nextDouble() < 0.3)
      }
    }
    /** The `n`-th request of stream `r`. */
    def next(r: java.util.Random, n: Int): ChartReq = {
      val (iv, hist, span, emptyTs) = shapes(n % shapes.size)
      val end = if (hist) Some(asOfMs - 60000L - endZ.sample(r) * 6L * 3600000L) else None
      val width = Schemas.intervalSeconds.getOrElse(iv, 30L * 86400L) * 1000L
      val start = if (span > 0) Some(end.getOrElse(asOfMs - 60000L) - span * width) else None
      ChartReq(perm(keyZ.sample(r)), iv, start, end, emptyTs)
    }
  }
}

/** REST serving as both read workloads use it: `OhlcvHttpServer`
  * whose fetch resolves the current snapshots, then reads through a
  * `QueryCache` in front of `OhlcvReader.read`.
  */
final class Serving(val store: CandleStore) {
  import Serving._
  val cache = new QueryCache(QueryCache.defaultTtlSeconds, maxEntries = QueryCache.defaultMaxEntries)
  val lookups, misses = new AtomicLong()
  val fetches = new ConcurrentLinkedQueue[Fetch]()
  // traced run: request key -> (op, client span) of the requests in flight
  private val inFlight = new ConcurrentHashMap[String, ConcurrentLinkedQueue[(Long, Long)]]()
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def fetch(p0: OhlcvReader.Params): Seq[OhlcvHttpServer.Candle] = {
    val p = p0.copy(asOf = store.asOf)
    val (op, parent) = Option(inFlight.get(p.toString)).flatMap(q => Option(q.poll())).getOrElse((0L, 0L))
    val t0 = System.nanoTime()
    val rows = Trace.span("api.fetch", op, parent) {
      val (b, rolls) = store.snapshot()
      val key = Trace.span("api.cache_key")(OhlcvReader.cacheKey(p, b, rolls))
      lookups.incrementAndGet()
      val df = Trace.span("api.cache") {
        cache.getOrCompute(key) {
          misses.incrementAndGet()
          Trace.span("api.reader_plan")(OhlcvReader.read(b, rolls, p))
        }
      }
      Trace.span("api.collect")(candles(df))
    }
    if (Trace.enabled) fetches.add(Fetch(op, p.interval, p.emptyTs, (System.nanoTime() - t0) / 1e6, rows.size))
    rows
  }

  val server: OhlcvHttpServer = new OhlcvHttpServer(fetch).start()

  /** One `GET /api/rest/ohlcvs` as op `op`: (status, body). */
  def get(r: ChartReq, op: Long = Trace.newId()): (Int, String) =
    Trace.span("api.http", op, 0L) {
      if (Trace.enabled) inFlight.computeIfAbsent(r.params(store).toString,
        _ => new ConcurrentLinkedQueue[(Long, Long)]()).add((op, Trace.currentSpan))
      val req = HttpRequest.newBuilder(URI.create(s"${server.restAddress}/api/rest/ohlcvs?${r.query(store)}"))
        .timeout(java.time.Duration.ofSeconds(60)).GET().build()
      try { val resp = http.send(req, HttpResponse.BodyHandlers.ofString()); (resp.statusCode(), resp.body()) }
      catch { case e: Exception => (-1, String.valueOf(e)) }
    }

  def resetCounters(): Unit = { lookups.set(0); misses.set(0); fetches.clear() }

  /** Share of cache lookups since the last reset that were hits. */
  def hitRatio: Double = { val l = lookups.get.toDouble; if (l == 0) 0.0 else 1.0 - misses.get / l }

  /** The api/storage layer metrics of the fetches since the last reset. */
  def layers(): Seq[Metric] = {
    val fs = fetches.asScala.toSeq
    val spans = Trace.all
    def spanMs(name: String) = spans.filter(_.name == name).map(_.durMs)
    val fetchByOp = fs.map(f => f.op -> f.ms).toMap
    val httpOverhead = spans.filter(s => s.name == "api.http" && fetchByOp.contains(s.op))
      .map(s => s.durMs - fetchByOp(s.op))
    val l = lookups.get.toDouble
    Seq(
      Metric("api.fetch_ms_p50", Stats.pct(fs.map(_.ms), 50), "ms"),
      Metric("api.fetch_ms_p95", Stats.pct(fs.map(_.ms), 95), "ms"),
      Metric("api.http_overhead_ms_p50", Stats.pct(httpOverhead, 50), "ms"),
      Metric("api.reader_plan_ms_p50", Stats.pct(spanMs("api.reader_plan"), 50), "ms"),
      Metric("api.collect_ms_p50", Stats.pct(spanMs("api.collect"), 50), "ms"),
      Metric("api.rows_per_read", if (fs.isEmpty) 0.0 else fs.map(_.rows).sum.toDouble / fs.size, "count"),
      Metric("api.fetch_onthefly_ms_p50",
        Stats.pct(fs.filter(f => ChartReq.onTheFly.contains(f.interval)).map(_.ms), 50), "ms"),
      Metric("api.fetch_gapfill_ms_p50", Stats.pct(fs.filter(_.gapFill).map(_.ms), 50), "ms"),
      Metric("api.cache_lookups", l, "count"),
      Metric("api.cache_hit_ratio", hitRatio, "ratio"),
      Metric("api.cache_misses", misses.get.toDouble, "count"),
      Metric("storage.snapshot_ms_p50", Stats.pct(spanMs("storage.snapshot"), 50), "ms"),
      Metric("storage.log_files", store.logFiles.toDouble, "count"))
  }
}

object Serving {
  final case class Fetch(op: Long, interval: String, gapFill: Boolean, ms: Double, rows: Int)

  /** The reader's bounded collect, rendered as the server renders it. */
  def candles(df: DataFrame): Seq[OhlcvHttpServer.Candle] =
    df.collect().toSeq.map(r => OhlcvHttpServer.Candle(r.getLong(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5)))

  def render(rows: Seq[OhlcvHttpServer.Candle]): String = rows.map(_.json).mkString("[", ",", "]")
}

/** `chart_reads`: chart users reading charts. A closed loop of 4 HTTP
  * clients sends `GET /api/rest/ohlcvs` to `OhlcvHttpServer`. Nothing
  * writes, so the result cache serves repeated requests. The warm pass
  * sends every interval once, then `warmReads` requests drawn like the
  * timed ones, so the timed window starts with the popular requests
  * cached, as a server that has been up a while would have them.
  */
final class ChartReads(seed: Long) extends Workload {
  private val nPairs = if (Bench.smoke) 3 else 30
  private val days = if (Bench.smoke) 1 else 2
  private val clients = 4
  private val warmReads = if (Bench.smoke) 8 else 20

  def run(seconds: Double, traced: Boolean): Outcome = {
    val store = new CandleStore(Bench.work.resolve("chart"), nPairs, days * 1440)
    val populateMs = store.populate()
    Bench.phase("populate")
    val sv = new Serving(store)
    val gen = new ChartReq.Gen(seed, store.keys.size, store.asOfMs, days)
    val warm = Executors.newFixedThreadPool(clients)
    ChartReq.intervals.zipWithIndex.map { case (iv, j) =>
      warm.submit(() => sv.get(ChartReq(j % store.keys.size, iv, None, None, j % 2 == 1 && iv != "1M")))
    }.foreach(_.get())
    (0 until clients).map { c =>
      warm.submit { () =>
        val r = new java.util.Random(-1L - c)
        (0 until warmReads / clients).map(i => sv.get(gen.next(r, 128 + c * 256 + i))._1)
      }
    }.foreach(_.get())
    warm.shutdown()
    val setupS = Bench.sinceStartS
    Bench.phase("setup")
    // (request, window, op, start ns, end ns, status, body)
    val recs = new ConcurrentLinkedQueue[(ChartReq, Int, Long, Long, Long, Int, String)]()

    /** One timed window of `clients` closed loops, each on its own
      * request stream; returns its wall seconds. The streams do not
      * depend on the seed, so every seed sends the same mix of request
      * shapes and repeats (cache hits), over differently ordered keys.
      */
    def window(w: Int): Double = {
      sv.resetCounters()
      val pool = Executors.newFixedThreadPool(clients)
      val tStart = System.nanoTime()
      val deadline = tStart + (seconds * 1e9).toLong
      (0 until clients).foreach { c =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val r = new java.util.Random(7919L + 1000L * w + c)
            var n = c * 256
            while (System.nanoTime() < deadline) {
              val req = gen.next(r, n)
              n += 1
              val op = Trace.newId()
              val t0 = System.nanoTime()
              val (status, body) = sv.get(req, op)
              recs.add((req, w, op, t0, System.nanoTime(), status, body))
            }
          }
        })
      }
      pool.shutdown()
      pool.awaitTermination(seconds.toLong + 120, TimeUnit.SECONDS)
      (recs.asScala.filter(_._2 == w).map(_._5).maxOption.getOrElse(deadline) - tStart) / 1e9
    }

    // the untraced window; a traced run adds a traced one on new request streams
    val wall0 = window(0)
    val hitRatio0 = sv.hitRatio
    val wallS = if (!traced) wall0 else {
      Trace.enabled = true
      try window(1) finally Trace.enabled = false
    }
    val tw = if (traced) 1 else 0
    Bench.phase("window")
    val all = recs.asScala.toSeq
    sv.server.stop()

    // output check: every distinct request recomputed through an uncached read
    val distinct = all.map(_._1).distinct
    val (b, rolls) = store.snapshot()
    val checkPool = Executors.newFixedThreadPool(clients)
    val expected = distinct.map(r => r -> checkPool.submit(() =>
      Serving.render(Serving.candles(OhlcvReader.read(b, rolls, r.params(store))))))
      .map { case (r, f) => r -> f.get() }.toMap
    checkPool.shutdown()
    val failures = all.collect {
      case (r, _, _, _, _, st, body) if st != 200 => s"HTTP $st for $r: ${body.take(200)}"
      case (r, _, _, _, _, _, body) if body != expected(r) => s"rows differ from an uncached read for $r"
    }
    Bench.phase("checks")
    def lat(w: Int) = all.filter(_._2 == w).map(x => (x._5 - x._4) / 1e6)
    val timed = lat(tw)
    val report = Seq(
      Metric("read_rps", timed.size / wallS, "1/s"),
      Metric("read_p50_ms", Stats.pct(timed, 50), "ms"),
      Metric("read_p95_ms", Stats.pct(timed, 95), "ms"),
      Metric("distinct_requests", distinct.size, "count"),
      Metric("cache_hit_ratio", if (traced) sv.hitRatio else hitRatio0, "ratio"),
      Metric("cache_entries", sv.cache.size, "count"))
    Outcome(setupS, timed, timed.size / wallS, all.size, failures.size, failures, report,
      sv.layers() :+ Metric("maintenance.populate_ms", populateMs, "ms"),
      all.filter(_._2 == tw).map(_._3).toSet, if (traced) Stats.overheadPct(lat(1), lat(0)) else 0.0)
  }
}
