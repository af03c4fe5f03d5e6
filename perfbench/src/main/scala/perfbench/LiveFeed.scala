package perfbench

import graft.api.OhlcvHttpServer
import graft.core.{OhlcvFixture, Schemas}
import graft.ingest.ExchangeFormats
import graft.maintenance.AggregateMaintenance
import graft.streaming.CandleStream
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** Seeded exchange feed for the store's keys. Frame `i` has event time
  * `startMs + i * 250 / 3` ms (12 frames per event second, so 120
  * frames per wall second run the event clock at 10x wall time) and
  * goes to key `i % nKeys` in a seeded key order; about 2% of frames
  * are not candles (heartbeats, acks, control messages). Candle frames
  * carry the candle's minute start, as the exchanges send it, with the
  * minute's running open/high/low/close and cumulative volume.
  */
final class FeedGen(seed: Long, store: CandleStore, symbols: Map[(String, String, String), String]) {
  import FeedGen._
  val startMs: Long = store.asOfMs
  private val nKeys = store.keys.size
  private val rnd = new java.util.Random(seed)
  private val order = scala.util.Random.javaRandomToRandom(new java.util.Random(seed + 1))
    .shuffle((0 until nKeys).toVector)
  private val price = Array.tabulate(nKeys)(k => 10000L + 100L * k) // cents
  private val cur = new Array[Candle](nKeys)
  private var i = 0L
  /** Last update per (key, minute start) and per key: the expected outputs. */
  val lastPerBucket = scala.collection.mutable.HashMap.empty[(Int, Long), Candle]
  val lastPerKey = new Array[Candle](nKeys)

  def exchangeOf(k: Int): Int = Exchanges.indexOf(store.keys(k)._1)
  def chanId(k: Int): Int = 1000 + k

  /** Bitfinex subscription acks of the feed connection. */
  def bitfinexAcks: Seq[String] = store.keys.indices.filter(exchangeOf(_) == 0).map(k =>
    s"""{"event":"subscribed","channel":"candles","chanId":${chanId(k)},"key":"trade:1m:t${symbols(store.keys(k))}"}""")

  /** The next frame: (exchange index, wire payload). */
  def next(): (Int, String) = {
    val k = order((i % nKeys).toInt)
    val ts = startMs + i * 250 / 3
    i += 1
    val ex = exchangeOf(k)
    if (rnd.nextInt(50) == 0) (ex, nonCandle(ex, k))
    else {
      val minute = ts - Math.floorMod(ts, 60000L)
      price(k) = math.max(100L, price(k) + rnd.nextInt(41) - 20)
      val vol = 1L + rnd.nextInt(500)
      val c = cur(k) match {
        case c0 if c0 != null && c0.minute == minute =>
          Candle(k, minute, c0.open, math.max(c0.high, price(k)), math.min(c0.low, price(k)), price(k), c0.volume + vol)
        case _ => Candle(k, minute, price(k), price(k), price(k), price(k), vol)
      }
      cur(k) = c
      lastPerBucket((k, minute)) = c
      lastPerKey(k) = c
      (ex, wire(ex, k, c))
    }
  }

  private def nonCandle(ex: Int, k: Int): String = ex match {
    case 0 => s"""[${chanId(k)},"hb"]"""
    case 1 => s"""{"result":null,"id":${rnd.nextInt(1000)}}"""
    case _ => deflate64(s"""{"sequence":${rnd.nextInt(1000000)}}""")
  }

  private def wire(ex: Int, k: Int, c: Candle): String = {
    val sym = symbols(store.keys(k))
    ex match {
      case 0 => s"""[${chanId(k)},[${c.minute},${d(c.open)},${d(c.close)},${d(c.high)},${d(c.low)},${d(c.volume)}]]"""
      case 1 => s"""{"e":"kline","s":"$sym","k":{"t":${c.minute},"o":"${d(c.open)}","h":"${d(c.high)}",""" +
        s""""l":"${d(c.low)}","c":"${d(c.close)}","v":"${d(c.volume)}"}}"""
      case _ => deflate64(s"""{"marketSymbol":"$sym","delta":{"startsAt":"${java.time.Instant.ofEpochMilli(c.minute)}",""" +
        s""""open":${d(c.open)},"high":${d(c.high)},"low":${d(c.low)},"close":${d(c.close)},"volume":${d(c.volume)}}}""")
    }
  }
}

object FeedGen {
  val Exchanges: Seq[String] = OhlcvFixture.exchanges // bitfinex, binance, bittrex
  /** Prices and volumes in cents. */
  final case class Candle(key: Int, minute: Long, open: Long, high: Long, low: Long, close: Long, volume: Long)
  def d(cents: Long): Double = cents / 100.0

  /** Bittrex wire frame: base64 of raw-deflated JSON. */
  def deflate64(json: String): String = {
    val z = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    z.setInput(json.getBytes("UTF-8")); z.finish()
    val buf = new Array[Byte](json.length + 64)
    val n = z.deflate(buf); z.end()
    java.util.Base64.getEncoder.encodeToString(java.util.Arrays.copyOf(buf, n))
  }
}

/** `live_feed`: a feed restart, then live trading. The three exchange
  * wire formats each feed their own MemoryStream; parsed and unioned,
  * they drive `runPipelineTx` (1 s trigger, 2-minute watermark) into
  * the base TxTable and a complete-mode `latestServeView` behind the WS
  * server. A backlog is queued before the queries start (catch-up),
  * then frames arrive open-loop while rollup maintenance, REST reads
  * and a WS subscriber run beside the stream.
  */
final class LiveFeed(seed: Long) extends Workload {
  private val spark = Bench.spark
  import FeedGen._
  private val nPairs = if (Bench.smoke) 3 else 30
  private val histDays = 1
  private val backlog = if (Bench.smoke) 2000 else 8000
  private val framesPerS = 120
  private val readsPerS = 1
  private val refreshEveryMs = 10000L

  // one addData call; window -1 is the backlog
  private final case class Send(ex: Int, offset: Long, sendMs: Long, dueMs: Long, frames: Int, window: Int) {
    def live: Boolean = window >= 0
  }
  private final case class Read(op: Long, window: Int, dueNs: Long, endNs: Long)

  def run(seconds: Double, traced: Boolean): Outcome = {
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val store = new CandleStore(Bench.work.resolve("live"), nPairs, histDays * 1440)
    val populateMs = store.populate()
    Bench.phase("populate")
    val symExch = OhlcvFixture.symbolExchange(spark, nPairs)
    val symbols = symExch.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3)).toMap
    val gen = new FeedGen(seed, store, symbols)
    val byEx = Array.fill(3)(Vector.newBuilder[String])
    gen.bitfinexAcks.foreach(byEx(0) += _)
    (0 until backlog).foreach { _ => val (ex, f) = gen.next(); byEx(ex) += f }
    val backlogFrames = byEx.map(_.result()).toSeq
    val sv = new Serving(store)
    val setupS = Bench.sinceStartS
    Bench.phase("setup")
    val base = store.base
    val baseV0 = base.version

    // traced run only: parse-only throughput of each format over the backlog
    val parseLayers = if (!traced) Nil else {
      Trace.enabled = true
      try parseOnly(backlogFrames, gen, symExch) finally Trace.enabled = false
    }

    // sources: one MemoryStream per exchange and query (a MemoryStream
    // serves one reader), fed the same frames; backlog queued first
    val streams = Seq.fill(2, 3)(MemoryStream[String])
    val sends = new ConcurrentLinkedQueue[Send]()
    def send(ex: Int, fs: Seq[String], dueMs: Long, window: Int): Unit = {
      val now = System.currentTimeMillis()
      val offsets = streams.map(_(ex).addData(fs).json().toLong).distinct
      require(offsets.size == 1, s"store and view sources out of step: $offsets")
      sends.add(Send(ex, offsets.head, now, if (window >= 0) dueMs else now, fs.size, window))
    }
    backlogFrames.zipWithIndex.foreach { case (fs, ex) => fs.grouped(1000).foreach(send(ex, _, 0L, -1)) }
    val acks = gen.bitfinexAcks.toDF("j")
    def parsed(ss: Seq[MemoryStream[String]]): DataFrame =
      ExchangeFormats.parseBitfinex(ss(0).toDF().toDF("j"), "j",
          ExchangeFormats.bitfinexSubscriptions(acks, "j"), symExch)
        .unionByName(ExchangeFormats.parseBinance(ss(1).toDF().toDF("j"), "j", symExch))
        .unionByName(ExchangeFormats.parseBittrexFrames(ss(2).toDF().toDF("f"), "f"))
    val descr = Map("store" -> streams(0).map(_.toString), "view" -> streams(1).map(_.toString))

    // catch-up: the queries start on the queued backlog and drain it
    val catchStartMs = System.currentTimeMillis()
    val storeQ = CandleStream.runPipelineTx(parsed(streams(0)), base, Bench.work.resolve("ckpt_store").toString,
      triggerSecs = 1, watermark = "2 minutes")
    StreamProbe.alias(storeQ.id.toString, "store")
    val viewQ = CandleStream.latestServeView(parsed(streams(1))).writeStream.format("memory").queryName("latest_view")
      .outputMode("complete").trigger(Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", Bench.work.resolve("ckpt_view").toString).start()
    StreamProbe.alias(viewQ.id.toString, "view")
    storeQ.processAllAvailable()
    viewQ.processAllAvailable()
    Bench.phase("catchup")

    // live phase: one subscriber on the hottest key's 1m candle (1 s cadence)
    val wsServer = new OhlcvHttpServer(OhlcvHttpServer.forLatestView(spark, "latest_view")).start()
    val pushes = new AtomicLong()
    val (e0, b0, q0) = store.keys(0)
    val ws = HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(java.net.URI.create(wsServer.wsAddress + "/api/ws/ohlcvs"), new WebSocket.Listener {
        override def onText(w: WebSocket, data: CharSequence, last: Boolean) = {
          if (last) pushes.incrementAndGet(); w.request(1); null
        }
      }).get(30, TimeUnit.SECONDS)
    ws.sendText(s"""{"event_type":"subscribe","data_type":"ohlcv","exchange":"$e0","base_id":"$b0",""" +
      s""""quote_id":"$q0","interval":"1m","mls":true}""", true)

    val errors = new ConcurrentLinkedQueue[String]()
    val reads = new ConcurrentLinkedQueue[Read]()
    val readGen = new ChartReq.Gen(seed, store.keys.size, store.asOfMs, histDays)
    val readRnd = new java.util.Random(seed * 31L)
    val readPool = Executors.newFixedThreadPool(2)
    val background = Executors.newFixedThreadPool(1)
    var nReads = 0

    // rollup maintenance: refresh all 8 rollups from the change feed every 10 s
    val sinceV = scala.collection.mutable.Map(Schemas.rollupIntervals.map(_ -> baseV0): _*)
    // per-rollup refresh times within a window, cycles started, and the ops of the cycles
    val refreshMs = new ConcurrentLinkedQueue[Double]()
    val cycles = new AtomicLong()
    val refreshOps = new ConcurrentLinkedQueue[Long]()
    /** Refresh every rollup in turn; a cycle still running when the
      * window closes stops between rollups. `sinceV` keeps the base
      * version each rollup was last refreshed to.
      */
    def refreshAll(stopAt: Long): Unit = sinceV.synchronized {
      val op = Trace.newId()
      refreshOps.add(op)
      Trace.span("maintenance.refresh", op, 0L) {
        Schemas.rollupIntervals.takeWhile(_ => System.nanoTime() < stopAt).foreach { iv =>
          val t0 = System.nanoTime()
          val t = store.rollups(iv)
          val (df, v) = AggregateMaintenance.refreshFromFeed(t.read().drop("p_date"), base, sinceV(iv),
            Schemas.intervalSeconds(iv))
          AggregateMaintenance.writePartitionedTx(df, t, invalidate = Seq(sv.cache))
          sinceV(iv) = v
          refreshMs.add((System.nanoTime() - t0) / 1e6)
        }
      }
    }

    /** One timed window of live trading; returns its (start, end) in epoch ms. */
    def liveWindow(w: Int): (Long, Long) = {
      val tStartMs = System.currentTimeMillis()
      val tStart = System.nanoTime()
      val deadline = tStart + (seconds * 1e9).toLong
      // rollup refresh cycles every 10 s from the window start
      background.submit(new Runnable {
        def run(): Unit = {
          var next = tStart
          while (System.nanoTime() < deadline) {
            val wait = (next - System.nanoTime()) / 1000000L
            if (wait > 0) Thread.sleep(wait)
            if (System.nanoTime() < deadline) {
              cycles.incrementAndGet()
              try refreshAll(deadline) catch { case e: Exception => errors.add(s"refresh failed: $e") }
            }
            next += refreshEveryMs * 1000000L
          }
        }
      })
      // open-loop feed at framesPerS, sent every 100 ms (each send is one
      // MemoryStream block, so one input partition), and reads at
      // readsPerS on two sender threads, timed from their due time
      var n = 0L
      var k = 0
      while (System.nanoTime() < deadline) {
        val now = System.nanoTime()
        val due = (((now - tStart) / 1e9) * framesPerS).toLong
        if (due > n) {
          val dueMs = tStartMs + (n * 1000L / framesPerS)
          val byEx = Array.fill(3)(Vector.newBuilder[String])
          while (n < due) { val (ex, f) = gen.next(); byEx(ex) += f; n += 1 }
          byEx.zipWithIndex.foreach { case (b, ex) =>
            val fs = b.result()
            if (fs.nonEmpty) send(ex, fs, dueMs, w)
          }
        }
        val readDue = tStart + k * 1000000000L / readsPerS
        if (now >= readDue) {
          val req = readGen.next(readRnd, nReads)
          nReads += 1
          k += 1
          readPool.submit(new Runnable {
            // a read still queued when the window closes is never sent
            def run(): Unit = if (System.nanoTime() < deadline) {
              val op = Trace.newId()
              val (st, body) = sv.get(req, op)
              reads.add(Read(op, w, readDue, System.nanoTime()))
              if (st != 200) errors.add(s"HTTP $st for $req: ${body.take(200)}")
            }
          })
        }
        Thread.sleep(math.max(1L, 100L - (System.nanoTime() - now) / 1000000L))
      }
      (tStartMs, System.currentTimeMillis())
    }

    // the untraced window; a traced run adds a traced window after it
    val w0 = liveWindow(0)
    val pushes0 = pushes.get
    val w1 = if (!traced) w0 else {
      sv.resetCounters()
      Trace.enabled = true
      liveWindow(1)
    }
    val tw = if (traced) 1 else 0
    Bench.phase("window")
    try ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").get(5, TimeUnit.SECONDS) catch { case _: Exception => }

    // drain while the last refresh cycle and reads finish: everything
    // sent is consumed; the closed-candle check then covers the buckets
    // the last batch's watermark closed
    Seq(storeQ, viewQ).foreach(_.processAllAvailable())
    Seq(storeQ, viewQ).foreach(q => q.exception.foreach(e => errors.add(s"query ${q.name} failed: $e")))
    val watermarkMs = Option(storeQ.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(Long.MinValue)
    val view = spark.table("latest_view").collect()
    storeQ.stop(); viewQ.stop()
    Bench.phase("queries")
    Trace.enabled = false
    background.shutdown(); background.awaitTermination(120, TimeUnit.SECONDS)
    readPool.shutdown(); readPool.awaitTermination(120, TimeUnit.SECONDS)
    wsServer.stop(); sv.server.stop()
    Bench.phase("drain")

    // freshness: each addData call's send -> end of the batch that consumed its offset
    val all = sends.asScala.toSeq
    val batches = StreamProbe.batches.asScala.toSeq
    def consumedBy(q: String): Seq[(Send, StreamProbe.Batch)] = {
      val bs = batches.filter(_.query == q).sortBy(_.batchId)
      all.flatMap { s =>
        bs.find { b => b.offsets.get(descr(q)(s.ex)).exists { case (a, e) => s.offset > a && s.offset <= e } }
          .map(s -> _)
      }
    }
    val storeC = consumedBy("store")
    val viewC = consumedBy("view")
    def fresh(c: Seq[(Send, StreamProbe.Batch)], w: Int) =
      c.filter(_._1.window == w).flatMap { case (s, b) => Seq.fill(s.frames)((b.endMs - s.sendMs).toDouble) }
    val freshStore = fresh(storeC, tw)
    val freshView = fresh(viewC, tw)
    // catch-up: each backlog frame's time from query start to the end of
    // the store batch that consumed it
    val catchupMs = storeC.filterNot(_._1.live)
      .flatMap { case (s, b) => Seq.fill(s.frames)((b.endMs - catchStartMs).toDouble) }
    val backlogEnd = storeC.filterNot(_._1.live).map(_._2.endMs).maxOption
    val catchupS = backlogEnd.map(e => (e - catchStartMs) / 1000.0).getOrElse(Double.NaN)
    val catchup = backlog / catchupS
    val readLat = reads.asScala.toSeq.filter(_.window == tw).map(r => (r.endNs - r.dueNs) / 1e6)

    val failures = errors.asScala.toSeq ++ checks(gen, watermarkMs, view, store, sinceV.toMap) ++
      (if (backlogEnd.isEmpty) Seq("the store query never consumed the backlog") else Nil) ++
      (if (all.exists(s => !storeC.exists(_._1 eq s))) Seq("frames sent but never consumed by the store query") else Nil)
    val attempted = all.map(_.frames.toLong).sum + reads.size + 4
    Bench.phase("checks")

    val report = Seq(
      Metric("fresh_p50_ms", Stats.pct(freshStore, 50), "ms"),
      Metric("fresh_p95_ms", Stats.pct(freshStore, 95), "ms"),
      Metric("view_p95_ms", Stats.pct(freshView, 95), "ms"),
      Metric("catchup_frames_per_s", catchup, "1/s"),
      Metric("read_p50_ms", Stats.pct(readLat, 50), "ms"),
      Metric("read_p95_ms", Stats.pct(readLat, 95), "ms"),
      Metric("live_frames", freshStore.size, "count"),
      Metric("reads", readLat.size, "count"))
    val layers = if (!traced) Nil else {
      // the traced window's batches, and those that consumed its frames
      def sb(q: String) = batches.filter(b => b.query == q && b.startMs >= w1._1)
      def dur(q: String, k: String) = sb(q).map(_.durations.getOrElse(k, 0L).toDouble)
      def queue(c: Seq[(Send, StreamProbe.Batch)]) =
        c.filter(_._1.window == 1).flatMap { case (s, b) => Seq.fill(s.frames)((b.startMs - s.sendMs).toDouble) }
      val streaming = Seq("store" -> storeC, "view" -> viewC).flatMap { case (q, c) => Seq(
        Metric(s"streaming.$q.batch_ms_p50", Stats.pct(dur(q, "triggerExecution"), 50), "ms"),
        Metric(s"streaming.$q.batch_ms_p95", Stats.pct(dur(q, "triggerExecution"), 95), "ms"),
        Metric(s"streaming.$q.add_batch_ms_p50", Stats.pct(dur(q, "addBatch"), 50), "ms"),
        Metric(s"streaming.$q.planning_ms_p50", Stats.pct(dur(q, "queryPlanning"), 50), "ms"),
        Metric(s"streaming.$q.offsets_ms_p50", Stats.pct(dur(q, "latestOffset"), 50), "ms"),
        Metric(s"streaming.$q.queue_ms_p50", Stats.pct(queue(c), 50), "ms"),
        Metric(s"streaming.$q.batches", sb(q).size, "count"))
      }
      val backlogBatches = storeC.filterNot(_._1.live).map(_._2).distinct
      val snap = base.snapshot(base.version)
      val files = snap.files.map(f => new java.io.File(base.root, f.path).length()).sum
      val rows = base.read().count()
      // frames sent but not yet consumed at each store batch start
      val consumedAt = storeC.map { case (s, b) => (b.endMs, s.frames) }
      val backlogMax = batches.filter(_.query == "store").map { b =>
        all.filter(_.sendMs <= b.startMs).map(_.frames).sum - consumedAt.filter(_._1 <= b.startMs).map(_._2).sum
      }.maxOption.getOrElse(0)
      val live1 = all.filter(_.window == 1)
      sv.layers() ++ streaming ++ parseLayers ++ Seq(
        Metric("streaming.catchup_batch_ms", backlogBatches.map(b => (b.endMs - b.startMs).toDouble).sum, "ms"),
        Metric("streaming.state_rows", sb("store").lastOption.fold(0L)(_.stateRows) +
          sb("view").lastOption.fold(0L)(_.stateRows), "count"),
        Metric("streaming.state_bytes", sb("store").lastOption.fold(0L)(_.stateBytes) +
          sb("view").lastOption.fold(0L)(_.stateBytes), "bytes"),
        Metric("streaming.late_rows_dropped", batches.map(_.lateDropped).sum, "count"),
        Metric("streaming.backlog_max_frames", backlogMax, "count"),
        Metric("storage.versions_committed", base.version - baseV0, "count"),
        Metric("storage.data_files", snap.files.size, "count"),
        Metric("storage.bytes_per_row", files.toDouble / math.max(1L, rows), "bytes"),
        Metric("maintenance.populate_ms", populateMs, "ms"),
        Metric("maintenance.refresh_ms_p50", Stats.pct(refreshMs.asScala.toSeq, 50), "ms"),
        Metric("maintenance.refresh_ms_max", refreshMs.asScala.maxOption.getOrElse(0.0), "ms"),
        Metric("maintenance.refresh_cycles", cycles.get, "count"),
        Metric("api.ws_pushes", pushes.get - pushes0, "count"),
        Metric("bench.generator_late_ms_p95",
          Stats.pct(live1.flatMap(s => Seq.fill(s.frames)((s.sendMs - s.dueMs).toDouble)), 95), "ms"))
    }
    Outcome(setupS, catchupMs, catchup, attempted, failures.size, failures, report, layers,
      reads.asScala.filter(_.window == tw).map(_.op).toSet,
      if (traced) Stats.overheadPct(freshStore, fresh(storeC, 0)) else 0.0,
      workOps = StreamProbe.batchOps ++ refreshOps.asScala)
  }

  /** The output checks: base table keys unique, closed candles equal to
    * the last update the feed sent for their bucket, latest view equal
    * to the last frame per key, every rollup equal to a full populate
    * over the base table at the version it was last refreshed to.
    */
  private def checks(gen: FeedGen, watermarkMs: Long, view: Array[Row], store: CandleStore,
                     refreshedTo: Map[String, Long]): Seq[String] = {
    import spark.implicits._
    val out = Seq.newBuilder[String]
    val baseDf = store.base.read().drop("p_date")
    val dups = baseDf.groupBy("exchange", "base_id", "quote_id", "time").count().filter(col("count") > 1).count()
    if (dups > 0) out += s"base table holds $dups duplicated (key, time) rows"

    val keys = store.keys
    val expected = gen.lastPerBucket.valuesIterator.filter(c => c.minute + 60000L <= watermarkMs).map { c =>
      val (e, b, q) = keys(c.key)
      (e, b, q, c.minute, d(c.open), d(c.high), d(c.low), d(c.close), d(c.volume))
    }.toSeq.toDF("exchange", "base_id", "quote_id", "t_ms", "open", "high", "low", "close", "volume")
    val stored = baseDf.filter(col("time") >= lit(new java.sql.Timestamp(gen.startMs)))
      .select(col("exchange"), col("base_id"), col("quote_id"), unix_millis(col("time")).as("t_ms"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
    val missing = expected.exceptAll(stored).count()
    val extra = stored.exceptAll(expected).count()
    if (missing + extra > 0)
      out += s"closed candles differ from the feed's last update per bucket: $missing expected rows missing, $extra unexpected"

    val viewRows = view.map(r => (r.getAs[String]("exchange"), r.getAs[String]("base_id"), r.getAs[String]("quote_id")) ->
      (r.getAs[Long]("ts_ms"), r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Double]("volume"))).toMap
    val viewBad = keys.indices.count { k =>
      val c = gen.lastPerKey(k)
      c != null && !viewRows.get(keys(k)).contains((c.minute, d(c.open), d(c.high), d(c.low), d(c.close), d(c.volume)))
    }
    if (viewBad > 0) out += s"latest view differs from the last frame for $viewBad keys"

    // volumes are sums of doubles, so compare them at 6 decimals
    def full(iv: String) = AggregateMaintenance.fullPopulate(
      store.base.readSnapshot(store.base.snapshot(refreshedTo(iv))).drop("p_date"))(iv)
    def norm(df: DataFrame, iv: String) = df.select(lit(iv).as("iv"), col("bucket"), col("exchange"),
      col("base_id"), col("quote_id"), col("open"), col("high"), col("low"), col("close"),
      round(col("volume"), 6).as("volume"))
    val got = Schemas.rollupIntervals.map(iv => norm(store.rollups(iv).read(), iv)).reduce(_ union _)
    val want = Schemas.rollupIntervals.map(iv => norm(full(iv), iv)).reduce(_ union _)
    got.exceptAll(want).union(want.exceptAll(got)).groupBy("iv").count().collect().foreach { r =>
      out += s"rollup ${r.getString(0)} differs from fullPopulate over the base table in ${r.getLong(1)} rows"
    }
    out.result()
  }

  /** Parse-only throughput of each wire format over the backlog, as a
    * static DataFrame into the noop sink, and the share of frames that
    * are candles.
    */
  private def parseOnly(frames: Seq[Seq[String]], gen: FeedGen, symExch: DataFrame): Seq[Metric] = {
    import spark.implicits._
    val acks = gen.bitfinexAcks.toDF("j")
    val parsers: Seq[DataFrame => DataFrame] = Seq(
      df => ExchangeFormats.parseBitfinex(df.toDF("j"), "j", ExchangeFormats.bitfinexSubscriptions(acks, "j"), symExch),
      df => ExchangeFormats.parseBinance(df.toDF("j"), "j", symExch),
      df => ExchangeFormats.parseBittrexFrames(df.toDF("f"), "f"))
    var in, out = 0L
    val rates = Exchanges.indices.map { ex =>
      val df = frames(ex).toDF("v").localCheckpoint()
      val t0 = System.nanoTime()
      Trace.span(s"ingest.parse.${Exchanges(ex)}", Trace.newId(), 0L) {
        parsers(ex)(df).write.format("noop").mode("overwrite").save()
      }
      val rate = frames(ex).size / ((System.nanoTime() - t0) / 1e9)
      in += frames(ex).size
      out += parsers(ex)(df).count()
      Metric(s"ingest.parse_frames_per_s.${Exchanges(ex)}", rate, "1/s")
    }
    rates :+ Metric("ingest.useful_ratio", out.toDouble / math.max(1L, in), "ratio")
  }
}
