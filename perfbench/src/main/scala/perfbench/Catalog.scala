package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The tables the frozen catalog queries read, generated in the shape
  * of the engine's sf0.1 test data at half its size: `documents`
  * (2,500 documents of 10-100 words over a 30-word vocabulary, 5%
  * near-duplicates of an earlier document with " dup" appended),
  * `embeddings` (1,000 unit 64-d vectors, 10 labels) and `events`
  * (50,000 events over 30 days).
  * The seed is fixed, so the recorded row counts and hashes hold for
  * every run; the workload seed only orders the queries.
  */
object CatalogData {
  val Seed = 42L
  private val vocab = ("spark window merge table column vector stream value data small join filter big " +
    "group hash customer sort order slow line part fast row the agg key query a scan batch").split(' ')
  private val langs = Seq("en" -> 0.4, "zh" -> 0.15, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15)
  private val eventTypes = Seq("signup", "click", "error", "view", "purchase")

  def write(spark: SparkSession, dir: Path): Unit = {
    val r = new java.util.Random(Seed)
    val texts = new Array[String](2500)
    val docs = texts.indices.map { i =>
      texts(i) =
        if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
      val u = r.nextDouble()
      val lang = langs.scanLeft(("", 0.0)) { case ((_, c), (l, p)) => (l, c + p) }.tail.find(u < _._2).fold("es")(_._1)
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val embs = (0 until 1000).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
    }
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val span = 30L * 86400L * 1000000L
    val ts = Array.fill(50000)((r.nextDouble() * span).toLong).sorted
    val events = ts.indices.map { i =>
      Row(i.toLong, new java.sql.Timestamp((t0 + ts(i)) / 1000L), r.nextInt(1500).toLong,
        eventTypes(r.nextInt(eventTypes.size)), math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    def save(name: String, rows: Seq[Row], schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      save("documents", docs, StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))))
      save("embeddings", embs, StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))
      save("events", events, StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))))
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }
}

/** `catalog_heavy`: a query-engine batch. The frozen query list and
  * each query's expected row count and order-independent hash are in
  * `perfbench/catalog.json`. One untimed warm pass collects every
  * result and compares it with the recorded values; then the queries
  * run through the noop sink, in a seeded order, until the window
  * closes. `--record` writes the warm pass's values to the file
  * instead (done once, on the seed commit).
  */
final class CatalogHeavy(seed: Long, record: Option[Path]) extends Workload {
  import Bench.spark
  private val spec = Bench.readJson(Bench.benchDir.resolve("catalog.json"))
  private val frozen: Seq[String] = spec.get("queries").elements().asScala.map(_.asText).toSeq
  private val names = if (Bench.smoke) frozen.filter(n => n == "ohlcv_reader_1h" || n == "ts_sliding_heavy") else frozen

  private def build(name: String, dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  /** Run query `name` once as op `op` through the noop sink; returns its wall ms. */
  private def runOnce(name: String, dir: String, op: Long): Double = {
    val t0 = System.nanoTime()
    Trace.span(s"catalog.q.$name", op, 0L)(build(name, dir).write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e6
  }

  def run(seconds: Double, traced: Boolean): Outcome = {
    require(record.isEmpty || !Bench.smoke, "--record needs the full query list, not --smoke")
    val missing = frozen.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"catalog queries not found: ${missing.mkString(", ")}")
    val dirPath = Bench.work.resolve("catalog_data")
    CatalogData.write(spark, dirPath)
    Bench.phase("data")
    val dir = dirPath.toString
    // warm pass, which is also the output check: row count and
    // order-independent hash of every query's result
    val got = names.map(n => n -> Catalog.digest(build(n, dir))).toMap
    val failures = record match {
      case Some(p) =>
        Catalog.writeExpected(p, frozen, got); Nil
      case None =>
        val exp = spec.get("expected")
        names.flatMap { n =>
          val e = exp.get(n)
          val (rows, hash) = got(n)
          if (e == null) Some(s"$n: no recorded result")
          else if (e.get("rows").asLong != rows || e.get("hash").asText != hash)
            Some(s"$n: $rows rows, hash $hash; recorded ${e.get("rows").asLong} rows, hash ${e.get("hash").asText}")
          else None
        }
    }
    val setupS = Bench.sinceStartS
    Bench.phase("setup")

    // (window, query, op, ms)
    val recs = Vector.newBuilder[(Int, String, Long, Double)]
    /** The queries in a seeded order, round after round, until `seconds`
      * have gone by and each has run at least once.
      */
    def window(w: Int): Unit = {
      val order = scala.util.Random.javaRandomToRandom(new java.util.Random(seed * 131L + w)).shuffle(names)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (i < order.size || System.nanoTime() < deadline) {
        val n = order(i % order.size)
        val op = Trace.newId()
        recs += ((w, n, op, runOnce(n, dir, op)))
        i += 1
      }
    }
    window(0)
    if (traced) {
      Trace.enabled = true
      try window(1) finally Trace.enabled = false
    }
    val tw = if (traced) 1 else 0
    Bench.phase("window")

    val all = recs.result()
    val timed = all.filter(_._1 == tw)
    def perQuery(w: Int) = all.filter(_._1 == w).groupBy(_._2).map { case (n, xs) => n -> Stats.median(xs.map(_._4)) }
    // the unit of work is one pass over the list, as a batch user sees it,
    // taken as the sum of each query's median time: a window's last round
    // is partial, so whole-pass walls would depend on where it stops
    def passMs(w: Int) = perQuery(w).values.sum
    val pass = passMs(tw)
    val report = Seq(
      Metric("catalog_s", pass / 1000.0, "s"),
      Metric("query_runs", timed.size, "count"),
      Metric("queries", names.size, "count"))
    val layers = perQuery(tw).toSeq.sortBy(_._1).map { case (n, ms) => Metric(s"catalog.q.${n}_ms", ms, "ms") }
    Outcome(setupS, Seq(pass), names.size * 1000.0 / pass, all.size + names.size, failures.size, failures,
      report, layers, timed.map(_._3).toSet,
      if (traced) Stats.overheadPct(Seq(passMs(1)), Seq(passMs(0))) else 0.0)
  }
}

object Catalog {
  /** Row count and an order-independent hash of a result: the sum of
    * its rows' 64-bit hashes, with doubles and floats rendered to 9
    * significant digits so that a different summation order in an
    * aggregate does not change the hash.
    */
  def digest(df: DataFrame): (Long, String) = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case f: Float => norm(f.toDouble)
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.mkString("b", ".", "")
      case other => other.toString
    }
    var n, sum = 0L
    df.collect().foreach { r =>
      n += 1
      sum += scala.util.hashing.MurmurHash3.stringHash(norm(r)).toLong * 0x9E3779B97F4A7C15L +
        scala.util.hashing.MurmurHash3.stringHash(norm(r), 0x5bd1e995).toLong
    }
    (n, java.lang.Long.toHexString(sum))
  }

  def writeExpected(p: Path, queries: Seq[String], got: Map[String, (Long, String)]): Unit = {
    val q = queries.map(n => s"""    "$n"""").mkString(",\n")
    val e = queries.map { n => val (rows, hash) = got(n); s"""    "$n": {"rows": $rows, "hash": "$hash"}""" }
      .mkString(",\n")
    Files.writeString(p, s"""{\n  "queries": [\n$q\n  ],\n  "expected": {\n$e\n  }\n}\n""")
  }
}
