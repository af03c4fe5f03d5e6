package graft.tools

import graft.Bench

/** Interleaved warm bench of two (or more) named catalog queries in
  * one [[Bench.session]] over SPARK_GRAFT_SF_DIR: PB_NAMES=a,b
  * [PB_N=7]. Round-robins the queries PB_N times after one warmup
  * pass each and prints per-query medians — for design-twin
  * comparisons (e.g. summary path vs exact audit twin) where BENCH
  * context rounds are too coarse to trust a single cold profile.
  */
object PairBench {
  def main(args: Array[String]): Unit = {
    val s = Bench.session("graft-pairbench")
    val names = sys.env.getOrElse("PB_NAMES", "").split(",").filter(_.nonEmpty)
    require(names.nonEmpty, "PB_NAMES=a,b required")
    val dir = Bench.sfDir
    val n = sys.env.getOrElse("PB_N", "7").toInt
    def once(q: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(s, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(once) // warmup, untimed
    val walls = names.map(_ -> scala.collection.mutable.Buffer[Double]()).toMap
    for (r <- 1 to n; q <- names) {
      val w = once(q)
      walls(q) += w
      println(f"[pb] round $r $q $w%6.2f s")
    }
    names.foreach { q =>
      val b = walls(q).sorted
      println(f"[pb] MEDIAN $q ${b(b.size / 2)}%6.2f s over $n warm rounds")
    }
    s.stop()
  }
}
