package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-22 batch-2 rows (SURVEY §2.50):
  * CUSUM drift, the deterministic Poisson bootstrap, and modularity
  * decomposition. Each drives the factored production path on inputs
  * whose expected output is derivable by hand (the bootstrap
  * replicates the md5 draw in-JVM).
  */
class Round31Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- win_cusum_drift ------------------------------------------------

  test("cusumDriftOn: closed form matches the max(0, S+dev) recursion; ties pick the first day") {
    // Type A days 1-4 counts [1,1,3,3]: k = 8 DIV 4 = 2,
    // dev = [-1,-1,1,1], C = [-1,-2,-1,0], S = C - min(0, runmin(C))
    // = [0,0,1,2] -> peak 2 on day 4, net_dev 0.
    // Type B counts [2,1]: k = 3 DIV 2 = 1 (floor remainder), S =
    // [1,1] -> tie resolves to the FIRST day; net_dev = 1.
    val rows = Seq(
      ("A", "2024-01-01"), ("A", "2024-01-02"),
      ("A", "2024-01-03"), ("A", "2024-01-03"), ("A", "2024-01-03"),
      ("A", "2024-01-04"), ("A", "2024-01-04"), ("A", "2024-01-04"),
      ("B", "2024-01-01"), ("B", "2024-01-01"), ("B", "2024-01-02"))
    val events = rows.toDF("event_type", "s")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"))
    val got = graft.ops.timeseries.Control.cusumDriftOn(events)
      .as[(String, Long, Long, Long, java.sql.Date, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 2L, 4L, 2L, java.sql.Date.valueOf("2024-01-04"), 0L),
      ("B", 1L, 2L, 1L, java.sql.Date.valueOf("2024-01-01"), 1L)))
  }

  // ---- agg_poisson_bootstrap ------------------------------------------

  /** In-JVM replica of the md5-thresholded Poisson(1) draw. */
  private def weight(b: Int, orderkey: Long, linenumber: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"boot${b}_${orderkey}_$linenumber".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h = Integer.parseInt(hex.substring(0, 2), 16)
    if (h < 94) 0L else if (h < 188) 1L else if (h < 235) 2L
    else if (h < 251) 3L else 4L
  }

  test("poissonBootstrapOn: every replicate's weighted mean matches the in-JVM md5 draw") {
    val rows = (1L to 20L).map(i => (100.0 + i, i, 1L))
    val li = rows.toDF("l_extendedprice", "l_orderkey", "l_linenumber")
    val got = graft.ops.Composite34.poissonBootstrapOn(li)
      .as[(Int, Long, Double)].collect().toSeq
    assert(got.map(_._1) == (0 until 32), "one row per replicate, ordered")
    val expected = (0 until 32).map { b =>
      val ws = rows.map { case (p, ok, ln) => (weight(b, ok, ln), (p * 100).round) }
      val n = ws.map(_._1).sum
      val sc = ws.map { case (w, c) => w * c }.sum
      (b, n, math.floor((sc.toDouble / 100 / n) * 1e6 + 0.5) / 1e6)
    }
    assert(got == expected)
  }

  // ---- graph_modularity -----------------------------------------------

  test("modularityOn: per-community Q contributions from exact counts; empty-within community coalesces") {
    // Half edges (0,50),(0,100),(1,51),(2,103), communities n % 50:
    // c0 = {0,50,100} (2 within edges, degree sum 4), c1 = {1,51}
    // (1 within, ds 2), c2 = {2} and c3 = {103} (0 within, ds 1
    // each -> the coalesce path). m = 4.
    val half = Seq((0L, 50L), (0L, 100L), (1L, 51L), (2L, 103L))
      .toDF("src", "dst")
    val got = graft.ops.graph.Community.modularityOn(half)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    def q(we: Long, ds: Long): Double =
      math.floor((we.toDouble / 4 - (ds.toDouble / 8) * (ds.toDouble / 8)) * 1e6 + 0.5) / 1e6
    assert(got == Seq(
      (0L, 3L, 2L, 4L, q(2, 4)),
      (1L, 2L, 1L, 2L, q(1, 2)),
      (2L, 1L, 0L, 1L, q(0, 1)),
      (3L, 1L, 0L, 1L, q(0, 1))))
  }
}
