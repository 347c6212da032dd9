package graft

import graft.operators.GraphAnalytics
import graft.graph.Algorithms
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("connected components = one per region") {
    val comps = GraphAnalytics.queries("x1_connected_components")(spark, sf).collect()
    assert(comps.length == 5)
  }

  test("pagerank: nations outrank customers, ranks are positive") {
    val pg = GraphAnalytics.locationGraph(spark, sf)
    val ranks = Algorithms.pageRank(pg, iters = 10).collect()
      .map(r => (r.getLong(0) >>> 48, r.getDouble(1)))
    assert(ranks.forall(_._2 > 0))
    val avgByLabel = ranks.groupBy(_._1).view.mapValues(v => v.map(_._2).sum / v.length).toMap
    // all in-links point at nations (2) and regions (3): they must outrank
    // customers (1) and suppliers (4), which only have out-edges
    assert(avgByLabel(2L) > avgByLabel(1L) && avgByLabel(3L) > avgByLabel(4L))
  }

  test("BFS sssp levels: source, then nation+orders, then region+parts") {
    val rows = GraphAnalytics.queries("x4_sssp_bfs")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.head == ((0, 1L))) // the source itself
    assert(rows.map(_._1).sameElements(rows.map(_._1).sorted))
    assert(rows.length >= 2 && rows.forall(_._2 > 0))
  }

  test("Pregel SSSP equals the DataFrame BFS loop (deep-recursion path, r11)") {
    val pg = graft.operators.GraphQueries.tpchGraph(spark, sf)
    val src = (1L << 48) | 1L
    // force the distributed DataFrame loop (disable the local fast path)
    spark.conf.set("spark.graft.local.maxRows", "0")
    try {
      val loop = Algorithms.sssp(pg, src, maxHops = 8).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      val pregel = Algorithms.ssspPregel(pg, src, maxHops = 8).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(pregel == loop, s"pregel=${pregel.size} loop=${loop.size}")
      // and the deep-hop gate routes through Pregel (same result at 100 hops)
      val deep = Algorithms.sssp(pg, src, maxHops = 100).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(deep == loop) // graph diameter < 8: extra hops change nothing
    } finally spark.conf.unset("spark.graft.local.maxRows")
    // the local BFS at its id table's fullest: 2^16 − 1 disjoint edges
    // give 2^17 − 2 ids, which a table sized from 2n alone held at ~100%
    // load
    import org.apache.spark.sql.functions.col
    val n = (1L << 16) - 1
    val disjoint = new graft.graph.PropertyGraph(spark,
      Map("V" -> spark.range(2 * n).toDF("id")),
      Map("E" -> spark.range(n).select((col("id") * 2).as("start_id"),
        (col("id") * 2 + 1).as("end_id"))),
      Map("V" -> 1, "E" -> 2))
    for (s <- Seq(0L, 2 * n - 2)) {
      val local = Algorithms.sssp(disjoint, s, maxHops = 8).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      val pregel = Algorithms.ssspPregel(disjoint, s, maxHops = 8).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(local == pregel && local == Map(s -> 0, (s + 1) -> 1), s"source $s: $local")
    }
  }

  test("top pagerank vertices are all nations or regions") {
    val top = GraphAnalytics.queries("x3_pagerank_top")(spark, sf).collect()
    assert(top.nonEmpty)
    assert(top.forall(r => { val l = r.getLong(2); l == 2L || l == 3L }))
  }
}
