package graft.graph

import graft.Local
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraphX bridge for whole-graph analytics (connected components, PageRank,
  * degrees) over a PropertyGraph — the "analytics queries via GraphX" half of
  * the engine (the reference has no whole-graph analytics; this is north-star
  * surface). Vertex attribute = label id (Int), edge attribute = edge label
  * id — attributes stay tiny so GraphX shuffles only ids, and results join
  * back to label tables by packed graphid when properties are needed.
  */
object Algorithms {

  def toGraphX(pg: PropertyGraph): Graph[Int, Int] = {
    val vertexRdd: RDD[(VertexId, Int)] = pg.vertexLabels.toSeq.sortBy(_._1).map {
      case (label, df) =>
        val lid = pg.labelIdOf(label)
        df.select("id").rdd.map(r => (r.getLong(0), lid))
    }.reduce(_ union _)
    val edgeRdd: RDD[Edge[Int]] = pg.edgeLabels.toSeq.sortBy(_._1).map {
      case (label, df) =>
        val lid = pg.labelIdOf(label)
        df.select("start_id", "end_id").rdd
          .map(r => Edge(r.getLong(0), r.getLong(1), lid))
    }.reduce(_ union _)
    Graph(vertexRdd, edgeRdd)
  }

  /** Connected components (undirected min-id propagation): (id, component).
    * Size-adaptive (r16, same rule as pageRank/sssp): when the estimate
    * fits, the union-find runs in ONE executor task — GraphX CC spent
    * ~15 RDD jobs of pure scheduling on a graph that fits in one array.
    * Semantics identical to GraphX: component id = lowest vertex id in the
    * component, vertices = vertex set ∪ edge endpoints.
    */
  def connectedComponents(pg: PropertyGraph): DataFrame = {
    val spark = pg.spark
    import spark.implicits._
    val e = pg.allEdges.select(col("start_id").as("src"), col("end_id").as("dst"))
    val v = pg.allVertices.select(col("id"))
    if (Local.fits(Local.GraphBytes, e, v)) return ccLocal(pg, e, v)
    toGraphX(pg).connectedComponents().vertices
      .toDF("id", "component")
  }

  private def ccLocal(pg: PropertyGraph, e: DataFrame, v: DataFrame): DataFrame = {
    val spark = pg.spark
    import spark.implicits._
    // a vertex is its own pair, so isolated vertices get a component too;
    // repartition(1), not coalesce(1): keep the scans parallel, exchange
    // only the narrow pairs; union-find min-id roots are exact and
    // order-independent, so fetch order cannot change the result
    e.unionByName(v.select(col("id").as("src"), col("id").as("dst")))
      .as[(Long, Long)].repartition(1)
      .mapPartitions(components).toDF("id", "component")
  }

  /** Union-find with min-id roots over undirected (a, b) pairs: (id,
    * component) for every id seen, component = the least id of its
    * connected component — the fixpoint GraphX's label propagation
    * converges to, in one pass. The one union-find of the engine: x1's
    * single-task CC and d6's near-dup clusters.
    */
  private[graft] def components(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    pairs.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // keep the SMALLER id as root → root = component min
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    parent.forEach((id, _) => out += ((id, find(id))))
    out.iterator
  }

  /** Static PageRank with `iters` iterations: (id, rank).
    *
    * A deterministic DataFrame loop (not GraphX staticPageRank) with the
    * textbook recurrence r₀ = 1, rₖ₊₁(v) = reset + (1−reset)·Σ rₖ(u)/deg(u)
    * over in-edges, no dangling redistribution — exactly the recurrence a
    * SQL recursive CTE can replay, which makes the result ORACLE-checkable
    * (GraphX's internal message order + normalization choices aren't).
    * Per iteration: one join on the out-weighted edge list + one aggregate
    * (2 shuffles); localCheckpoint keeps the plan flat across iterations —
    * the same shape scales as Pregel at 100 TB (shuffle keyed on dst).
    */
  def pageRank(pg: PropertyGraph, iters: Int, resetProb: Double = 0.15): DataFrame = {
    val e = pg.allEdges.select(col("start_id").as("src"), col("end_id").as("dst"))
    val v = pg.allVertices.select(col("id"))
    if (Local.fits(Local.GraphBytes, e, v)) return pageRankLocal(pg, e, v, iters, resetProb)
    // out-degree-weighted edges, built once: (src, dst, w = 1/outdeg(src))
    val w = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
      .localCheckpoint()
    // Iterate over CONTRIBUTIONS only: C_k(v) = Σ_{u→v} w(u,v)·r_{k-1}(u)
    // with r(u) = reset + (1-reset)·coalesce(C(u), 0). A vertex with no
    // in-edges has constant rank `reset` after step 1, so the all-vertices
    // relation joins exactly ONCE at the end — one join + one partial-agg
    // shuffle per iteration instead of two joins (the left_outer reset
    // re-join each step was the 3× r3 regression).
    def rank(inSum: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(resetProb) + lit(1 - resetProb) * coalesce(inSum, lit(0.0))
    // iteration 1 closed-form: every rank is 1.0
    var contribs = w.groupBy(col("dst")).agg(sum(col("w")).as("in_sum"))
    for (k <- 2 to iters) {
      contribs = w
        .join(contribs.select(col("dst").as("cid"), col("in_sum")),
          col("src") === col("cid"), "left_outer")
        .groupBy(col("dst")).agg(sum(col("w") * rank(col("in_sum"))).as("in_sum"))
      // flatten every few generations: each checkpoint is an eager job, but
      // unbounded lineage makes analysis superlinear — 4 balances the two
      // now that each generation is a single join+agg
      if (k % 4 == 0) contribs = contribs.localCheckpoint()
    }
    pg.allVertices.select(col("id"))
      .join(contribs, col("id") === col("dst"), "left_outer")
      .select(col("id"), rank(col("in_sum")).as("rank"))
  }

  /** Small-graph PageRank: the identical recurrence run over local arrays in
    * a single executor task (edges + vertices tag-unioned into one
    * partition). ~30 shuffle rounds collapse to one narrow job.
    */
  private def pageRankLocal(pg: PropertyGraph, e: DataFrame, v: DataFrame,
      iters: Int, resetProb: Double): DataFrame = {
    val spark = pg.spark
    import spark.implicits._
    val tagged = e.select(lit(true).as("_1"), col("src").as("_2"), col("dst").as("_3"))
      .unionByName(v.select(lit(false).as("_1"), col("id").as("_2"), lit(0L).as("_3")))
      .as[(Boolean, Long, Long)]
      .coalesce(1)
    tagged.mapPartitions { it =>
      val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val vset = new java.util.HashSet[Long]()
      // index every id that appears (vertex or endpoint) so contributions
      // from/to ids outside the vertex set behave exactly as the
      // distributed loop's edge-only contribs relation; output filters to
      // the vertex set at the end (mirrors the final allVertices join)
      val idx = new java.util.HashMap[Long, Integer]()
      def slot(id: Long): Int = {
        var i = idx.get(id)
        if (i == null) { i = idx.size(); idx.put(id, i) }
        i.intValue()
      }
      it.foreach { case (isEdge, a, b) =>
        if (isEdge) { edges += ((a, b)); slot(a); slot(b) }
        else { vset.add(a); slot(a) }
      }
      val n = idx.size()
      val srcIdx = new Array[Int](edges.length)
      val dstIdx = new Array[Int](edges.length)
      val outdeg = new Array[Int](n)
      var j = 0
      edges.foreach { case (s, d) =>
        srcIdx(j) = slot(s); dstIdx(j) = slot(d); outdeg(srcIdx(j)) += 1; j += 1
      }
      // precomputed 1/deg mirrors the distributed loop's (and the DuckDB
      // oracle's) `w = 1.0/deg` edge weight bit-for-bit
      val winv = outdeg.map(d => if (d == 0) 0.0 else 1.0 / d)
      var r = Array.fill(n)(1.0)
      var k = 1
      while (k <= iters) {
        val in = new Array[Double](n)
        var i = 0
        while (i < edges.length) {
          in(dstIdx(i)) += r(srcIdx(i)) * winv(srcIdx(i)); i += 1
        }
        val nxt = new Array[Double](n)
        i = 0
        while (i < n) { nxt(i) = resetProb + (1 - resetProb) * in(i); i += 1 }
        r = nxt
        k += 1
      }
      val ids = new Array[Long](n)
      idx.forEach((id, i) => ids(i) = id)
      (0 until n).iterator
        .filter(i => vset.contains(ids(i)))
        .map(i => (ids(i), r(i)))
    }.toDF("id", "rank")
  }

  /** Unweighted single-source shortest paths, level-synchronous BFS:
    * (id, d) for every vertex reachable from `src` within `maxHops`. One
    * join + one distinct + one anti join per level, frontier checkpointed —
    * the same shuffle-on-dst shape as the VLE expansion, with the visited
    * set as the only growing state. Level order gives minimal d by
    * construction, so a recursive CTE replays it exactly.
    */
  def sssp(pg: PropertyGraph, src: Long, maxHops: Int = 20): DataFrame = {
    val spark = pg.spark
    import spark.implicits._
    val e0 = pg.allEdges.select(col("start_id").as("src"), col("end_id").as("dst"))
    if (Local.fits(Local.GraphBytes, e0)) return ssspLocal(pg, e0, src, maxHops)
    // deep traversals: hand the whole iteration to Pregel (doc below)
    if (maxHops > PregelHops) return ssspPregel(pg, src, maxHops)
    val edges = e0.localCheckpoint()
    var dist = Seq((src, 0)).toDF("id", "d").localCheckpoint()
    var frontier = dist
    var level = 0
    var fCount = 1L
    while (level < maxHops && fCount > 0) {
      level += 1
      frontier = frontier.join(edges, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .withColumn("d", lit(level))
        .localCheckpoint()
      // ONE driver action per level: the count runs over the partitions the
      // eager checkpoint just cached (the old double `frontier.isEmpty`
      // probes were two extra jobs per level — SCALE.md fixpoint rule)
      fCount = frontier.count()
      if (fCount > 0) {
        // dist's lineage stays a shallow union of checkpointed frontiers —
        // flatten only every few levels to keep analysis linear
        dist = dist.unionByName(frontier)
        if (level % 4 == 0) dist = dist.localCheckpoint()
      }
    }
    dist
  }

  /** DEEP-recursion path (r11): GraphX Pregel BFS. The DataFrame loop
    * re-analyzes a growing plan and pays driver-paced job latency per
    * level — the right trade at ≤ ~15 hops, but a 100-plus-hop traversal
    * (supply chains, long causal paths) wants the Pregel form: vertex
    * state is one Int, each superstep is a single aggregateMessages-style
    * shuffle on the SAME pre-partitioned graph, no Catalyst involvement.
    * Same recurrence, same (id, d) result as `sssp`, proven equivalent in
    * AnalyticsSpec. Selected by `sssp` when maxHops exceeds `PregelHops`
    * (16) on the distributed path; call directly to force it.
    */
  def ssspPregel(pg: PropertyGraph, src: Long, maxHops: Int): DataFrame = {
    val spark = pg.spark
    import spark.implicits._
    val g = toGraphX(pg)
    val init = g.mapVertices((id, _) => if (id == src) 0 else Int.MaxValue)
    val res = init.pregel(Int.MaxValue, maxHops,
        org.apache.spark.graphx.EdgeDirection.Out)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    res.vertices.filter(_._2 != Int.MaxValue)
      .map { case (id, d) => (id.toLong, d) }.toDF("id", "d")
  }

  private val PregelHops = 16

  /** Small-graph BFS: adjacency built in one task, level-synchronous scan
    * over local arrays — replaces ~5 jobs per level with one narrow job.
    */
  private def ssspLocal(pg: PropertyGraph, e: DataFrame, src: Long,
      maxHops: Int): DataFrame = {
    val spark = pg.spark
    import spark.implicits._
    // repartition(1), NOT coalesce(1): coalesce folds the parquet scan
    // itself into the single task (770k edges read single-threaded at
    // sf0.1); an exchange keeps the scan parallel and ships only narrow
    // (src,dst) pairs. BFS hop distances are order-independent, so the
    // nondeterministic shuffle-fetch order cannot change the result.
    e.toDF("_1", "_2").as[(Long, Long)].repartition(1).mapPartitions { it =>
      // r17 (guide §1.2 per-task work): the boxed
      // HashMap[Long, ArrayBuffer[Long]] adjacency allocated a Long box +
      // hash node per edge endpoint (~0.5 s of the ~0.9 s task at 770k
      // edges). Primitive open-addressing id→slot map + CSR arrays do the
      // same BFS with zero boxing; results are identical (set of (id,
      // min-hop distance)) and order-independent downstream.
      var srcA = new Array[Long](1 << 16)
      var dstA = new Array[Long](1 << 16)
      var n = 0
      it.foreach { case (s, d) =>
        if (n == srcA.length) {
          srcA = java.util.Arrays.copyOf(srcA, n * 2)
          dstA = java.util.Arrays.copyOf(dstA, n * 2)
        }
        srcA(n) = s; dstA(n) = d; n += 1
      }
      // open-addressing map: id → dense slot (ids are never MinValue)
      val EMPTY = Long.MinValue
      // up to 2n + 1 ids: the smallest power of two ≥ twice that keeps the
      // load ≤ 50% for every n
      val cap = java.lang.Integer.highestOneBit(math.max(16, 4 * n + 2) - 1) * 2
      val keys = new Array[Long](cap); java.util.Arrays.fill(keys, EMPTY)
      val slots = new Array[Int](cap)
      val mask = cap - 1
      var nSlots = 0
      val slotIds = new Array[Long](n * 2 + 2)
      def slotOf(id: Long): Int = {
        var i = (java.lang.Long.hashCode(id * -7046029254386353131L) & mask)
        while (keys(i) != EMPTY && keys(i) != id) i = (i + 1) & mask
        if (keys(i) == EMPTY) {
          keys(i) = id; slotIds(nSlots) = id; nSlots += 1
          slots(i) = nSlots - 1
        }
        slots(i)
      }
      // register every endpoint + the source so slots cover all BFS ids
      slotOf(src)
      var i = 0
      while (i < n) { slotOf(srcA(i)); slotOf(dstA(i)); i += 1 }
      // CSR: per-src degree → offsets → fill
      val deg = new Array[Int](nSlots)
      i = 0; while (i < n) { deg(slotOf(srcA(i))) += 1; i += 1 }
      val off = new Array[Int](nSlots + 1)
      i = 0; while (i < nSlots) { off(i + 1) = off(i) + deg(i); i += 1 }
      val fill = java.util.Arrays.copyOf(off, nSlots)
      val csr = new Array[Int](n)
      i = 0
      while (i < n) {
        val s = slotOf(srcA(i)); csr(fill(s)) = slotOf(dstA(i)); fill(s) += 1; i += 1
      }
      // level-synchronous BFS over slots
      val dist = new Array[Int](nSlots); java.util.Arrays.fill(dist, -1)
      var frontier = new Array[Int](math.max(16, nSlots)); var fLen = 0
      var next = new Array[Int](math.max(16, nSlots)); var nLen = 0
      val s0 = slotOf(src); dist(s0) = 0; frontier(0) = s0; fLen = 1
      var level = 0
      while (level < maxHops && fLen > 0) {
        level += 1; nLen = 0
        var f = 0
        while (f < fLen) {
          val u = frontier(f)
          var j = off(u)
          while (j < off(u + 1)) {
            val v = csr(j)
            if (dist(v) < 0) { dist(v) = level; next(nLen) = v; nLen += 1 }
            j += 1
          }
          f += 1
        }
        val tmp = frontier; frontier = next; next = tmp; fLen = nLen
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      i = 0
      while (i < nSlots) {
        if (dist(i) >= 0) out += ((slotIds(i), dist(i))); i += 1
      }
      out.iterator
    }.toDF("id", "d")
  }

  /** In/out degrees joined back to the label: (id, label_id, in_deg, out_deg).
    * Size-adaptive local twin (r16): one task builds the degree maps over
    * local arrays; the GraphX route pays 3 RDD aggregations + 2 joins of
    * scheduling for the same counts. Semantics identical to the GraphX
    * path, including Graph.apply's default attribute: an edge endpoint
    * absent from the vertex set appears with label_id 0.
    */
  def degrees(pg: PropertyGraph): DataFrame = {
    val spark = pg.spark
    import spark.implicits._
    val e = pg.allEdges.select(col("start_id").as("src"), col("end_id").as("dst"))
    if (Local.fits(Local.GraphBytes, e, pg.allVertices.select(col("id")))) {
      val vl = pg.vertexLabels.toSeq.sortBy(_._1).map { case (label, df) =>
        val lid = pg.labelIdOf(label)
        df.select(col("id"), lit(lid.toLong).as("lid"))
      }.reduce(_ unionByName _)
      val tagged = e.select(lit(true).as("_1"), col("src").as("_2"), col("dst").as("_3"))
        .unionByName(vl.select(lit(false).as("_1"), col("id").as("_2"), col("lid").as("_3")))
        .as[(Boolean, Long, Long)]
        // repartition(1), not coalesce(1): parallel scans, narrow exchange;
        // integer degree counts are order-independent
        .repartition(1)
      return tagged.mapPartitions { it =>
        val lids = new java.util.HashMap[Long, Long]()
        val ins = new java.util.HashMap[Long, Int]()
        val outs = new java.util.HashMap[Long, Int]()
        def touch(id: Long): Unit = if (!lids.containsKey(id)) lids.put(id, 0L)
        it.foreach { case (isEdge, a, b) =>
          if (isEdge) {
            touch(a); touch(b)
            outs.merge(a, 1, (x, y) => x + y)
            ins.merge(b, 1, (x, y) => x + y)
          } else lids.put(a, b)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
        lids.forEach((id, lid) => out += ((id, lid,
          ins.getOrDefault(id, 0), outs.getOrDefault(id, 0))))
        out.iterator
      }.toDF("id", "label_id", "in_deg", "out_deg")
        .withColumn("label_id", col("label_id").cast("int"))
    }
    val g = toGraphX(pg)
    val in = g.inDegrees.toDF("id", "in_deg")
    val out = g.outDegrees.toDF("id", "out_deg")
    g.vertices.toDF("id", "label_id")
      .join(in, Seq("id"), "left_outer")
      .join(out, Seq("id"), "left_outer")
      .na.fill(0, Seq("in_deg", "out_deg"))
  }
}
