package perfbench

import graft.SparkEntry

import scala.collection.mutable

/** `catalog`: the engine's own query catalog (`SparkEntry.queries`) over a
  * small generated corpus, in sorted order, pass after pass. The mix keeps
  * one of the cheaper queries of every family, so that a pass fits several
  * times into one run; every query with an oracle gets its row count checked
  * against DuckDB, and the three ANN recall gates must hold. */
final class Catalog(env: Env) extends Workload {
  import env._

  val Mix: Seq[String] = Seq(
    "d1_exact_dedup", "f2_sql_registered", "g3_two_hop", "m1_binary_meta",
    "q1_agg", "q33_search_bfs", "s4_ivf_ann", "t7_bm25_topk", "w4_merge",
    "x4_sssp_bfs").sorted
  /** Checked after the window, not timed: s9 gates the s8 sidecar path. */
  val RecallGates = Seq("s6_lsh_recall_gate", "s7_ivf_recall_gate", "s9_pq_recall_gate")

  /** The window holds at least this many passes: each query's median is
    * then the middle of three or more samples. */
  val MinPasses = 3

  private var next, passes = 0
  private val rowCounts = mutable.LinkedHashMap.empty[String, Long]

  private def clearSessionCaches(): Unit = {
    graft.operators.Similarity.clearSessionCache()
    graft.operators.Dedup.clearSessionCache()
    graft.operators.Pipeline.clearSessionCache()
    spark.catalog.clearCache()
  }

  /** Builds the durable PQ sidecar of the embeddings corpus from scratch:
    * the s8 index a deployment builds once. */
  def setup(round: Int): Unit = {
    clearSessionCaches()
    sys.env.get("GRAFT_INDEX_ROOT").foreach(r =>
      graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(r)))
    SparkEntry.queries("s8_pq_adc_ann")(spark, data).count()
    clearSessionCaches()
  }

  /** `graft.Bench`'s first warm-up step (a region scan), then one pass of
    * the mix, which compiles exactly the code the window runs. Bench's
    * second step, d10 over a 200-document slice, warms the dedup family's
    * heavy queries, none of which is in the mix. */
  def warmup(ops: Ops): Unit = {
    spark.read.parquet(s"$data/region.parquet").count()
    Mix.foreach(_ => step(ops))
    passes = 0
  }

  private def run(name: String): Long = {
    val df = tracer.span("construct")(SparkEntry.queries(name)(spark, data))
    val counted = df.groupBy().count()
    val qe = counted.queryExecution
    tracer.span("optimize")(qe.optimizedPlan)
    tracer.span("plan")(qe.executedPlan)
    tracer.span("execute")(counted.collect().head.getLong(0))
  }

  def step(ops: Ops): Unit = {
    // each pass starts from cold operator session caches, like the
    // engine's own Bench; durable artifacts (the sidecar) persist
    if (next == 0) clearSessionCaches()
    val name = Mix(next)
    val n = ops(name)(run(name))
    spark.catalog.clearCache() // per-query persist()s, outside the timing
    n.foreach(c => rowCounts.getOrElseUpdate(name, c))
    next += 1
    if (next == Mix.size) { next = 0; passes += 1 }
  }

  def probesPerOp: Int = 4

  /** The window ends with a whole pass. */
  override def atBoundary: Boolean = next == 0 && passes >= MinPasses

  /** Every query but w4_merge reads; w4_merge is the in-memory MERGE write
    * path; a batch is one whole pass of the mix (its median). */
  def classMs(ops: Ops): Map[String, Double] = {
    val whole = Mix.map(q => ops.samples.getOrElse(q, Nil).size).min // short of failures
    Map(
      "read" -> ops.meanOfMedians(Mix.filter(_ != "w4_merge")),
      "write" -> ops.medianOf("w4_merge"),
      "batch" -> Stats.median((0 until whole).map(i => Mix.map(q => ops.samples(q)(i)).sum)))
  }

  def verify(): Seq[String] =
    RecallGates.flatMap { q =>
      val rows = SparkEntry.queries(q)(spark, data).collect()
      if (rows.nonEmpty && rows.forall(_.getAs[Boolean]("recall_ok"))) None
      else Some(s"$q: recall below its floor: ${rows.mkString(", ")}")
    }

  override def checks: Seq[(String, Any)] = {
    val oracles = SparkEntry.oracleSql
    Seq("row_counts" -> rowCounts.toMap,
      "oracle_sql" -> rowCounts.keys.flatMap(q => oracles.get(q).map(q -> _)).toMap)
  }

  /** Per family: the sum of its queries' median latency (s). */
  override def layerMetrics(tracer: Tracer, ops: Ops): Map[String, Double] = {
    val perQuery = Mix.flatMap { q =>
      val xs = ops.of(q)
      if (xs.isEmpty) None else Some(q.head -> Stats.median(xs) / 1000)
    }
    perQuery.groupBy(_._1).map { case (f, xs) => s"family.$f.s" -> xs.map(_._2).sum }
  }
}
