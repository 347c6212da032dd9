package perfbench

import graft.cypher.{GraphSession, GraphStore}
import graft.gvalue.{GInt, GValue}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `graph_write`: writes beside reads on a durable graph. Set-up ingests
  * customers and nations with IN edges into a fresh GraphStore graph, adds
  * a few hundred `Item` vertices through Cypher, and reopens it. The loop
  * cycles through single-row Cypher CREATE (with an edge), SET, a creating
  * MERGE and DETACH DELETE on `Item`, a CDC upsert micro-batch of customers
  * through `Streams.graphStoreUpsertIngest` (one key in ten already
  * present), a read of the key just SET, and a customer count. A model of
  * every acknowledged write checks read-your-writes in the loop and, after
  * the window, the whole graph as a fresh `openGraph` sees it. */
final class GraphWrite(env: Env) extends Workload {
  import env._

  val InitialItems = 200
  val UpsertRows = 10
  /** Slots of one cycle of the mix, one operation kind each. */
  val Slots = 7
  /** Each read runs this many times in its slot: a read takes ~0.2 s, a
    * write ~2 s, and one sample per cycle left `read_ms` unsteady. */
  val ReadRepeats = 3

  private def table(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")
  private val rng = new scala.util.Random(seed)
  private lazy val customerSchema = table("customer").schema

  private var s: GraphSession = _
  private var root, cdcDir, checkpointDir: String = _
  private var slot = 0

  // the model: what every acknowledged write says the graph holds
  private val items = mutable.LinkedHashMap.empty[Long, Option[Long]]
  private var ofEdges = 0
  private val merged = mutable.LinkedHashSet.empty[Long]
  private val balances = mutable.HashMap.empty[Long, Double]
  private var nextItem, nextCustomer = 0L
  private var lastSet: Option[(Long, Long)] = None
  private val problems = mutable.ArrayBuffer.empty[String]

  // store accounting, read from the store directory after each operation
  private var lastVersion = 0L
  private var commits, bytesWritten, userBytes, filesMax, compactions = 0L
  private var manifestLabels = Set.empty[String]
  private val streamMs = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val prune = mutable.ArrayBuffer.empty[Double]

  def setup(round: Int): Unit = {
    root = s"$work/write-store-$round"
    cdcDir = s"$work/cdc-$round"
    checkpointDir = s"$work/cdc-checkpoint-$round"
    val b = new GraphSession(spark)
    b.createGraph("write", root)
    val customer = table("customer")
    tracer.span("store.ingest")(b.ingestVertexBatch("Nation", "n_nationkey", table("nation"), "setup", 0L))
    tracer.span("store.ingest")(b.ingestVertexBatch("Customer", "c_custkey", customer, "setup", 1L))
    tracer.span("store.ingest")(b.ingestEdgeBatch("IN", "c_custkey", "Customer", "c_custkey",
      "Nation", "c_nationkey", customer.select("c_custkey", "c_nationkey"), "setup", 2L))
    tracer.span("session.run")(
      b.run(s"UNWIND range(1, $InitialItems) AS i CREATE (:Item {k: i, v: i})").collect())
    s = new GraphSession(spark)
    tracer.span("store.open")(s.openGraph("write", root))

    items.clear(); ofEdges = 0; merged.clear(); balances.clear(); lastSet = None
    (1L to InitialItems).foreach(i => items(i) = Some(i))
    customer.select("c_custkey", "c_acctbal").collect().foreach(r => balances(r.getLong(0)) = r.getDouble(1))
    nextItem = InitialItems + 1L
    nextCustomer = balances.keys.max + 1
    slot = 0
    lastVersion = GraphStore.latestVersion(root).get
  }

  /** One untimed cycle of the mix; the store accounting starts after it. */
  def warmup(ops: Ops): Unit = {
    (0 until Slots).foreach(_ => step(ops))
    commits = 0; bytesWritten = 0; userBytes = 0; filesMax = 0; compactions = 0
    streamMs.clear(); prune.clear()
  }

  def probesPerOp: Int = 6

  /** The window ends with a whole cycle, so every kind has a sample. */
  override def atBoundary: Boolean = slot == 0

  /** Reads of what was written, single-row writes, and CDC micro-batches. */
  def classMs(ops: Ops): Map[String, Double] = {
    def kinds(prefix: String) = ops.samples.keys.filter(_.startsWith(prefix))
    Map("read" -> ops.meanOfMedians(kinds("read.")),
      "write" -> ops.meanOfMedians(kinds("write.")),
      "batch" -> ops.medianOf("ingest.upsert"))
  }

  /** SET targets: one of the items set-up created, which are never deleted. */
  private def initialItem(): Long = 1L + rng.nextInt(InitialItems)

  private def write(ops: Ops, kind: String, query: String, params: Map[String, GValue]): Boolean = {
    val ok = ops(s"write.$kind")(tracer.span("session.run")(s.run(query, params).collect())).isDefined
    if (ok) userBytes += math.max(1, params.values.map(_.toString.length).sum)
    ok
  }

  private def read(ops: Ops, kind: String, query: String, params: Map[String, GValue]): Option[Seq[Seq[String]]] = {
    s.graph.lastPruneInfo = None
    val rows = ops(s"read.$kind")(Cypher.read(tracer, s, query, params))
    // a read that attempts no pruning reads every file
    prune += s.graph.lastPruneInfo
      .map { case (kept, total) => kept.toDouble / math.max(1, total) }.getOrElse(1.0)
    rows.map(_.toSeq.map(Cypher.cells))
  }

  def step(ops: Ops): Unit = {
    slot match {
      case 0 =>
        val k = nextItem; nextItem += 1
        val v = rng.nextInt(1000).toLong
        if (write(ops, "create",
            "MATCH (x:Nation) WHERE x.n_nationkey = $nk CREATE (:Item {k: $k, v: $v})-[:OF]->(x)",
            Map("nk" -> GInt(rng.nextInt(25)), "k" -> GInt(k), "v" -> GInt(v)))) {
          items(k) = Some(v); ofEdges += 1
        }
      case 1 =>
        val k = initialItem()
        val v = rng.nextInt(1000).toLong
        if (write(ops, "set", "MATCH (i:Item) WHERE i.k = $k SET i.v = $v",
            Map("k" -> GInt(k), "v" -> GInt(v)))) {
          items(k) = Some(v); lastSet = Some((k, v))
        }
      case 2 =>
        lastSet.foreach { case (k, v) =>
          (1 to ReadRepeats).foreach(_ =>
            read(ops, "written", "MATCH (i:Item) WHERE i.k = $k RETURN i.v AS v", Map("k" -> GInt(k)))
              .filter(_ != Seq(Seq(v.toString)))
              .foreach(got => problems += s"read-your-writes: Item $k read $got after SET v = $v"))
        }
      case 3 =>
        // a MERGE that creates (one that matches writes nothing); MERGE takes
        // its pattern's property values as literals only
        val k = nextItem; nextItem += 1
        if (write(ops, "merge", s"MERGE (i:Item {k: $k})", Map.empty)) {
          items(k) = None; merged += k
        }
      case 4 =>
        // the oldest item a MERGE created: it has no edge, so every delete
        // takes the same path (a cascade over an edge rewrites the label)
        merged.headOption.foreach { k =>
          if (write(ops, "delete", "MATCH (i:Item) WHERE i.k = $k DETACH DELETE i", Map("k" -> GInt(k)))) {
            items.remove(k); merged -= k
          }
        }
      case 5 => upsert(ops)
      case 6 =>
        (1 to ReadRepeats).foreach(_ =>
          read(ops, "count", "MATCH (c:Customer) RETURN count(*) AS n", Map.empty)
            .filter(_ != Seq(Seq(balances.size.toString)))
            .foreach(got => problems += s"customer count read $got, expected ${balances.size}"))
    }
    slot = (slot + 1) % Slots
    account()
  }

  /** One CDC micro-batch: the producer drops a parquet file (untimed), then
    * an AvailableNow stream commits it as one store version. */
  private def upsert(ops: Ops): Unit = {
    val existing = balances.keys.toIndexedSeq
    val keys = existing(rng.nextInt(existing.size)) +:
      (1 until UpsertRows).map(_ => { nextCustomer += 1; nextCustomer - 1 })
    val rows = keys.map(k => Row(k, f"Customer#$k%09d", rng.nextInt(25),
      math.round(rng.nextDouble() * 1000000) / 100.0, "BUILDING"))
    spark.createDataFrame(rows.asJava, customerSchema).coalesce(1)
      .write.mode("append").parquet(cdcDir)
    val done = ops("ingest.upsert") {
      val q = tracer.span("stream.start") {
        val src = spark.readStream.schema(customerSchema).parquet(cdcDir)
        Streams.graphStoreUpsertIngest(src, s, "Customer", "c_custkey", checkpointDir, Some("cdc"))
      }
      tracer.span("stream.run") {
        tracer.adopt(q.runId.toString) // the stream's own job group
        if (!q.awaitTermination(120000)) { q.stop(); sys.error("upsert stream did not finish") }
      }
      q.recentProgress
    }
    done.foreach { progress =>
      rows.foreach(r => balances(r.getLong(0)) = r.getDouble(3))
      userBytes += rows.map(_.mkString(",").length + 1).sum
      streamMs += progress.toSeq.flatMap(_.durationMs.asScala.toSeq)
        .groupMapReduce(_._1)(_._2.longValue)(_ + _)
    }
  }

  /** Reads what the last operation committed from the store directory. */
  private def account(): Unit = {
    val v = GraphStore.latestVersion(root).get
    if (v == lastVersion) return
    (lastVersion + 1 to v).foreach { ver =>
      bytesWritten += dirBytes(java.nio.file.Paths.get(s"$root/v$ver"))
    }
    commits += v - lastVersion
    lastVersion = v
    val catalog = scala.io.Source.fromFile(s"$root/v$v/catalog.txt")
    val lines = try catalog.getLines().toList finally catalog.close()
    filesMax = math.max(filesMax, lines.count(_.startsWith("file ")))
    // a label whose file manifest was rewritten into one table is compacted
    val full = lines.filter(_.startsWith("vlabel ")).map(_.split(" ")(1)).toSet
    compactions += (manifestLabels intersect full).size
    manifestLabels = lines.filter(_.startsWith("file v ")).map(_.split(" ")(2)).toSet
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.isDirectory(p)) 0L
    else {
      val files = java.nio.file.Files.walk(p)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally files.close()
    }

  def verify(): Seq[String] = {
    val r = new GraphSession(spark)
    r.openGraph("write", root)
    val gotItems = r.run("MATCH (i:Item) RETURN i.k AS k, i.v AS v").collect()
      .map(row => row.get(0).toString.toLong -> Option(row.get(1)).map(_.toString.toLong)).toMap
    val wantItems = items.toMap
    val itemProblems =
      if (gotItems == wantItems) Nil
      else {
        val diff = (gotItems.keySet ++ wantItems.keySet).toSeq.sorted
          .filter(k => gotItems.get(k) != wantItems.get(k)).take(5)
          .map(k => s"Item $k: store ${gotItems.get(k)}, acknowledged ${wantItems.get(k)}")
        Seq(s"reopened graph differs from the acknowledged writes: ${diff.mkString("; ")}")
      }
    val gotBal = r.run("MATCH (c:Customer) RETURN c.c_custkey AS k, c.c_acctbal AS b").collect()
      .map(row => row.get(0).toString.toLong -> row.get(1).toString.toDouble).toMap
    val balProblems =
      if (gotBal.keySet == balances.keySet &&
          balances.forall { case (k, b) => math.abs(gotBal(k) - b) < 1e-6 }) Nil
      else Seq(s"reopened graph holds ${gotBal.size} customers, " +
        s"${balances.count { case (k, b) => gotBal.get(k).exists(g => math.abs(g - b) < 1e-6) }} " +
        s"of ${balances.size} acknowledged ones")
    val links = r.run("MATCH (i:Item)-[:OF]->(x:Nation) RETURN count(*) AS n").collect()
      .head.get(0).toString.toLong
    val linkProblems =
      if (links == ofEdges) Nil
      else Seq(s"reopened graph holds $links OF edges, expected $ofEdges")
    problems.toSeq ++ itemProblems ++ balProblems ++ linkProblems
  }

  override def layerMetrics(tracer: Tracer, ops: Ops): Map[String, Double] = {
    def meanMs(kind: String) = {
      val xs = ops.of(kind)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val roots = tracer.spans.filter(sp => sp.op > 0 && sp.parent == -1)
    val writeOps = roots.filter(_.name.startsWith("write.")).map(_.op).toSet
    val writeJobs = tracer.spans.filter(sp => writeOps(sp.op)).map(sp => tracer.workOf(sp.id).jobs).sum
    val opens = tracer.spans.filter(_.name == "store.open").map(_.ns / 1e6)
    val starts = tracer.spans.filter(_.name == "stream.start").map(_.ns / 1e6)
    def stream(key: String) =
      if (streamMs.isEmpty) 0.0 else streamMs.map(_.getOrElse(key, 0L)).sum.toDouble / streamMs.size
    // dv positions currently live in the store
    val catalog = scala.io.Source.fromFile(s"$root/v$lastVersion/catalog.txt")
    val dvPositions = try catalog.getLines().filter(_.startsWith("dvp "))
      .map(_.split(" ").last.toLong).sum finally catalog.close()
    Map(
      "write.create_ms" -> meanMs("write.create"),
      "write.set_ms" -> meanMs("write.set"),
      "write.merge_ms" -> meanMs("write.merge"),
      "write.delete_ms" -> meanMs("write.delete"),
      "write.jobs" -> writeJobs.toDouble / math.max(1, writeOps.size),
      "store.commits" -> commits.toDouble,
      "store.bytes_written" -> bytesWritten.toDouble,
      "store.bytes_per_user_byte" -> bytesWritten.toDouble / math.max(1L, userBytes),
      "store.files_max" -> filesMax.toDouble,
      "store.compactions" -> compactions.toDouble,
      "store.dv_positions" -> dvPositions.toDouble,
      "store.files_read_ratio" -> (if (prune.isEmpty) 1.0 else prune.sum / prune.size),
      "store.open_ms" -> (if (opens.isEmpty) 0.0 else Stats.median(opens.toSeq)),
      "stream.start_ms" -> (if (starts.isEmpty) 0.0 else starts.sum / starts.size),
      "stream.add_batch_ms" -> stream("addBatch"),
      "stream.planning_ms" -> stream("queryPlanning"),
      "stream.wal_commit_ms" -> stream("walCommit"),
      "stream.trigger_ms" -> stream("triggerExecution"))
  }
}
