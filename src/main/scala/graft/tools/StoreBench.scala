package graft.tools

import graft.cypher.GraphStore.{Catalog, DirTable, FileTable}
import org.apache.spark.sql.SparkSession

/** Scratch durable-store write-volume meter (not part of the library):
  * quantifies the r12 file-level CoW — bytes written and wall time for a
  * 1-row CREATE/SET/DELETE against a label of N rows, vs the full-label
  * write the r11 store did for every touched label.
  */
object StoreBench {
  def dirBytes(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000L
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("graft_storebench").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("sb", root)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      val v = graft.cypher.GraphStore.latestVersion(root).get
      val bytes = dirBytes(java.nio.file.Paths.get(s"$root/v$v"))
      println(f"STORE $name%-26s ${(System.nanoTime() - t0) / 1e9}%8.3f s   v$v%-4s ${bytes}%10d bytes")
      r
    }
    // load in 8 chunks → the label spans 8 parquet files (each chunk after
    // the first is itself a CoW append), the realistic multi-file shape
    val chunks = 8
    val per = n / chunks
    t(s"bulk CREATE $n rows ($chunks stmts)") {
      for (c <- 0L until chunks)
        s.run(s"UNWIND range(${c * per + 1}, ${(c + 1) * per}) AS i " +
          "CREATE (:P {k: i, t: 'payload-' + toString(i)})").count()
    }
    t("1-row CREATE (append)")(
      s.run(s"CREATE (:P {k: ${n + 1}, t: 'new'})").count())
    t("1-row SET (deletion vector)")(
      s.run("MATCH (p:P {k: 7}) SET p.t = 'updated'").count())
    t("1-row DELETE (deletion vector)")(
      s.run("MATCH (p:P {k: 9}) DELETE p").count())
    // read-back sanity + reopen cost
    val t0 = System.nanoTime()
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("sb", root)
    val cnt = r.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0)
    println(f"STORE reopen+count            ${(System.nanoTime() - t0) / 1e9}%8.3f s   rows=$cnt (expect ${n})")
    // r13: IVF index ENTRIES persistence — a reopened store's first probe
    // reads the stored (id, cluster) relation (cluster-pruned parquet)
    // instead of re-deriving assignments over the label
    t(s"CREATE $n vector rows")(
      s.run(s"UNWIND range(1, $n) AS i " +
        "CREATE (:V {k: i, embedding: [i % 100 + 0.0, (i * 7) % 100 + 0.0]})").count())
    t("ivf DDL build (entries persisted)")(
      s.run("SELECT create_ivfflat_l2_ops_index('sb', 'V', 'embedding', 2, 16)").count())
    val as0 = graft.functions.Ivf.assignBuilds.get()
    val tP = System.nanoTime()
    val rp = new graft.cypher.GraphSession(spark)
    rp.openGraph("sb", root)
    rp.run("MATCH (v:V) RETURN v.k AS k ORDER BY v.embedding <-> [3.0, 21.0] LIMIT 5").count()
    println(f"STORE reopen+ivf probe        ${(System.nanoTime() - tP) / 1e9}%8.3f s   " +
      s"assignPasses=${graft.functions.Ivf.assignBuilds.get() - as0} (expect 0: stored lists)")
    // r13: sustained CDC upsert steady state — bytes/batch through the dv
    // path with periodic self-compaction at the 64-line manifest bound
    locally {
      import spark.implicits._
      s.ingestVertexBatch("U", "k",
        (1L to n).map(i => (i, s"payload-$i")).toDF("k", "t"), "sbup", 0L)
      var total = 0L; var tail = List.empty[Long]; var compactions = 0
      val tU = System.nanoTime()
      for (b <- 1 to 40) {
        val df = Seq.tabulate(4)(j => (((b * 7 + j) % 1000) + 1L, s"upd-$b-$j"))
          .toDF("k", "t")
        s.ingestVertexUpsertBatch("U", "k", df, "sbup", b.toLong)
        val v = graft.cypher.GraphStore.latestVersion(root).get
        val b2 = dirBytes(java.nio.file.Paths.get(s"$root/v$v"))
        total += b2
        if (b > 20) tail ::= b2
        if (Catalog.read(root, v).table("v", "U").exists(_.isInstanceOf[DirTable]))
          compactions += 1
      }
      println(f"STORE upsert x40 (4 keys/b)   ${(System.nanoTime() - tU) / 1e9}%8.3f s   " +
        f"steady ${tail.sum / tail.size}%d bytes/batch, $compactions%d self-compactions")
    }
    // r14 (VERDICT r13 #6): manifest-stats file pruning AT SCALE — a label
    // grown to the 63-line manifest edge (the bound compacts at 64), then
    // a sargable point MATCH with pruning on vs off, plus the raw
    // all-files parquet scan as the no-metadata baseline. nP defaults to
    // 1M rows (sf1-order label).
    locally {
      val nP = if (args.length > 1) args(1).toLong else 1000000L
      val chunks = 61L // appends after the initial write → manifest at the 63-line edge (64 compacts)
      val per = nP / chunks
      val tB = System.nanoTime()
      s.run(s"UNWIND range(1, ${per * 2}) AS i " +
        "CREATE (:K {k: i, t: 'payload-' + toString(i)})").count()
      for (c <- 2L until chunks + 1L)
        s.run(s"UNWIND range(${c * per + 1}, ${(c + 1) * per}) AS i " +
          "CREATE (:K {k: i, t: 'payload-' + toString(i)})").count()
      val vB = graft.cypher.GraphStore.latestVersion(root).get
      val files = Catalog.read(root, vB).table("v", "K")
        .collect { case t: FileTable => t.files }.getOrElse(Nil)
      val nFiles = files.size
      println(f"STORE prune-label build       ${(System.nanoTime() - tB) / 1e9}%8.3f s   $nFiles files, ~$nP rows")
      val probe = per * 10 + 37 // lives in one mid-chain file
      def q = s"MATCH (p:K) WHERE p.k = $probe RETURN p.t AS t"
      s.run(q).count() // warm codegen/JIT for the shape
      s.graph.lastPruneInfo = None
      val t1 = System.nanoTime(); s.run(q).count()
      val pruned = (System.nanoTime() - t1) / 1e9
      val (kept, total) = s.graph.lastPruneInfo.getOrElse((-1, -1))
      s.graph.statsPruneEnabled = false
      val t2 = System.nanoTime(); s.run(q).count()
      val unpruned = (System.nanoTime() - t2) / 1e9
      s.graph.statsPruneEnabled = true
      // the no-metadata floor: read every file of the label, filter, count
      val t3 = System.nanoTime()
      spark.read.option("mergeSchema", "true")
        .parquet(files.map(f => s"$root/${f.rel}"): _*)
        .filter(org.apache.spark.sql.functions.col("k") === probe).count()
      val raw = (System.nanoTime() - t3) / 1e9
      println(f"STORE pruned MATCH k=const    $pruned%8.3f s   files read $kept/$total")
      println(f"STORE unpruned MATCH k=const  $unpruned%8.3f s   (statsPruneEnabled=false, checkpointed label)")
      println(f"STORE raw all-files scan      $raw%8.3f s   ($total files, no manifest stats)")
    }
    // r15 (VERDICT r14 #3): dv read time vs tombstone count — binary-search
    // membership (DvLive) should hold the full-label read FLAT as the
    // accumulated positional tombstones grow 10×, where the r14 per-row
    // array_contains paid O(tombstones) per row.
    locally {
      val nD = if (args.length > 2) args(2).toLong else 200000L
      s.run(s"UNWIND range(1, $nD) AS i " +
        "CREATE (:D {k: i, t: 'payload-' + toString(i)})").count()
      s.run(s"CREATE (:D {k: ${nD + 1}, t: 'x'})").count() // manifest form
      def readTime(tag: String, expectDvp: Long): Unit = {
        val r2 = new graft.cypher.GraphSession(spark)
        r2.openGraph("sb", root)
        r2.run("MATCH (d:D) RETURN count(*) AS n").count() // absorb reopen/plan
        val t0 = System.nanoTime()
        r2.run("MATCH (d:D) RETURN count(*) AS n, max(d.k) AS m").count()
        val dt = (System.nanoTime() - t0) / 1e9
        val v = graft.cypher.GraphStore.latestVersion(root).get
        val dvp = Catalog.read(root, v).table("v", "D")
          .collect { case t: FileTable => t.dvps.map(_.count).sum }.getOrElse(0L)
        println(f"STORE dv read $tag%-15s $dt%8.3f s   $dvp positions (expect ~$expectDvp)")
      }
      readTime("0 tombstones", 0L)
      s.run("MATCH (d:D) WHERE d.k <= 600 SET d.t = 'u1'").count()
      readTime("600 tombstones", 600L)
      s.run("MATCH (d:D) WHERE d.k > 600 AND d.k <= 6600 SET d.t = 'u2'").count()
      readTime("6600 tombstones", 6600L)
    }
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(root))
    spark.stop()
  }
}
