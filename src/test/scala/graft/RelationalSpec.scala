package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // collect as java.time values: java.sql.Date round-trips ancient dates
    // through the hybrid calendar and loses the proleptic era (44 BC
    // surfaced as 0044 AD — make_date(-44,3,15), temporal.out)
    .config("spark.sql.datetime.java8API.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class RelationalSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  test("every declared query has an oracle or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only queries are allowed but should be deliberate; list them here.
    val rowsOnly = Set(
      // the raw ANN result lists stay rows-only (bucket hashing / k-means
      // float iterations aren't SQL-mirrorable), but BOTH are hard-gated
      // by the s6/s7 recall-envelope queries whose constant oracles the
      // driver hash-checks (VERDICT r7 #4)
      "s3_ann_lsh",
      "s4_ivf_ann",
      // r11: PQ/ADC rows stay rows-only too (subspace k-means codebooks);
      // hard-gated by s9's constant-oracle recall envelope
      "s8_pq_adc_ann")
    // (x3_pagerank_top graduated to a recursive-CTE oracle in round 3)
    assert(missing == rowsOnly, s"queries missing oracle SQL: $missing")
  }

  for ((name, fn) <- operators.Relational.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 and returns rows") {
      val df = fn(TestSpark.spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("recursive fixpoint: transitive closure over a small DAG") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // chain 1 -> 2 -> 3 -> 4 plus a side edge 2 -> 5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val seed = Seq((1L, 1L)).toDF("origin", "node")
    val reach = graft.operators.Recursive.fixpoint(seed, f =>
      f.join(edges, f("node") === edges("src"))
        .select(f("origin"), edges("dst").as("node")))
    val nodes = reach.select(col("node")).collect().map(_.getLong(0)).sorted
    assert(nodes.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // cycle safety: UNION-distinct terminates on cyclic graphs
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r2 = graft.operators.Recursive.fixpoint(seed, f =>
      f.join(cyc, f("node") === cyc("src"))
        .select(f("origin"), cyc("dst").as("node")))
    assert(r2.count() == 2)
  }

  test("fixpointCycle: all-marked final generation converges (no spurious maxIter error)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // pure 3-cycle 1→2→3→1: generation 3 is the marked revisit of node 1 —
    // the frontier empties THAT iteration, so maxIter=3 must succeed.
    // Pre-fix, liveness came from the pre-filter stepped count and the
    // require tripped spuriously at exactly this boundary (ADVICE r8).
    val cyc3 = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val seed = Seq(Tuple1(1L)).toDF("node")
    val out = graft.operators.Recursive.fixpointCycle(seed, f =>
      f.join(cyc3, f("node") === cyc3("src"))
        .select(cyc3("dst").as("node"), f("is_cycle"), f("path")),
      keyCols = Seq("node"), maxIter = 3)
    val rows = out.select(col("node"), col("is_cycle")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(identity)
    assert(rows.toSeq == Seq((1L, false), (1L, true), (2L, false), (3L, false)))
  }

  test("recursive fixpoints: local-frontier mode ≡ distributed ≡ overflow fallback") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 chains of depth 5 sharing a tail, plus a cycle edge for the cycle
    // combinator: big enough that every combinator runs several generations
    val edges = ((0L until 15L).map(i => (i, i + 1)) ++
      Seq((15L, 3L), (2L, 20L), (20L, 21L))).toDF("src", "dst")
    val seed = Seq((0L, 0L)).toDF("origin", "node")
    val nseed = Seq(Tuple1(0L)).toDF("node")
    def results(): Seq[String] = {
      val fp = graft.operators.Recursive.fixpoint(seed, f =>
        f.join(edges, f("node") === edges("src"))
          .select(f("origin"), edges("dst").as("node")))
        .collect().map(r => s"fp:${r.getLong(0)}:${r.getLong(1)}")
      val all = graft.operators.Recursive.fixpointAll(nseed, f =>
        f.join(edges.filter(col("src") =!= 15L), f("node") === edges("src"))
          .select(edges("dst").as("node")))
        .collect().map(r => s"all:${r.getLong(0)}")
      val bfs = graft.operators.Recursive.fixpointSearch(nseed, f =>
        f.join(edges.filter(col("src") =!= 15L), f("node") === edges("src"))
          .select(edges("dst").as("node"), f("seq")),
        keyCols = Seq("node"), breadthFirst = true)
        .select(col("node"), col("seq").getField("depth"))
        .collect().map(r => s"bfs:${r.getLong(0)}@${r.getLong(1)}")
      val dfs = graft.operators.Recursive.fixpointSearch(nseed, f =>
        f.join(edges.filter(col("src") =!= 15L), f("node") === edges("src"))
          .select(edges("dst").as("node"), f("seq")),
        keyCols = Seq("node"), breadthFirst = false)
        .select(concat_ws("->", transform(col("seq"),
          p => p.getField("node").cast("string"))))
        .collect().map(r => s"dfs:${r.getString(0)}")
      val cyc = graft.operators.Recursive.fixpointCycle(nseed, f =>
        f.join(edges, f("node") === edges("src"))
          .select(edges("dst").as("node"), f("is_cycle"), f("path")),
        keyCols = Seq("node"))
        .select(col("node"), col("is_cycle"), size(col("path")))
        .collect().map(r => s"cyc:${r.getLong(0)}:${r.getBoolean(1)}:${r.getInt(2)}")
      // a maxIter one short of convergence fails in every mode: the chain
      // has 15 productive generations, UNION ALL over the cycle edge never
      // ends; both overflow a 1-row cap at generation 3 before failing
      def outcome(run: => org.apache.spark.sql.DataFrame): String =
        try { run; "converged" } catch {
          case e: IllegalArgumentException if e.getMessage.contains("did not converge") =>
            "did not converge"
        }
      val short = Seq(
        "fp-short:" + outcome(graft.operators.Recursive.fixpoint(seed, f =>
          f.join(edges, f("node") === edges("src"))
            .select(f("origin"), edges("dst").as("node")), maxIter = 15)),
        "all-short:" + outcome(graft.operators.Recursive.fixpointAll(nseed, f =>
          f.join(edges, f("node") === edges("src"))
            .select(edges("dst").as("node")), maxIter = 8)))
      // 3-cycle with a chord: generation 3 = {1, 2}, both marked, is the
      // last one and (at a 1-row cap) the one that overflows; maxIter = 3
      // must converge
      val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
      val marked = graft.operators.Recursive.fixpointCycle(Seq(Tuple1(1L)).toDF("node"),
        f => f.join(ring, f("node") === ring("src"))
          .select(ring("dst").as("node"), f("is_cycle"), f("path")),
        keyCols = Seq("node"), maxIter = 3)
        .collect().map(r => s"ring:${r.getLong(0)}:${r.getBoolean(1)}:${r.getSeq(2).size}")
      (fp ++ all ++ bfs ++ dfs ++ cyc ++ short ++ marked).toSeq.sorted
    }
    def withConf(kvs: (String, String)*)(body: => Seq[String]): Seq[String] = {
      val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val local = results() // tiny LocalRelation seeds take the local path
    val dist = withConf("spark.graft.local.maxRows" -> "0")(results())
    // cap of 1 row: every multi-row generation overflows, forcing the
    // mid-run push-back to the distributed recurrence
    val fallback = withConf("spark.graft.local.maxRows" -> "1")(results())
    assert(local == dist, "local-frontier mode diverged from distributed")
    assert(fallback == dist, "overflow fallback diverged from distributed")
    assert(local.nonEmpty)
    assert(local.contains("fp-short:did not converge") &&
      local.contains("all-short:did not converge"))
    assert(local.count(_.startsWith("ring:")) == 5)
  }

  test("TABLESAMPLE BERNOULLI p<100: REPEATABLE determinism + binomial envelope") {
    val spark = TestSpark.spark
    spark.range(10000).toDF("i").createOrReplaceTempView("ts_base")
    val surf = new graft.cypher.SqlSurface(spark)
    def sample(seed: Int) = surf.run(
      s"SELECT i FROM ts_base TABLESAMPLE BERNOULLI(30) REPEATABLE($seed)")
      .collect().map(_.getLong(0)).toSeq
    val a = sample(42)
    assert(a == sample(42)) // same seed ⇒ identical row set across runs
    // Binomial(10000, 0.3): mean 3000, σ≈45.8 — ±6σ envelope
    assert(a.length > 2725 && a.length < 3275,
      s"sample size ${a.length} outside binomial envelope")
    assert(sample(7) != a) // a different seed actually re-draws
  }

  test("SQL registry: network/temporal/postgis names callable from spark.sql") {
    val spark = TestSpark.spark
    graft.functions.Registry.register(spark)
    val r = spark.sql(
      """SELECT inet_host(toinet('10.1.2.3/24')) AS h,
        |  abbrev(network(toinet('10.1.2.3/24'))) AS net,
        |  st_astext(st_translate(st_makepoint(1.0, 2.0), 1.5, -4.0)) AS wkt,
        |  justify_days(named_struct('months', 0, 'days', 65, 'us', 0L)).months AS jm
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getString(0) == "10.1.2.3")
    assert(r.getString(1) == "10.1.2.0/24")
    assert(r.getString(2) == "POINT(2.5 -2.0)")
    assert(r.getInt(3) == 2)
  }

  test("Tables.T memo: a renamed partition directory is a new table, not a stale hit") {
    import java.nio.file.Files
    val spark = TestSpark.spark
    import spark.implicits._
    // a `file:` URI is listed through Hadoop's FileSystem; one write task
    // puts a part file of the same basename into each partition directory
    val dir = Files.createTempDirectory("graft_tables_fp")
    Seq((1, 10L), (2, 20L)).toDF("a", "x").repartition(1)
      .write.partitionBy("a").parquet(dir.resolve("t.parquet").toString)
    def names(p: String) = Files.list(dir.resolve(s"t.parquet/$p")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).filter(_.startsWith("part-")).toSeq
    assert(names("a=1") == names("a=2"))
    val uri = s"file:$dir"
    def partitions(): Seq[Int] =
      Tables.T(spark, uri, "t").select("a").collect().map(_.getInt(0)).toSeq.sorted
    assert(partitions() == Seq(1, 2))
    // the move keeps every file's name, size and mtime
    Files.move(dir.resolve("t.parquet/a=2"), dir.resolve("t.parquet/a=3"))
    assert(partitions() == Seq(1, 3))
    graft.cypher.GraphStore.deleteTree(dir)
  }

  test("Tables.T memo: a failed listing reads uncached, never a stale entry") {
    import java.nio.file.Files
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_ioe")
    val out = dir.resolve("t.parquet").toString
    def rows(): Long = Tables.T(spark, s"file:$dir", "t").count()
    // `file:` through a file system whose recursive listing (the one the
    // fingerprint uses) fails under `dir` while `failingUnder` names it
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[FailingListFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      Seq(1L, 2L).toDF("x").write.parquet(out)
      assert(rows() == 2L)
      FailingListFs.failingUnder = Some(dir.toString)
      assert(rows() == 2L) // the listing fails, the read itself works
      Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(out)
      assert(rows() == 3L, "a failed listing served a memo entry of the old files")
    } finally {
      FailingListFs.failingUnder = None
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
      graft.cypher.GraphStore.deleteTree(dir)
    }
  }
}

/** Hadoop's local file system, except that a recursive listing under
  * `failingUnder` fails. */
final class FailingListFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listFiles(f: org.apache.hadoop.fs.Path, recursive: Boolean) =
    if (FailingListFs.failingUnder.exists(f.toUri.getPath.startsWith))
      throw new java.io.IOException(s"listing $f failed")
    else super.listFiles(f, recursive)
}

object FailingListFs {
  @volatile var failingUnder: Option[String] = None
}
