package graft

import org.scalatest.funsuite.AnyFunSuite

/** IVFFlat-analog index surface: textual DDL
  * (create_ivfflat_{l2,ip}_ops_index — reference
  * sql/postgraph.sql.in:151-158, ivfutils.c) + the planner-style rewrite
  * of `ORDER BY v.prop <-> <vec> LIMIT k` onto probed candidate lists.
  */
class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkSession(): graft.cypher.GraphSession = {
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("ivfg")
    // 40 Doc vertices on a 2-D grid: two well-separated clouds around
    // (0,0) and (100,100) so lists=2 clusters them deterministically
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      val x = bx + (i / 2) * 0.5
      val y = by + (i % 5) * 0.5
      s.run(s"CREATE (:Doc {k: $i, embedding: [$x, $y]})")
    }
    s
  }

  test("create_ivfflat_l2_ops_index DDL + probed ANN matches brute force") {
    val s = mkSession()
    val void = s.run("SELECT create_ivfflat_l2_ops_index('ivfg', 'Doc', 'embedding', 2, 2)")
    assert(void.columns.toSeq == Seq("create_ivfflat_l2_ops_index"))
    val q = "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [1.0, 1.0] LIMIT 5"
    val indexed = s.run(q).collect().map(_.getLong(0)).toSeq
    // brute force on a fresh session (no index) — identical top-5: the
    // query point sits inside the (0,0) cloud, whose list the probe keeps
    val s2 = new graft.cypher.GraphSession(spark)
    s2.createGraph("ivfg2")
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      val x = bx + (i / 2) * 0.5
      val y = by + (i % 5) * 0.5
      s2.run(s"CREATE (:Doc {k: $i, embedding: [$x, $y]})")
    }
    val brute = s2.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [1.0, 1.0] LIMIT 5")
      .collect().map(_.getLong(0)).toSeq
    assert(indexed == brute)
  }

  test("probe restricts the scan to the near list; probes GUC widens it") {
    val s = mkSession()
    s.run("SELECT create_ivfflat_l2_ops_index('ivfg', 'Doc', 'embedding', 2, 2)")
    // with 1 probe, a LIMIT above the near list's size still returns only
    // that list's members (IVFFlat recall trade at probes=1)
    val near = s.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 40")
      .collect().map(_.getLong(0)).toSet
    assert(near.size < 40, s"probe did not restrict: ${near.size} rows")
    assert(near.forall(_ % 2 == 0), "far-cloud members leaked into the near list")
    // SET ivfflat.probes = 2 reaches both lists → full recall
    s.run("SET ivfflat.probes = 2")
    val all = s.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 40")
      .collect().map(_.getLong(0)).toSet
    assert(all.size == 40)
  }

  test("index stays correct across writes (lazy assignment rebuild)") {
    val s = mkSession()
    s.run("SELECT create_ivfflat_l2_ops_index('ivfg', 'Doc', 'embedding', 2, 2)")
    s.run("CREATE (:Doc {k: 999, embedding: [0.1, 0.1]})")
    val top = s.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.1, 0.1] LIMIT 1")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(999L)) // the post-build row is probed, not stale
  }

  test("index persists into the GraphStore catalog and survives reopen (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ivf_persist").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("ivfp", root)
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      val x = bx + (i / 2) * 0.5
      val y = by + (i % 5) * 0.5
      s.run(s"CREATE (:Doc {k: $i, embedding: [$x, $y]})")
    }
    s.run("SELECT create_ivfflat_l2_ops_index('ivfp', 'Doc', 'embedding', 2, 2)")
    val vBuild = graft.cypher.GraphStore.latestVersion(root).get
    // the DDL itself published: catalog carries the ivf line + centroid file
    val cat = scala.io.Source.fromFile(s"$root/v$vBuild/catalog.txt").getLines().toList
    assert(cat.exists(_.startsWith(s"ivf Doc embedding l2 2 2 $vBuild")), cat.mkString("; "))
    assert(Files.exists(Paths.get(s"$root/v$vBuild/ivf/Doc__embedding.txt")))
    // a later write carries the index as a POINTER (no rewrite, file retained)
    s.run("CREATE (:Doc {k: 999, embedding: [0.1, 0.1]})")
    val vAfter = graft.cypher.GraphStore.latestVersion(root).get
    assert(vAfter > vBuild)
    val cat2 = scala.io.Source.fromFile(s"$root/v$vAfter/catalog.txt").getLines().toList
    assert(cat2.exists(_ == s"ivf Doc embedding l2 2 2 $vBuild"), cat2.mkString("; "))
    assert(!Files.exists(Paths.get(s"$root/v$vAfter/ivf")))
    assert(Files.exists(Paths.get(s"$root/v$vBuild/ivf/Doc__embedding.txt")))
    // reopen in a FRESH session: the stored index loads — NO k-means rerun
    val builds0 = graft.functions.Ivf.kmeansBuilds.get()
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("ivfp", root)
    val near = r.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 41")
      .collect().map(_.getLong(0)).toSet
    assert(graft.functions.Ivf.kmeansBuilds.get() == builds0,
      "reopen re-ran the k-means build instead of loading stored centroids")
    // probed semantics survive: probes=1 keeps only the near cloud
    assert(near.size < 41 && near.forall(k => k % 2 == 0 || k == 999L), near.toString)
    r.run("SET ivfflat.probes = 2")
    val all = r.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 41")
      .collect().map(_.getLong(0)).toSet
    assert(all.size == 41)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("create_pq_l2_ops_index DDL: ADC shortlist + exact rerank matches brute force (r12)") {
    val s = mkSession()
    val void = s.run("SELECT create_pq_l2_ops_index('ivfg', 'Doc', 'embedding', 2, 2, 4)")
    assert(void.columns.toSeq == Seq("create_pq_l2_ops_index"))
    val q = "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [1.0, 1.0] LIMIT 5"
    val indexed = s.run(q).collect().map(_.getLong(0)).toSeq
    val s2 = new graft.cypher.GraphSession(spark)
    s2.createGraph("pqg2")
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      val x = bx + (i / 2) * 0.5
      val y = by + (i % 5) * 0.5
      s2.run(s"CREATE (:Doc {k: $i, embedding: [$x, $y]})")
    }
    val brute = s2.run(q).collect().map(_.getLong(0)).toSeq
    assert(indexed == brute, s"indexed=$indexed brute=$brute")
    // the shortlist GUC really restricts the candidate set: with a
    // 3-element shortlist a LIMIT 40 scan sees at most 3 rows
    s.run("SET pq.shortlist = 3")
    val few = s.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 40")
      .collect().map(_.getLong(0)).toSeq
    assert(few.size == 3 && few.forall(_ % 2 == 0), few.toString)
    // index follows writes (codes re-derive lazily from the current table)
    s.run("SET pq.shortlist = 192")
    s.run("CREATE (:Doc {k: 999, embedding: [0.1, 0.1]})")
    val top = s.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.1, 0.1] LIMIT 1")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(999L))
  }

  test("pq index persists codebooks into the GraphStore catalog, reopen skips retrain (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_pq_persist").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("pqp", root)
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      val x = bx + (i / 2) * 0.5
      val y = by + (i % 5) * 0.5
      s.run(s"CREATE (:Doc {k: $i, embedding: [$x, $y]})")
    }
    s.run("SELECT create_pq_l2_ops_index('pqp', 'Doc', 'embedding', 2, 2, 4)")
    val vBuild = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$vBuild/catalog.txt").getLines().toList
    assert(cat.exists(_ == s"pq Doc embedding l2 2 2 4 $vBuild"), cat.mkString("; "))
    assert(Files.exists(Paths.get(s"$root/v$vBuild/pq/Doc__embedding.txt")))
    // a later write carries the index as a pointer, codebook file retained
    s.run("CREATE (:Doc {k: 999, embedding: [0.1, 0.1]})")
    val vAfter = graft.cypher.GraphStore.latestVersion(root).get
    val cat2 = scala.io.Source.fromFile(s"$root/v$vAfter/catalog.txt").getLines().toList
    assert(cat2.exists(_ == s"pq Doc embedding l2 2 2 4 $vBuild"), cat2.mkString("; "))
    assert(Files.exists(Paths.get(s"$root/v$vBuild/pq/Doc__embedding.txt")))
    // reopen: stored codebooks load — no retrain
    val builds0 = graft.functions.Ivf.kmeansBuilds.get()
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("pqp", root)
    val top = r.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.1, 0.1] LIMIT 1")
      .collect().map(_.getLong(0)).toSeq
    assert(graft.functions.Ivf.kmeansBuilds.get() == builds0,
      "reopen re-trained the PQ codebooks instead of loading them")
    assert(top == Seq(999L), top.toString)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("indexes survive COMPACT GRAPH: carried by pointer, no retrain on reopen (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ix_compact").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("ixc", root)
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      s.run(s"CREATE (:Doc {k: $i, embedding: [${bx + (i / 2) * 0.5}, ${by + (i % 5) * 0.5}]})")
    }
    s.run("SELECT create_ivfflat_l2_ops_index('ixc', 'Doc', 'embedding', 2, 2)")
    s.run("SELECT create_pq_l2_ops_index('ixc', 'Doc', 'embedding', 2, 2, 4)")
    // dirty the store (manifest + dv), then compact
    s.run("MATCH (d:Doc {k: 3}) SET d.k = 300")
    s.run("COMPACT GRAPH ixc")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    assert(cat.exists(_.startsWith("ivf Doc embedding l2 ")), cat.mkString("; "))
    assert(cat.exists(_.startsWith("pq Doc embedding l2 ")), cat.mkString("; "))
    val builds0 = graft.functions.Ivf.kmeansBuilds.get()
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("ixc", root)
    val top = r.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 1")
      .collect().map(_.getLong(0)).toSeq
    assert(graft.functions.Ivf.kmeansBuilds.get() == builds0,
      "reopen after COMPACT re-ran an index build")
    assert(top.nonEmpty)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("index ENTRIES persist: reopen + probe reads stored lists, no assignment pass (r13)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ivfa_persist").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("ivfe", root)
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      s.run(s"CREATE (:Doc {k: $i, embedding: [${bx + (i / 2) * 0.5}, ${by + (i % 5) * 0.5}]})")
    }
    s.run("SELECT create_ivfflat_l2_ops_index('ivfe', 'Doc', 'embedding', 2, 2)")
    val vBuild = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$vBuild/catalog.txt").getLines().toList
    assert(cat.exists(_ == s"ivfa Doc embedding v$vBuild%2Fivfa%2FDoc__embedding"),
      cat.mkString("; "))
    assert(Files.isDirectory(Paths.get(s"$root/v$vBuild/ivfa/Doc__embedding")))
    assert(spark.read.parquet(s"$root/v$vBuild/ivfa/Doc__embedding").count() == 40L)
    // a write REFRESHES the stored entries with a DELTA file holding ONLY
    // the touched rows (the ivfinsert analog — write volume ∝ batch, not
    // corpus): the base file is carried verbatim, the new version's file
    // has exactly 1 entry
    s.run("CREATE (:Doc {k: 999, embedding: [0.1, 0.1]})")
    val vAfter = graft.cypher.GraphStore.latestVersion(root).get
    val cat2 = scala.io.Source.fromFile(s"$root/v$vAfter/catalog.txt").getLines().toList
    assert(cat2.exists(_ == s"ivfa Doc embedding v$vBuild%2Fivfa%2FDoc__embedding"),
      cat2.mkString("; "))
    assert(cat2.exists(_ == s"ivfa Doc embedding v$vAfter%2Fivfa%2FDoc__embedding"),
      cat2.mkString("; "))
    assert(spark.read.parquet(s"$root/v$vAfter/ivfa/Doc__embedding").count() == 1L,
      "delta entry file must hold only the touched row")
    assert(spark.read.parquet(s"$root/v$vBuild/ivfa/Doc__embedding",
      s"$root/v$vAfter/ivfa/Doc__embedding").count() == 41L)
    // reopen in a FRESH session: the probe reads the STORED entries — no
    // k-means, and no row→list assignment job over the label either
    val km0 = graft.functions.Ivf.kmeansBuilds.get()
    val as0 = graft.functions.Ivf.assignBuilds.get()
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("ivfe", root)
    val top = r.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.1, 0.1] LIMIT 1")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(999L), top.toString)
    assert(graft.functions.Ivf.kmeansBuilds.get() == km0, "reopen re-ran k-means")
    assert(graft.functions.Ivf.assignBuilds.get() == as0,
      "reopened probe re-derived row->list assignments instead of reading stored entries")
    // probed restriction still holds from the stored entries
    val near = r.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 41")
      .collect().map(_.getLong(0)).toSet
    assert(near.size < 41 && near.forall(k => k % 2 == 0 || k == 999L), near.toString)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("PQ code relation persists: reopen + probe runs no corpus encode (r13)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_pqc_persist").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("pqe", root)
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      s.run(s"CREATE (:Doc {k: $i, embedding: [${bx + (i / 2) * 0.5}, ${by + (i % 5) * 0.5}]})")
    }
    s.run("SELECT create_pq_l2_ops_index('pqe', 'Doc', 'embedding', 2, 2, 4)")
    val vBuild = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$vBuild/catalog.txt").getLines().toList
    assert(cat.exists(_ == s"pqc Doc embedding v$vBuild%2Fpqc%2FDoc__embedding"),
      cat.mkString("; "))
    // 40 docs × m=2 subspaces
    assert(spark.read.parquet(s"$root/v$vBuild/pqc/Doc__embedding").count() == 80L)
    // id-local SET (k stays long): the dv publish appends a DELTA code
    // file for the ONE touched row (m=2 rows); readers dedup last-wins
    // per (id, sub). (A type-changing SET would full-rewrite and DROP the
    // lines; they return once a probe has re-derived the entries, at that
    // table's next commit — see "entries return after a whole rewrite".)
    s.run("MATCH (d:Doc {k: 7}) SET d.k = 777")
    val vAfter = graft.cypher.GraphStore.latestVersion(root).get
    val cat2 = scala.io.Source.fromFile(s"$root/v$vAfter/catalog.txt").getLines().toList
    assert(cat2.exists(_ == s"pqc Doc embedding v$vAfter%2Fpqc%2FDoc__embedding"),
      cat2.mkString("; "))
    assert(spark.read.parquet(s"$root/v$vAfter/pqc/Doc__embedding").count() == 2L,
      "delta code file must hold only the touched row's subspace codes")
    val km0 = graft.functions.Ivf.kmeansBuilds.get()
    val en0 = graft.functions.Ivf.encodeBuilds.get()
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("pqe", root)
    // doc 7's embedding is (101.5, 101.0); its exact-rerank top-1 is itself
    val top = r.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [101.5, 101.0] LIMIT 1")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(777L), top.toString)
    assert(graft.functions.Ivf.kmeansBuilds.get() == km0, "reopen re-trained codebooks")
    assert(graft.functions.Ivf.encodeBuilds.get() == en0,
      "reopened probe re-encoded the corpus instead of reading the stored code relation")
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("entry-chain compaction merges chain files — no label re-scan/re-encode (r14)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_chain_merge").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("chm", root)
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      s.run(s"CREATE (:Doc {k: $i, embedding: [${bx + (i / 2) * 0.5}, ${by + (i % 5) * 0.5}]})")
    }
    s.run("SELECT create_ivfflat_l2_ops_index('chm', 'Doc', 'embedding', 2, 2)")
    s.run("SELECT create_pq_l2_ops_index('chm', 'Doc', 'embedding', 2, 2, 4)")
    val km0 = graft.functions.Ivf.kmeansBuilds.get()
    val as0 = graft.functions.Ivf.assignBuilds.get()
    val en0 = graft.functions.Ivf.encodeBuilds.get()
    val cm0 = s.graph.entryChainMerges.get()
    // 16 point writes: deltas stack to 16 chain lines, the 16th write
    // triggers compaction — a merge of the chain FILES, never a label
    // re-derive (a type-changing SET would instead full-rewrite and drop
    // the chain, until a probe re-derives the entries and the next commit
    // writes them as one file)
    (0 to 15).foreach(i => s.run(s"MATCH (d:Doc {k: $i}) SET d.t = 'x$i'"))
    assert(s.graph.entryChainMerges.get() > cm0, "chain never compacted")
    // every publish ran exactly ONE touched-rows assignment + encode —
    // the compaction publish included (no hidden full pass; 16 writes)
    assert(graft.functions.Ivf.kmeansBuilds.get() == km0, "compaction re-ran k-means")
    assert(graft.functions.Ivf.assignBuilds.get() == as0 + 16,
      s"assign passes: ${graft.functions.Ivf.assignBuilds.get() - as0} != 16")
    assert(graft.functions.Ivf.encodeBuilds.get() == en0 + 16,
      s"encode passes: ${graft.functions.Ivf.encodeBuilds.get() - en0} != 16")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    // the chain folded to ONE file per index
    assert(cat.count(_.startsWith("ivfa Doc embedding ")) == 1, cat.mkString("; "))
    assert(cat.count(_.startsWith("pqc Doc embedding ")) == 1, cat.mkString("; "))
    // merged relations are exact: one entry per id / per (id, sub)
    def relOf(tag: String): String = graft.cypher.GraphStore.dec(
      cat.find(_.startsWith(s"$tag Doc embedding ")).get.split(" ")(3))
    val ivfa = spark.read.parquet(s"$root/${relOf("ivfa")}")
    assert(ivfa.count() == 40L, s"merged ivfa rows: ${ivfa.count()}")
    assert(ivfa.groupBy("id").count().filter(org.apache.spark.sql.functions
      .col("count") > 1).count() == 0L, "duplicate ivfa entries after merge")
    val pqc = spark.read.parquet(s"$root/${relOf("pqc")}")
    assert(pqc.count() == 80L, s"merged pqc rows: ${pqc.count()}")
    // probe results unchanged through compaction: the near-cloud probe
    // still answers only from the near list (even k), both clouds exact
    val near = s.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 40")
      .collect().map(_.getLong(0)).toSet
    assert(near.nonEmpty && near.size < 40 && near.forall(_ % 2 == 0), near.toString)
    // reopen: the merged chain serves the probe with no derivation at all
    val as1 = graft.functions.Ivf.assignBuilds.get()
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("chm", root)
    val top = r.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [100.0, 100.5] LIMIT 1")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L), top.toString)
    assert(graft.functions.Ivf.assignBuilds.get() == as1,
      "reopened probe re-derived assignments after a chain merge")
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("entries return after a whole rewrite: probe, CREATE, reopen reads stored lists") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ivfa_rewrite").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("ivfw", root)
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      s.run(s"CREATE (:Doc {k: $i, embedding: [${bx + (i / 2) * 0.5}, ${by + (i % 5) * 0.5}]})")
    }
    s.run("SELECT create_ivfflat_l2_ops_index('ivfw', 'Doc', 'embedding', 2, 2)")
    def catalog(): List[String] = {
      val v = graft.cypher.GraphStore.latestVersion(root).get
      scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    }
    // a type-changing SET rewrites the label whole and drops its entries
    s.run("MATCH (d:Doc {k: 7}) SET d.note = 1")
    s.run("MATCH (d:Doc {k: 8}) SET d.note = 'eight'")
    assert(!catalog().exists(_.startsWith("ivfa Doc embedding ")), catalog().mkString("; "))
    val probe = "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.1, 0.1] LIMIT 3"
    s.run(probe).collect() // derives the entries into the session's cache
    s.run("CREATE (:Doc {k: 999, embedding: [0.1, 0.1]})") // id-local
    val ivfa = catalog().filter(_.startsWith("ivfa Doc embedding "))
    assert(ivfa.size == 1, catalog().mkString("; "))
    val rel = graft.cypher.GraphStore.dec(ivfa.head.split(" ")(3))
    assert(spark.read.parquet(s"$root/$rel").count() == 41L)
    val expected = s.run(probe).collect().map(_.getLong(0)).toSeq
    assert(expected.head == 999L, expected.toString)
    val as0 = graft.functions.Ivf.assignBuilds.get()
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("ivfw", root)
    assert(r.run(probe).collect().map(_.getLong(0)).toSeq == expected)
    assert(graft.functions.Ivf.assignBuilds.get() == as0,
      "reopened probe re-derived assignments instead of reading stored entries")
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("a SET of a list literal keeps the typed embedding column: id-local commit, probe answers") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ivf_setlist").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("ivfl", root)
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      s.run(s"CREATE (:Doc {k: $i, embedding: [${bx + (i / 2) * 0.5}, ${by + (i % 5) * 0.5}]})")
    }
    s.run("SELECT create_ivfflat_l2_ops_index('ivfl', 'Doc', 'embedding', 2, 2)")
    // the literal's array<double> says its elements are never null, the
    // column's may be: the same type, so no whole rewrite through the
    // dynamic codec, whose struct the probe could not read as a vector
    s.run("MATCH (d:Doc {k: 3}) SET d.embedding = [50.0, 50.0]")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    assert(!cat.exists(_.startsWith("vlabel Doc ")), cat.mkString("; "))
    val top = s.run("MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] LIMIT 1")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(0L), top.toString)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  // every version's ANN catalog lines of one fixed script, as the store
  // writes them: a build's matrix line is carried by its version, each
  // id-local write appends one entry file to each chain, the 16th merges
  // each chain into one file, and COMPACT GRAPH carries the entries
  test("ANN catalog lines: builds, 16 point writes, a chain merge, a CREATE, COMPACT, reopen") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ann_lines").toString
    val s = new graft.cypher.GraphSession(spark)
    s.createGraph("annl", root)
    def expect(step: String, v: Long, lines: Seq[String]): Unit = {
      assert(graft.cypher.GraphStore.latestVersion(root).contains(v), step)
      val got = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
        .filter(l => Seq("ivf ", "pq ", "ivfa ", "pqc ").exists(l.startsWith))
      assert(got == lines, step)
    }
    def chain(tag: String, vers: Seq[Int]): Seq[String] =
      vers.map(v => s"$tag Doc embedding v$v%2F$tag%2FDoc__embedding")
    (0 until 40).foreach { i =>
      val (bx, by) = if (i % 2 == 0) (0.0, 0.0) else (100.0, 100.0)
      s.run(s"CREATE (:Doc {k: $i, embedding: [${bx + (i / 2) * 0.5}, ${by + (i % 5) * 0.5}]})")
      expect(s"create $i", i + 2, Nil)
    }
    val (ivf, pq) = ("ivf Doc embedding l2 2 2 42", "pq Doc embedding l2 2 2 4 43")
    s.run("SELECT create_ivfflat_l2_ops_index('annl', 'Doc', 'embedding', 2, 2)")
    expect("ivf", 42, ivf +: chain("ivfa", Seq(42)))
    s.run("SELECT create_pq_l2_ops_index('annl', 'Doc', 'embedding', 2, 2, 4)")
    expect("pq", 43, Seq(ivf, pq) ++ chain("ivfa", Seq(42)) ++ chain("pqc", Seq(43)))
    (0 to 14).foreach { i =>
      s.run(s"MATCH (d:Doc {k: $i}) SET d.t = 'x$i'")
      expect(s"set $i", 44 + i, Seq(ivf, pq) ++ chain("ivfa", 42 +: (44 to 44 + i)) ++
        chain("pqc", 43 +: (44 to 44 + i)))
    }
    s.run("MATCH (d:Doc {k: 15}) SET d.t = 'x15'")
    expect("set 15", 59, Seq(ivf, pq) ++ chain("ivfa", Seq(59)) ++ chain("pqc", Seq(59)))
    val last = Seq(ivf, pq) ++ chain("ivfa", Seq(59, 60)) ++ chain("pqc", Seq(59, 60))
    s.run("CREATE (:Doc {k: 999, embedding: [0.1, 0.1]})")
    expect("create 999", 60, last)
    s.run("COMPACT GRAPH annl")
    expect("compact", 61, last)
    val r = new graft.cypher.GraphSession(spark)
    r.openGraph("annl", root)
    val top = r.run("MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.1, 0.1] LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(999L, 0L, 2L), top.toString)
    expect("reopen and probe", 61, last)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("non-matching shapes never rewrite (other props, DESC, no limit)") {
    val s = mkSession()
    s.run("SELECT create_ivfflat_l2_ops_index('ivfg', 'Doc', 'embedding', 2, 2)")
    // DESC order (farthest-first) must NOT use the index — all 40 rows rank
    val desc = s.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0] DESC LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(desc.forall(_ % 2 == 1), "farthest docs are the far cloud")
    // no LIMIT → full result, no restriction
    val n = s.run(
      "MATCH (d:Doc) RETURN d.k AS k ORDER BY d.embedding <-> [0.0, 0.0]").count()
    assert(n == 40)
  }
}
