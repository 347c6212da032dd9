package graft

import graft.cypher.GraphSession
import org.scalatest.funsuite.AnyFunSuite

/** Write-clause tests mirroring the reference's cypher_create / cypher_set /
  * cypher_delete / cypher_merge regress suites (clause-ordered visibility,
  * DETACH cascade, merge-or-create).
  */
class WriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshSession(name: String): GraphSession = {
    val gs = new GraphSession(spark)
    gs.createGraph(name)
    gs
  }

  /** `body` with every small-input site distributed (`local.maxRows=0`). */
  private def distributed[T](body: => T): T = {
    spark.conf.set("spark.graft.local.maxRows", "0")
    try body finally spark.conf.unset("spark.graft.local.maxRows")
  }

  /** A manifest-stats test: its labels are small enough to be held on the
    * driver, which reads them with no job and never prunes, so it runs with
    * every label checkpointed, its files read by the pruned scan.
    */
  private def testOnFiles(name: String)(body: => Any): Unit = test(name)(distributed(body))

  /** The Spark jobs `body` runs. */
  private def jobsOf(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.ListenerDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("CREATE then MATCH sees the data (clause-ordered visibility)") {
    val gs = freshSession("g1")
    gs.run("CREATE (:Person {name: 'A', age: 30})")
    gs.run("CREATE (:Person {name: 'B', age: 24})")
    val names = gs.run("MATCH (p:Person) RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(names.toSeq == Seq("A", "B"))
  }

  test("CREATE chain with edge; ids packed per label sequence") {
    val gs = freshSession("g2")
    gs.run("CREATE (:City {code: 'SEA'})")
    gs.run("CREATE (a:Person {name: 'A'})-[:LIVES {since: 2020}]->(c:City {code: 'NYC'})")
    val rows = gs.run(
      "MATCH (p:Person)-[l:LIVES]->(c:City) RETURN p.name AS p, l.since AS y, c.code AS c")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq == Seq(("A", 2020L, "NYC")))
    // second City got entry id 2 in the City label sequence
    val cityIds = gs.run("MATCH (c:City) RETURN id(c) AS i ORDER BY i")
      .collect().map(_.getLong(0))
    assert(cityIds.map(_ & 0xFFFFFFFFFFFFL).toSeq == Seq(1L, 2L))
  }

  test("CREATE edges between matched nodes, one per match row") {
    val gs = freshSession("g3")
    gs.run("CREATE (:P {n: 1})")
    gs.run("CREATE (:P {n: 2})")
    gs.run("CREATE (:Hub {h: 0})")
    gs.run("MATCH (p:P), (h:Hub) CREATE (p)-[:TO]->(h)")
    val n = gs.run("MATCH (:P)-[:TO]->(:Hub) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 2)
  }

  test("SET updates a property; REMOVE nulls it") {
    val gs = freshSession("g4")
    gs.run("CREATE (:Person {name: 'A', age: 30})")
    gs.run("MATCH (p:Person {name: 'A'}) SET p.age = 31")
    assert(gs.run("MATCH (p:Person) RETURN p.age AS a").collect().head.getLong(0) == 31)
    gs.run("MATCH (p:Person {name: 'A'}) SET p.nick = 'Ace'")
    assert(gs.run("MATCH (p:Person) RETURN p.nick AS x").collect().head.getString(0) == "Ace")
    gs.run("MATCH (p:Person {name: 'A'}) REMOVE p.nick")
    assert(gs.run("MATCH (p:Person) RETURN p.nick AS x").collect().head.isNullAt(0))
  }

  test("DELETE refuses with incident edges; DETACH DELETE cascades") {
    val gs = freshSession("g5")
    gs.run("CREATE (a:Person {name: 'A'})-[:KNOWS]->(b:Person {name: 'B'})")
    intercept[IllegalStateException] {
      gs.run("MATCH (p:Person {name: 'A'}) DELETE p")
    }
    gs.run("MATCH (p:Person {name: 'A'}) DETACH DELETE p")
    assert(gs.run("MATCH (p:Person) RETURN count(*) AS n").collect().head.getLong(0) == 1)
    assert(gs.run("MATCH ()-[k:KNOWS]->() RETURN count(*) AS n").collect().head.getLong(0) == 0)
  }

  test("MERGE creates when absent, matches when present") {
    val gs = freshSession("g6")
    gs.run("MERGE (:Tag {name: 'x'})")
    gs.run("MERGE (:Tag {name: 'x'})")
    gs.run("MERGE (:Tag {name: 'y'})")
    val names = gs.run("MATCH (t:Tag) RETURN t.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(names.toSeq == Seq("x", "y"))
  }

  test("CREATE ... RETURN binds created variables") {
    val gs = freshSession("g7")
    val out = gs.run("CREATE (p:Person {name: 'Zed', age: 1}) RETURN p.name AS n, p.age AS a")
      .collect().head
    assert(out.getString(0) == "Zed" && out.getLong(1) == 1L)
  }

  test("CREATE with partially-bound pattern creates one new node per row") {
    val gs = freshSession("g10")
    gs.run("CREATE (:U {n: 1})")
    gs.run("CREATE (:U {n: 2})")
    gs.run("CREATE (:U {n: 3})")
    // per input row: reuse matched u, create a fresh Post, wire the edge
    gs.run("MATCH (u:U) CREATE (u)-[:WROTE]->(p:Post {title: 'hi'})")
    val posts = gs.run("MATCH (p:Post) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(posts == 3, s"expected 3 new posts, got $posts")
    val wired = gs.run(
      "MATCH (u:U)-[:WROTE]->(p:Post) RETURN u.n AS n, p.title AS t ORDER BY n")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(wired.toSeq == Seq((1L, "hi"), (2L, "hi"), (3L, "hi")))
    // and no duplicate U vertices were created (the round-1 bug)
    val us = gs.run("MATCH (u:U) RETURN count(*) AS n").collect().head.getLong(0)
    assert(us == 3)
  }

  test("CREATE unbound chain after MATCH creates one chain per row") {
    val gs = freshSession("g11")
    gs.run("CREATE (:S {k: 1})")
    gs.run("CREATE (:S {k: 2})")
    gs.run("MATCH (s:S) CREATE (a:L {v: 7})-[:R]->(b:M {w: 8})")
    assert(gs.run("MATCH (:L) RETURN count(*) AS n").collect().head.getLong(0) == 2)
    assert(gs.run("MATCH (:L)-[:R]->(:M) RETURN count(*) AS n")
      .collect().head.getLong(0) == 2)
  }

  test("MERGE after MATCH creates once per distinct binding, then matches all") {
    val gs = freshSession("g12")
    gs.run("CREATE (:Person {name: 'A'})")
    gs.run("CREATE (:Person {name: 'B'})")
    gs.run("CREATE (:Tag {t: 'x'})")
    // A already has the edge; B doesn't — MERGE must create exactly one new
    // edge (for B) and reuse A's
    gs.run("MATCH (p:Person {name: 'A'}), (t:Tag) CREATE (p)-[:TAGGED]->(t)")
    val out = gs.run(
      "MATCH (p:Person) MERGE (p)-[:TAGGED]->(t:Tag {t: 'x'}) RETURN p.name AS n, t.t AS t ORDER BY n")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("A", "x"), ("B", "x")))
    val nEdges = gs.run("MATCH (:Person)-[e:TAGGED]->(:Tag) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(nEdges == 2, s"expected 2 TAGGED edges, got $nEdges")
    // MERGE creates the WHOLE unmatched pattern per binding (reference:
    // process_path creates every unbound element), so B gets a fresh Tag
    // node — 2 tags total, and A's edge was reused (still 2 edges, not 3)
    assert(gs.run("MATCH (t:Tag) RETURN count(*) AS n").collect().head.getLong(0) == 2)
  }

  test("MERGE after MATCH is idempotent on re-run") {
    val gs = freshSession("g13")
    gs.run("CREATE (:X {k: 1})")
    gs.run("CREATE (:X {k: 2})")
    gs.run("MATCH (x:X) MERGE (x)-[:HAS]->(:Y {v: 0}) RETURN x.k AS k")
    val n1 = gs.run("MATCH (:X)-[:HAS]->(:Y) RETURN count(*) AS n").collect().head.getLong(0)
    gs.run("MATCH (x:X) MERGE (x)-[:HAS]->(:Y {v: 0}) RETURN x.k AS k")
    val n2 = gs.run("MATCH (:X)-[:HAS]->(:Y) RETURN count(*) AS n").collect().head.getLong(0)
    assert(n1 == 2 && n2 == 2, s"merge not idempotent: $n1 then $n2")
  }

  test("MERGE with $parameters keeps the parameter binding (prepared-stmt shape)") {
    val gs = freshSession("gpp")
    gs.run("CREATE (:K {v: 7})")
    import graft.gvalue.GInt
    // matches the existing vertex — no duplicate created
    gs.run("MATCH (k:K) WHERE k.v = $x MERGE (:K {v: 7})", Map("x" -> GInt(7)))
    assert(gs.run("MATCH (k:K) RETURN count(*) AS c").collect().head.getLong(0) == 1L)
  }

  test("CREATE edges with row-correlated properties (create.sql:72)") {
    val gs = freshSession("gce")
    gs.run("CREATE (:N {nm: 'A'})")
    gs.run("CREATE (:N {nm: 'B'})")
    gs.run("MATCH (a:N) CREATE (a)-[:E {tag: a.nm + '!'}]->(a)")
    val tags = gs.run("MATCH ()-[e:E]->() RETURN e.tag AS t ORDER BY t")
      .collect().map(_.getString(0))
    assert(tags.toSeq == Seq("A!", "B!"))
  }

  test("MERGE chain with bound start and correlated new-node props") {
    val gs = freshSession("gmc")
    gs.run("CREATE (:U {n: 'a', v: 1})")
    gs.run("CREATE (:U {n: 'b', v: 2})")
    // one (u)-[:HAS]->(s {w: u.v}) per distinct binding, created once
    gs.run("MATCH (u:U) MERGE (u)-[:HAS]->(s:S {w: u.v})")
    gs.run("MATCH (u:U) MERGE (u)-[:HAS]->(s:S {w: u.v})") // idempotent
    assert(gs.run("MATCH (:U)-[:HAS]->(s:S) RETURN count(*) AS c")
      .collect().head.getLong(0) == 2L)
    assert(gs.run("MATCH (s:S) RETURN count(*) AS c").collect().head.getLong(0) == 2L)
    val pairs = gs.run(
      "MATCH (u:U)-[:HAS]->(s:S) RETURN u.n AS n, s.w AS w ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pairs.toSeq == Seq(("a", 1L), ("b", 2L)))
  }

  test("CREATE self-loop chain reuses the chain variable (delete.sql:64)") {
    val gs = freshSession("gsl")
    gs.run("CREATE (n:V)-[:E]->(n)")
    assert(gs.run("MATCH (v:V) RETURN count(*) AS c").collect().head.getLong(0) == 1L)
    val loop = gs.run("MATCH (a:V)-[:E]->(b:V) RETURN id(a) = id(b) AS self")
      .collect().head
    assert(loop.getBoolean(0)) // the edge is a true self-loop
  }

  test("RETURN right after SET sees the updated values (set.sql:39)") {
    val gs = freshSession("gsr")
    gs.run("CREATE (:P {n: 'a', i: 1})")
    val r = gs.run("MATCH (p:P) SET p.i = p.i + 10 RETURN p.i AS i").collect().head
    assert(r.getLong(0) == 11L)
    // simultaneous multi-item SET: both values evaluate pre-update
    gs.run("CREATE (:Q {x: 1, y: 2})")
    val r2 = gs.run("MATCH (q:Q) SET q.x = q.y, q.y = q.x RETURN q.x AS x, q.y AS y")
      .collect().head
    assert(r2.getLong(0) == 2L && r2.getLong(1) == 1L) // swapped, not chained
    // REMOVE reflects immediately too
    val r3 = gs.run("MATCH (p:P) REMOVE p.i RETURN p.i AS i").collect().head
    assert(r3.isNullAt(0))
  }

  test("DELETE on an edge variable removes the edge, keeps the endpoints") {
    val gs = freshSession("gde")
    gs.run("CREATE (:P {n: 'a'})-[:R {w: 1}]->(:P {n: 'b'})")
    assert(gs.run("MATCH ()-[e:R]->() RETURN count(*) AS c").collect().head.getLong(0) == 1L)
    gs.run("MATCH ()-[e:R]->() DELETE e")
    assert(gs.run("MATCH ()-[e:R]->() RETURN count(*) AS c").collect().head.getLong(0) == 0L)
    assert(gs.run("MATCH (p:P) RETURN count(*) AS c").collect().head.getLong(0) == 2L)
    // endpoints now deletable without DETACH (no incident edges remain)
    gs.run("MATCH (p:P) DELETE p")
    assert(gs.run("MATCH (p:P) RETURN count(*) AS c").collect().head.getLong(0) == 0L)
  }

  test("MERGE after empty previous clause creates nothing (merge test 3)") {
    // reference cypher_merge.sql test 3: MATCH (n) MERGE ({i: n.i}) on an
    // empty graph must not create anything
    val gs = freshSession("gm3")
    gs.run("MATCH (n) MERGE (:Thing {i: n.i})")
    assert(gs.run("MATCH (m) RETURN count(*) AS c").collect().head.getLong(0) == 0L)
  }

  test("MERGE sees SET from an earlier clause in the same query (merge/set chain)") {
    // reference cypher_merge.sql:326 — MATCH ... SET n.i = 2 ... MERGE ({i: 2})
    // must match the just-updated vertex, not create a duplicate
    val gs = freshSession("gms")
    gs.run("CREATE (:T {i: 1})")
    gs.run("MATCH (n:T) SET n.i = 2 MERGE (:T {i: 2})")
    assert(gs.run("MATCH (m:T) RETURN count(*) AS c").collect().head.getLong(0) == 1L)
  }

  test("multi-label node pattern matches only when all labels hold") {
    val gs = freshSession("g14")
    gs.run("CREATE (:A {k: 1})")
    gs.run("CREATE (:B {k: 2})")
    // single-label vertices: (n:A:B) can never match (label conjunction)
    val n = gs.run("MATCH (n:A:B) RETURN count(*) AS n").collect().head.getLong(0)
    assert(n == 0, s"(n:A:B) matched $n rows on single-label vertices")
    // repeated same label is satisfiable
    val m = gs.run("MATCH (n:A:A) RETURN count(*) AS n").collect().head.getLong(0)
    assert(m == 1)
  }

  test("write-path id assignment is distributed (no single-partition window)") {
    // RowNumber.attach preserves partitioning and numbers 1..n exactly once
    val df = spark.range(1000).repartition(8).toDF("x")
    val (numbered, n) = graft.cypher.RowNumber.attach(df, "__rn")
    assert(n == 1000)
    assert(numbered.rdd.getNumPartitions > 1, "numbering collapsed to one partition")
    val nums = numbered.select("__rn").collect().map(_.getLong(0)).sorted.toSeq
    assert(nums == (1L to 1000L))
    // and the stored label tables a per-row CREATE appends carry no Window
    // node (the r3 scale hazard: a global-order row_number id assignment)
    val gs = freshSession("gplan")
    gs.run("CREATE (:U {k: 1})")
    gs.run("CREATE (:U {k: 2})")
    gs.run("MATCH (u:U) CREATE (u)-[:W {t: u.k}]->(:P {m: u.k})")
    val q = gs.run("MATCH (u:U)-[w:W]->(p:P) RETURN u.k AS k, w.t AS t, p.m AS m")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"write path still plans a Window:\n$plan")
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows == Seq((1L, 1L, 1L), (2L, 2L, 2L)))
  }

  test("graph DDL statements: CREATE/USE/DROP GRAPH round-trip") {
    // reference cypher_gram.y:2926 CreateGraphStmt / 4297-4315 Use/Drop
    val gs = new GraphSession(spark)
    gs.run("CREATE GRAPH ddl_a")
    gs.run("CREATE (:T {k: 1})")
    gs.run("CREATE GRAPH ddl_b") // CREATE also selects the new graph
    gs.run("CREATE (:T {k: 2})")
    assert(gs.run("MATCH (t:T) RETURN t.k AS k").collect().map(_.getLong(0)).toSeq == Seq(2L))
    gs.run("USE GRAPH ddl_a")
    assert(gs.run("MATCH (t:T) RETURN t.k AS k").collect().map(_.getLong(0)).toSeq == Seq(1L))
    gs.run("DROP GRAPH ddl_b CASCADE")
    intercept[IllegalArgumentException](gs.run("USE GRAPH ddl_b"))
    // still on ddl_a after the drop
    assert(gs.run("MATCH (t:T) RETURN count(*) AS n").collect().head.getLong(0) == 1L)
  }

  test("unique constraint blocks duplicate inserts, allows distinct") {
    val gs = freshSession("g15")
    gs.run("CREATE (:Acct {email: 'a@x'})")
    gs.createUniqueConstraint("Acct", "email")
    gs.run("CREATE (:Acct {email: 'b@x'})") // distinct ok
    val e = intercept[IllegalStateException] {
      gs.run("CREATE (:Acct {email: 'a@x'})")
    }
    assert(e.getMessage.contains("unique constraint"))
    // adding a constraint over data that violates it is refused
    val gs2 = freshSession("g16")
    gs2.run("CREATE (:U {k: 1})")
    gs2.run("CREATE (:U {k: 1})")
    intercept[IllegalArgumentException] { gs2.createUniqueConstraint("U", "k") }
  }

  test("SET through UNWIND of collect(vertex) errors like the reference (cypher_unwind.out:89)") {
    val gs = freshSession("g20")
    gs.run("CREATE (:W {j: 1})")
    gs.run("CREATE (:W {j: 2})")
    // the reference refuses SET on a value-derived entity: "SET clause can
    // only update vertex and edges" (its own TODO marker) — error parity
    val e = intercept[IllegalArgumentException] {
      gs.run("MATCH (n) WITH collect(n) AS ns UNWIND ns AS a SET a.i = a.j * 10 RETURN a")
    }
    assert(e.getMessage.contains("SET clause can only update"))
    // CREATE through the rebound alias reads its properties — that part
    // the reference DOES support (cypher_unwind.out:127-133)
    gs.run("MATCH (w:W) WITH collect(w) AS ws UNWIND ws AS a CREATE (:C {i: a.j})")
    val cs = gs.run("MATCH (c:C) RETURN c.i AS i ORDER BY i")
      .collect().map(_.getLong(0))
    assert(cs.toSeq == Seq(1L, 2L))
  }

  test("literal CREATE RETURNs created entities incl. edge vars and props (create.sql:82-96)") {
    val gs = freshSession("g17")
    // CREATE (a)-[b:e_var {id: 0}]->() RETURN a, b, b.id, b.id + 1
    val r = gs.run("CREATE (a)-[b:e_var {id: 0}]->() RETURN id(a) AS a, id(b) AS b, b.id AS p, b.id + 1 AS q")
      .collect().head
    assert(r.getLong(2) == 0L && r.getLong(3) == 1L)
    // edge binding carries endpoints: start_id(b) = id(a)
    val r2 = gs.run("CREATE (a)-[b:e_var]->(c) RETURN id(a) AS s, start_id(b) AS bs, end_id(b) AS be, id(c) AS e")
      .collect().head
    assert(r2.getLong(0) == r2.getLong(1) && r2.getLong(2) == r2.getLong(3))
  }

  test("CREATE p=... RETURN p yields the created traversal (create.sql:94-100)") {
    val gs = freshSession("g18")
    val row = gs.run(
      "CREATE p=(:V {n: 1})-[:E {w: 2}]->(:V {n: 3}) RETURN length(p) AS l, nodes(p)[0].n AS a, nodes(p)[1].n AS b")
      .collect().head
    assert(row.getLong(0) == 1L)
    // per-row created path after MATCH (create.sql:98)
    gs.run("CREATE (:S {i: 1})")
    gs.run("CREATE (:S {i: 2})")
    val rows = gs.run(
      "MATCH (a:S) CREATE p=(a)-[:LOOP]->(a) RETURN length(p) AS l, a.i AS i ORDER BY i")
      .collect()
    assert(rows.length == 2 && rows.forall(_.getLong(0) == 1L))
    // the loops were stored
    val n = gs.run("MATCH (x:S)-[:LOOP]->(x) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 2L)
  }

  test("durable graph: CREATE/SET/DELETE survive session close + reopen") {
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    // session 1: durable graph, a write per statement kind
    val s1 = new GraphSession(spark)
    s1.createGraph("dur", root)
    s1.run("CREATE (:P {name: 'A', score: 1})")
    s1.run("CREATE (:P {name: 'B', score: 2})")
    s1.run("CREATE (:P {name: 'C', score: 3})")
    s1.run("MATCH (a:P {name: 'A'}), (b:P {name: 'B'}) CREATE (a)-[:KNOWS {w: 7}]->(b)")
    s1.run("MATCH (p:P {name: 'B'}) SET p.score = 20")
    s1.run("MATCH (p:P {name: 'C'}) DETACH DELETE p")
    // a FAILED statement must not publish: plain DELETE with incident edges
    intercept[Throwable] { s1.run("MATCH (p:P {name: 'A'}) DELETE p") }
    // session 2 (fresh catalog — s1's in-memory state is unreachable)
    val s2 = new GraphSession(spark)
    s2.openGraph("dur", root)
    val rows = s2.run("MATCH (p:P) RETURN p.name AS n, p.score AS s ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("A", 1L), ("B", 20L))) // C deleted, B's SET kept, A survived the rolled-back DELETE
    val e = s2.run("MATCH (:P {name: 'A'})-[k:KNOWS]->(b:P) RETURN k.w AS w, b.name AS n")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(e.toSeq == Seq((7L, "B")))
    // id allocation continues where the reopened catalog left off — no reuse
    s2.run("CREATE (:P {name: 'D'})")
    val ids = s2.run("MATCH (p:P) RETURN id(p) AS i").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length && ids.length == 3)
    // writes in the REOPENED session commit too (a third session sees D)
    val s3 = new GraphSession(spark)
    s3.openGraph("dur", root)
    assert(s3.run("MATCH (p:P {name: 'D'}) RETURN count(*) AS n")
      .collect().head.getLong(0) == 1L)
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(root))
  }

  test("GraphStore: a reader never observes a partial version (VERDICT r10 #4)") {
    val root = java.nio.file.Files.createTempDirectory("graft_store_cc").toString
    val s1 = new GraphSession(spark)
    s1.createGraph("durcc", root)
    // each statement creates a MATCHED (P, Q) pair in one commit — a reader
    // seeing #P != #Q would mean a torn version escaped the pointer swap
    s1.run("CREATE (:P {i: 0}), (:Q {i: 0})")
    @volatile var done = false
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val gcRaces = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => {
      try for (k <- 1 to 6) s1.run(s"CREATE (:P {i: $k}), (:Q {i: $k})")
      finally done = true
    })
    writer.start()
    var reads = 0
    while (!done || reads == 0) {
      try {
        val r = new GraphSession(spark)
        r.openGraph("durcc", root)
        val p = r.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0)
        val q = r.run("MATCH (q:Q) RETURN count(*) AS n").collect().head.getLong(0)
        if (p != q) torn.incrementAndGet()
        reads += 1
      } catch {
        // two-version retention: a version read CAN be gc'd mid-load when
        // the writer publishes twice during it — a documented storage
        // bound (GraphStore doc), not a torn publish; retry
        case _: Throwable => gcRaces.incrementAndGet()
      }
    }
    writer.join()
    assert(torn.get == 0, s"observed ${torn.get} torn versions over $reads reads")
    assert(reads > 0)
    // final state is the complete series
    val r = new GraphSession(spark)
    r.openGraph("durcc", root)
    assert(r.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0) == 7L)
    assert(r.run("MATCH (q:Q) RETURN count(*) AS n").collect().head.getLong(0) == 7L)
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(root))
  }

  test("GraphStore: concurrent writers — stale session gets PG's serialization failure (r11)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_occ").toString
    val a = new GraphSession(spark)
    a.createGraph("durocc", root)
    a.run("CREATE (:P {name: 'base'})")
    // writer B opens the same store at the same version as A
    val b = new GraphSession(spark)
    b.openGraph("durocc", root)
    // A commits first; B's snapshot is now stale
    a.run("CREATE (:P {name: 'fromA'})")
    val e = intercept[Exception] { b.run("CREATE (:P {name: 'fromB'})") }
    assert(e.getMessage.contains("could not serialize access due to concurrent update"))
    // B's in-memory state rolled back with the failed statement: fromB absent
    assert(b.run("MATCH (p:P {name: 'fromB'}) RETURN count(*) AS n")
      .collect().head.getLong(0) == 0L)
    // the store kept A's commit; a fresh open retries B's write cleanly
    val b2 = new GraphSession(spark)
    b2.openGraph("durocc", root)
    b2.run("CREATE (:P {name: 'fromB'})")
    val names = b2.run("MATCH (p:P) RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(names.toSeq == Seq("base", "fromA", "fromB"))
    // the commit lock never leaks: next writer acquires immediately
    assert(graft.cypher.GraphStore.withCommitLock(root, waitMs = 200L) { true })
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: incremental publish rewrites only the touched labels (r11)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_inc").toString
    val s1 = new GraphSession(spark)
    s1.createGraph("durinc", root)
    s1.run("CREATE (:Q {name: 'q1'})")
    val vQ = graft.cypher.GraphStore.latestVersion(root).get // Q last written here
    s1.run("CREATE (:P {name: 'p1'})")
    s1.run("CREATE (:P {name: 'p2'})")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    assert(v == vQ + 2)
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    // the latest catalog POINTS at Q's old dir instead of rewriting it
    assert(cat.exists(_ == s"vlabel Q $vQ"), cat.mkString("; "))
    // P took the r12 file-level CoW path: the second CREATE added one new
    // file and carried the first CREATE's file by manifest line
    val pFiles = cat.filter(_.startsWith("file v P "))
    assert(pFiles.size == 2, cat.mkString("; "))
    assert(pFiles.exists(_.contains(s"v${v - 1}%2F")), cat.mkString("; "))
    assert(pFiles.exists(_.contains(s"v$v%2F")), cat.mkString("; "))
    assert(!Files.exists(Paths.get(s"$root/v$v/v/Q")))
    // the referenced old dir survives gc even though it is 2 versions back
    assert(Files.exists(Paths.get(s"$root/v$vQ/v/Q")))
    // a fresh open resolves the pointers
    val s2 = new GraphSession(spark)
    s2.openGraph("durinc", root)
    assert(s2.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0) == 2L)
    assert(s2.run("MATCH (q:Q) RETURN q.name AS n").collect().head.getString(0) == "q1")
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: N writers with retry-on-conflict lose no updates (r11 OCC hammer)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_hammer").toString
    new GraphSession(spark).createGraph("durham", root)
    val writers = 3; val perWriter = 4
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          for (k <- 0 until perWriter) {
            var committed = false
            while (!committed) {
              // optimistic retry loop: reopen at the latest version, try the
              // write, back off on the 40001 serialization failure
              try {
                val s = new GraphSession(spark)
                s.openGraph("durham", root)
                s.run(s"CREATE (:P {name: 'w${w}k$k'})"); committed = true
              } catch {
                case e: Throwable
                    if e.getMessage != null &&
                      e.getMessage.contains("could not serialize") =>
                  conflicts.incrementAndGet()
                case _: org.apache.spark.SparkException |
                     _: java.io.FileNotFoundException =>
                  // two-version retention gc'd the version mid-open — the
                  // documented storage bound; reopen at the new latest
                  conflicts.incrementAndGet()
              }
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    val r = new GraphSession(spark)
    r.openGraph("durham", root)
    val names = r.run("MATCH (p:P) RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0)).toSet
    // every one of the 12 writes survives — conflicts retried, none lost
    val expect = (for (w <- 0 until writers; k <- 0 until perWriter)
      yield s"w${w}k$k").toSet
    assert(names == expect)
    assert(graft.cypher.GraphStore.withCommitLock(root, waitMs = 200L) { true })
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: concurrent point SETs through deletion vectors lose no update (r12 hammer)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_dvham").toString
    val s0 = new GraphSession(spark)
    s0.createGraph("durdvh", root)
    s0.run("UNWIND range(1, 12) AS i CREATE (:P {k: i, n: 0})")
    s0.run("CREATE (:P {k: 13, n: 0})") // manifest form → SETs take the dv path
    val writers = 3; val perWriter = 3
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          for (j <- 0 until perWriter) {
            val k = w * perWriter + j + 1 // disjoint target rows
            var committed = false
            while (!committed) {
              try {
                val s = new GraphSession(spark)
                s.openGraph("durdvh", root)
                s.run(s"MATCH (p:P {k: $k}) SET p.n = ${w * 100 + j}")
                committed = true
              } catch {
                case e: Throwable
                    if e.getMessage != null &&
                      e.getMessage.contains("could not serialize") => ()
                case _: org.apache.spark.SparkException |
                     _: java.io.FileNotFoundException => ()
              }
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    val r = new GraphSession(spark)
    r.openGraph("durdvh", root)
    val rows = r.run("MATCH (p:P) RETURN p.k AS k, p.n AS n ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(rows.size == 13, s"row count ${rows.size} — dv hammer lost or duplicated ids")
    for (w <- 0 until writers; j <- 0 until perWriter)
      assert(rows(w.toLong * perWriter + j + 1) == w * 100 + j,
        s"k=${w * perWriter + j + 1}: ${rows(w.toLong * perWriter + j + 1)}")
    (10 to 13).foreach(k => assert(rows(k.toLong) == 0L))
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: SET on a key-packed (ingested) row stays exactly-once through dvs (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_dving").toString
    val s = new GraphSession(spark)
    s.createGraph("durdvi", root)
    // ingest path packs ids from the USER KEY, not the entry sequence —
    // the dv pure-insert proof must not rely on the catalog's sequence
    // position (key-packed ids sit far past it)
    import spark.implicits._
    s.ingestVertexBatch("Doc", "doc_id",
      (1L to 10L).map(i => (i, s"t$i")).toDF("doc_id", "text"), "app1", 0L)
    s.ingestVertexBatch("Doc", "doc_id",
      (11L to 12L).map(i => (i, s"t$i")).toDF("doc_id", "text"), "app1", 1L)
    // SET one ingested row: the stored old copy MUST be tombstoned
    s.run("MATCH (d:Doc) WHERE d.text = 't3' SET d.text = 't3-v2'")
    val r = new GraphSession(spark)
    r.openGraph("durdvi", root)
    val n = r.run("MATCH (d:Doc) RETURN count(*) AS n").collect().head.getLong(0)
    assert(n == 12L, s"expected 12 rows, got $n — ingested row duplicated or lost")
    val t3 = r.run("MATCH (d:Doc) WHERE d.text STARTS WITH 't3' RETURN d.text AS t")
      .collect().map(_.getString(0)).toSeq
    assert(t3 == Seq("t3-v2"), t3.toString)
    // and DELETE of an ingested row really removes it
    r.run("MATCH (d:Doc) WHERE d.text = 't7' DELETE d")
    val r2 = new GraphSession(spark)
    r2.openGraph("durdvi", root)
    val n2 = r2.run("MATCH (d:Doc) RETURN count(*) AS n").collect().head.getLong(0)
    assert(n2 == 11L, s"expected 11 rows after delete, got $n2")
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: point DETACH DELETE tombstones the edge cascade — no edge-label rewrite (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_dvdet").toString
    val s = new GraphSession(spark)
    s.createGraph("durdet", root)
    s.run("UNWIND range(1, 10) AS i CREATE (:P {k: i})")
    s.run("MATCH (a:P), (b:P) WHERE b.k = a.k + 1 CREATE (a)-[:E {w: a.k}]->(b)")
    // manifest-form both labels (append one more of each)
    s.run("CREATE (:P {k: 11})")
    s.run("MATCH (a:P {k: 10}), (b:P {k: 11}) CREATE (a)-[:E {w: 10}]->(b)")
    val before = graft.cypher.GraphStore.latestVersion(root).get
    // DETACH DELETE k=5: removes 1 vertex + its 2 incident edges.
    // Both labels publish through the dv path: NO parquet rewrite at all
    s.run("MATCH (p:P {k: 5}) DETACH DELETE p")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    assert(v == before + 1)
    def partFiles(kind: String, l: String): Set[String] = {
      val d = Paths.get(s"$root/v$v/$kind/$l")
      import scala.jdk.CollectionConverters._
      if (!Files.isDirectory(d)) Set.empty
      else Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSet
    }
    assert(partFiles("v", "P").isEmpty && partFiles("e", "E").isEmpty,
      "pure DETACH DELETE must write no parquet files")
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    assert(cat.exists(_.startsWith("dvp v P ")), cat.mkString("; "))
    assert(cat.exists(_.startsWith("dvp e E ")), cat.mkString("; "))
    // reads exact after reopen: vertex gone, cascade gone, rest intact
    val r = new GraphSession(spark)
    r.openGraph("durdet", root)
    val nv = r.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0)
    val ne = r.run("MATCH ()-[e:E]->() RETURN count(*) AS n").collect().head.getLong(0)
    assert(nv == 10L, s"vertices: $nv")
    assert(ne == 8L, s"edges: $ne (10 chain edges - 2 incident to k=5)")
    val ws = r.run("MATCH ()-[e:E]->() RETURN e.w AS w ORDER BY w")
      .collect().map(_.getLong(0)).toSeq
    assert(ws == Seq(1L, 2L, 3L, 6L, 7L, 8L, 9L, 10L), ws.toString)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: crashed-writer lock + N contending takeovers — one body at a time (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_lockrace").toString
    // simulate a crashed writer's leftover: a _LOCK file with an ancient
    // mtime and NO live OS lock (the kernel released it with the process)
    val lock = Paths.get(root, "_LOCK")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600000L))
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { _ =>
      new Thread(() => {
        try {
          for (_ <- 0 until 5) {
            graft.cypher.GraphStore.withCommitLock(root, waitMs = 20000L) {
              if (inBody.incrementAndGet() != 1) overlaps.incrementAndGet()
              Thread.sleep(2) // widen any window
              inBody.decrementAndGet()
              ran.incrementAndGet()
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"contender died: ${failures.peek()}")
    assert(overlaps.get == 0, s"${overlaps.get} overlapping lock bodies")
    assert(ran.get == 40)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: long-running commit body is never taken over (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_longbody").toString
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      graft.cypher.GraphStore.withCommitLock(root, waitMs = 20000L) { // r11 heuristic would have declared this stale
        inBody.incrementAndGet()
        Thread.sleep(400) // body far exceeds staleMs
        inBody.decrementAndGet()
      }
      holderDone.countDown()
    })
    holder.start()
    Thread.sleep(50) // let the holder in
    val waiter = new Thread(() => {
      graft.cypher.GraphStore.withCommitLock(root, waitMs = 20000L) {
        if (inBody.get != 0) overlaps.incrementAndGet()
      }
    })
    waiter.start()
    holder.join(); waiter.join()
    assert(overlaps.get == 0, "waiter entered while the live holder was mid-body")
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: an unreadable latest catalog fails the commit and leaves _LATEST") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_lostcat").toString
    val s = new GraphSession(spark)
    s.createGraph("durlost", root)
    s.run("UNWIND range(1, 5) AS i CREATE (:P {k: i})")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = Paths.get(root, s"v$v", "catalog.txt")
    Files.delete(cat)
    // an empty store would have the commit rewrite every label whole
    val e = intercept[IllegalStateException](s.run("CREATE (:P {k: 6})"))
    assert(e.getMessage.contains(cat.toString), e.getMessage)
    assert(graft.cypher.GraphStore.latestVersion(root).get == v)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: a catalog line of unknown kind fails the open and names the line") {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val root = Files.createTempDirectory("graft_store_unknown").toString
    val s = new GraphSession(spark)
    s.createGraph("durunk", root)
    s.run("CREATE (:P {k: 1})")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    // the id-form tombstone line of earlier store versions
    val line = s"dv v P v$v%2Fdv%2Fv__P.txt 1"
    Files.write(Paths.get(root, s"v$v", "catalog.txt"), (line + "\n").getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException](new GraphSession(spark).openGraph("durunk", root))
    assert(e.getMessage.contains(line), e.getMessage)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: 1-row SET on a multi-file label rewrites <=1 file + manifest (r12)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def filesOf(root: String, v: Long): Set[String] = {
      val d = Paths.get(s"$root/v$v/v/P")
      if (!Files.isDirectory(d)) Set.empty
      else Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSet
    }
    val root = Files.createTempDirectory("graft_store_cow").toString
    val s = new GraphSession(spark)
    s.createGraph("durcow", root)
    s.run("CREATE (:P {k: 1, t: 'one'}), (:P {k: 2, t: 'two'})") // full write
    val v2 = graft.cypher.GraphStore.latestVersion(root).get
    s.run("CREATE (:P {k: 3, t: 'three'})") // CoW append: carries v2's files
    val v3 = graft.cypher.GraphStore.latestVersion(root).get
    assert(filesOf(root, v3).size == 1, "append should write exactly one new file")
    val cat3 = scala.io.Source.fromFile(s"$root/v$v3/catalog.txt").getLines().toList
    assert(cat3.count(_.startsWith("file v P ")) == filesOf(root, v2).size + 1)
    // the freshly-written file carries min/max id stats (r12 data
    // skipping) plus r13 typed property stats (4 tokens per column: name,
    // type tag, min, max); k=3 packs to (labelId<<48)|3, so min == max
    val newLine3 = cat3.filter(_.startsWith("file v P "))
      .map(_.split(" ")).filter(_(3).contains(s"v$v3%2F"))
    assert(newLine3.nonEmpty && newLine3.head.length >= 6 &&
      (newLine3.head.length - 6) % 4 == 0, cat3.mkString("; "))
    assert(newLine3.head(4) == newLine3.head(5), "single-row file: min == max")
    // pure insert: no deletion vector was needed (sequence-position check)
    assert(!cat3.exists(_.startsWith("dvp v P ")), cat3.mkString("; "))
    // label now spans files across v2 and v3 — the multi-file shape.
    // Record EVERY file's bytes, then SET one row that lives in a v2 file:
    // the r12 deletion-vector path must write only the new row-version +
    // a tombstone list, never rewriting ANY existing file.
    val v2Bytes: Map[String, Array[Byte]] = filesOf(root, v2).map(f =>
      f -> Files.readAllBytes(Paths.get(s"$root/v$v2/v/P/$f"))).toMap
    val v3Bytes: Map[String, Array[Byte]] = filesOf(root, v3).map(f =>
      f -> Files.readAllBytes(Paths.get(s"$root/v$v3/v/P/$f"))).toMap
    s.run("MATCH (p:P {k: 1}) SET p.t = 'uno'")
    val v4 = graft.cypher.GraphStore.latestVersion(root).get
    assert(v4 == v3 + 1)
    // the SET wrote exactly one new row-version file …
    assert(filesOf(root, v4).size == 1,
      s"1-row SET wrote ${filesOf(root, v4).size} files")
    val cat4 = scala.io.Source.fromFile(s"$root/v$v4/catalog.txt").getLines().toList
    val pFiles4 = cat4.filter(_.startsWith("file v P "))
    // … the manifest carries every previous file (none replaced) plus the
    // new one, and a single-id deletion vector suppresses the old copy
    assert(pFiles4.size == cat3.count(_.startsWith("file v P ")) + 1,
      cat4.mkString("; "))
    val dv4 = cat4.filter(_.startsWith("dvp v P "))
    assert(dv4.size == 1 && dv4.head.split(" ")(4) == "1", cat4.mkString("; "))
    // every pre-SET file survives BYTE-EQUAL on disk — including the one
    // holding the OLD copy of k=1 (merge-on-read, not copy-on-write)
    (v2Bytes.map { case (f, b) => (s"$root/v$v2/v/P/$f", b) } ++
      v3Bytes.map { case (f, b) => (s"$root/v$v3/v/P/$f", b) }).foreach {
      case (p, b) => assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(p)), b),
        s"pre-SET file $p changed on disk")
    }
    // reads are exact after reopen: updated row visible EXACTLY ONCE (the
    // dv suppresses the old copy but not the same-version new copy)
    val r = new GraphSession(spark)
    r.openGraph("durcow", root)
    val rows = r.run("MATCH (p:P) RETURN p.k AS k, p.t AS t ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows == Seq((1L, "uno"), (2L, "two"), (3L, "three")), rows.toString)
    // DELETE k=2: tombstone ONLY — no parquet file is written at all
    r.run("MATCH (p:P {k: 2}) DELETE p")
    val v5 = graft.cypher.GraphStore.latestVersion(root).get
    assert(filesOf(root, v5).isEmpty, "pure DELETE must write no parquet file")
    val cat5 = scala.io.Source.fromFile(s"$root/v$v5/catalog.txt").getLines().toList
    assert(cat5.count(_.startsWith("dvp v P ")) == 2, cat5.mkString("; "))
    val r2 = new GraphSession(spark)
    r2.openGraph("durcow", root)
    val ks = r2.run("MATCH (p:P) RETURN p.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(ks == Seq(1L, 3L), ks.toString)
    assert(v5 == v4 + 1)
    // time travel: the pre-SET version still shows the original value
    val rv3 = new GraphSession(spark)
    rv3.openGraph("durcow", root, asOfVersion = v3)
    val t3 = rv3.run("MATCH (p:P {k: 1}) RETURN p.t AS t")
      .collect().map(_.getString(0)).toSeq
    assert(t3 == Seq("one"), t3.toString)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: repeated SET of one row stacks dvs, stays exactly-once (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_dv2").toString
    val s = new GraphSession(spark)
    s.createGraph("durdv2", root)
    s.run("CREATE (:P {k: 1, t: 'a'}), (:P {k: 2, t: 'b'})")
    s.run("CREATE (:P {k: 3, t: 'c'})") // manifest form
    s.run("MATCH (p:P {k: 1}) SET p.t = 'a2'")
    s.run("MATCH (p:P {k: 1}) SET p.t = 'a3'") // suppresses the v-prev copy too
    s.run("MATCH (p:P {k: 3}) SET p.t = 'c2'")
    val r = new GraphSession(spark)
    r.openGraph("durdv2", root)
    val rows = r.run("MATCH (p:P) RETURN p.k AS k, p.t AS t ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows == Seq((1L, "a3"), (2L, "b"), (3L, "c2")), rows.toString)
    // each id appears exactly once even though three stale copies exist
    val n = r.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0)
    assert(n == 3L, s"expected 3 visible rows, got $n")
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: CoW falls back to full rewrite when most files are touched (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_cowfb").toString
    val s = new GraphSession(spark)
    s.createGraph("durfb", root)
    // pin the statement-id bound to the r14 value so the every-row SET
    // exercises the CoW→full-rewrite fallback at spec scale (at the r15
    // default it would need a 9000-row label for the same path)
    val savedIds = graft.cypher.MutableGraph.DvMaxStatementIds
    graft.cypher.MutableGraph.DvMaxStatementIds = 1024
    try {
      // 1200 rows puts an every-row SET past the 1024-id deletion-vector
      // bound, so it reaches the CoW path, which then sees every file
      // touched and falls back to the full rewrite
      s.run("UNWIND range(1, 1200) AS i CREATE (:P {k: i})") // full write (files A…)
      s.run("CREATE (:P {k: 1201})")                         // dv append (file B)
      s.run("MATCH (p:P) SET p.u = 1") // touches every row → every file
    } finally graft.cypher.MutableGraph.DvMaxStatementIds = savedIds
    val v2 = graft.cypher.GraphStore.latestVersion(root).get
    val cat2 = scala.io.Source.fromFile(s"$root/v$v2/catalog.txt").getLines().toList
    assert(cat2.exists(_ == s"vlabel P $v2"), cat2.mkString("; "))
    assert(!cat2.exists(_.startsWith("file v P ")), cat2.mkString("; "))
    assert(!cat2.exists(_.startsWith("dvp v P ")),
      "full rewrite must drop deletion vectors: " + cat2.mkString("; "))
    // contents exact after the compaction-by-fallback
    val r = new GraphSession(spark)
    r.openGraph("durfb", root)
    val ks = r.run("MATCH (p:P {u: 1}) RETURN count(*) AS n, min(p.k) AS mn, max(p.k) AS mx")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).head
    assert(ks == ((1201L, 1L, 1201L)), ks.toString)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: CoW rewrite over stacked dvs never resurrects suppressed copies (r12)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_dvcow").toString
    val s = new GraphSession(spark)
    s.createGraph("durdvc", root)
    // pin the tombstone budget to the r14 value so the budget-overflow →
    // CoW-over-live-dvs path runs at spec scale
    val savedTombs = graft.cypher.MutableGraph.DvMaxTombstones
    graft.cypher.MutableGraph.DvMaxTombstones = 4096
    try {
      s.run("UNWIND range(1, 1200) AS i CREATE (:P {k: i, t: 0})")
      s.run("CREATE (:P {k: 1201, t: 0})") // manifest form
      // four 1024-id SETs fill the 4096-tombstone budget through the dv path
      (1 to 4).foreach { n =>
        s.run(s"MATCH (p:P) WHERE p.k <= 1024 SET p.t = $n")
      }
      val vAfterDv = graft.cypher.GraphStore.latestVersion(root).get
      val catDv = scala.io.Source.fromFile(s"$root/v$vAfterDv/catalog.txt").getLines().toList
      assert(catDv.count(_.startsWith("dvp v P ")) == 4, catDv.mkString("; "))
      // the fifth overflows the budget → CoW partial rewrite with dvs live.
      // Its discovery and rewrite reads must apply the dvs, or the three
      // stale copies of each id would be resurrected into the new file.
      s.run("MATCH (p:P) WHERE p.k <= 1024 SET p.t = 5")
    } finally graft.cypher.MutableGraph.DvMaxTombstones = savedTombs
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    assert(cat.exists(_.startsWith("file v P ")),
      "expected a partial CoW rewrite, not a full rewrite: " + cat.mkString("; "))
    val r = new GraphSession(spark)
    r.openGraph("durdvc", root)
    val agg = r.run(
      "MATCH (p:P) RETURN count(*) AS n, sum(p.t) AS st, min(p.k) AS mn, max(p.k) AS mx")
      .collect().head
    assert(agg.getLong(0) == 1201L, s"row count ${agg.getLong(0)} — duplicates or losses")
    assert(agg.getLong(1) == 5L * 1024L, s"t-sum ${agg.getLong(1)}")
    assert((agg.getLong(2), agg.getLong(3)) == ((1L, 1201L)))
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: COMPACT GRAPH folds manifests + dvs to dir pointers, gc reclaims (r12)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def versionDirs(root: String): Set[Long] =
      Files.list(Paths.get(root)).iterator().asScala
        .map(_.getFileName.toString).filter(_.matches("v\\d+"))
        .map(_.drop(1).toLong).toSet
    val root = Files.createTempDirectory("graft_store_opt").toString
    val s = new GraphSession(spark)
    s.createGraph("durcp", root)
    s.run("UNWIND range(1, 50) AS i CREATE (:P {k: i, t: 'x'})")
    s.run("CREATE (:P {k: 51, t: 'y'})")      // manifest form
    s.run("MATCH (p:P {k: 7}) SET p.t = 'u'") // dv
    s.run("MATCH (p:P {k: 9}) DELETE p")      // dv
    val before = graft.cypher.GraphStore.latestVersion(root).get
    val catB = scala.io.Source.fromFile(s"$root/v$before/catalog.txt").getLines().toList
    assert(catB.exists(_.startsWith("file v P ")) && catB.exists(_.startsWith("dvp v P ")))
    s.run("COMPACT GRAPH durcp")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    assert(v == before + 1)
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    assert(cat.exists(_ == s"vlabel P $v"), cat.mkString("; "))
    assert(!cat.exists(l => l.startsWith("file v P ") || l.startsWith("dvp v P ")),
      cat.mkString("; "))
    // a second COMPACT is a no-op: nothing manifest-form remains
    s.run("COMPACT GRAPH durcp")
    assert(graft.cypher.GraphStore.latestVersion(root).get == v)
    // reads exact after reopen
    val r = new GraphSession(spark)
    r.openGraph("durcp", root)
    val agg = r.run("MATCH (p:P) RETURN count(*) AS n, " +
      "sum(CASE p.t WHEN 'u' THEN 1 ELSE 0 END) AS nu")
      .collect().head
    assert((agg.getLong(0), agg.getLong(1)) == ((50L, 1L)), agg.toString)
    // one more commit, then gc has reclaimed every pre-compaction dir
    s.run("CREATE (:P {k: 100, t: 'z'})")
    assert(versionDirs(root).forall(_ >= v),
      s"stale version dirs survive compaction: ${versionDirs(root)}")
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: crash between version write and pointer swap recovers (VERDICT r10 #4)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_crash").toString
    val s1 = new GraphSession(spark)
    s1.createGraph("durcr", root)
    s1.run("CREATE (:P {name: 'A'})")
    s1.run("CREATE (:P {name: 'B'})")
    val published = graft.cypher.GraphStore.latestVersion(root).get
    // simulate a crash AFTER the next version dir was written but BEFORE
    // the _LATEST swap: an orphaned v(published+1) with garbage content
    val orphan = Paths.get(root, s"v${published + 1}")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("catalog.txt"),
      "vlabel garbage\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // (a) reopen ignores the orphan — _LATEST still points at `published`
    val s2 = new GraphSession(spark)
    s2.openGraph("durcr", root)
    val names = s2.run("MATCH (p:P) RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(names.toSeq == Seq("A", "B"))
    // (b) the next commit reclaims the orphaned slot with a clean publish
    s2.run("CREATE (:P {name: 'C'})")
    assert(graft.cypher.GraphStore.latestVersion(root).get == published + 1)
    val s3 = new GraphSession(spark)
    s3.openGraph("durcr", root)
    assert(s3.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0) == 3L)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("GraphStore: dv version attribution survives a /vN/ segment in the store ROOT (r13)") {
    import java.nio.file.{Files, Paths}
    // a root like …/v1/store made the old regexp take the ROOT's segment
    // as every file's version: all files read as v1, so a dv written at
    // v2+ suppressed its ids in ALL files — including the same-version
    // row-version a SET just wrote (silent row loss)
    val base = Files.createTempDirectory("graft_store_vroot")
    val root = base.resolve("v1").resolve("store").toString
    val s = new GraphSession(spark)
    s.createGraph("durvroot", root)
    s.run("UNWIND range(1, 8) AS i CREATE (:P {k: i, t: 'x' + tostring(i)})")
    // dv-path SET (one touched id, manifest from the dir-pointer backfill)
    s.run("MATCH (p:P {k: 3}) SET p.t = 'x3-v2'")
    val cat = scala.io.Source.fromFile(
      s"$root/v${graft.cypher.GraphStore.latestVersion(root).get}/catalog.txt")
      .getLines().toList
    assert(cat.exists(_.startsWith("dvp v P ")), cat.mkString("; "))
    val r = new GraphSession(spark)
    r.openGraph("durvroot", root)
    val n = r.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0)
    assert(n == 8L, s"expected 8 rows, got $n — dv mis-attribution lost or duplicated rows")
    val t3 = r.run("MATCH (p:P {k: 3}) RETURN p.t AS t").collect().map(_.getString(0)).toSeq
    assert(t3 == Seq("x3-v2"), t3.toString)
    // and a CoW rewrite through the same reader stays exact
    r.run("UNWIND range(9, 10) AS i CREATE (:P {k: i, t: 'x' + tostring(i)})")
    val r2 = new GraphSession(spark)
    r2.openGraph("durvroot", root)
    val n2 = r2.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0)
    assert(n2 == 10L, s"after append: $n2")
    graft.cypher.GraphStore.deleteTree(base)
  }

  test("GraphStore: positional dvs — no id-IN chain in the dv-read plan, id pushdown intact (r14)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_dvplan").toString
    val s = new GraphSession(spark)
    s.createGraph("durpos", root)
    s.run("UNWIND range(1, 50) AS i CREATE (:P {k: i})")
    s.run("CREATE (:P {k: 51})") // manifest-form the label
    s.run("MATCH (p:P {k: 7}) SET p.t = 'seven'") // merge-on-read point write
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    assert(cat.exists(_.startsWith("dvp v P ")), cat.mkString("; "))
    graft.cypher.MutableGraph.lastDvRead = None
    val r = new GraphSession(spark)
    r.openGraph("durpos", root)
    val dvScan = graft.cypher.MutableGraph.lastDvRead
      .getOrElse(fail("reopen never built a dv-filtered scan"))
    // the dv filter is positional: (file basename, _metadata.row_index)
    // only — `id` appears in NO filter, so parquet row-group pruning and
    // pushed id predicates survive on this dv-bearing label (VERDICT r13 #2)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val conds = dvScan.queryExecution.optimizedPlan.collect {
      case f: LFilter => f.condition.toString }
    assert(conds.nonEmpty, "dv scan lost its filter")
    assert(!conds.exists(_.contains("id#")), s"id in dv filter: ${conds.mkString(" | ")}")
    assert(conds.exists(_.contains("row_index")), conds.mkString(" | "))
    // an id predicate on the dv-bearing scan still reaches the parquet scan
    val phys = dvScan.filter(org.apache.spark.sql.functions.col("id") === 123L)
      .queryExecution.executedPlan.toString
    assert(phys.contains("EqualTo(id,123)"), phys)
    // and reads are exact: 51 rows, the SET visible exactly once
    val counts = r.run("MATCH (p:P) RETURN count(*) AS n, count(p.t) AS t")
      .collect().head
    assert(counts.getLong(0) == 51L && counts.getLong(1) == 1L, counts.toString)
    val t7 = r.run("MATCH (p:P {k: 7}) RETURN p.t AS t")
      .collect().map(_.getString(0)).toSeq
    assert(t7 == Seq("seven"), t7.toString)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("manifest stat bounds: code-point string order, exact numeric compares (r14 ADVICE)") {
    import graft.cypher.GraphStore
    // Spark's string min/max compare UTF-8 bytes (code-point order): a file
    // whose max is 😀 (U+1F600) CAN hold "￿". Java's UTF-16 compareTo
    // says "￿" > "😀" (0xFFFF > 0xD83D) and would prune the file.
    val f = GraphStore.FileStats("v", "P", "v1/x", None,
      Map("t" -> (("s", "a", "😀"))))
    assert(f.mayOverlap("t", Some("￿"), Some("￿")),
      "file with max U+1F600 must keep a \\uFFFF equality probe")
    assert(!f.mayOverlap("t", Some("😁"), None),
      "lower bound above the code-point max must prune")
    assert(GraphStore.cpLe("￿", "😀") &&
      !GraphStore.cpLe("😀", "￿") &&
      GraphStore.cpLe("ab", "ab") && GraphStore.cpLe("a", "ab") &&
      !GraphStore.cpLe("ab", "a"))
    // long stats beyond 2^53 compare exactly (no toDouble round-trip)
    val big = (1L << 53) + 3 // 9007199254740995, not double-representable
    val g = GraphStore.FileStats("v", "P", "v1/x", None,
      Map("k" -> (("l", big.toString, big.toString))))
    assert(g.mayOverlap("k", Some(big), Some(big)))
    assert(!g.mayOverlap("k", Some(big + 1), None))
    assert(!g.mayOverlap("k", None, Some(big - 1)))
    // double query bound vs long stats: exact BigDecimal, no 2^53 collapse
    assert(!g.mayOverlap("k", Some(((1L << 53) + 4).toDouble), None))
    assert(g.mayOverlap("k", Some(((1L << 53) + 2).toDouble), None))
    // non-finite double edges carry no claim — always keep
    val h = GraphStore.FileStats("v", "P", "v1/x", None,
      Map("d" -> (("d", "NaN", "Infinity"))))
    assert(h.mayOverlap("d", Some(5L), Some(5L)))
    // non-finite QUERY bounds carry no claim and must not throw (r15
    // ADVICE: 1e400 parses to Infinity; BigDecimal(Infinity) would throw
    // outside statsPrunedScan's advisory Try, failing the query)
    assert(g.mayOverlap("k", Some(Double.PositiveInfinity), None))
    assert(g.mayOverlap("k", None, Some(Double.NegativeInfinity)))
  }

  test("GraphStore: wide point write (5000 ids) stays merge-on-read, reads exact (r15)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_dvwide").toString
    val s = new GraphSession(spark)
    s.createGraph("durdvw", root)
    s.run("UNWIND range(1, 10000) AS i CREATE (:P {k: i, n: 0})")
    s.run("CREATE (:P {k: 10001, n: 0})") // manifest-form the label
    // ONE statement touching 5000 ids: under the r14 bounds (1024 ids /
    // 4096 tombstones) this fell through to a CoW rewrite; the r15
    // binary-search dv membership makes the 8192/65536 bounds safe, so it
    // publishes as new-rows + one positional dv — no parquet rewrite of
    // the carried files
    s.run("MATCH (p:P) WHERE p.k <= 5000 SET p.n = 1")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    val dvp = cat.filter(_.startsWith("dvp v P "))
    assert(dvp.size == 1, s"expected one positional dv line: ${cat.mkString("; ")}")
    assert(dvp.head.split(" ")(4).toLong == 5000L, dvp.head)
    val r = new GraphSession(spark)
    r.openGraph("durdvw", root)
    val agg = r.run(
      "MATCH (p:P) RETURN count(*) AS c, sum(p.n) AS s, min(p.k) AS mn, max(p.k) AS mx")
      .collect().head
    assert(agg.getLong(0) == 10001L, s"count ${agg.getLong(0)}")
    assert(agg.getLong(1) == 5000L, s"sum ${agg.getLong(1)}")
    assert(agg.getLong(2) == 1L && agg.getLong(3) == 10001L, agg.toString)
    // point read through the 5000-position dv stays exact on both sides
    // of the touched boundary
    val probe = r.run("MATCH (p:P) WHERE p.k IN [4999, 5001] RETURN p.k AS k, p.n AS n ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(probe == Seq((4999L, 1L), (5001L, 0L)), probe.toString)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  testOnFiles("GraphStore: unlabeled + multi-label scans prune files from manifest stats (r14)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_upstats").toString
    val s = new GraphSession(spark)
    s.createGraph("durups", root)
    // two labels, each manifest-form with 3 files of disjoint k ranges
    s.run("UNWIND range(1, 100) AS i CREATE (:A {k: i})")
    s.run("UNWIND range(101, 200) AS i CREATE (:A {k: i})")
    s.run("UNWIND range(201, 300) AS i CREATE (:A {k: i})")
    s.run("UNWIND range(1001, 1100) AS i CREATE (:B {k: i})")
    s.run("UNWIND range(1101, 1200) AS i CREATE (:B {k: i})")
    s.run("UNWIND range(1201, 1300) AS i CREATE (:B {k: i})")
    val r = new GraphSession(spark)
    r.openGraph("durups", root)
    // unlabeled MATCH over the union view: EVERY branch prunes its file
    // list (the reference GIN serves the parent-label scan, VERDICT r13 #3)
    r.graph.lastPruneInfo = None
    val hit = r.run("MATCH (n) WHERE n.k = 250 RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(hit == 1L)
    val (kept, total) = r.graph.lastPruneInfo
      .getOrElse(fail("unlabeled scan never consulted the stats"))
    assert(kept < total, s"no files skipped on unlabeled scan: kept=$kept total=$total")
    // prop-map literal form over the union view prunes too
    r.graph.lastPruneInfo = None
    val hit2 = r.run("MATCH (n {k: 1150}) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(hit2 == 1L)
    val (kept2, total2) = r.graph.lastPruneInfo
      .getOrElse(fail("unlabeled prop-map scan never consulted the stats"))
    assert(kept2 < total2, s"kept=$kept2 total=$total2")
    // multi-label conjunction: the r13 hook skipped `(n:A:B)` shapes —
    // the repeated-label form scans label A and must still prune
    r.graph.lastPruneInfo = None
    val hit3 = r.run("MATCH (n:A:A {k: 250}) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(hit3 == 1L)
    val (kept3, total3) = r.graph.lastPruneInfo
      .getOrElse(fail("multi-label scan never consulted the stats"))
    assert(kept3 < total3, s"kept=$kept3 total=$total3")
    // exactness across the union: distinct-label conjunction stays empty
    val none = r.run("MATCH (n:A:B {k: 250}) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(none == 0L)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  testOnFiles("GraphStore: per-file property stats prune a literal-filtered MATCH (r13)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_pstats").toString
    val s = new GraphSession(spark)
    s.createGraph("durps", root)
    // three statements → manifest form with ≥2 files of disjoint k ranges
    s.run("UNWIND range(1, 100) AS i CREATE (:P {k: i, t: 'a' + tostring(i)})")
    s.run("UNWIND range(101, 200) AS i CREATE (:P {k: i, t: 'b' + tostring(i)})")
    s.run("UNWIND range(201, 300) AS i CREATE (:P {k: i, t: 'c' + tostring(i)})")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    val fileLines = cat.filter(_.startsWith("file v P "))
    assert(fileLines.size >= 2, cat.mkString("; "))
    // the manifest carries typed property stats (k as integral, t string)
    assert(fileLines.exists(_.split(" ").containsSlice(Seq("k", "l"))),
      fileLines.mkString("; "))
    // in-session: pruned scan answers the literal MATCH, reading fewer files
    s.graph.lastPruneInfo = None
    val hit = s.run("MATCH (p:P {k: 250}) RETURN p.t AS t").collect().map(_.getString(0)).toSeq
    assert(hit == Seq("c250"), hit.toString)
    val (kept, total) = s.graph.lastPruneInfo.getOrElse(fail("stats prune never ran"))
    assert(kept < total, s"no files skipped: kept=$kept total=$total")
    // reopen: stats survive in the catalog and still prune
    val r = new GraphSession(spark)
    r.openGraph("durps", root)
    r.graph.lastPruneInfo = None
    val hit2 = r.run("MATCH (p:P {k: 42}) RETURN p.t AS t").collect().map(_.getString(0)).toSeq
    assert(hit2 == Seq("a42"), hit2.toString)
    val (kept2, total2) = r.graph.lastPruneInfo.getOrElse(fail("stats prune never ran after reopen"))
    assert(kept2 < total2, s"no files skipped after reopen: kept=$kept2 total=$total2")
    // a write refreshes the manifest at publish (dv line + row-version
    // file) — the pruned read applies the dv, so the OLD copy stays out
    r.run("MATCH (p:P {k: 42}) SET p.t = 'a42-v2'")
    val hit3 = r.run("MATCH (p:P {k: 42}) RETURN p.t AS t").collect().map(_.getString(0)).toSeq
    assert(hit3 == Seq("a42-v2"), hit3.toString)
    // string stats prune too
    r.graph.lastPruneInfo = None
    val hs = r.run("MATCH (p:P {t: 'b150'}) RETURN p.k AS k").collect().map(_.getLong(0)).toSeq
    assert(hs == Seq(150L), hs.toString)
    val (kept3, total3) = r.graph.lastPruneInfo.getOrElse(fail("string stats prune never ran"))
    assert(kept3 < total3, s"no files skipped on string literal: kept=$kept3 total=$total3")
    // sargable WHERE conjuncts prune as well: equality…
    r.graph.lastPruneInfo = None
    val hw = r.run("MATCH (p:P) WHERE p.k = 250 RETURN p.t AS t")
      .collect().map(_.getString(0)).toSeq
    assert(hw == Seq("c250"), hw.toString)
    val (kept4, total4) = r.graph.lastPruneInfo.getOrElse(fail("WHERE equality never pruned"))
    assert(kept4 < total4, s"no files skipped on WHERE equality: kept=$kept4 total=$total4")
    // …and ranges (two conjuncts fold to one [lo, hi] hint)
    r.graph.lastPruneInfo = None
    val hr = r.run("MATCH (p:P) WHERE p.k >= 205 AND p.k < 208 RETURN p.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(hr == Seq(205L, 206L, 207L), hr.toString)
    val (kept5, total5) = r.graph.lastPruneInfo.getOrElse(fail("WHERE range never pruned"))
    assert(kept5 < total5, s"no files skipped on WHERE range: kept=$kept5 total=$total5")
    // negative: OR is not a conjunct — no hint may be extracted, and the
    // result must still be exact (both branches from different files)
    r.graph.lastPruneInfo = None
    val ho = r.run("MATCH (p:P) WHERE p.k = 250 OR p.k = 44 RETURN p.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(ho == Seq(44L, 250L), ho.toString)
    assert(r.graph.lastPruneInfo.isEmpty, "an OR predicate must not produce a prune hint")
    // negative: cross-type literal (string vs long column) — the 'l' stats
    // carry no claim for a string bound, so nothing may be lost
    val hx = r.run("MATCH (p:P) WHERE p.k = 'nope' RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(hx == 0L)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  test("DvIndex: binary-search membership, interleaved-file memo, buffer reuse (r15)") {
    import org.apache.spark.unsafe.types.UTF8String
    val idx = new graft.cypher.DvIndex(Map(
      "part-a.parquet" -> Array(3L, 7L, 4096L),
      "part-b.parquet" -> Array(0L)))
    def u(s: String) = UTF8String.fromString(s)
    val pa = u("/store/v1/v/P/part-a.parquet")
    val pb = u("/store/v1/v/P/part-b.parquet")
    val pc = u("/store/v1/v/P/part-c.parquet") // no dv entries
    assert(idx.deleted(pa, 3L) && idx.deleted(pa, 7L) && idx.deleted(pa, 4096L))
    assert(!idx.deleted(pa, 0L) && !idx.deleted(pa, 5L) && !idx.deleted(pa, 4097L))
    // interleaved files churn the last-file memo — every switch re-resolves
    assert(idx.deleted(pb, 0L))
    assert(!idx.deleted(pa, 0L))
    assert(!idx.deleted(pb, 3L)) // position 3 deleted in a, NOT in b
    assert(!idx.deleted(pc, 3L)) // unknown file: nothing deleted
    assert(idx.deleted(pa, 7L))
    // the memo must COPY the path: callers may reuse the backing buffer
    val buf = "/store/v1/v/P/part-a.parquet".getBytes("UTF-8")
    val reused = UTF8String.fromBytes(buf)
    assert(idx.deleted(reused, 3L))
    // mutate the buffer in place to look like part-b: a memo holding the
    // ORIGINAL bytes must not serve part-a's positions for part-b
    val b2 = "/store/v1/v/P/part-b.parquet".getBytes("UTF-8")
    System.arraycopy(b2, 0, buf, 0, b2.length)
    assert(idx.deleted(reused, 0L) && !idx.deleted(reused, 3L),
      "memo served stale positions after the backing buffer was reused")
  }

  testOnFiles("GraphStore: temporal stats prune date-range MATCHes; IN hints claim envelopes (r15)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_tstats").toString
    val s = new GraphSession(spark)
    s.createGraph("durts", root)
    // three files with disjoint k/ts/dt ranges
    s.run("UNWIND range(1, 100) AS i CREATE (:P {k: i, ts: '2024-01-05 08:30:00'::timestamp, dt: '2024-01-05'::date})")
    s.run("UNWIND range(101, 200) AS i CREATE (:P {k: i, ts: '2024-02-05 08:30:00'::timestamp, dt: '2024-02-05'::date})")
    s.run("UNWIND range(201, 300) AS i CREATE (:P {k: i, ts: '2024-03-05 08:30:00'::timestamp, dt: '2024-03-05'::date})")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toList
    val fileLines = cat.filter(_.startsWith("file v P "))
    assert(fileLines.size >= 2, cat.mkString("; "))
    assert(fileLines.exists(_.split(" ").containsSlice(Seq("ts", "t"))),
      fileLines.mkString("; "))
    assert(fileLines.exists(_.split(" ").containsSlice(Seq("dt", "D"))),
      fileLines.mkString("; "))
    val r = new GraphSession(spark)
    r.openGraph("durts", root)
    // timestamp range scan — the canonical 100 TB prune shape
    r.graph.lastPruneInfo = None
    val n1 = r.run("MATCH (p:P) WHERE p.ts >= '2024-02-20'::timestamp RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n1 == 100L)
    val (k1, t1) = r.graph.lastPruneInfo.getOrElse(fail("ts range never pruned"))
    assert(k1 < t1, s"kept=$k1 total=$t1")
    // date equality
    r.graph.lastPruneInfo = None
    val n2 = r.run("MATCH (p:P) WHERE p.dt = '2024-02-05'::date RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n2 == 100L)
    val (k2, t2) = r.graph.lastPruneInfo.getOrElse(fail("date equality never pruned"))
    assert(k2 < t2, s"kept=$k2 total=$t2")
    // IN over integral literals claims the [min,max] envelope
    r.graph.lastPruneInfo = None
    val hin = r.run("MATCH (p:P) WHERE p.k IN [250, 260] RETURN p.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(hin == Seq(250L, 260L), hin.toString)
    val (k3, t3) = r.graph.lastPruneInfo.getOrElse(fail("IN never pruned"))
    assert(k3 < t3, s"kept=$k3 total=$t3")
    // negative: a mixed-domain IN list carries no hint, stays exact
    r.graph.lastPruneInfo = None
    val hmx = r.run("MATCH (p:P) WHERE p.k IN [250, 'nope'] RETURN p.k AS k")
      .collect().map(_.getLong(0)).toSeq
    assert(hmx == Seq(250L), hmx.toString)
    assert(r.graph.lastPruneInfo.isEmpty, "mixed-domain IN must not hint")
    // negative: NOT IN must not hint (envelope logic only holds for IN)
    r.graph.lastPruneInfo = None
    val nnot = r.run("MATCH (p:P) WHERE NOT p.k IN [250] RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(nnot == 299L)
    assert(r.graph.lastPruneInfo.isEmpty, "NOT IN must not hint")
    // negative folds: non-ISO styles and non-UTC offsets yield no claim
    import graft.cypher.Compiler
    assert(Compiler.foldTemporalLit("totimestamp", "1/5/2024 8:30:00").isEmpty)
    assert(Compiler.foldTemporalLit("totimestamp", "2024-01-05 08:30:00+05").isEmpty)
    assert(Compiler.foldTemporalLit("totimestamp", "infinity").isEmpty)
    assert(Compiler.foldTemporalLit("todate", "Jan 5 2024").isEmpty)
    assert(Compiler.foldTemporalLit("todate", "2024-13-40").isEmpty)
    // positive folds agree with the runtime kernels (UTC wall micros)
    assert(Compiler.foldTemporalLit("totimestamp", "2024-01-05 08:30:00")
      .contains(graft.gvalue.GTimestamp(1704443400000000L)))
    assert(Compiler.foldTemporalLit("totimestamptz", "2024-01-05T08:30:00.25Z")
      .contains(graft.gvalue.GTimestamp(1704443400250000L)))
    assert(Compiler.foldTemporalLit("todate", "2024-01-05")
      .contains(graft.gvalue.GDate(19727)))
    // cross-domain temporal overlap promotes dates to midnight micros
    import graft.cypher.GraphStore
    val fs = GraphStore.FileStats("v", "P", "v1/x", None,
      Map("ts" -> (("t", "1704443400000000", "1704443400000000")), // 2024-01-05 08:30
          "dt" -> (("D", "19727", "19727"))))                       // 2024-01-05
    assert(fs.mayOverlap("ts", Some(GraphStore.DateBound(19727)), None))  // 00:00 <= 08:30
    assert(!fs.mayOverlap("ts", Some(GraphStore.DateBound(19728)), None)) // next midnight > 08:30
    assert(fs.mayOverlap("dt", None, Some(GraphStore.TsBound(19727L * 86400000000L))))
    assert(!fs.mayOverlap("dt", None, Some(GraphStore.TsBound(19727L * 86400000000L - 1))))
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  testOnFiles("GraphStore: IN envelopes pick bounds in the stats order, not GValue.cmp (ADVICE r15)") {
    // Hazard 1 (strings): GValue.cmp is UTF-16 compareTo, where a
    // supplementary-plane char (U+10000, surrogate pair D800 DC00) sorts
    // BELOW U+E000; the manifest's min/max and mayOverlap compare code
    // points, where it sorts ABOVE. A cmp-picked envelope max of U+E000
    // would prune the file holding only the U+10000 row.
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_store_inenv").toString
    val s = new GraphSession(spark)
    s.createGraph("durenv", root)
    val supp = "\uD800\uDC00" // U+10000 as an explicit surrogate pair
    val pua = "\uE000"         // BMP private-use: UTF-16-above supp, code-point-below
    s.run("UNWIND range(1, 50) AS i CREATE (:P {k: i, s: 'a' + i})")
    s.run(s"UNWIND range(51, 60) AS i CREATE (:P {k: i, s: '$pua'})")
    s.run(s"UNWIND range(61, 70) AS i CREATE (:P {k: i, s: '$supp'})")
    // Hazard 2 (numerics): cmp compares long-as-double; 2^53+1 rounds to
    // 2^53, tying with the double 9007199254740992.0 — a stable sort then
    // keeps the DOUBLE as envelope max and mayOverlap's exact BigDecimal
    // compare prunes the file holding the real 2^53+1 match.
    s.run("UNWIND range(71, 80) AS i CREATE (:P {k: i + 9007199254740922})") // 2^53+1 at i=71
    val r = new GraphSession(spark)
    r.openGraph("durenv", root)
    r.graph.lastPruneInfo = None
    val hs = r.run(s"MATCH (p:P) WHERE p.s IN ['$pua', '$supp'] RETURN p.k AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(hs == (51L to 70L), hs.toString) // the supplementary-plane rows survive
    val (k1, t1) = r.graph.lastPruneInfo.getOrElse(fail("string IN never pruned"))
    assert(k1 < t1, s"kept=$k1 total=$t1") // but pruning still fires (the 'a…' file skips)
    r.graph.lastPruneInfo = None
    val hn = r.run("MATCH (p:P) WHERE p.k IN [9007199254740993, 9007199254740992.0] RETURN p.k AS k")
      .collect().map(_.getLong(0)).toSeq
    assert(hn == Seq(9007199254740993L), hn.toString)
    val (k2, t2) = r.graph.lastPruneInfo.getOrElse(fail("numeric IN never pruned"))
    assert(k2 < t2, s"kept=$k2 total=$t2")
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(root))
  }

  test("per-row CREATE binds the edge variable (create.sql:86-92)") {
    val gs = freshSession("g19")
    gs.run("CREATE (:N {i: 1})")
    gs.run("CREATE (:N {i: 2})")
    val rows = gs.run(
      "MATCH (a:N) CREATE (a)-[b:E {w: a.i * 10}]->(c:M) RETURN a.i AS i, b.w AS w, id(c) AS c ORDER BY i")
      .collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 20L))
    // distinct targets were created per row
    assert(rows.map(_.getLong(2)).distinct.length == 2)
  }

  test("write-id numbering is capped by actual rows, not the estimate") {
    // 100 000 longs estimate at 800 kB, under the 1 MiB write bound, but
    // hold more rows than the 65536-row cap: the numbering must take the
    // distributed path and still number 1..n in input order
    val (numbered, n) = graft.cypher.RowNumber.attach(spark.range(100000).toDF("x"), "n")
    assert(n == 100000)
    val plan = numbered.queryExecution.optimizedPlan
    assert(!plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"numbering collected past the row cap:\n$plan")
    val rows = numbered.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.sortBy(_._2).toSeq == (0L until 100000L).map(x => (x, x + 1)))
  }

  // r17: the write path's size-adaptive freeze (LocalRelation below the
  // bound, localCheckpoint above) must be value-invisible. Run
  // the four driver-oracled write rows under both modes and compare the
  // one-row digests (counts + sums + md5 of the sorted final state) —
  // any ordering/typing drift in the local path would flip the md5.
  test("write-path local freeze == distributed checkpoint (w1-w4 digests)") {
    val names = Seq("w1_create", "w2_set_remove", "w3_detach_delete", "w4_merge")
    def digests(): Map[String, Seq[String]] = names.map { n =>
      n -> graft.operators.WritePath.queries(n)(spark, "")
        .collect().toSeq.map(_.toString)
    }.toMap
    val local = digests() // default: the local write bound active
    val dist = distributed(digests())
    names.foreach { n => assert(local(n) == dist(n), s"$n digests diverge") }
  }

  // Every relation of w4's statements and of its digest read is driver-held
  // (LocalRelation snapshots), so the fold runs their joins and aggregates on
  // the driver: the UNWIND CREATE's numbering collect is the one job left.
  // Without the fold it ran 17 (four broadcasts and two shuffles per MERGE).
  test("w4_merge: four write statements and the digest read run at most 2 Spark jobs") {
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(graft.operators.WritePath.queries("w4_merge")(spark, "").collect().length == 1)
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val n = listener.synchronized(jobs)
    assert(n <= 2, s"w4_merge ran $n Spark jobs")
  }

  // A point write must not leave its label a join over the previous
  // version: each statement used to wrap the table in one more join or
  // union, so jobs per statement grew with the statement count.
  test("GraphStore: point writes keep every label flat; reads cost no more jobs after 30 writes") {
    import java.nio.file.Files
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val root = Files.createTempDirectory("graft_store_flat").toString
    val s = new GraphSession(spark)
    s.createGraph("flat", root)
    s.run("UNWIND range(1, 20) AS i CREATE (:P {k: i, v: i})")
    s.run("MATCH (a:P), (b:P) WHERE b.k = a.k + 1 CREATE (a)-[:E {w: a.k}]->(b)")
    def assertFlat(step: String): Unit = {
      val g = s.graph.snapshot
      (g.vertexLabels ++ g.edgeLabels.map { case (l, df) => s"e:$l" -> df }).foreach {
        case (l, df) =>
          val plan = df.queryExecution.analyzed
          assert(!plan.exists(_.isInstanceOf[Join]), s"$step: label $l holds a join:\n$plan")
          assert(plan.collectLeaves().size <= 16, s"$step: label $l holds ${plan.collectLeaves().size} leaves")
          // a few dozen rows: an estimate past the write bound (1 MiB) would
          // send every small-input site of the label down its distributed path
          val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
          assert(est < (1 << 20), s"$step: label $l estimates $est bytes")
      }
    }
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    // jobs of a point MATCH and of a label count, each run alone
    def readJobs(): Seq[Int] = Seq(
      "MATCH (p:P) WHERE p.k = 3 RETURN p.v AS v", "MATCH (p:P) RETURN count(*) AS n").map { q =>
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      val before = listener.synchronized(jobs)
      assert(s.run(q).collect().length == 1)
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      listener.synchronized(jobs) - before
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      var next = 21
      var afterOne = Seq.empty[Int]
      (1 to 30).foreach { i =>
        i % 3 match {
          case 1 =>
            s.run(s"MATCH (a:P {k: 1}) CREATE (:P {k: $next, v: 0})-[:E {w: 0}]->(a)")
            next += 1
          case 2 => s.run(s"MATCH (p:P {k: 3}) SET p.v = $i")
          case 0 => s.run(s"MATCH (p:P {k: ${next - 1}}) DETACH DELETE p")
        }
        assertFlat(s"statement $i")
        if (i == 1) afterOne = readJobs()
      }
      val afterThirty = readJobs()
      assert(afterThirty == afterOne,
        s"point MATCH and count jobs: $afterOne after 1 write, $afterThirty after 30")
    } finally spark.sparkContext.removeSparkListener(listener)
    // distributed, a DELETE marks its label for a re-base that the same
    // statement's CREATE must not clear: no anti-join stays in the base
    s.run("CREATE (:L {k: 1})")
    distributed(s.run("MATCH (a:L {k: 1}) DELETE a CREATE (:L {k: 9})"))
    val l = s.graph.snapshot.vertexLabels("L").queryExecution.analyzed
    assert(!l.exists(_.isInstanceOf[Join]), s"distributed DELETE then CREATE: label L holds a join:\n$l")
    val r = new GraphSession(spark)
    r.openGraph("flat", root)
    assert(r.run("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0) == 20L)
    assert(r.run("MATCH (p:P {k: 3}) RETURN p.v AS v").collect().head.getLong(0) == 29L)
    assert(r.run("MATCH ()-[e:E]->() RETURN count(*) AS n").collect().head.getLong(0) == 19L)
    assert(r.run("MATCH (l:L) RETURN l.k AS k").collect().map(_.getLong(0)).toSeq == Seq(9L))
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(root))
  }

  // A point SET re-materializes its label at commit; the checkpoint's size
  // estimate must stay that of the table, not grow by each statement's
  // delta, or a long-lived session would in time push the label past the
  // write bound (1 MiB) and every small-input site onto its distributed path.
  test("point SETs on one row keep the label's size estimate fixed") {
    val s = new GraphSession(spark)
    s.createGraph("estimate")
    s.run("UNWIND range(1, 50) AS i CREATE (:P {k: i, v: i})")
    def estimate(): BigInt =
      s.graph.snapshot.vertexLabels("P").queryExecution.optimizedPlan.stats.sizeInBytes
    s.run("MATCH (p:P {k: 7}) SET p.v = 0")
    val first = estimate()
    (1 to 200).foreach { i =>
      s.run(s"MATCH (p:P {k: 7}) SET p.v = $i")
      assert(estimate() == first, s"SET $i: estimate ${estimate()}, after the first SET $first")
    }
    assert(s.run("MATCH (p:P {k: 7}) RETURN p.v AS v").collect().head.getLong(0) == 200L)
  }

  test("GraphStore: constraint DDL carries every label's lines, manifest and dvs") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_store_ddl").toString
    val s = new GraphSession(spark)
    s.createGraph("ddl", root)
    s.run("CREATE (:L {p: 1, q: 'a'}), (:L {p: 2, q: 'b'})")
    s.run("CREATE (:L {p: 3, q: 'c'})-[:R {w: 1}]->(:M {m: 1})")
    s.run("MATCH (l:L {p: 1}) SET l.q = 'a2'")
    def tableLines(): Seq[String] = {
      val v = graft.cypher.GraphStore.latestVersion(root).get
      scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toSeq
        .filter(l => Seq("vlabel ", "elabel ", "nulltype ", "file ", "dvp ").exists(l.startsWith))
    }
    val before = tableLines()
    assert(before.exists(_.startsWith("dvp v L ")), before.mkString("\n"))
    val v0 = graft.cypher.GraphStore.latestVersion(root).get
    s.run("SELECT create_property_index('ddl', 'L', 'p', true)")
    assert(graft.cypher.GraphStore.latestVersion(root).get == v0 + 1)
    assert(tableLines() == before)
    val r = new GraphSession(spark)
    r.openGraph("ddl", root)
    val rows = r.run("MATCH (l:L) RETURN l.p AS p, l.q AS q ORDER BY p")
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows == Seq((1L, "a2"), (2L, "b"), (3L, "c")), rows.toString)
    intercept[Exception](r.run("CREATE (:L {p: 2})"))
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  // The merge-on-read publish from driver-held rows (default) and from
  // distributed frames (`local.maxRows=0`) must commit the same graph and
  // the same manifest statistics, strings compared in code-point order
  // included: stats from an aggregate over the held rows against stats
  // re-read from the written file.
  test("GraphStore: driver-held publish == distributed publish (rows and manifest stats)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import graft.cypher.GraphStore.dec
    def script(): (Map[String, Seq[String]], Seq[Seq[String]], Seq[Seq[String]]) = {
      val root = Files.createTempDirectory("graft_store_held").toString
      val s = new GraphSession(spark)
      s.createGraph("held", root)
      val manifests = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val positions = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      def step(f: => Unit): Unit = {
        f
        val v = graft.cypher.GraphStore.latestVersion(root).get
        val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toSeq
        val fileLines = cat.filter(_.startsWith("file ")).map(_.split(" "))
        // file lines without the part-file name: kind, label, version dir, stats
        manifests += fileLines.map { p =>
          val rel = dec(p(3))
          (Seq(p(1), p(2), rel.takeWhile(_ != '/')) ++ p.drop(4)).mkString(" ")
        }
        // each dvp file's sorted positions, a part file named by its place
        // among the catalog's file lines (the names differ between runs)
        val place = fileLines.map(p => dec(p(3)).split('/').last).zipWithIndex.toMap
        positions += cat.filter(_.startsWith("dvp ")).map(_.split(" ")).map { p =>
          val rel = dec(p(3))
          val pos = Files.readAllLines(Paths.get(root, rel)).asScala.filter(_.nonEmpty).map { e =>
            val i = e.lastIndexOf(' ')
            (place.get(e.substring(0, i)).fold("gone")(_.toString), e.substring(i + 1).toLong)
          }.sorted
          s"${p(1)} ${p(2)} ${rel.takeWhile(_ != '/')} ${pos.mkString(",")}"
        }
      }
      // the labels start as ingested batches, whose full writes lay files
      // out alike in both modes; their keys sit above the ids CREATE numbers
      step(s.ingestVertexBatch("P", "pk", (1 to 12).map(i => (1000L + i, i.toLong, s"a$i", i * 0.5))
        .toDF("pk", "k", "t", "x"), "load", 0L))
      step(s.ingestEdgeBatch("E", "ek", "P", "src", "P", "dst",
        (1 to 11).map(i => (1000L + i, 1000L + i, 1001L + i, i.toLong)).toDF("ek", "src", "dst", "w"),
        "load", 1L))
      step(s.ingestVertexBatch("C", "ck", Seq((1L, "c1", 1.0), (2L, "c2", 2.0))
        .toDF("ck", "name", "bal"), "cdc", 0L))
      // R's files span several row groups (100 rows each) of several pages
      // (10 rows each), so its tombstone positions are counted across
      // row-group boundaries and past the pages a position read skips
      spark.conf.set("parquet.block.row.count.limit", "100")
      spark.conf.set("parquet.page.row.count.limit", "10")
      spark.conf.set("parquet.page.size.row.check.min", "10")
      try step(s.ingestVertexBatch("R", "rk", (1 to 1200).map(i => (5000L + i, i.toLong))
        .toDF("rk", "k"), "load", 2L))
      finally {
        spark.conf.unset("parquet.block.row.count.limit")
        spark.conf.unset("parquet.page.row.count.limit")
        spark.conf.unset("parquet.page.size.row.check.min")
      }
      step(s.run("MATCH (a:P {k: 1}) CREATE (:P {k: 13, t: '\uffff'})-[:E {w: 1}]->(a)"))
      step(s.run("MATCH (a:P {k: 2}) CREATE (:P {k: 14, t: '\ud83d\ude00'})-[:E {w: 2}]->(a)"))
      step(s.run("MATCH (p:P {k: 3}) SET p.t = '\ud83d\ude01'"))
      step(s.run("MATCH (p:P {k: 4}) SET p.x = 99.5"))
      step(s.run("MERGE (p:P {k: 15})"))
      step(s.run("MATCH (p:P {k: 2}) DETACH DELETE p"))
      step(s.run("MATCH (p:P {k: 15}) DETACH DELETE p"))
      step(s.ingestVertexUpsertBatch("C", "ck", Seq((2L, "c2b", 20.0), (3L, "c3", 3.0))
        .toDF("ck", "name", "bal"), "cdc", 1L))
      step(s.run("MATCH (p:P {k: 5}) SET p.t = 'a5b'"))
      // one file holding NaN and -0.0 (Spark orders NaN above every double),
      // one holding U+FFFF and a non-BMP string (code-point order, not
      // UTF-16's), and one whose only double is -0.0
      step(s.run("MATCH (p:P) WHERE p.k IN [7, 8] SET p.x = CASE WHEN p.k = 7 THEN $nan ELSE $z END",
        Map("nan" -> graft.gvalue.GFloat(Double.NaN), "z" -> graft.gvalue.GFloat(-0.0))))
      step(s.run("MATCH (p:P) WHERE p.k IN [9, 10] " +
        "SET p.t = CASE WHEN p.k = 9 THEN '\uffff' ELSE '\ud835\udcb3' END"))
      step(s.run("MATCH (a:P {k: 1}) CREATE (:P {k: 16, x: $z, t: '\ud835\udcb3'})",
        Map("z" -> graft.gvalue.GFloat(-0.0))))
      step(s.run("MATCH (r:R) WHERE r.k IN [1, 290, 299, 1150, 1199] SET r.k = -r.k"))
      step(s.run("MATCH (r:R) WHERE r.k IN [-290, 600, 1190] DETACH DELETE r"))
      // R's dvs reach past the first row group of the file they hit
      val v = graft.cypher.GraphStore.latestVersion(root).get
      val rFiles = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines()
        .filter(_.startsWith("file v R ")).map(l => dec(l.split(" ")(3))).toList
      val conf = org.apache.spark.sql.graft.Bridge.hadoopConf(spark)
      // per R file: (row count, id pages) of each row group
      val groups = rFiles.map { rel =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$root/$rel"), conf))
        try rel.split('/').last -> r.getFooter.getBlocks.asScala.map(g => g.getRowCount ->
          r.readOffsetIndex(g.getColumns.asScala.find(_.getPath.toDotString == "id").get)
            .getPageCount).toList
        finally r.close()
      }.toMap
      assert(groups.values.exists(gs => gs.size >= 2 && gs.exists(_._2 >= 2)), groups)
      val firstGroup = groups.map { case (b, gs) => b -> gs.map(_._1) }
      val rDvs = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines()
        .filter(_.startsWith("dvp v R ")).toList
        .flatMap(l => Files.readAllLines(Paths.get(root, dec(l.split(" ")(3)))).asScala)
        .filter(_.nonEmpty).map(_.split(" ")).groupBy(_(0))
        .map { case (b, es) => b -> es.map(_(1).toLong) }
      assert(rDvs.exists { case (b, pos) => firstGroup.get(b).exists(g => pos.exists(_ >= g.head)) },
        rDvs)
      val r = new GraphSession(spark)
      r.openGraph("held", root)
      val g = r.graph.snapshot
      val rows = (g.vertexLabels ++ g.edgeLabels.map { case (l, df) => s"e:$l" -> df }).map {
        case (l, df) => l -> df.collect().map(_.toString).toSeq.sorted
      }
      graft.cypher.GraphStore.deleteTree(Paths.get(root))
      (rows, manifests.toSeq, positions.toSeq)
    }
    val (heldRows, heldStats, heldPos) = script()
    val (distRows, distStats, distPos) = distributed(script())
    assert(heldRows == distRows)
    assert(heldRows("R").size == 1197)
    assert(heldStats.length == distStats.length)
    heldStats.zip(distStats).zipWithIndex.foreach { case ((h, d), i) =>
      assert(h == d, s"statement ${i + 1}: manifest file lines differ")
    }
    heldPos.zip(distPos).zipWithIndex.foreach { case ((h, d), i) =>
      assert(h == d, s"statement ${i + 1}: dv positions differ")
    }
    assert(heldPos.last.exists(_.startsWith("v R ")), heldPos.last.mkString("; "))
    assert(heldStats.last.exists(_.contains(" s ")), heldStats.last.mkString("; "))
    val pLines = heldStats.flatten.filter(_.startsWith("v P "))
    assert(pLines.exists(_.endsWith(" x d -0.0 NaN")), pLines.mkString("\n"))
    assert(pLines.exists(_.endsWith(" t s %EF%BF%BF %F0%9D%92%B3 x d 4.5 5.0")), pLines.mkString("\n"))
    assert(pLines.exists(_.endsWith(" x d -0.0 -0.0")), pLines.mkString("\n"))
  }

  // A CREATE into a label whose property is already a dynamic (gtype)
  // column re-encodes no old row: it commits id-locally, not by rewriting
  // the label whole.
  test("GraphStore: CREATE into a dynamic column commits id-locally") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_store_dyn").toString
    val s = new GraphSession(spark)
    s.createGraph("dyn", root)
    s.run("UNWIND range(1, 10) AS i CREATE (:Doc {k: i})")
    s.run("MATCH (d:Doc {k: 7}) SET d.k = 'seven'")
    s.run("CREATE (:Doc {k: 999})")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toSeq
    assert(!cat.exists(_.startsWith("vlabel Doc ")), cat.mkString("\n"))
    assert(cat.exists(l => l.startsWith("file v Doc ") && l.contains(s"v$v%2F")), cat.mkString("\n"))
    val r = new GraphSession(spark)
    r.openGraph("dyn", root)
    def count(q: String): Long = r.run(q).collect().head.getLong(0)
    assert(count("MATCH (d:Doc {k: 'seven'}) RETURN count(*) AS n") == 1L)
    assert(count("MATCH (d:Doc {k: 999}) RETURN count(*) AS n") == 1L)
    assert(count("MATCH (d:Doc) RETURN count(*) AS n") == 11L)
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(root))
  }

  // A point write holds its label's change on the driver (`base − dead ∪
  // rows`); with `local.maxRows=0` every write takes the join-and-checkpoint
  // path. Both must read the same graph after each statement and commit the
  // same catalog.
  test("GraphStore: held point writes == distributed writes (reads, rows and catalog lines)") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.cypher.GraphStore.dec
    def tables(s: GraphSession): Map[String, Seq[String]] = {
      val g = s.graph.snapshot
      (g.vertexLabels ++ g.edgeLabels.map { case (l, df) => s"e:$l" -> df }).map {
        case (l, df) => l -> df.collect().map(_.toString).toSeq.sorted
      }
    }
    def script(): (Seq[Map[String, Seq[String]]], Map[String, Seq[String]], Seq[Seq[String]]) = {
      val root = Files.createTempDirectory("graft_store_pointheld").toString
      val s = new GraphSession(spark)
      s.createGraph("ph", root)
      val reads = scala.collection.mutable.ArrayBuffer.empty[Map[String, Seq[String]]]
      val catalogs = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      def step(f: => Unit): Unit = {
        f
        reads += tables(s)
        val v = graft.cypher.GraphStore.latestVersion(root).get
        // table lines, each file named by its version dir only
        catalogs += scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toSeq
          .filter(l => Seq("vlabel ", "elabel ", "file ", "dvp ").exists(l.startsWith))
          .map { l =>
            val p = l.split(" ")
            if (p(0) == "file" || p(0) == "dvp")
              (p.take(3) ++ Seq(dec(p(3)).takeWhile(_ != '/')) ++ p.drop(4)).mkString(" ")
            else l
          }.sorted
      }
      // ingested labels; their keys sit above the ids CREATE numbers
      step(s.ingestVertexBatch("P", "pk", (1 to 12).map(i => (1000L + i, i.toLong, i * 10L, s"t$i"))
        .toDF("pk", "k", "v", "t"), "load", 0L))
      step(s.ingestEdgeBatch("E", "ek", "P", "src", "P", "dst",
        (1 to 11).map(i => (1000L + i, 1000L + i, 1001L + i, i.toLong)).toDF("ek", "src", "dst", "w"),
        "load", 1L))
      step(s.ingestVertexBatch("Q", "qk", (1 to 6).map(i => (1000L + i, i.toLong)).toDF("qk", "v"),
        "load", 2L))
      // CREATE with an edge, twice (the second into held rows)
      step(s.run("MATCH (a:P {k: 1}) CREATE (:P {k: 13, v: 0})-[:E {w: 100}]->(a)"))
      step(s.run("MATCH (a:P {k: 1}) CREATE (:P {k: 14, v: 1})-[:E {w: 101}]->(a)"))
      // a repeated SET of one id, the second adding a property
      step(s.run("MATCH (p:P {k: 4}) SET p.v = 40"))
      step(s.run("MATCH (p:P {k: 4}) SET p.u = 'x'"))
      step(s.run("MATCH (p:P {k: 4}) SET p.v = 41"))
      // SET of a created id, and of an edge
      step(s.run("MATCH (p:P {k: 13}) SET p.v = 130"))
      step(s.run("MATCH ()-[e:E {w: 100}]->() SET e.w = 110"))
      // SET then DELETE of the same id in one statement
      step(s.run("MATCH (p:P {k: 5}) SET p.v = 50 DETACH DELETE p"))
      step(s.run("MATCH (p:P {k: 6}) REMOVE p.t"))
      step(s.run("MERGE (p:P {k: 15})"))
      step(s.run("MATCH (p:P {k: 15}) SET p.v = 150"))
      // DETACH DELETE with an edge cascade
      step(s.run("MATCH (p:P {k: 1}) DETACH DELETE p"))
      // a statement that fails after its writes rolls them back
      step(intercept[Exception](s.run(
        "MATCH (n:P {k: 3}) SET n.v = 77 DETACH DELETE n CREATE (n)-[:E {w: 9}]->(:P {k: 98})")))
      step(s.run("MATCH (p:P {k: 3}) SET p.v = 33"))
      step(s.run("MATCH (p:P {k: 8}) DETACH DELETE p"))
      // a type-changing SET takes the whole-label path, a CREATE and a SET
      // after it the held one
      step(s.run("MATCH (q:Q {qk: 1002}) SET q.v = 'two'"))
      step(s.run("CREATE (:Q {v: 7, n: 'q7'})"))
      step(s.run("MATCH (q:Q {n: 'q7'}) SET q.w = 70"))
      // and on a held label, it rewrites the label whole from its held form
      step(s.run("MATCH (p:P {k: 7}) SET p.v = 'seven'"))
      val r = new GraphSession(spark)
      r.openGraph("ph", root)
      val reopened = tables(r)
      graft.cypher.GraphStore.deleteTree(Paths.get(root))
      (reads.toSeq, reopened, catalogs.toSeq)
    }
    val (heldReads, heldRows, heldCats) = script()
    val (distReads, distRows, distCats) = distributed(script())
    assert(heldReads.length == distReads.length)
    heldReads.zip(distReads).zipWithIndex.foreach { case ((h, d), i) =>
      assert(h == d, s"statement ${i + 1}: in-memory reads differ")
    }
    assert(heldRows == distRows)
    assert(heldRows("P").size == 12, heldRows("P").mkString("\n"))
    assert(heldRows("Q").size == 7, heldRows("Q").mkString("\n"))
    // but the last: a whole-label rewrite lays the rows out in files by the
    // table's partitions, which differ between the held and the joined
    // form. So do the files of Q's rewrite at statement 19 (a held base in
    // one run, a checkpoint in the other), which its catalog lists from
    // statement 20 on: those are compared by their envelope, the number of
    // files and the least min and greatest max of each stat
    def envelope(lines: Seq[String]): Seq[String] = {
      val (v19, rest) = lines.partition(_.startsWith("file v Q v19 "))
      val stats = v19.map(_.split(" ").drop(4)).flatMap(p =>
        ("id", "l", p(0), p(1)) +: p.drop(2).grouped(4).map(g => (g(0), g(1), g(2), g(3))).toSeq)
      // a long stat compares as a number, any other as its token
      def least(ty: String, xs: Seq[String]): String =
        if (ty == "l") xs.minBy(BigInt(_)) else xs.min
      def greatest(ty: String, xs: Seq[String]): String =
        if (ty == "l") xs.maxBy(BigInt(_)) else xs.max
      rest ++ Seq(s"Q v19 files ${v19.size}") ++
        stats.groupBy(t => (t._1, t._2)).toSeq.sortBy(_._1).map { case ((n, ty), xs) =>
          s"Q v19 $n $ty ${least(ty, xs.map(_._3))} ${greatest(ty, xs.map(_._4))}"
        }
    }
    heldCats.zip(distCats).init.zipWithIndex.foreach { case ((h, d), i) =>
      assert(envelope(h) == envelope(d), s"statement ${i + 1}: catalog table lines differ")
    }
    // the point writes committed merge-on-read, the type-changing SETs whole
    assert(heldCats(11).exists(_.startsWith("dvp v P ")), heldCats(11).mkString("\n"))
    assert(heldCats(18).exists(_.startsWith("vlabel Q ")), heldCats(18).mkString("\n"))
    assert(heldCats(19).count(_.startsWith("file v Q v19 ")) > 1, heldCats(19).mkString("\n"))
    assert(heldCats(20).exists(_.startsWith("dvp v Q ")) ||
      heldCats(20).exists(_.startsWith("file v Q ")), heldCats(20).mkString("\n"))
    assert(heldCats.last.exists(_.startsWith("vlabel P ")), heldCats.last.mkString("\n"))
  }

  // Each point write on a durable graph runs a fixed number of Spark jobs:
  // CREATE numbers its rows (one collect of the MATCH), SET reads the
  // target and collects its current version, MERGE's probe is pruned by the
  // manifest stats, and DETACH DELETE reads the target and its edges.
  test("GraphStore: point write job counts (CREATE <= 1, SET <= 2, MERGE 0, DETACH DELETE <= 3)") {
    import java.nio.file.Files
    import spark.implicits._
    val root = Files.createTempDirectory("graft_store_jobs").toString
    val b = new GraphSession(spark)
    b.createGraph("jobs", root)
    b.ingestVertexBatch("N", "nk", (1 to 5).map(i => (i.toLong, s"n$i")).toDF("nk", "name"), "load", 0L)
    b.run("UNWIND range(1, 50) AS i CREATE (:Item {k: i, v: i})")
    val s = new GraphSession(spark)
    s.openGraph("jobs", root)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    def jobsOf(q: String, k: Int): Int = {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      val before = listener.synchronized(jobs)
      s.run(q, Map("k" -> graft.gvalue.GInt(k))).collect()
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      listener.synchronized(jobs) - before
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (0 until 4).foreach { round =>
        val k = 100 + 2 * round
        val counts = Seq(
          "create" -> jobsOf("MATCH (x:N) WHERE x.name = 'n2' CREATE (:Item {k: $k, v: 1})-[:OF]->(x)", k),
          "set" -> jobsOf("MATCH (i:Item) WHERE i.k = $k SET i.v = 7", 3 + round),
          "merge" -> jobsOf(s"MERGE (i:Item {k: ${k + 1}})", 0),
          "delete" -> jobsOf("MATCH (i:Item) WHERE i.k = $k DETACH DELETE i", k + 1)).toMap
        // the first two rounds create the edge label and lay the labels out as files
        if (round > 1) {
          assert(counts("create") <= 1, counts)
          assert(counts("set") <= 2, counts)
          assert(counts("merge") == 0, counts)
          assert(counts("delete") <= 3, counts)
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val r = new GraphSession(spark)
    r.openGraph("jobs", root)
    assert(r.run("MATCH (i:Item) RETURN count(*) AS n").collect().head.getLong(0) == 54L)
    assert(r.run("MATCH (i:Item)-[:OF]->(x:N) RETURN count(*) AS n").collect().head.getLong(0) == 4L)
    assert(r.run("MATCH (i:Item {k: 6}) RETURN i.v AS v").collect().head.getLong(0) == 7L)
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(root))
  }

  // A durable label of at most Local.HeldLabelRows rows is held on the
  // driver from open, so its reads run no job and a literal MATCH does not
  // swap the held rows for a parquet scan; one row more keeps the
  // checkpoint, whose literal MATCH reads only the files its stats keep,
  // in one job; under local.maxRows=0 every label is checkpointed. The
  // open reads each label in one job, with the columns, in their order and
  // types, that inferring its files' schemas gives.
  test("GraphStore: a label of Local.HeldLabelRows rows is held from open, one more is checkpointed") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.gvalue.GInt
    val n = graft.Local.HeldLabelRows
    val root = Files.createTempDirectory("graft_store_heldbound").toString
    val b = new GraphSession(spark)
    b.createGraph("hb", root)
    // two statements each: file-form labels with per-file stats
    b.run(s"UNWIND range(1, ${n - 1}) AS i CREATE (:H {k: i, v: i})")
    b.run(s"CREATE (:H {k: $n, v: $n})")
    b.run(s"UNWIND range(1, $n) AS i CREATE (:C {k: i, v: i})")
    b.run(s"CREATE (:C {k: ${n + 1}, v: ${n + 1}})")
    // a column the second statement adds, after one sorting after it
    b.run("CREATE (:O {z: 1})")
    b.run("CREATE (:O {a: 2})")
    def held(s: GraphSession, l: String): Boolean =
      s.graph.snapshot.vertexLabels(l).queryExecution.analyzed.isInstanceOf[LocalRelation]
    def one(s: GraphSession, q: String, k: Long): Long =
      s.run(q, Map("k" -> GInt(k))).collect().head.getLong(0)
    val point = Map("H" -> "MATCH (i:H) WHERE i.k = $k RETURN i.v AS v",
      "C" -> "MATCH (i:C) WHERE i.k = $k RETURN i.v AS v")
    val count = Map("H" -> "MATCH (i:H) RETURN count(*) AS n",
      "C" -> "MATCH (i:C) RETURN count(*) AS n")
    val s = new GraphSession(spark)
    val openJobs = jobsOf(s.openGraph("hb", root))
    assert(held(s, "H") && !held(s, "C"))
    assert(jobsOf(assert(one(s, point("H"), 17L) == 17L)) == 0)
    assert(jobsOf(assert(one(s, count("H"), 0L) == n.toLong)) == 0)
    assert(jobsOf(assert(one(s, point("C"), 17L) == 17L)) >= 1)
    assert(one(s, count("C"), 0L) == n + 1L)
    // a held label's literal MATCH consults no stats
    s.graph.lastPruneInfo = None
    assert(jobsOf(assert(one(s, s"MATCH (i:H {k: $n}) RETURN i.v AS v", 0L) == n.toLong)) == 0)
    assert(s.graph.lastPruneInfo.isEmpty, s.graph.lastPruneInfo.toString)
    // a checkpointed one reads the kept files with the label's schema: one
    // job, no footer merge
    s.graph.lastPruneInfo = None
    val literal = s"MATCH (i:C {k: ${n + 1}}) RETURN i.v AS v"
    assert(jobsOf(assert(one(s, literal, 0L) == n + 1L)) == 1)
    val (kept, total) = s.graph.lastPruneInfo.getOrElse(fail("the stats were not consulted"))
    assert(kept < total, s"kept=$kept total=$total")
    val d = new GraphSession(spark)
    val distOpenJobs = distributed(jobsOf(d.openGraph("hb", root)))
    assert(!held(d, "H") && !held(d, "C"))
    // one job per label either way, but for C, within the byte estimate
    // and one row past the row bound: its collect, then its checkpoint
    assert(distOpenJobs == 3, s"$distOpenJobs jobs to open 3 labels checkpointed")
    assert(openJobs == distOpenJobs + 1, s"$openJobs jobs held, $distOpenJobs checkpointed")
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val files = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toSeq
      .filter(_.startsWith("file v ")).map(_.split(" ")).groupBy(_(2))
      .map { case (l, ps) => l -> ps.map(p => s"$root/${graft.cypher.GraphStore.dec(p(3))}") }
    assert(files.keySet == Set("H", "C", "O"), files.keySet)
    files.foreach { case (l, paths) =>
      val inferred = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
      Seq(s, d).foreach(g => assert(g.graph.snapshot.vertexLabels(l).schema == inferred, l))
    }
    assert(s.graph.snapshot.vertexLabels("O").columns.toSeq == Seq("id", "z", "a"))
    assert(one(d, point("H"), 17L) == 17L && one(d, count("H"), 0L) == n.toLong)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  // A label whose files pass Local.HeldLabelBytes stays checkpointed,
  // however few its rows, and its open runs no collect.
  test("GraphStore: a label past Local.HeldLabelBytes is checkpointed at open") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.functions.{col, concat, sha2}
    val root = Files.createTempDirectory("graft_store_heldbytes").toString
    val b = new GraphSession(spark)
    b.createGraph("hbytes", root)
    // 4 KiB of hex per row, which parquet stores about as large
    val rows = (graft.Local.HeldLabelBytes / 4096 + 64).toInt
    val t = concat((0 until 64).map(j => sha2((col("id") * 131 + j).cast("string"), 256)): _*)
    b.ingestVertexBatch("W", "wk", spark.range(1, rows + 1)
      .select(col("id").as("wk"), col("id").as("k"), t.as("t")), "load", 0L)
    val s = new GraphSession(spark)
    val openJobs = jobsOf(s.openGraph("hbytes", root))
    val w = s.graph.snapshot.vertexLabels("W")
    assert(rows <= graft.Local.HeldLabelRows)
    assert(!w.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(openJobs == distributed(jobsOf(new GraphSession(spark).openGraph("hbytes", root))))
    assert(s.run("MATCH (x:W) RETURN count(*) AS n").collect().head.getLong(0) == rows.toLong)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  // A label held at open is re-based by its state's own size estimate,
  // the bytes its open recorded plus its held rows' real bytes: once held
  // writes of wide rows take it past Local.HeldLabelBytes, its next re-base
  // checkpoints it. (A LocalRelation's schema estimate counts 20 bytes a
  // string, which kept such a label on the driver.)
  test("GraphStore: a held label whose held writes pass Local.HeldLabelBytes is checkpointed at its re-base") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val root = Files.createTempDirectory("graft_store_heldgrow").toString
    // 4 KiB a row on the driver; parquet stores the repeated value once
    val t = Map("t" -> graft.gvalue.GString("x" * 4096))
    val b = new GraphSession(spark)
    b.createGraph("hgrow", root)
    b.run("UNWIND range(1, 64) AS i CREATE (:W {k: i, c: i, t: $t})", t)
    val s = new GraphSession(spark)
    s.openGraph("hgrow", root)
    def held: Boolean =
      s.graph.snapshot.vertexLabels("W").queryExecution.analyzed.isInstanceOf[LocalRelation]
    assert(held)
    // a type-changing SET re-bases the label, within the bound
    s.run("MATCH (w:W {k: 1}) SET w.c = 'one'")
    assert(held)
    // held CREATEs of more wide rows than the bound holds
    val n = (graft.Local.HeldLabelBytes / 4096 + 64).toInt
    s.run(s"UNWIND range(65, ${64 + n}) AS i CREATE (:W {k: i, t: $$t})", t)
    s.run("MATCH (w:W {k: 2}) SET w.c = 'two'")
    assert(!held, "a label past Local.HeldLabelBytes stayed on the driver at its re-base")
    assert(s.run("MATCH (w:W) RETURN count(*) AS n").collect().head.getLong(0) == 64L + n)
    assert(s.run("MATCH (w:W) WHERE w.c = 'two' RETURN count(*) AS n").collect().head.getLong(0) == 1L)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
    // an append whose `c` conflicts with the label's type re-encodes the
    // label and re-bases it, gated by the appended rows' real bytes
    val root2 = Files.createTempDirectory("graft_store_heldgrow").toString
    val b2 = new GraphSession(spark)
    b2.createGraph("hgrow2", root2)
    b2.run("UNWIND range(1, 64) AS i CREATE (:W {k: i, c: i, t: $t})", t)
    val s2 = new GraphSession(spark)
    s2.openGraph("hgrow2", root2)
    def held2: Boolean =
      s2.graph.snapshot.vertexLabels("W").queryExecution.analyzed.isInstanceOf[LocalRelation]
    assert(held2)
    s2.run(s"UNWIND range(65, ${64 + n}) AS i CREATE (:W {k: i, c: 'wide', t: $$t})", t)
    assert(!held2, "a label past Local.HeldLabelBytes by a re-encoding append stayed on the driver")
    assert(s2.run("MATCH (w:W) WHERE w.c = 'wide' RETURN count(*) AS n").collect().head.getLong(0) == n)
    graft.cypher.GraphStore.deleteTree(Paths.get(root2))
  }

  // Ingest-append batches into an existing durable label join its held
  // rows: the label is neither re-based batch by batch nor grows a part per
  // batch, so the 20th batch costs the jobs of the 2nd, and so does a read.
  test("GraphStore: ingest-append batches cost the same jobs at batch 2 and batch 20") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_store_appends").toString
    val s = new GraphSession(spark)
    s.createGraph("appends", root)
    s.ingestVertexBatch("A", "ak", (1 to 100).map(i => (i.toLong, i.toLong)).toDF("ak", "k"), "load", 0L)
    def batch(i: Int): Int = jobsOf(s.ingestVertexBatch("A", "ak",
      (1 to 5).map(j => (1000L + 10 * i + j, i.toLong)).toDF("ak", "k"), "load", i.toLong))
    def reads(): Seq[Int] = Seq("MATCH (a:A) RETURN count(*) AS n",
      "MATCH (a:A) WHERE a.k = 3 RETURN a.ak AS ak").map(q => jobsOf(s.run(q).collect()))
    val jobs = (1 to 20).map { i =>
      val j = batch(i)
      j -> (if (i == 2 || i == 20) reads() else Nil)
    }
    assert(jobs(19)._1 == jobs(1)._1, s"jobs per batch: ${jobs.map(_._1)}")
    assert(jobs(19)._2.zip(jobs(1)._2).forall { case (b20, b2) => b20 <= b2 },
      s"read jobs after batch 2: ${jobs(1)._2}, after batch 20: ${jobs(19)._2}")
    assert(s.run("MATCH (a:A) RETURN count(*) AS n").collect().head.getLong(0) == 200L)
    val r = new GraphSession(spark)
    r.openGraph("appends", root)
    assert(r.run("MATCH (a:A) RETURN count(*) AS n").collect().head.getLong(0) == 200L)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  // A batch whose size estimate passes Local.WriteBytes is checkpointed and
  // unioned onto the label as one part, with no re-base of the label: the
  // 16th batch costs the jobs of the 2nd. The 17th part re-bases it.
  test("GraphStore: ingest-append batches past Local.WriteBytes union onto the label until MaxParts") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.{col, lit}
    val root = Files.createTempDirectory("graft_store_bigappends").toString
    val s = new GraphSession(spark)
    s.createGraph("bigappends", root)
    // short strings, which Spark's estimate counts 20 bytes each
    val n = 12000L
    def frame(i: Int) = spark.range(i * n, (i + 1) * n)
      .select(col("id").as("bk") +: (0 until 10).map(j => lit(s"s$j").as(s"p$j")): _*)
    assert(graft.Local.sizeOf(frame(1)) > graft.Local.WriteBytes)
    s.ingestVertexBatch("B", "bk", frame(0), "load", 0L)
    def parts(): Int = s.graph.snapshot.vertexLabels("B").queryExecution.analyzed.collectLeaves().size
    val max = graft.cypher.MutableGraph.MaxParts
    val jobs = (1 to max).map { i =>
      val j = jobsOf(s.ingestVertexBatch("B", "bk", frame(i), "load", i.toLong))
      assert(parts() == i + 1, s"after batch $i")
      j
    }
    assert(jobs.drop(1).forall(_ == jobs(1)), s"jobs per batch: $jobs")
    s.ingestVertexBatch("B", "bk", frame(max + 1), "load", max + 1L)
    assert(parts() == 1, "a label of more than MaxParts parts was not re-based")
    val count = "MATCH (b:B) RETURN count(*) AS n"
    assert(s.run(count).collect().head.getLong(0) == (max + 2) * n)
    val r = new GraphSession(spark)
    r.openGraph("bigappends", root)
    assert(r.run(count).collect().head.getLong(0) == (max + 2) * n)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  // A key appended again keeps every copy, in memory and in the store: a
  // repeat of a base key joins the held rows, and a repeat of a held key
  // rewrites every copy of it. Both modes give the same rows.
  test("GraphStore: a key appended again keeps every copy in the store as in memory") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    def script(): (Seq[String], Seq[String]) = {
      val root = Files.createTempDirectory("graft_store_reappend").toString
      val s = new GraphSession(spark)
      s.createGraph("reappend", root)
      def batch(i: Long, keys: Long*): Unit =
        s.ingestVertexBatch("R", "rk", keys.map(k => (k, i)).toDF("rk", "b"), "load", i)
      batch(0, 1, 2, 3)
      batch(1, 4, 1)
      batch(2, 4, 1)
      batch(3, 5, 5)
      def rows(g: GraphSession): Seq[String] =
        g.run("MATCH (r:R) RETURN r.rk AS k, r.b AS b").collect().map(_.toString).toSeq.sorted
      val r = new GraphSession(spark)
      r.openGraph("reappend", root)
      val out = (rows(s), rows(r))
      graft.cypher.GraphStore.deleteTree(Paths.get(root))
      out
    }
    val want = Seq((1, 0), (1, 1), (1, 2), (2, 0), (3, 0), (4, 1), (4, 2), (5, 3), (5, 3))
      .map { case (k, b) => s"[$k,$b]" }
    val held = script()
    assert(held == ((want, want)), s"in memory, then after a reopen: $held")
    assert(distributed(script()) == held)
  }

  test("GraphStore: held and checkpointed label bases give the same reads and writes after a reopen") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import spark.implicits._
    val root = Files.createTempDirectory("graft_store_heldbase").toString
    val b = new GraphSession(spark)
    b.createGraph("hbase", root)
    b.ingestVertexBatch("N", "nk", (1 to 5).map(i => (i.toLong, s"n$i")).toDF("nk", "name"), "load", 0L)
    b.run("UNWIND range(1, 40) AS i MATCH (x:N) WHERE x.nk = i % 5 + 1 " +
      "CREATE (:Item {k: i, v: i})-[:OF]->(x)")
    b.run("CREATE (:Item {k: 41, v: 41})")
    def tables(s: GraphSession): Seq[String] = {
      val g = s.graph.snapshot
      (g.vertexLabels ++ g.edgeLabels.map { case (l, df) => s"e:$l" -> df }).toSeq.sortBy(_._1)
        .flatMap { case (l, df) => df.collect().map(r => s"$l $r").sorted }
    }
    // each run opens the same version of the store and writes its own next
    // versions; the store is copied so both start from the same files
    def script(checkpointed: Boolean): Seq[Seq[String]] = {
      val copy = Files.createTempDirectory("graft_store_heldbase_run")
      Files.walk(Paths.get(root)).forEach { p =>
        val to = copy.resolve(Paths.get(root).relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      }
      val s = new GraphSession(spark)
      if (checkpointed) distributed(s.openGraph("hbase", copy.toString))
      else s.openGraph("hbase", copy.toString)
      assert(s.graph.snapshot.vertexLabels("Item").queryExecution.analyzed
        .isInstanceOf[LocalRelation] != checkpointed)
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      def step(q: String): Unit = {
        out += s.run(q).collect().map(_.toString).toSeq.sorted
        out += tables(s)
      }
      step("MATCH (i:Item) WHERE i.k = 7 RETURN i.v AS v")
      step("MATCH (i:Item) RETURN count(*) AS n")
      step("MATCH (i:Item) WHERE i.k = 3 SET i.v = 30")
      step("MATCH (i:Item {k: 4}) DETACH DELETE i")
      step("MATCH (x:N {nk: 2}) DETACH DELETE x")
      out += Seq(intercept[IllegalStateException](s.run("MATCH (x:N {nk: 3}) DELETE x")).getMessage)
      step("MATCH (i:Item {k: 41}) DELETE i")
      s.ingestVertexUpsertBatch("N", "nk", Seq((1L, "n1b"), (6L, "n6")).toDF("nk", "name"), "cdc", 1L)
      out += tables(s)
      step("MATCH (x:N) RETURN x.name AS name")
      val r = new GraphSession(spark)
      r.openGraph("hbase", copy.toString)
      out += tables(r)
      graft.cypher.GraphStore.deleteTree(copy)
      out.toSeq
    }
    val held = script(checkpointed = false)
    val checkpointed = script(checkpointed = true)
    held.zip(checkpointed).zipWithIndex.foreach { case ((h, c), i) =>
      assert(h == c, s"step $i differs")
    }
    assert(held.last.count(_.startsWith("Item ")) == 39, held.last.mkString("\n"))
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  // DETACH DELETE of driver-held ids filters each edge label by its
  // endpoints; of ids that are not held (local.maxRows=0) it semi-joins
  // them. Both give the same graph, and a plain DELETE refuses the same.
  test("DETACH DELETE's endpoint filter == its semi-join (held ids vs distributed)") {
    import spark.implicits._
    def script(): Seq[Seq[String]] = {
      val s = new GraphSession(spark)
      s.createGraph("cascade")
      s.run("UNWIND range(1, 12) AS i CREATE (:V {k: i})")
      s.run("MATCH (a:V), (b:V) WHERE b.k = a.k % 12 + 1 CREATE (a)-[:R {w: a.k}]->(b)")
      s.run("MATCH (a:V), (b:V) WHERE a.k % 3 = 0 AND b.k = 2 CREATE (a)-[:S {w: a.k}]->(b)")
      // edges without their ids: the two runs number the created edges in
      // the row order of their MATCH, which differs
      def tables(): Seq[String] = {
        val g = s.graph.snapshot
        (g.vertexLabels ++ g.edgeLabels.map { case (l, df) => s"e:$l" -> df.drop("id") })
          .toSeq.sortBy(_._1).flatMap { case (l, df) => df.collect().map(r => s"$l $r").sorted }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      out += Seq(intercept[IllegalStateException](
        s.run("MATCH (v:V) WHERE v.k IN [2, 5] DELETE v")).getMessage)
      out += tables()
      s.run("MATCH (v:V) WHERE v.k IN [1, 6, 7] DETACH DELETE v")
      out += tables()
      s.run("MATCH (v:V) WHERE v.k IN [9] DETACH DELETE v")
      out += tables()
      s.run("MATCH (v:V {k: 4})-[e:R]->() DELETE e")
      s.run("MATCH ()-[e:R]->(v:V {k: 4}) DELETE e")
      s.run("MATCH (v:V {k: 4}) DELETE v")
      out += tables()
      out.toSeq
    }
    val held = script()
    val joined = distributed(script())
    assert(held == joined)
    // 1, 6, 7, 9 and 4 are gone with every edge they touched
    assert(held.last.count(_.startsWith("V ")) == 7, held.last.mkString("\n"))
    assert(held.last.count(_.startsWith("e:R ")) == 3, held.last.mkString("\n"))
    assert(held.last.count(_.startsWith("e:S ")) == 2, held.last.mkString("\n"))
  }

  /** Every label's rows of `s`'s graph, one line each, sorted per label. */
  private def labelRows(s: GraphSession): Seq[String] = {
    val g = s.graph.snapshot
    (g.vertexLabels ++ g.edgeLabels.map { case (l, df) => s"e:$l" -> df }).toSeq.sortBy(_._1)
      .flatMap { case (l, df) => df.collect().map(r => s"$l $r").sorted }
  }

  // A CDC upsert batch held on the driver replaces its keys' rows in the
  // label's held state (the keys join dead, the batch rows the held rows);
  // under local.maxRows=0 the label without the batch's keys, plus the
  // batch, becomes the new base. Both give the same tables after every
  // batch and after a reopen, for a key in base, a key an earlier upsert
  // holds, a key appended twice, a key twice in one batch, new keys, and a
  // batch whose type conflicts with the label's (re-based in both runs).
  test("GraphStore: held upserts == distributed upserts, batch by batch and after a reopen") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    def script(): (Seq[Seq[String]], Seq[String], Seq[Seq[String]]) = {
      val root = Files.createTempDirectory("graft_store_upserts").toString
      val s = new GraphSession(spark)
      s.createGraph("upserts", root)
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val cats = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      def step(f: => Unit): Unit = {
        f
        out += labelRows(s)
        val v = graft.cypher.GraphStore.latestVersion(root).get
        cats += scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines()
          .filter(l => l.startsWith("vlabel C ") || l.startsWith("dvp v C ")).map(_.split(" ").take(3).mkString(" ")).toSeq
      }
      var cdc = 0L
      // one partition: the distributed dedup then keeps a key's first row,
      // as the held one does
      def upsert(df: org.apache.spark.sql.DataFrame): Unit = step {
        s.ingestVertexUpsertBatch("C", "ck", df.coalesce(1), "cdc", cdc)
        cdc += 1
      }
      def rows(rs: (Long, String, Long)*) = rs.toDF("ck", "name", "bal")
      step(s.ingestVertexBatch("C", "ck", (1L to 8L).map(k => (k, s"c$k", k * 10)).toDF("ck", "name", "bal"),
        "load", 0L))
      upsert(rows((3L, "c3b", 31L), (20L, "c20", 200L)))
      upsert(rows((20L, "c20b", 201L), (3L, "c3c", 32L), (21L, "c21", 210L)))
      step(s.ingestVertexBatch("C", "ck", Seq((5L, "c5x", 51L), (5L, "c5y", 52L)).toDF("ck", "name", "bal"),
        "load", 1L))
      upsert(rows((5L, "c5b", 53L), (6L, "c6b", 61L), (6L, "c6c", 62L), (22L, "c22", 220L)))
      upsert(Seq((7L, "c7b", "seventy"), (24L, "c24", "n/a")).toDF("ck", "name", "bal"))
      upsert(rows((3L, "c3d", 33L), (23L, "c23", 230L)))
      val r = new GraphSession(spark)
      r.openGraph("upserts", root)
      val reopened = labelRows(r)
      graft.cypher.GraphStore.deleteTree(Paths.get(root))
      (out.toSeq, reopened, cats.toSeq)
    }
    val (held, heldReopened, heldCats) = script()
    val (dist, distReopened, distCats) = distributed(script())
    held.zip(dist).zipWithIndex.foreach { case ((h, d), i) => assert(h == d, s"batch ${i + 1} differs") }
    assert(held.length == dist.length && heldReopened == distReopened)
    assert(heldReopened == held.last)
    // 1..8 plus 20..24, key 5 once (the upsert replaced every copy) and key
    // 6 once
    assert(held.last.size == 13, held.last.mkString("\n"))
    assert(held.last.count(_.startsWith("C [844424930131973,")) == 1, held.last.mkString("\n"))
    assert(held.last.count(_.startsWith("C [844424930131974,")) == 1, held.last.mkString("\n"))
    // in both runs each point upsert committed merge-on-read, one more dv
    // file, and the type-conflicting one rewrote the label whole
    Seq(heldCats, distCats).foreach { cats =>
      def dvps(i: Int) = cats(i).count(_ == "dvp v C")
      Seq(1, 2, 4, 6).foreach(i => assert(dvps(i) == dvps(i - 1) + 1, s"batch ${i + 1}: ${cats(i)}"))
      assert(cats(5).exists(_.startsWith("vlabel C")), cats(5))
    }
  }

  // An upsert of a batch held on the driver into a label held on the
  // driver runs no Spark job: the batch joins the held state, the commit
  // writes its rows from the driver and reads tombstone positions there.
  // The first upsert after the open first lays the label's directory out
  // as files, which reads their stats in Spark.
  test("GraphStore: an upsert of a driver-held batch into a held label runs no Spark job") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_store_upsertjobs").toString
    val b = new GraphSession(spark)
    b.createGraph("upsertjobs", root)
    b.ingestVertexBatch("C", "ck", (1L to 200L).map(k => (k, s"c$k", k)).toDF("ck", "name", "bal"), "load", 0L)
    val s = new GraphSession(spark)
    s.openGraph("upsertjobs", root)
    def upsert(i: Long): Int = jobsOf(s.ingestVertexUpsertBatch("C", "ck",
      Seq((i, s"u$i", -i), (1000L + i, s"n$i", i)).toDF("ck", "name", "bal"), "cdc", i))
    upsert(1L)
    val jobs = (2L to 6L).map(upsert)
    assert(jobs.forall(_ == 0), s"jobs per upsert: $jobs")
    assert(jobsOf(s.run("MATCH (c:C) RETURN count(*) AS n").collect()) == 0)
    // a label a batch created keeps that batch's checkpoint as its base:
    // its first upsert re-bases it onto the driver, after which upserts and
    // reads run no job either
    def upsertD(i: Long): Int = jobsOf(s.ingestVertexUpsertBatch("D", "dk",
      Seq((i, s"d$i"), (i + 1, s"e$i")).toDF("dk", "name"), "cdcd", i))
    upsertD(0L)
    upsertD(1L)
    assert(Seq(upsertD(2L), upsertD(3L)) == Seq(0, 0))
    assert(jobsOf(s.run("MATCH (d:D) RETURN count(*) AS n").collect()) == 0)
    assert(s.run("MATCH (d:D) RETURN count(*) AS n").collect().head.getLong(0) == 5L)
    val r = new GraphSession(spark)
    r.openGraph("upsertjobs", root)
    assert(labelRows(r) == labelRows(s))
    assert(r.run("MATCH (c:C) WHERE c.ck = 4 RETURN c.name AS n").collect().map(_.getString(0)).toSeq == Seq("u4"))
    assert(r.run("MATCH (c:C) RETURN count(*) AS n").collect().head.getLong(0) == 206L)
    graft.cypher.GraphStore.deleteTree(Paths.get(root))
  }

  // A null ingest key fails its batch on every path, naming the label and
  // the key column, and the graph and its store keep the state before it.
  test("GraphStore: a null ingest key fails its batch, naming the label and the key") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    def script(): Unit = {
      val root = Files.createTempDirectory("graft_store_nullkey").toString
      val s = new GraphSession(spark)
      s.createGraph("nullkey", root)
      s.ingestVertexBatch("N", "nk", Seq((Option(1L), "a"), (Option(2L), "b")).toDF("nk", "name"), "load", 0L)
      s.ingestEdgeBatch("E", "ek", "N", "src", "N", "dst", Seq((1L, 1L, 2L)).toDF("ek", "src", "dst"), "load", 1L)
      val (before, v) = (labelRows(s), graft.cypher.GraphStore.latestVersion(root))
      def fails(msg: String)(body: => Unit): Unit = {
        val e = intercept[Exception](body)
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(_.contains(msg))), e.toString)
        assert(labelRows(s) == before && graft.cypher.GraphStore.latestVersion(root) == v)
      }
      val nk = "ingest key nk of label N is null"
      fails(nk)(s.ingestVertexBatch("N", "nk", Seq((Option(3L), "c"), (None, "d")).toDF("nk", "name"), "load", 2L))
      fails(nk)(s.ingestVertexUpsertBatch("N", "nk", Seq((Option(1L), "a2"), (None, "d")).toDF("nk", "name"),
        "cdc", 0L))
      fails("ingest key nk of label M is null")(s.ingestVertexUpsertBatch("M", "nk",
        Seq((Option.empty[Long], "m")).toDF("nk", "name"), "cdc", 0L))
      fails("ingest key dst of label N is null")(s.ingestEdgeBatch("E", "ek", "N", "src", "N", "dst",
        Seq((2L, Option(2L), Option.empty[Long])).toDF("ek", "src", "dst"), "load", 2L))
      fails("ingest key ek of label E is null")(s.ingestEdgeBatch("E", "ek", "N", "src", "N", "dst",
        Seq((Option.empty[Long], 2L, 1L)).toDF("ek", "src", "dst"), "load", 2L))
      // the failed batches left their ids to a retry
      s.ingestVertexUpsertBatch("N", "nk", Seq((Option(1L), "a2")).toDF("nk", "name"), "cdc", 0L)
      assert(graft.cypher.GraphStore.latestVersion(root) == v.map(_ + 1))
      assert(s.run("MATCH (n:N) RETURN n.name AS n").collect().map(_.getString(0)).sorted.toSeq == Seq("a2", "b"))
      graft.cypher.GraphStore.deleteTree(Paths.get(root))
    }
    script()
    distributed(script())
  }

  // Every ingest batch, append or upsert, held or checkpointed, raises its
  // label's entry sequence to its largest key, so a CREATE into the label
  // takes an id no ingested key packs to, before and after a reopen.
  test("GraphStore: a CREATE into a key-ingested label takes an id past every ingested key") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    def script(): Seq[Long] = {
      val root = Files.createTempDirectory("graft_store_ingestnext").toString
      val s = new GraphSession(spark)
      s.createGraph("ingestnext", root)
      def keys(from: Long, to: Long) = (from to to).map(k => (k, k)).toDF("lk", "k")
      s.ingestVertexBatch("L", "lk", keys(1L, 1000L), "load", 0L)
      s.ingestVertexBatch("L", "lk", keys(1001L, 2000L), "load", 1L)
      s.ingestVertexUpsertBatch("L", "lk", keys(1990L, 3000L), "cdc", 0L)
      s.run("CREATE (:L {k: 5000})")
      def ids(g: GraphSession): Seq[Long] =
        g.run("MATCH (l:L) RETURN id(l) AS i").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids(s).distinct.size == 3001, ids(s).takeRight(3))
      val r = new GraphSession(spark)
      r.openGraph("ingestnext", root)
      assert(ids(r) == ids(s))
      r.run("CREATE (:L {k: 5001})")
      val out = ids(r)
      assert(out.distinct.size == 3002, out.takeRight(3))
      graft.cypher.GraphStore.deleteTree(Paths.get(root))
      out
    }
    val held = script()
    assert(held.takeRight(2).map(_ & ((1L << 48) - 1)) == Seq(3001L, 3002L), held.takeRight(2))
    assert(distributed(script()) == held)
  }

  // RowNumber numbers a frame past the write bound over an RDD, which has
  // no statistics: Spark's default estimate of such a frame made the label
  // it was appended to look larger than any bound at its re-base
  test("a per-row CREATE numbered off the driver keeps a real size estimate") {
    val s = freshSession("rowestimate")
    s.run("CREATE (:L {k: 1})")
    def estimate(): BigInt = s.graph.snapshot.vertexLabels("L").queryExecution.optimizedPlan.stats.sizeInBytes
    distributed {
      s.run("MATCH (a:L {k: 1}) DELETE a CREATE (:L {k: 9})")
      assert(estimate() < (1 << 20), s"after a DELETE and a per-row CREATE: ${estimate()} bytes")
      s.run("MATCH (a:L {k: 9}) CREATE (:L {k: 10})")
      assert(estimate() < (1 << 20), s"after a second per-row CREATE: ${estimate()} bytes")
    }
    assert(s.run("MATCH (a:L) RETURN a.k AS k ORDER BY k").collect().map(_.getLong(0)).toSeq == Seq(9L, 10L))
  }

  test("a nested list reads back alike from a literal CREATE, a MATCH … CREATE and a SET") {
    val s = freshSession("nestedlist")
    s.run("CREATE (:Z {i: 1})")
    s.run("CREATE (:A {a: [1, [2, 3]]})")
    s.run("MATCH (z:Z) CREATE (:B {a: [1, [2, 3]]})")
    s.run("CREATE (:C {i: 1})")
    s.run("MATCH (c:C) SET c.a = [1, [2, 3]]")
    val got = Seq("A", "B", "C").map { l =>
      val df = s.run(s"MATCH (n:$l) RETURN n.a AS a")
      ValueRender.renderRows(df.collect().toSeq, df.schema).get.map(_.head)
    }
    assert(got == Seq.fill(3)(Seq("[1, [2, 3]]")), got)
  }

  test("GraphStore: two per-row numeric CREATEs keep decimal(38,18) and commit id-locally") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.DecimalType
    val root = Files.createTempDirectory("graft_store_numeric").toString
    val s = new GraphSession(spark)
    s.createGraph("numeric", root)
    s.run("CREATE (:Z {i: 1})")
    s.run("MATCH (z:Z) CREATE (:N {v: 1.5::numeric})")
    s.run("MATCH (z:Z) CREATE (:N {v: 1.25::numeric})")
    assert(s.graph.snapshot.vertexLabels("N").schema("v").dataType == DecimalType(38, 18))
    val v = graft.cypher.GraphStore.latestVersion(root).get
    val cat = scala.io.Source.fromFile(s"$root/v$v/catalog.txt").getLines().toSeq
    assert(!cat.exists(_.startsWith("vlabel N ")), cat.mkString("\n"))
    assert(cat.exists(l => l.startsWith("file v N ") && l.contains(s"v$v%2F")), cat.mkString("\n"))
    val r = new GraphSession(spark)
    r.openGraph("numeric", root)
    val df = r.run("MATCH (n:N) RETURN n.v AS v ORDER BY v")
    assert(ValueRender.renderRows(df.collect().toSeq, df.schema).get.map(_.head) ==
      Seq("1.25::numeric", "1.5::numeric"))
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(root))
  }

  test("a whole-properties constraint holds for MATCH … CREATE and UNWIND … CREATE") {
    val s = freshSession("wholeunique")
    s.run("CREATE (:S {i: 1})")
    s.run("CREATE (:S {i: 2})")
    s.run("SELECT create_unique_properties_constraint('wholeunique', 'U')")
    s.run("CREATE (:U {a: 1})")
    def values(): Seq[Long] = s.run("MATCH (u:U) RETURN u.a AS a ORDER BY a").collect().map(_.getLong(0)).toSeq
    Seq(
      "MATCH (z:S {i: 1}) CREATE (:U {a: 1})", // the label holds {a: 1}
      "MATCH (z:S) CREATE (:U {a: 2})", // two new {a: 2}
      "UNWIND [1] AS x CREATE (:U {a: 1})",
      "UNWIND [1, 2] AS x CREATE (:U {a: 3})"
    ).foreach { q =>
      val e = intercept[IllegalStateException](s.run(q))
      assert(e.getMessage == "duplicate key value violates unique constraint \"U_properties_key\"", q)
      assert(values() == Seq(1L), q)
    }
    s.run("UNWIND [4, 5] AS x CREATE (:U {a: x})")
    s.run("MATCH (z:S {i: 1}) CREATE (:U {a: 1, b: 1})")
    // over driver-held rows the check runs no job
    assert(jobsOf(s.run("MATCH (z:S {i: 2}) CREATE (:U {a: 6})")) == 0)
    assert(jobsOf(s.run("CREATE (:U {a: 7})")) == 0)
    assert(values() == Seq(1L, 1L, 4L, 5L, 6L, 7L))
  }
}
