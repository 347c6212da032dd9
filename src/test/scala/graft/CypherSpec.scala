package graft

import graft.cypher.Compiler
import graft.graph.GraphBuilder
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Cypher engine tests over a small social graph mirroring the reference's
  * regress fixture shapes (FIXTURES.md §2: chains, cycles, self-loops).
  */
class CypherSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val graph = {
    val people = Seq(
      (1L, "Ann", 30L, "SEA"), (2L, "Bob", 24L, "SEA"),
      (3L, "Cal", 41L, "NYC"), (4L, "Dee", 35L, "NYC"),
      (5L, "Eve", 24L, "LAX")).toDF("pid", "name", "age", "city")
    val cities = Seq((100L, "SEA"), (200L, "NYC"), (300L, "LAX"))
      .toDF("cid", "cname")
    val knows = Seq( // src, dst, since  (chain 1->2->3->4, cycle 4->1, self 5->5)
      (10L, 1L, 2L, 2015L), (11L, 2L, 3L, 2018L), (12L, 3L, 4L, 2020L),
      (13L, 4L, 1L, 2021L), (14L, 5L, 5L, 2022L))
      .toDF("kid", "src", "dst", "since")
    val lives = Seq((20L, 1L, 100L), (21L, 2L, 100L), (22L, 3L, 200L),
      (23L, 4L, 200L), (24L, 5L, 300L)).toDF("lid", "src", "dst")
    new GraphBuilder(spark)
      .vertexLabel("Person", people, "pid")
      .vertexLabel("City", cities, "cid")
      .edgeLabel("KNOWS", knows, "kid", "Person", "src", "Person", "dst")
      .edgeLabel("LIVES_IN", lives, "lid", "Person", "src", "City", "dst")
      .build()
  }

  private def run(q: String) = new Compiler(graph).run(q)

  test("label scan + where + return") {
    val rows = run("MATCH (p:Person) WHERE p.age > 28 RETURN p.name AS name ORDER BY name")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Ann", "Cal", "Dee"))
  }

  test("pattern join directed") {
    val rows = run("MATCH (a:Person)-[k:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b ORDER BY a")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("Ann", "Bob"), ("Bob", "Cal"), ("Cal", "Dee"),
      ("Dee", "Ann"), ("Eve", "Eve")))
  }

  test("pattern join reversed arrow") {
    val rows = run("MATCH (a:Person)<-[:KNOWS]-(b:Person) WHERE a.name = 'Cal' RETURN b.name AS b")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Bob"))
  }

  test("undirected pattern counts both orientations") {
    val n = run("MATCH (a:Person)-[:KNOWS]-(b:Person) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 10) // 5 edges × 2 orientations (self-loop counted twice too)
  }

  test("two-hop chain with edge property filter") {
    val rows = run(
      "MATCH (a:Person)-[k1:KNOWS]->(b)-[k2:KNOWS]->(c) WHERE k1.since >= 2018 " +
        "RETURN a.name AS a, c.name AS c ORDER BY a")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // Reference semantics: edge-uniqueness holds across ALL edges of a MATCH
    // (prevent_duplicate_edges builds pairwise <> quals,
    // cypher_clause.c:2958-3010) — Eve's self-loop cannot serve as both k1
    // and k2, so (Eve, Eve) is excluded. (A round-1 comment here claimed
    // uniqueness was VLE-only; that misread the transform.)
    assert(rows.toSeq == Seq(("Bob", "Dee"), ("Cal", "Ann"), ("Dee", "Bob")))
  }

  test("node property map filter") {
    val rows = run("MATCH (p:Person {age: 24}) RETURN p.name AS name ORDER BY name")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Bob", "Eve"))
  }

  test("implicit grouping (reference cypher_parse_agg semantics)") {
    val rows = run(
      "MATCH (p:Person)-[:LIVES_IN]->(c:City) RETURN c.cname AS city, count(*) AS n, avg(p.age) AS avg_age ORDER BY city")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("LAX", 1L, 24.0), ("NYC", 2L, 38.0), ("SEA", 2L, 27.0)))
  }

  test("optional match keeps unmatched rows") {
    val rows = run(
      "MATCH (p:Person) OPTIONAL MATCH (p)-[k:KNOWS]->(q:Person {name: 'Cal'}) " +
        "RETURN p.name AS name, q.name AS friend ORDER BY name")
      .collect().map(r => (r.getString(0), Option(r.getString(1))))
    assert(rows.toSeq == Seq(("Ann", None), ("Bob", Some("Cal")), ("Cal", None),
      ("Dee", None), ("Eve", None)))
  }

  test("WITH chaining + aggregate + where-on-aggregate") {
    val rows = run(
      "MATCH (a:Person)-[:KNOWS]->(b:Person) WITH b.name AS name, count(*) AS indeg WHERE indeg >= 1 " +
        "RETURN name, indeg ORDER BY name")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Ann", 1L), ("Bob", 1L), ("Cal", 1L), ("Dee", 1L), ("Eve", 1L)))
  }

  test("unwind + collect roundtrip") {
    val rows = run("UNWIND [3, 1, 2] AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(1L, 2L, 3L))
  }

  test("distinct, skip, limit") {
    val rows = run("MATCH (p:Person) RETURN DISTINCT p.age AS age ORDER BY age SKIP 1 LIMIT 2")
      .collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(30L, 35L))
  }

  test("exists pattern as semi-join") {
    val rows = run(
      "MATCH (p:Person) WHERE EXISTS((p)-[:KNOWS]->(q:Person {name: 'Cal'})) RETURN p.name AS name")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Bob"))
  }

  test("not exists pattern as anti-join") {
    val rows = run(
      "MATCH (p:Person) WHERE NOT EXISTS((p)-[:LIVES_IN]->(c:City {cname: 'SEA'})) " +
        "RETURN p.name AS name ORDER BY name")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Cal", "Dee", "Eve"))
  }

  test("VLE bounded *1..3 with edge uniqueness") {
    // from Ann along KNOWS (cycle 1->2->3->4->1): paths of len 1..3
    val rows = run(
      "MATCH (a:Person {name: 'Ann'})-[e:KNOWS*1..3]->(b:Person) RETURN b.name AS name, size(e) AS hops ORDER BY hops, name")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows.toSeq == Seq(("Bob", 1), ("Cal", 2), ("Dee", 3)))
  }

  test("VLE *0.. excludes zero-length paths (reference DFS seeds one edge)") {
    // the reference's VLE never produces a zero-length path: `*0..` counts
    // as `*1..` and `*0..0` is empty (old cypher_vle.out:248-260, :707)
    val rows = run(
      "MATCH (a:Person {name: 'Eve'})-[e:KNOWS*0..1]->(b:Person) RETURN b.name AS name, size(e) AS hops ORDER BY hops")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows.toSeq == Seq(("Eve", 1))) // the self-loop edge only
  }

  test("VLE cycle terminates via edge uniqueness (unbounded)") {
    val n = run("MATCH (a:Person {name: 'Ann'})-[e:KNOWS*..]->(b:Person) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 4) // Bob, Cal, Dee, Ann (full cycle), then stuck: all edges used
  }

  test("union distinct / union all") {
    val u = run("MATCH (p:Person {city: 'SEA'}) RETURN p.city AS c UNION MATCH (p:Person {city: 'NYC'}) RETURN p.city AS c")
      .collect().map(_.getString(0)).sorted
    assert(u.toSeq == Seq("NYC", "SEA"))
    val ua = run("MATCH (p:Person {city: 'SEA'}) RETURN p.city AS c UNION ALL MATCH (p:Person) RETURN p.city AS c")
      .count()
    assert(ua == 7)
  }

  test("value-keyed INTERSECT/EXCEPT treat NULLs as equal (PG set-op semantics)") {
    // gtype forced by the 1-vs-1.0 branch type mismatch → value-keyed join
    // path; the NULL sits in the TYPED city column, which plain equality
    // keys would drop from INTERSECT and wrongly keep in EXCEPT (ADVICE r8)
    val t = Seq((1L, Option("SEA")), (2L, Option.empty[String]), (3L, Option("NYC")))
      .toDF("tid", "city")
    val g2 = new GraphBuilder(spark).vertexLabel("T", t, "tid").build()
    def run2(q: String) = new Compiler(g2).run(q)
    val inter = run2(
      "MATCH (n:T) RETURN n.city AS c, 1 AS k INTERSECT " +
        "MATCH (n:T) RETURN n.city AS c, 1.0 AS k")
      .collect().map(r => Option(r.getString(0)))
    assert(inter.toSet == Set(Some("SEA"), Some("NYC"), None)) // NULL row kept
    val exc = run2(
      "MATCH (n:T) RETURN n.city AS c, 1 AS k EXCEPT " +
        "MATCH (n:T) RETURN n.city AS c, 1.0 AS k")
      .count()
    assert(exc == 0) // NULL-bearing row matches its twin and is removed
  }

  test("case expression and string ops") {
    val rows = run(
      "MATCH (p:Person) RETURN p.name AS name, CASE WHEN p.age < 30 THEN 'young' ELSE 'old' END AS band " +
        "ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("Ann", "old"), ("Bob", "young"), ("Cal", "old"),
      ("Dee", "old"), ("Eve", "young")))
  }

  test("string predicates and functions") {
    val rows = run(
      "MATCH (p:Person) WHERE p.name STARTS WITH 'A' OR p.name CONTAINS 'e' " +
        "RETURN tolower(p.name) AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("ann", "dee", "eve"))
  }

  test("list literals, index, slice, IN, comprehension") {
    val r1 = run("RETURN [1,2,3][0] AS first, [1,2,3][-1] AS last1, [1,2,3,4][1..3] AS mid")
      .collect().head
    assert(r1.getLong(0) == 1L && r1.getLong(1) == 3L && r1.getSeq[Long](2) == Seq(2L, 3L))
    val r2 = run("RETURN [x IN [1,2,3,4] WHERE x % 2 = 0 | x * 10] AS evens")
      .collect().head.getSeq[Long](0)
    assert(r2 == Seq(20L, 40L))
    val r3 = run("MATCH (p:Person) WHERE p.age IN [24, 41] RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(r3 == 3L)
  }

  test("id packing: label recoverable from id (graphid semantics)") {
    val ids = run("MATCH (p:Person) RETURN id(p) AS i ORDER BY i").collect().map(_.getLong(0))
    assert(ids.forall(i => (i >> 48) == graph.labelIdOf("Person")))
    assert(ids.map(_ & ((1L << 48) - 1)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("path variable: nodes(), relationships(), length()") {
    val r = run(
      "MATCH p = (a:Person {name: 'Ann'})-[:KNOWS]->(b)-[:KNOWS]->(c) " +
        "RETURN length(p) AS len, nodes(p) AS ns, relationships(p) AS rs")
      .collect().head
    assert(r.getLong(0) == 2L)
    // vertex elements are full values: (id, label, properties)
    val ns = r.getSeq[org.apache.spark.sql.Row](1)
    assert(ns.map(_.getString(1)) == Seq("Person", "Person", "Person"))
    // edge elements are (id, start_id, end_id, label, properties)
    val rs = r.getSeq[org.apache.spark.sql.Row](2)
    assert(rs.map(_.getString(3)) == Seq("KNOWS", "KNOWS"))
    // node ids follow the chain Ann -> Bob -> Cal
    val entryIds = ns.map(_.getLong(0) & 0xFFFFFFFFFFFFL)
    assert(entryIds == Seq(1L, 2L, 3L))
    // properties ride along as GValue-encoded maps
    val annProps = ns.head.getMap[String, org.apache.spark.sql.Row](2)
    assert(graft.gvalue.GValueCol.decode(annProps("name")) == graft.gvalue.GString("Ann"))
    assert(graft.gvalue.GValueCol.decode(annProps("age")) == graft.gvalue.GInt(30))
    // edge properties: the KNOWS 'since' year
    val sinceVals = rs.map(e => graft.gvalue.GValueCol.decode(
      e.getMap[String, org.apache.spark.sql.Row](4)("since")))
    assert(sinceVals == Seq(graft.gvalue.GInt(2015), graft.gvalue.GInt(2018)))
    // edge endpoints chain correctly: end of first = start of second
    assert(rs(0).getLong(2) == rs(1).getLong(1))
  }

  test("VLE traversal values: nodes(p)/relationships(p)/RETURN e (vle.sql)") {
    // reference: variable_edge.c:62 / traversal.c:64-120 — path accessors
    // over variable-length segments yield FULL entity values
    val rows = run(
      "MATCH p = (a:Person {name: 'Ann'})-[e:KNOWS*1..2]->(b) " +
        "RETURN size(e) AS hops, length(p) AS len, nodes(p) AS ns, " +
        "relationships(p) AS rs, e AS es ORDER BY hops")
      .collect()
    assert(rows.length == 2)
    val one = rows(0); val two = rows(1)
    assert(one.getInt(0) == 1 && one.getLong(1) == 1L)
    // 1 hop: Ann -> Bob
    val ns1 = one.getSeq[Row](2)
    assert(ns1.map(_.getString(1)) == Seq("Person", "Person"))
    assert(ns1.map(_.getLong(0) & 0xFFFFFFFFFFFFL) == Seq(1L, 2L))
    val rs1 = one.getSeq[Row](3)
    assert(rs1.map(_.getLong(0) & 0xFFFFFFFFFFFFL) == Seq(10L))
    assert(rs1.head.getString(3) == "KNOWS")
    // RETURN e is the VariableEdge container: (interior nodes, edges) —
    // its edges == relationships of the segment, with full properties
    val es1 = one.getStruct(4).getSeq[Row](1)
    assert(one.getStruct(4).getSeq[Row](0).isEmpty) // 1 hop: no interior
    assert(es1.map(_.getLong(0)) == rs1.map(_.getLong(0)))
    assert(graft.gvalue.GValueCol.decode(
      es1.head.getMap[String, Row](4)("since")) == graft.gvalue.GInt(2015))
    // 2 hops: Ann -> Bob -> Cal, edges 10, 11, endpoints chain
    val ns2 = two.getSeq[Row](2)
    assert(ns2.map(_.getLong(0) & 0xFFFFFFFFFFFFL) == Seq(1L, 2L, 3L))
    assert(graft.gvalue.GValueCol.decode(
      ns2.last.getMap[String, Row](2)("name")) == graft.gvalue.GString("Cal"))
    val rs2 = two.getSeq[Row](3)
    assert(rs2.map(_.getLong(0) & 0xFFFFFFFFFFFFL) == Seq(10L, 11L))
    assert(rs2(0).getLong(2) == rs2(1).getLong(1))
  }

  test("VLE traversal values: mixed fixed+VLE path and zero-hop segment") {
    // fixed edge then VLE segment: nodes concatenate without duplication
    val r = run(
      "MATCH p = (a:Person {name: 'Ann'})-[:KNOWS]->(b)-[e:KNOWS*1..1]->(c) " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs, length(p) AS len")
      .collect().head
    assert(r.getSeq[Row](0).map(_.getLong(0) & 0xFFFFFFFFFFFFL) == Seq(1L, 2L, 3L))
    assert(r.getSeq[Row](1).map(_.getLong(0) & 0xFFFFFFFFFFFFL) == Seq(10L, 11L))
    assert(r.getLong(2) == 2L)
    // zero-hop VLE: the reference produces NO zero-length paths — `*0..0`
    // matches nothing at all (old cypher_vle.out:707-717)
    val z = run(
      "MATCH p = (a:Person {name: 'Eve'})-[e:KNOWS*0..0]->(b) " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs, length(p) AS len")
      .collect()
    assert(z.isEmpty)
    // undirected VLE: node sequence tracks the traversal orientation
    val u = run(
      "MATCH p = (a:Person {name: 'Bob'})-[e:KNOWS*1..1]-(c) " +
        "RETURN nodes(p) AS ns ORDER BY nodes(p)[1].id")
      .collect()
    assert(u.map(_.getSeq[Row](0).map(_.getLong(0) & 0xFFFFFFFFFFFFL)).toSeq ==
      Seq(Seq(2L, 1L), Seq(2L, 3L))) // Bob->Ann (reverse of 1->2), Bob->Cal
  }

  test("!!= match_vles: first-edge-of-lhs touches last-edge-of-rhs") {
    // reference variable_edge.c:269-289 (`match_vles`, operator !!= —
    // postgraph.sql.in:529-537): TRUE iff the lhs VLE's FIRST edge shares
    // an endpoint vertex id with the rhs VLE's LAST edge — a path-
    // adjacency probe, NOT edge-set disjointness. e1 = Ann's single hop
    // (edge 1→2); e2 two-hop last edges: Ann→(2,3) touch 2, Bob→(3,4) no,
    // Cal→(4,1) touch 1, Dee→(1,2) touch both. Comma patterns are never
    // cross-checked for edge uniqueness (cypher_clause.c:3294), so Dee's
    // reuse of edge 10 survives.
    val rows = run(
      "MATCH (a:Person {name: 'Ann'})-[e1:KNOWS*1..1]->(x), " +
        "(c:Person)-[e2:KNOWS*2..2]->(y) WHERE e1 !!= e2 " +
        "RETURN c.name AS c ORDER BY c")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Ann", "Cal", "Dee"))
  }

  test("hyperbolic + cot family over a column (number-functions.sql.in:45-95, r11)") {
    val r = run(
      "MATCH (p:Person {name: 'Ann'}) WITH p.age / 10.0 AS x " + // 3.0
        "RETURN round(sinh(x), 6) AS sh, round(cosh(x), 6) AS ch, " +
        "round(tanh(x), 6) AS th, round(asinh(x), 6) AS ash, " +
        "round(acosh(x), 6) AS ach, round(atanh(x / 10), 6) AS ath, " +
        "round(cot(x), 6) AS ct")
      .collect().head
    def d(i: Int) = r.getDecimal(i).doubleValue()
    assert(math.abs(d(0) - math.sinh(3.0)) < 1e-6)
    assert(math.abs(d(1) - math.cosh(3.0)) < 1e-6)
    assert(math.abs(d(2) - math.tanh(3.0)) < 1e-6)
    assert(math.abs(d(3) - math.log(3.0 + math.sqrt(10.0))) < 1e-6)
    assert(math.abs(d(4) - math.log(3.0 + math.sqrt(8.0))) < 1e-6)
    assert(math.abs(d(5) - 0.5 * math.log(1.3 / 0.7)) < 1e-6)
    assert(math.abs(d(6) - math.cos(3.0) / math.sin(3.0)) < 1e-6)
  }

  test("toInteger on a float COLUMN rounds half-even like dtoi8 (ADVICE r10)") {
    // PG float8→int8 goes through rint() (banker's rounding): 24.5 → 24,
    // 35.5 → 36 — matching the constant-fold lane's HALF_EVEN
    val rows = run(
      "MATCH (p:Person) WHERE p.name IN ['Bob', 'Dee'] " +
        "RETURN p.name AS n, toInteger(p.age + 0.5) AS i ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Bob", 24L), ("Dee", 36L))) // 24.5→24, 35.5→36
  }

  test("toNumeric accepts Infinity/NaN spellings from a COLUMN (ADVICE r10)") {
    // numeric_in accepts the spellings (PG14+): a column-valued 'Infinity'
    // must not raise where the literal path succeeds; ±Inf ride the render
    // sentinels, NaN follows the float-lane NULL convention
    val rows = run(
      "MATCH (p:Person) WHERE p.name = 'Ann' " +
        "WITH CASE WHEN p.age > 0 THEN 'Infinity' ELSE '1' END AS s, " +
        "CASE WHEN p.age > 0 THEN '-inf' ELSE '1' END AS t, " +
        "CASE WHEN p.age > 0 THEN 'NaN' ELSE '1' END AS u " +
        "RETURN toNumeric(s) AS a, toNumeric(t) AS b, toNumeric(u) AS c")
      .collect().head
    assert(rows.getDecimal(0).compareTo(graft.gvalue.PgOut.NumericInf) == 0)
    assert(rows.getDecimal(1).compareTo(graft.gvalue.PgOut.NumericNegInf) == 0)
    assert(rows.isNullAt(2))
  }

  test("\\U escape past the code-point space raises PG's invalid-value error") {
    val e = intercept[Exception](run("RETURN '\\UFFFFFFFF' AS s"))
    assert(e.getMessage.contains("invalid Unicode escape value"))
  }

  test("regex + LIKE operator family (gtype_string.c:163-227, expr.sql)") {
    // ~ unanchored search, ~* case-insensitive, !~ / !~* negations
    val re = run("MATCH (p:Person) WHERE p.name ~ '^[AB]' RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(re.toSeq == Seq("Ann", "Bob"))
    val ci = run("MATCH (p:Person) WHERE p.name ~* 'ANN' RETURN p.name AS n")
      .collect().map(_.getString(0))
    assert(ci.toSeq == Seq("Ann"))
    val nre = run("MATCH (p:Person) WHERE p.name !~ 'n' RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(nre.toSeq == Seq("Bob", "Cal", "Dee", "Eve"))
    val nci = run("MATCH (p:Person) WHERE p.name !~* 'E$' RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(nci.toSeq == Seq("Ann", "Bob", "Cal"))
    // LIKE is full-string anchored with %/_ wildcards; ILIKE folds case
    val lk = run("MATCH (p:Person) WHERE p.city LIKE 'S%' RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(lk == 2)
    val und = run("MATCH (p:Person) WHERE p.name LIKE '_e_' RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(und == 1) // Dee (anchored: 3 chars exactly)
    val ilk = run("MATCH (p:Person) WHERE p.city ILIKE 'sea' RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(ilk == 2)
    val nlk = run("MATCH (p:Person) WHERE p.city NOT LIKE '%A%' RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(nlk == 2) // NYC ×2 (SEA, LAX contain A)
    val nilk = run("MATCH (p:Person) WHERE p.city NOT ILIKE '%a%' RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(nilk == 2)
    // symbol spellings compile to the same operators
    val sym = run("MATCH (p:Person) WHERE p.city ~~ 'NYC' AND p.name ~~* 'CAL' " +
      "AND p.name !~~ 'Dee' AND p.name !~~* 'ANNE' RETURN p.name AS n")
      .collect().map(_.getString(0))
    assert(sym.toSeq == Seq("Cal"))
  }

  test("EXISTS/ANY as general expressions (cypher_expr.c:82, match.sql:98-130)") {
    // EXISTS inside an OR branch of WHERE
    val or = run("MATCH (p:Person) WHERE p.age > 40 " +
      "OR EXISTS((p)-[:LIVES_IN]->(:City {cname: 'SEA'})) " +
      "RETURN p.name AS n ORDER BY n").collect().map(_.getString(0))
    assert(or.toSeq == Seq("Ann", "Bob", "Cal"))
    // EXISTS as a RETURN item (boolean value per row)
    val ret = run("MATCH (p:Person) RETURN p.name AS n, " +
      "EXISTS((p)-[:KNOWS]->(:Person {name: 'Cal'})) AS k ORDER BY n")
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    assert(ret.toSeq == Seq(("Ann", false), ("Bob", true), ("Cal", false),
      ("Dee", false), ("Eve", false)))
    // NOT EXISTS nested under OR
    val nor = run("MATCH (p:Person) WHERE p.age = 24 " +
      "OR NOT EXISTS((p)-[:KNOWS]->()) RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(nor.toSeq == Seq("Bob", "Eve")) // everyone has an outgoing KNOWS
    // ANY sublink in an OR branch
    val any = run("MATCH (p:Person) WHERE p.name = 'Eve' " +
      "OR p.age > ANY (MATCH (q:Person {city: 'NYC'}) RETURN q.age) " +
      "RETURN p.name AS n ORDER BY n").collect().map(_.getString(0))
    assert(any.toSeq == Seq("Cal", "Eve")) // NYC ages {41,35}: only 41 > 35
    // EXISTS in a CASE condition inside an aggregate
    val agg = run("MATCH (p:Person) RETURN sum(CASE WHEN " +
      "EXISTS((p)-[:LIVES_IN]->(:City {cname: 'NYC'})) THEN 1 ELSE 0 END) AS n")
      .collect().head.getLong(0)
    assert(agg == 2) // Cal, Dee
  }

  test(":: typecast syntax routes the cast matrix (gtype_typecasting.c)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "'42'::int AS i, '3.5'::float AS f, 'true'::bool AS b, " +
      "'1 year 2 mons 3 days 04:05:06'::interval AS iv, " +
      "'12:34:56'::time AS t, " +
      "'(1,2),(3,4)'::box AS bx, '[2,7)'::intrange AS rg, " +
      "'fast & !slow'::tsquery AS tq, '(1.5,2.5)'::point AS pt, " +
      "p.age::string AS ages").collect().head
    assert(r.getLong(0) == 42L && r.getDouble(1) == 3.5 && r.getBoolean(2))
    val iv = r.getStruct(3)
    assert(iv.getInt(0) == 14 && iv.getInt(1) == 3 &&
      iv.getLong(2) == 4L * 3600000000L + 5L * 60000000L + 6000000L)
    assert(r.getLong(4) == 12L * 3600000000L + 34L * 60000000L + 56000000L)
    val bx = r.getStruct(5)
    assert((bx.getDouble(0), bx.getDouble(1), bx.getDouble(2), bx.getDouble(3))
      == (1.0, 2.0, 3.0, 4.0))
    val rg = r.getStruct(6)
    assert(rg.getLong(0) == 2L && rg.getLong(1) == 7L &&
      rg.getBoolean(2) && !rg.getBoolean(3))
    assert(r.getString(7) == "'fast' & !'slow'")
    val pt = r.getStruct(8)
    assert((pt.getDouble(0), pt.getDouble(1)) == (1.5, 2.5))
    assert(r.getString(9) == "30")
    // interval clock form with explicit unit words only
    val iv2 = run("MATCH (p:Person {name: 'Ann'}) " +
      "RETURN '2 weeks 3 hours 15 mins'::interval AS iv").collect().head.getStruct(0)
    assert(iv2.getInt(0) == 0 && iv2.getInt(1) == 14 &&
      iv2.getLong(2) == 3L * 3600000000L + 15L * 60000000L)
  }

  test("geometric values and operators (gtype_geometric.c)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "tolseg('[(0,0),(2,0)]') # tolseg('[(5,1),(6,1)]') AS no_x, " +   // disjoint → null
      "toline('{1,0,-2}') # toline('{0,1,-3}') AS lx, " +               // x=2 ∩ y=3
      "@-@ topath('((0,0),(3,0),(3,4))') AS open_len, " +               // 3 + 4
      "@-@ topath('[(0,0),(3,0),(3,4)]') AS open_len2, " +
      "(tobox('(0,0),(2,2)') ?# tobox('(1,1),(3,3)'))::int AS bx, " +
      "(tobox('(0,0),(2,2)') &< tobox('(1,1),(3,3)'))::int AS nxr, " +
      "(topoint(1, 1) <@ topolygon('((0,0),(4,0),(4,4),(0,4))'))::int AS pin")
      .collect().head
    assert(r.isNullAt(0))
    val lx = r.getStruct(1)
    assert((lx.getDouble(0), lx.getDouble(1)) == (2.0, 3.0))
    // '((…))' paths are CLOSED (adds the return segment 5.0); '[(…)]' open
    assert(r.getDouble(2) == 12.0 && r.getDouble(3) == 7.0)
    assert(r.getLong(4) == 1L && r.getLong(5) == 1L && r.getLong(6) == 1L)
  }

  test("multirange normalization: merge, adjacency, empty drop (gtype_range.c)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "size(intmultirange(intrange(5,3), intrange(1,4), intrange(4,6), intrange(9,12))) AS n, " +
      "(intmultirange(intrange(1,4), intrange(4,6)) @> 5)::int AS adj, " +
      "(intmultirange(intrange(1,3), intrange(7,9)) @> intrange(7,9))::int AS rin, " +
      "(intmultirange(intrange(1,3), intrange(7,9)) @> intrange(2,8))::int AS rsplit, " +
      "(intmultirange(intrange(1,3)) && intmultirange(intrange(2,5)))::int AS mm, " +
      "size(intrange(1,3) + intrange(5,7)) AS disj, " +
      "size(intrange(1,5) + intrange(4,9)) AS merged").collect().head
    // [5,3) is empty → dropped; [1,4)+[4,6) adjacent → merged; [9,12) apart
    assert(r.getInt(0) == 2)
    assert(r.getLong(1) == 1L) // merged span [1,6) contains 5
    assert(r.getLong(2) == 1L && r.getLong(3) == 0L) // [2,8) spans the gap
    assert(r.getLong(4) == 1L)
    assert(r.getInt(5) == 2 && r.getInt(6) == 1)
  }

  test("EXISTS pattern reusing the outer edge var = same-edge constraint (cypher_match.sql:157-176)") {
    // only Eve's self-loop satisfies (u)-[e]->(u) with the SAME e
    val rows = run("MATCH (u:Person)-[e:KNOWS]->(v:Person) WHERE EXISTS((u)-[e]->(u)) " +
      "RETURN u.name AS un, v.name AS vn").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("Eve", "Eve")))
    // fresh variable x inside EXISTS is an independent sink (every u with an edge)
    val all = run("MATCH (u:Person)-[e:KNOWS]->(v:Person) WHERE EXISTS((u)-[e]->(x)) " +
      "RETURN count(*) AS n").collect().head.getLong(0)
    assert(all == 5L)
  }

  test("EXISTS(MATCH ... RETURN ...) full-subquery forms (cypher_match.sql:182-204)") {
    val n1 = run("MATCH (u:Person) WHERE EXISTS(MATCH (u)-[:LIVES_IN]->(c:City {cname: 'SEA'}) RETURN 1) " +
      "RETURN count(*) AS n").collect().head.getLong(0)
    assert(n1 == 2L) // Ann, Bob
    // two-MATCH body, correlation through the second MATCH
    val n2 = run("MATCH (u:Person) WHERE EXISTS(MATCH (c:City {cname: 'NYC'}) MATCH (u)-[:LIVES_IN]->(c) RETURN 1) " +
      "RETURN count(*) AS n").collect().head.getLong(0)
    assert(n2 == 2L) // Cal, Dee
    // no match at all → empty
    val n3 = run("MATCH (u:Person) WHERE EXISTS(MATCH (u)-[:LIVES_IN]->(:City {cname: 'nope'}) RETURN 1) " +
      "RETURN count(*) AS n").collect().head.getLong(0)
    assert(n3 == 0L)
  }

  test("key-exists ? ?| ?& and -> / ->> access operators (postgraph-vertex.sql.in)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "(p ? 'age')::int AS has_age, (p ? 'nope')::int AS has_nope, " +
      "(p ?| ['nope', 'city'])::int AS any_k, (p ?& ['name', 'age'])::int AS all_k, " +
      "(p ?& ['name', 'nope'])::int AS all_miss, " +
      "(properties(p) ? 'city')::int AS map_has, " +
      "p -> 'name' AS arrow, p ->> 'age' AS arrow_text, " +
      "[10, 20, 30] -> 1 AS elem").collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 1L && r.getLong(4) == 0L)
    assert(r.getLong(5) == 1L)
    assert(r.getString(6) == "Ann") // entity -> resolves to the typed column
    assert(r.getString(7) == "30")
    assert(r.getLong(8) == 20L)
  }

  test("ORDER BY ... USING < / > (order_by.sql:46)") {
    val asc = run("MATCH (p:Person) RETURN p.name AS nm ORDER BY nm USING <")
      .collect().map(_.getString(0))
    val desc = run("MATCH (p:Person) RETURN p.name AS nm ORDER BY nm USING >")
      .collect().map(_.getString(0))
    assert(asc.sameElements(asc.sorted) && desc.sameElements(asc.reverse))
  }

  test("@-@ on VLE vars and paths = edge count (variable_edge.sql.in:242)") {
    val r = run("MATCH p = (a:Person {name: 'Ann'})-[e:KNOWS*2..2]->(b) " +
      "RETURN @-@ e AS ve_len, @-@ p AS p_len").collect().head
    assert(r.getInt(0) == 2 && r.getLong(1) == 2L)
  }

  test("collect with a limit arg caps the list (aggregation.sql.in:294)") {
    val r = run("MATCH (p:Person) WITH p.name AS nm ORDER BY nm " +
      "RETURN collect(nm, 2) AS two, size(collect(nm, 10)) AS all_n").collect().head
    assert(r.getSeq[String](0) == Seq("Ann", "Bob"))
    assert(r.getInt(1) == 5)
  }

  test("RETURN p traversal values and ORDER BY p (traversal.c:64-215)") {
    // fixed-length path: the value is a (nodes, edges) struct pair
    val rows = run("MATCH p = (a:Person)-[:KNOWS]->(b:Person) RETURN p ORDER BY p")
      .collect()
    assert(rows.length == 5) // 4 chain/cycle edges + the self-loop
    val first = rows.head.getStruct(0)
    val nodes = first.getSeq[org.apache.spark.sql.Row](0)
    val edges = first.getSeq[org.apache.spark.sql.Row](1)
    assert(nodes.length == 2 && edges.length == 1)
    // ORDER BY p = interleaved id order → first path starts at min vertex id
    val startIds = rows.map(_.getStruct(0).getSeq[org.apache.spark.sql.Row](0).head.getLong(0))
    assert(startIds.sameElements(startIds.sorted))
    // path with a VLE segment: nodes/edges arrays stay in hop order
    val vle = run("MATCH p = (a:Person {name: 'Ann'})-[e:KNOWS*2..2]->(b) RETURN p")
      .collect().head.getStruct(0)
    assert(vle.getSeq[org.apache.spark.sql.Row](0).length == 3)
    assert(vle.getSeq[org.apache.spark.sql.Row](1).length == 2)
  }

  test("ORDER BY a path, then an expression over a projected alias") {
    // the path key appends a hidden pre-projection sort column before the
    // second key's post-projection probe runs; the probe must see the
    // projection alone, and the hidden column must not reach the output
    val byPath = run("MATCH p = (a:Person)-[:KNOWS]->(b:Person) RETURN p, b.name AS n ORDER BY p")
      .collect().map(r => (r.getStruct(0).toString, r.getString(1))).toSeq
    val q = run("MATCH p = (a:Person)-[:KNOWS]->(b:Person) RETURN p, b.name AS n " +
      "ORDER BY p, toUpper(n), n + '!' DESC")
    assert(q.columns.toSeq == Seq("p", "n"))
    assert(q.collect().map(r => (r.getStruct(0).toString, r.getString(1))).toSeq == byPath)
  }

  test("SQL temporal forms: typed literals, EXTRACT FROM, OVERLAPS rows, interval scaling, PG formats") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "TIMESTAMP '12/17/1997 07:37:16.00' AS ts, " +
      "DATE '12/17/1997' AS d, " +
      "'Wed Dec 17 07:37:16 1997'::timestamp AS dn, " +
      "EXTRACT(YEAR FROM TIMESTAMP '1997-12-17 07:37:16') AS yr, " +
      "date_part('isodow', '2026-08-12'::date) AS dow, " +
      "date_part('epoch', '1970-01-02 00:00:00'::timestamp) AS ep, " +
      "(('2001-02-16'::date, '2001-10-31'::date) overlaps " +
      " ('2001-10-30'::date, '2002-10-30'::date))::int AS ov, " +
      "(('2001-02-16'::date, '365 days'::interval) overlaps " +
      " ('2003-10-30'::date, '10 days'::interval))::int AS ov2, " +
      "('8 hours'::interval * 8).us AS h64, " +
      "('1 month'::interval * 1.5).days AS d15, " +
      "(- '8 hours'::interval).us AS neg, " +
      "date_bin('15 minutes'::interval, '2020-02-11 15:44:17'::timestamp, " +
      "  '2001-01-01'::timestamp) AS bin, " +
      "range(0, 10, -1) AS empt, range(0, -10.0, -3.0) AS rneg").collect().head
    // plain ::timestamp is wall-clock TIMESTAMP_NTZ now (LocalDateTime in
    // rows) — normalize the ISO 'T' so both encodings assert the same way
    def tstr(i: Int): String = r.get(i).toString.replace("T", " ")
    assert(tstr(0).startsWith("1997-12-17 07:37:16"))
    assert(r.get(1).toString == "1997-12-17") // java8API: LocalDate
    assert(tstr(2).startsWith("1997-12-17 07:37:16"))
    // EXTRACT returns NUMERIC (PG: numeric, not float8 like date_part —
    // temporal.out `extract(year …)` prints 1997, not 1997.0)
    assert(r.getDecimal(3).intValueExact == 1997)
    assert(r.getDouble(4) == 3.0) // 2026-08-12 is a Wednesday
    assert(r.getDouble(5) == 86400.0)
    assert(r.getLong(6) == 1L && r.getLong(7) == 0L)
    assert(r.getLong(8) == 8L * 8L * 3600000000L)
    assert(r.getInt(9) == 15)
    assert(r.getLong(10) == -8L * 3600000000L)
    // LocalDateTime.toString drops an all-zero seconds field
    assert(tstr(11).startsWith("2020-02-11 15:30"))
    assert(r.getSeq[Long](12).isEmpty)
    assert(r.getSeq[Long](13) == Seq(0L, -3L, -6L, -9L))
  }

  test("temporal arithmetic: timestamp/date ± interval, interval ± interval (temporal.sql:513-523)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "'2023-06-23 13:39:40'::timestamp + '10 days'::interval AS ts_plus, " +
      "'2023-06-23'::date + '10 days'::interval AS d_plus, " +
      "'2023-06-23 13:39:40'::timestamp - '1 month'::interval AS ts_minus, " +
      "('10 days'::interval + '8 hours'::interval).days AS iv_d, " +
      "('10 days'::interval + '8 hours'::interval).us AS iv_us, " +
      "('10 days'::interval - '2 days'::interval).days AS iv_sub")
      .collect().head
    def tstr(i: Int): String = r.get(i).toString.replace("T", " ")
    assert(tstr(0).startsWith("2023-07-03 13:39:40"))
    assert(tstr(1).startsWith("2023-07-03 00:00:00"))
    assert(tstr(2).startsWith("2023-05-23 13:39:40"))
    assert(r.getInt(3) == 10 && r.getLong(4) == 8L * 3600000000L)
    assert(r.getInt(5) == 8)
  }

  test("one-level nested heterogeneous lists: index, slice, IN (lists.sql:36-108)") {
    val r = run("WITH [0, 1, [2, 3, 4], 5, [6, 7, 8], 9] AS l RETURN " +
      "l[2] AS nested, l[2][-2] AS inner, l[-1] AS last9, " +
      "l[2][3] AS oob, l[-2..][-1..][-2] AS oob2, " +
      "(1 @= [1, 'a', [2, 3]])::int AS inhet").collect().head
    assert(graft.gvalue.GValueCol.decode(r.getAs[org.apache.spark.sql.Row](0))
      == graft.gvalue.GArray(Vector(graft.gvalue.GInt(2),
        graft.gvalue.GInt(3), graft.gvalue.GInt(4))))
    assert(graft.gvalue.GValueCol.decode(r.getAs[org.apache.spark.sql.Row](1))
      == graft.gvalue.GInt(3))
    assert(graft.gvalue.GValueCol.decode(r.getAs[org.apache.spark.sql.Row](2))
      == graft.gvalue.GInt(9))
    assert(r.isNullAt(3) && r.isNullAt(4)) // OOB → null, not error
    assert(r.getLong(5) == 1L)
  }

  test("@= / !@= operator spellings of IN (gtype-lists.sql.in:36)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "(2 @= [1, 2, 3])::int AS yes, (9 @= [1, 2, 3])::int AS no, " +
      "(9 !@= [1, 2, 3])::int AS notin").collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L && r.getLong(2) == 1L)
  }

  test("vector distance operators <-> <#> <=> and point <-> (postgraph-gtype.sql.in:140)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "[1.0, 0.0] <-> [0.0, 1.0] AS l2, " +
      "[1.0, 2.0] <#> [3.0, 4.0] AS nip, " +
      "[1.0, 0.0] <=> [0.0, 1.0] AS cosd, " +
      "topoint(0, 0) <-> topoint(3, 4) AS pd").collect().head
    assert(math.abs(r.getDouble(0) - math.sqrt(2)) < 1e-12)
    assert(r.getDouble(1) == -11.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) == 5.0)
  }

  test("variable_edge operators && @> <@ = <> and nodes/edges on bare VLE vars") {
    // chain 1→2→3→4: e1 = Ann's 2-hop (edges 10,11), e2 = Bob's 2-hop
    // (edges 11,12) — they share edge 11
    // separate MATCH clauses: edge-uniqueness is per MATCH, so the two
    // VLE expansions may legitimately share edge 11
    val r = run("MATCH (a:Person {name: 'Ann'})-[e1:KNOWS*2..2]->(x) " +
      "MATCH (b:Person {name: 'Bob'})-[e2:KNOWS*2..2]->(y) " +
      "RETURN (e1 && e2)::int AS ov, (e1 = e1)::int AS eq, (e1 <> e2)::int AS ne")
      .collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    // @> / <@ with a single edge: the reference's containment walk never
    // sees the VE's LAST edge (variable_edge.c:227-265 stops at
    // children[0]-1), so Ann→Bob (edge 10, first of Ann's 2-hop VLE) is
    // contained but Bob→Cal (edge 11, the last) is not
    val r2 = run("MATCH (a:Person {name: 'Ann'})-[e:KNOWS*2..2]->(x) " +
      "MATCH (b:Person {name: 'Ann'})-[k:KNOWS]->(c:Person {name: 'Bob'}) " +
      "RETURN (e @> k)::int AS cont, (k <@ e)::int AS inv").collect().head
    assert(r2.getLong(0) == 1L && r2.getLong(1) == 1L)
    val r2b = run("MATCH (a:Person {name: 'Ann'})-[e:KNOWS*2..2]->(x) " +
      "MATCH (b:Person {name: 'Bob'})-[k:KNOWS]->(c:Person {name: 'Cal'}) " +
      "RETURN (e @> k)::int AS cont, (k <@ e)::int AS inv").collect().head
    assert(r2b.getLong(0) == 0L && r2b.getLong(1) == 0L)
    // nodes(ve) = interior vertices only (variable_edge.c); edges(ve) = all
    val r3 = run("MATCH (a:Person {name: 'Ann'})-[e:KNOWS*2..2]->(x) " +
      "RETURN size(nodes(e)) AS ni, nodes(e)[0].name AS nm, size(edges(e)) AS ne")
      .collect().head
    assert(r3.getInt(0) == 1 && r3.getInt(2) == 2)
    assert(graft.gvalue.GValueCol.decode(r3.getAs[org.apache.spark.sql.Row](1))
      == graft.gvalue.GString("Bob"))
  }

  test("property access on path elements reads the properties map (vertex.h accessors)") {
    val r = run("MATCH p = (a:Person {name: 'Ann'})-[e:LIVES_IN*1..1]->(c:City) " +
      "RETURN nodes(p)[-1].cname AS cn, nodes(p)[-1].label AS lbl, " +
      "nodes(p)[-1].no_such_prop AS missing").collect().head
    assert(graft.gvalue.GValueCol.decode(r.getAs[org.apache.spark.sql.Row](0))
      == graft.gvalue.GString("SEA"))
    assert(r.getString(1) == "City") // mixed field+property access, same elem
    assert(r.isNullAt(2)) // absent property ≡ null
  }

  test("multirange infinite bounds: null lo/hi are −∞/+∞ in parts (gtype_range.c)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "size(intmultirange(intrange(null, 3), intrange(5, null))) AS parts, " +
      "(intmultirange(intrange(null, 3), intrange(5, null)) @> -100)::int AS below, " +
      "(intmultirange(intrange(null, 3), intrange(5, null)) @> 4)::int AS gap, " +
      "(intmultirange(intrange(null, 3), intrange(5, null)) @> 1000)::int AS above, " +
      "size(intmultirange(intrange(null, 4), intrange(2, null))) AS full, " +
      "('(,3)'::intrange @> -5)::int AS castinf, " +
      "(intmultirange(intrange(null, 3)) @> intrange(null, 2))::int AS infin").collect().head
    assert(r.getInt(0) == 2) // (−∞,3) and [5,+∞) don't touch
    assert(r.getLong(1) == 1L && r.getLong(2) == 0L && r.getLong(3) == 1L)
    assert(r.getInt(4) == 1) // (−∞,4) ∪ [2,+∞) covers the line
    assert(r.getLong(5) == 1L)
    assert(r.getLong(6) == 1L) // (−∞,2) ⊆ (−∞,3)
  }

  test("graph utility fns: _graphid/_label_name/keywords (postgraph.sql.in:481)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "_graphid(_extract_label_id(id(p)), _extract_entry_id(id(p))) AS rt, " +
      "id(p) AS pid, _label_name(id(p)) AS lname, " +
      "age_properties(p).name AS nm").collect().head
    assert(r.getLong(0) == r.getLong(1)) // pack(unpack) round-trips
    assert(r.getString(2) == "Person")
    assert(graft.gvalue.GValueCol.decode(r.getAs[org.apache.spark.sql.Row](3))
      == graft.gvalue.GString("Ann"))
    val kw = run("CALL get_cypher_keywords() YIELD word, catcode, catdesc " +
      "RETURN count(*) AS n").collect().head.getLong(0)
    assert(kw > 40)
    val err = intercept[Exception](
      run("MATCH (p:Person) RETURN throw_error('boom') AS x").collect())
    assert(err.getMessage.contains("boom") ||
      err.getCause != null && err.getCause.getMessage.contains("boom"))
  }

  test("negative slice indices and right() past-length (lists.sql:55-75)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "[1,2,3,4,5][-3..] AS tail3, [1,2,3,4,5][..-2] AS drop2, " +
      "[1,2,3,4,5][-4..-1] AS mid, [1,2,3][5..9] AS past, " +
      "right('ab', 5) AS rshort, right('abcdef', 2) AS r2").collect().head
    assert(r.getSeq[Long](0) == Seq(3L, 4L, 5L))
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(r.getSeq[Long](2) == Seq(2L, 3L, 4L))
    assert(r.getSeq[Long](3) == Seq.empty)
    assert(r.getString(4) == "ab" && r.getString(5) == "ef")
  }

  test("IN over heterogeneous lists: cross-type equality + 3VL (lists.sql)") {
    val r = run("MATCH (p:Person {name: 'Ann'}) RETURN " +
      "1 IN ['str', 1, 1.0, true, null] AS hit, " +
      "1 IN ['str', 2.0, 1.0] AS xnum, " +          // 1 = 1.0 cross-type
      "0 IN ['str', 1, 1.0, true, null] AS miss_null, " +
      "0 IN ['str', 1] AS miss, " +
      "null IN ['str', 1] AS nullneedle").collect().head
    assert(r.getBoolean(0))
    assert(r.getBoolean(1))
    assert(r.isNullAt(2)) // no match + null element → null, not false
    assert(!r.getBoolean(3))
    assert(r.isNullAt(4))
  }

  test("properties(n) returns the full property map of an entity") {
    val r = run("MATCH (p:Person {name: 'Eve'}) RETURN properties(p) AS m")
      .collect().head
    val m = r.getMap[String, org.apache.spark.sql.Row](0)
    assert(graft.gvalue.GValueCol.decode(m("city")) == graft.gvalue.GString("LAX"))
    assert(graft.gvalue.GValueCol.decode(m("age")) == graft.gvalue.GInt(24))
    assert(m.keySet == Set("age", "city", "name", "pid"))
  }

  test("UNWIND of scalars and null (unwind.sql nested-list shapes)") {
    assert(run("UNWIND 5 AS x RETURN x").collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(run("UNWIND null AS x RETURN x").collect().isEmpty)
    // nested double-unwind flattens
    val ys = run("UNWIND [[1, 2], [3, 4]] AS x UNWIND x AS y RETURN y ORDER BY y")
      .collect().map(_.getLong(0))
    assert(ys.toSeq == Seq(1L, 2L, 3L, 4L))
    // promoted-array re-parse must not split INSIDE quoted strings: a
    // string element containing ", " stays one element (ADVICE r8 —
    // GValueCol.unwindElems elemSplit)
    val ss = run("UNWIND [['a, b', 'c', 'd\"e, f']] AS x UNWIND x AS y RETURN y")
      .collect().map(_.getString(0))
    assert(ss.toSeq == Seq("a, b", "c", "d\"e, f"))
  }

  test("extended-type casts: tovector / toinet / totsvector / ranges") {
    val r = run(
      "RETURN tovector('[1.5, 2, 3]') AS v, " +
      "toinet('10.0.0.0/8') AS net, " +
      "totsvector('A fat cat') AS tsv, " +
      "intrange(3, 7) AS rng").collect().head
    assert(r.getSeq[Double](0) == Seq(1.5, 2.0, 3.0))
    assert(r.getStruct(1).getAs[Int]("masklen") == 8)
    assert(r.getSeq[String](2) == Seq("a", "cat", "fat"))
    val rng = r.getStruct(3)
    assert(rng.getAs[Long]("lo") == 3L && rng.getAs[Long]("hi") == 7L)
  }

  test("arithmetic with promotion in projections") {
    val r = run("RETURN 7 / 2 AS intdiv, -7 / 2 AS negdiv, 7.0 / 2 AS fdiv, 2 ^ 10 AS p")
      .collect().head
    // gtype_div: int/int truncates toward zero (gtype_ops.c:549-554)
    assert(r.getLong(0) == 3L && r.getLong(1) == -3L)
    assert(r.getDouble(2) == 3.5 && r.getDouble(3) == 1024.0)
    // exact above 2^53 (a through-double division would drop the low bit)
    val big = run("RETURN 9007199254740993 / 1 AS b, 9007199254740993 / 3 AS t")
      .collect().head
    assert(big.getLong(0) == 9007199254740993L && big.getLong(1) == 3002399751580331L)
  }

  test("CALL {} uncorrelated subquery cross-joins its result") {
    val rows = run(
      "MATCH (c:City) CALL { MATCH (p:Person) RETURN count(*) AS np } RETURN c.cname AS c, np ORDER BY c")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("LAX", 5L), ("NYC", 5L), ("SEA", 5L)))
  }

  test("CALL {} with import WITH runs per outer row") {
    val rows = run(
      "MATCH (c:City) CALL { WITH c MATCH (p:Person)-[:LIVES_IN]->(c) RETURN count(*) AS np } " +
      "RETURN c.cname AS city, np ORDER BY city")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("LAX", 1L), ("NYC", 2L), ("SEA", 2L)))
  }

  test("CALL {} correlated with per-row ORDER BY + LIMIT (lateral top-k)") {
    // youngest resident per city — the ORDER/LIMIT applies within each
    // outer row's partition, not globally
    val rows = run(
      "MATCH (c:City) CALL { WITH c MATCH (p:Person)-[:LIVES_IN]->(c) " +
      "RETURN p.name AS who ORDER BY p.age, p.name LIMIT 1 } " +
      "RETURN c.cname AS city, who ORDER BY city")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("LAX", "Eve"), ("NYC", "Dee"), ("SEA", "Bob")))
  }

  test("CALL {} correlated with per-row SKIP drops each partition's head") {
    val rows = run(
      "MATCH (c:City) CALL { WITH c MATCH (p:Person)-[:LIVES_IN]->(c) " +
      "RETURN p.name AS who ORDER BY p.age, p.name SKIP 1 } " +
      "RETURN c.cname AS city, who ORDER BY city, who")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // LAX has one resident → skipped away entirely; SEA skips Bob(24), NYC skips Dee(35)
    assert(rows.toSeq == Seq(("NYC", "Cal"), ("SEA", "Ann")))
  }

  test("VLE large/unbounded bounds iterate to fixpoint (vle.sql:41-51)") {
    // chain 1->2->3->4 with cycle 4->1: simple-edge paths from Ann reach
    // length 4 max; *1..200 must terminate early, not unroll 200 joins
    val n200 = run("MATCH (a:Person {name: 'Ann'})-[*1..200]->(b:Person) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val nUnb = run("MATCH (a:Person {name: 'Ann'})-[*]->(b:Person) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n200 == nUnb && nUnb == 4L) // Bob, Cal, Dee, back to Ann
    // lo beyond the longest simple path → empty, not an error
    val none = run("MATCH (a:Person {name: 'Ann'})-[*30..200]->(b) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(none == 0L)
  }

  test("re-mentioned edge variable constrains to the same edge (match.sql:176)") {
    // (a)-[e]->(b)-[e]->(c): both hops must be THE SAME edge — a
    // contradiction under edge uniqueness, so the result is empty
    val n = run("MATCH (a)-[e:KNOWS]->(b)-[e:KNOWS]->(c) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 0)
    // EXISTS with a re-mentioned bound edge: loop check — self-loop 5->5
    val loops = run(
      "MATCH (u:Person)-[e:KNOWS]->(v:Person) WHERE EXISTS ((u)-[e]->(u)) " +
      "RETURN u.name AS n").collect().map(_.getString(0))
    assert(loops.toSeq == Seq("Eve"))
  }

  test("property map constraint with NULL value matches nothing (match.sql:127)") {
    val n = run("MATCH (p:Person {name: null}) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 0)
  }

  test("cypher() table-valued function composes inside plain SQL") {
    graft.cypher.CypherTvf.registerGraph("social", graph)
    graft.cypher.CypherTvf.register(spark)
    val rows = spark.sql(
      "SELECT name, age FROM cypher('social', " +
      "'MATCH (p:Person) RETURN p.name AS name, p.age AS age') " +
      "WHERE age > 28 ORDER BY name").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Ann", 30L), ("Cal", 41L), ("Dee", 35L)))
    // graph TVF joined against an ordinary SQL view
    spark.sql("SELECT 'SEA' AS city, 1 AS pop UNION ALL SELECT 'NYC', 2")
      .createOrReplaceTempView("city_pop")
    val joined = spark.sql(
      "SELECT c.city, p.pop FROM cypher('social', " +
      "'MATCH (x:Person)-[:LIVES_IN]->(c:City) RETURN DISTINCT c.cname AS city') c " +
      "JOIN city_pop p ON c.city = p.city ORDER BY c.city").collect()
    assert(joined.map(_.getString(0)).toSeq == Seq("NYC", "SEA"))
  }

  test("CALL db.labels() YIELD") {
    val rows = run("CALL db.labels() YIELD label RETURN label ORDER BY label")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("City", "Person"))
  }

  test("= ANY (subquery) keeps rows matching some subquery value") {
    // ages of SEA residents: 30, 24 — Eve (24) matches via ANY
    val rows = run(
      "MATCH (p:Person) WHERE p.age = ANY (MATCH (q:Person {city: 'SEA'}) RETURN q.age) " +
      "RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Ann", "Bob", "Eve"))
  }

  test("<> ALL (subquery) is the anti of = ANY") {
    val rows = run(
      "MATCH (p:Person) WHERE p.age <> ALL (MATCH (q:Person {city: 'SEA'}) RETURN q.age) " +
      "RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Cal", "Dee"))
  }

  test("> ALL (subquery) with empty subquery is true") {
    val rows = run(
      "MATCH (p:Person) WHERE p.age > ALL (MATCH (q:Person {city: 'NOPE'}) RETURN q.age) " +
      "RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(rows == 5L)
  }

  test("EXISTS(MATCH ... RETURN ...) full-subquery form") {
    val rows = run(
      "MATCH (u:Person) WHERE EXISTS(MATCH (u)-[:KNOWS]->(x:Person {city: 'NYC'}) RETURN 1) " +
      "RETURN u.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Bob", "Cal"))
  }

  test("UNWIND heterogeneous literal list orders by gtype cross-type rules") {
    // gtype order: string < bool < numbers < null (gtype_util.c:210-330)
    val rows = run(
      "UNWIND ['b', 1, true, 2.5, 'a', null, 0] AS x RETURN tostring(x) AS s ORDER BY x")
      .collect().map(r => if (r.isNullAt(0)) "NULL" else r.getString(0))
    assert(rows.toSeq == Seq("a", "b", "true", "0", "1", "2.5", "NULL"))
  }

  test("heterogeneous property type across labels via dynamic column") {
    import spark.implicits._
    val a = Seq((1L, 42L), (2L, 7L)).toDF("k", "code")        // code: LONG
    val b = Seq((10L, "x7"), (11L, "a1")).toDF("k", "code")   // code: STRING
    val g = new graft.graph.GraphBuilder(spark)
      .vertexLabel("NumCode", a, "k")
      .vertexLabel("StrCode", b, "k")
      .build()
    val out = new Compiler(g)
      .run("MATCH (n) RETURN tostring(n.code) AS c ORDER BY n.code")
      .collect().map(_.getString(0))
    // strings sort before numbers in gtype order
    assert(out.toSeq == Seq("a1", "x7", "7", "42"))
    // equality against a typed literal still matches the dynamic column
    val hit = new Compiler(g)
      .run("MATCH (n {code: 42}) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(hit == 1L)
  }

  test("property-map filter containment on map and list properties") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{map => smap, lit, array}
    // reference: regress/sql/cypher_match.sql "Property constraints" —
    // map literals contain key-wise, list literals require element presence
    val docs = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
      .withColumn("meta", smap(lit("key"), lit("value"), lit("k2"),
        org.apache.spark.sql.functions.when(org.apache.spark.sql.functions.col("k") === 1, "x").otherwise("y")))
      .withColumn("lst", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("k") === 1, array(lit(1L), lit(2L), lit(3L)))
        .otherwise(array(lit(4L), lit(5L))))
    val g = new graft.graph.GraphBuilder(spark).vertexLabel("D", docs, "k").build()
    def n(q: String): Long =
      new Compiler(g).run(q).collect().head.getLong(0)
    // full map equality-style containment
    assert(n("MATCH (d:D {meta: {key: 'value', k2: 'x'}}) RETURN count(*) AS n") == 1)
    // partial map containment (subset of keys)
    assert(n("MATCH (d:D {meta: {key: 'value'}}) RETURN count(*) AS n") == 2)
    assert(n("MATCH (d:D {meta: {key: 'nope'}}) RETURN count(*) AS n") == 0)
    // list containment: all pattern elements present
    assert(n("MATCH (d:D {lst: [1, 2, 3]}) RETURN count(*) AS n") == 1)
    assert(n("MATCH (d:D {lst: [1, 2]}) RETURN count(*) AS n") == 1)
    assert(n("MATCH (d:D {lst: [1, 9]}) RETURN count(*) AS n") == 0)
  }
}
