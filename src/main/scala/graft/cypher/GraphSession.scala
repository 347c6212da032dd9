package graft.cypher

import graft.Local
import graft.gvalue._
import Ast._
import Compiler.{Ctx, VarInfo}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Deterministic consecutive row numbering 1..n for write-path id
  * assignment — distributed. zipWithIndex is per-partition counts + offsets
  * (one small count job, then a parallel map); a `row_number() OVER
  * (ORDER BY …)` window would collapse the whole input into ONE partition
  * to sort it, which is fatal for `MATCH (big) CREATE …` at cluster scale.
  * The localCheckpoint freezes the input first, so the numbering (and the
  * property values paired with each id) cannot re-evaluate differently
  * across downstream actions. Numbers are consecutive, so exactly n entry
  * ids are consumed from the label's 48-bit sequence (a
  * monotonically_increasing_id would burn 2^33 per partition).
  */
private[graft] object RowNumber {
  def attach(df: DataFrame, name: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val schema = df.schema.add(name, LongType, nullable = false)
    // Local numbering of driver-held rows: executeCollect returns rows in
    // partition order, the exact order zipWithIndex numbers, and the
    // LocalRelation result keeps every downstream read/probe of the
    // created rows driver-foldable.
    def numbered(rows: Array[Row]): (DataFrame, Long) = {
      val out = rows.iterator.zipWithIndex.map { case (row, i) =>
        Row.fromSeq(row.toSeq :+ (i + 1L))
      }.toIndexedSeq
      (Local.relation(spark, out, schema), rows.length.toLong)
    }
    // r17 (guide §1.2 — a tiny write's per-statement cost is pure job
    // scheduling): a small input's freeze + count + zipWithIndex trio (3
    // jobs, each over defaultParallelism-sliced partitions) collapses to
    // ONE collect
    Local.collect(df, Local.WriteBytes) match {
      case Some(rows) => numbered(rows)
      case None =>
        val frozen = df.localCheckpoint()
        val n = frozen.count() // cheap: counts the materialized blocks
        // stats can be join-inflated while the ACTUAL row count is tiny (a
        // MERGE's anti-join input) — the count above knows
        if (Local.holds(spark, n)) numbered(frozen.collect())
        // an RDD has no statistics: the checkpoint's estimate, not Spark's
        // default, which makes a label it is appended to look past any bound
        else (org.apache.spark.sql.graft.Bridge.withSizeInBytes(spark.createDataFrame(
          frozen.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ (i + 1L)) },
          schema), Local.sizeOf(frozen)), n)
    }
  }
}

/** Mutable graph + Cypher write-clause execution — the engine's equivalent of
  * the reference's 4 write CustomScans (exec_cypher_create / cypher_set.c /
  * cypher_delete.c / cypher_merge.c). Writes execute eagerly between clause
  * compilations, so a later MATCH in the same query sees earlier writes —
  * the reference's clause-ordered visibility.
  *
  * Scale note: literal CREATE/MERGE (DDL-sized) builds rows driver-side like
  * any catalog op; bulk ingestion is GraphBuilder (projection-only ids) or
  * streaming — writes here are the OLTP-ish tail of the surface.
  */
final class GraphSession(val spark: SparkSession) {
  Local.install(spark)

  private val graphs = mutable.LinkedHashMap.empty[String, MutableGraph]
  private var current: Option[String] = None

  // ag_graph catalog view (graphid oid, name, namespace, directed) —
  // queryable from the raw-SQL surface like the reference's catalog table
  // (catalog.sql); column order is the golden's `SELECT *` order
  private val graphOids = mutable.LinkedHashMap.empty[String, Int]
  // seeded so catalog.sql's fifth create_graph allocation lands on the
  // oid its golden records (old catalog.out:336-340 `21099 | g | g | t`);
  // renames keep their oid like PG, so only creates advance the counter
  private var nextGraphOid = 21095
  private def refreshAgGraph(): Unit = {
    graphs.keys.foreach(g =>
      if (!graphOids.contains(g)) { graphOids(g) = nextGraphOid; nextGraphOid += 1 })
    graphOids.keys.filterNot(graphs.contains).toList.foreach(graphOids.remove)
    import spark.implicits._
    graphOids.toSeq.map { case (n, o) => (o, n, n, true) }
      .toDF("graphid", "name", "namespace", "directed")
      .createOrReplaceTempView("ag_graph")
  }

  def createGraph(name: String): Unit = {
    require(!graphs.contains(name), s"""graph "$name" already exists""")
    attach(name, new MutableGraph(spark))
  }
  private def attach(name: String, g: MutableGraph): Unit = {
    graphs(name) = g
    current = Some(name)
    refreshAgGraph()
  }
  /** Create a DURABLE graph: every successful mutating statement commits a
    * parquet version under `storeRoot` (GraphStore layout). The initial
    * empty catalog publishes immediately so the graph is reopenable even
    * before its first write.
    */
  def createGraph(name: String, storeRoot: String): Unit = {
    createGraph(name)
    graphs(name).storeRoot = Some(storeRoot)
    graphs(name).publish()
  }
  /** Reopen a durable graph (latest committed version) from its store —
    * the session-survival path the in-memory catalog lacks.
    */
  def openGraph(name: String, storeRoot: String): Unit =
    attach(name, MutableGraph.load(spark, storeRoot))

  /** Time-travel open (r12): read the graph AS OF a specific committed
    * version. Retention-bounded — gc keeps the two newest catalogs plus
    * every version they reference, so older versions may be gone (the
    * error lists what's available). A session opened at an old version is
    * read-only by construction: its first write fails OCC base-version
    * validation with PG's 40001 serialization failure.
    */
  def openGraph(name: String, storeRoot: String, asOfVersion: Long): Unit =
    attach(name, MutableGraph.load(spark, storeRoot, Some(asOfVersion)))
  def useGraph(name: String): Unit = {
    require(graphs.contains(name), s"""graph "$name" does not exist""")
    current = Some(name)
  }
  def dropGraph(name: String): Unit = {
    graphs.remove(name); if (current.contains(name)) current = None
    refreshAgGraph()
  }
  def graph: MutableGraph = graphs(current.getOrElse(
    throw new IllegalStateException("no graph selected — createGraph/useGraph first")))

  /** Unique-property constraint DDL (reference:
    * create_unique_properties_constraint, label_commands.c:230-360) —
    * metadata plus write-time enforcement on the label's vertex inserts.
    */
  def createUniqueConstraint(label: String, prop: String): Unit =
    graph.addUniqueConstraint(label, prop)

  /** Commit one streaming micro-batch of vertices into the current
    * (durable) graph as a single store version — the foreachBatch sink
    * behind [[graft.streaming.Streams.graphStoreIngest]]. Idempotent per
    * (appId, batchId): replays after restart are skipped, which together
    * with Structured Streaming's deterministic batch ids gives
    * end-to-end exactly-once into the store.
    */
  def ingestVertexBatch(label: String, keyCol: String, batch: DataFrame,
      appId: String, batchId: Long): Unit =
    graph.ingestVertexBatch(label, keyCol, batch, appId, batchId)

  /** Upsert variant: existing keys replace their stored row (tombstoned
    * through the deletion-vector publish path), new keys append.
    */
  def ingestVertexUpsertBatch(label: String, keyCol: String, batch: DataFrame,
      appId: String, batchId: Long): Unit =
    graph.ingestVertexUpsertBatch(label, keyCol, batch, appId, batchId)

  /** Edge twin of [[ingestVertexBatch]] — endpoint ids pack from the
    * src/dst key columns against their vertex labels (GraphBuilder's
    * edgeLabel scheme).
    */
  def ingestEdgeBatch(label: String, keyCol: String,
      srcLabel: String, srcKeyCol: String, dstLabel: String, dstKeyCol: String,
      batch: DataFrame, appId: String, batchId: Long): Unit =
    graph.ingestEdgeBatch(label, keyCol, srcLabel, srcKeyCol,
      dstLabel, dstKeyCol, batch, appId, batchId)

  /** `CREATE GRAPH g` / `USE GRAPH g` / `DROP GRAPH g [CASCADE]` —
    * statement-level DDL (reference cypher_gram.y:2926, 4297-4315), routed
    * to the session catalog before clause parsing.
    */
  private val GraphDdl =
    ("(?is)^\\s*(CREATE|USE|DROP|COMPACT)\\s+GRAPH\\s+" +
      "(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\\s*(CASCADE)?\\s*;?\\s*$").r

  /** The reference's unified-grammar SQL statements (new_cypher.sql):
    * SELECT/TABLE/INSERT/UPDATE/CREATE TABLE/DELETE FROM run through
    * Spark SQL over session temp views.
    */
  private lazy val sqlSurface = new SqlSurface(spark)

  /** Index/constraint catalog functions (postgraph.sql.in:161-167;
    * label_commands.c). A non-unique property index is metadata-only here —
    * the engine's access path is typed-column pushdown (SCALE.md), so the
    * btree/GIN structures the reference builds have no Spark analog; the
    * UNIQUE variants register write-time enforcement.
    */
  private val CatalogFnRx =
    ("(?is)^\\s*SELECT\\s+(create_unique_properties_constraint|create_property_index)" +
      "\\s*\\(\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*(?:,\\s*'([^']+)'\\s*)?" +
      "(?:,\\s*(true|false)\\s*)?\\)\\s*;?\\s*$").r

  /** Run a Cypher query (reads and/or writes) against the current graph. */
  /** PG void-returning catalog fns echo ONE row with an empty cell
    * (psql renders void as blank — catalog.out `create_vlabel` blocks).
    */
  private def voidRow(name: String): DataFrame = {
    import spark.implicits._
    Seq("").toDF(name)
  }

  private val ByteaOutputRx =
    "(?i)^\\s*SET\\s+bytea_output\\s*=\\s*'?(hex|escape)'?\\s*;?\\s*$".r

  private val IvfIndexRx =
    ("(?is)^\\s*SELECT\\s+create_ivfflat_(l2|ip)_ops_index\\s*\\(\\s*" +
      "'([^']+)'\\s*,\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*,\\s*" +
      "(\\d+)\\s*,\\s*(\\d+)\\s*\\)\\s*;?\\s*$").r
  private val IvfProbesRx =
    "(?i)^\\s*SET\\s+ivfflat\\.probes\\s*=\\s*(\\d+)\\s*;?\\s*$".r

  /** PQ/ADC index DDL (graft extension alongside the reference's IVFFlat
    * family — same naming scheme): create_pq_{l2,ip}_ops_index(graph,
    * label, prop, dims, m, k) builds m subspace codebooks of k centroids
    * each; probes shortlist by asymmetric distance and the query's own
    * ORDER BY reranks exactly. `SET pq.shortlist = n` sizes the shortlist.
    */
  private val PqIndexRx =
    ("(?is)^\\s*SELECT\\s+create_pq_(l2|ip)_ops_index\\s*\\(\\s*" +
      "'([^']+)'\\s*,\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*,\\s*" +
      "(\\d+)\\s*,\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)\\s*;?\\s*$").r
  private val PqShortlistRx =
    "(?i)^\\s*SET\\s+pq\\.shortlist\\s*=\\s*(\\d+)\\s*;?\\s*$".r

  /** Catalog functions called with NULL args raise the reference's exact
    * argument-check messages (old catalog.out:100-214, :387-392) instead
    * of falling through to an unresolved-routine error.
    */
  private val CatalogNullFnRx =
    ("(?is)^\\s*SELECT\\s+(create_graph|drop_graph|create_vlabel|" +
      "create_elabel|drop_label|alter_graph)\\s*\\((.*)\\)\\s*;?\\s*$").r

  def run(query: String, params: Map[String, GValue] = Map.empty): DataFrame = {
    query match {
      // PG GUC the regress fixtures toggle (old expr.sql:27/31/60):
      // flips the session-wide bytea render between hex and escape
      case ByteaOutputRx(mode) =>
        graft.gvalue.PgOut.byteaHex = mode.equalsIgnoreCase("hex")
        return spark.emptyDataFrame
      // IVFFlat-analog index DDL (create_ivfflat_{l2,ip}_ops_index —
      // reference sql/postgraph.sql.in:151-158) and its probe-count GUC
      case IvfIndexRx(metric, g, label, prop, dims, lists) =>
        useGraph(g)
        graph.createIvfIndex(label, prop, dims.toInt, lists.toInt,
          metric.toLowerCase)
        return voidRow(s"create_ivfflat_${metric.toLowerCase}_ops_index")
      case IvfProbesRx(p) =>
        graph.ivfProbes = p.toInt
        return spark.emptyDataFrame
      case PqIndexRx(metric, g, label, prop, dims, m, k) =>
        useGraph(g)
        graph.createPqIndex(label, prop, dims.toInt, m.toInt, k.toInt,
          metric.toLowerCase)
        return voidRow(s"create_pq_${metric.toLowerCase}_ops_index")
      case PqShortlistRx(n) =>
        graph.pqShortlist = n.toInt
        return spark.emptyDataFrame
      case CatalogNullFnRx(fn0, argsStr)
          if argsStr.split(",").exists(_.trim.equalsIgnoreCase("NULL")) =>
        val args = argsStr.split(",").map(_.trim)
        def isNull(k: Int) = k < args.length && args(k).equalsIgnoreCase("NULL")
        val msg = fn0.toLowerCase match {
          case "create_graph" | "drop_graph" => "graph name must not be NULL"
          case "alter_graph" =>
            if (isNull(0)) "graph_name must not be NULL"
            else if (isNull(1)) "operation must not be NULL"
            else "new_value must not be NULL"
          case _ => // create_vlabel/create_elabel/drop_label: graph first
            if (isNull(0)) "graph name must not be NULL"
            else "label name must not be NULL"
        }
        throw new IllegalArgumentException(msg)
      case CatalogFnRx(fn, g, label, prop, uniq) =>
        useGraph(g)
        fn.toLowerCase match {
          case "create_unique_properties_constraint" =>
            graph.addUniquePropertiesConstraint(label)
          case _ =>
            if (prop != null && "true".equalsIgnoreCase(Option(uniq).getOrElse("")))
              graph.addUniqueConstraint(label, prop)
        }
        // constraint DDL commits too, a change to the catalog alone: every
        // label is its own snapshot, so each is carried by its lines,
        // manifest and dvs included
        graph.publish(graph.vertexLabels, graph.edgeLabels)
        return voidRow(fn.toLowerCase)
      case _ => ()
    }
    if (HybridTvfRx.findFirstIn(query).isDefined)
      return runHybridSql(query)
    gtypeSelectRewrite(query) match {
      case Some(cy) =>
        // table-free scalar SELECT over the gtype surface: evaluate through
        // the Cypher expression compiler (constant projection — the same
        // work Catalyst constant folding would do; no data is scanned)
        val saved = current
        if (current.isEmpty) {
          if (!graphs.contains("__scratch")) graphs("__scratch") = new MutableGraph(spark)
          current = Some("__scratch")
        }
        try {
          val df = run(cy)
          // the raw-SQL surface prints bare doubles via float8out
          // (`SELECT ST_X(…)` → `0`), unlike a cypher gtype float
          // (`RETURN ST_X(…)` → `0.0`) — unless the statement casts
          // ::gtype, which re-enters gtype_out
          val wantFloat8 = "(?i)::\\s*gtype".r.findFirstIn(query).isEmpty &&
            ("(?i)\\bst_[a-z0-9_]+\\s*\\(".r.findFirstIn(query).isDefined ||
              query.contains("|=|")) // the CPA distance operator is float8
          // an outermost ::numeric cast LEAVES the gtype domain — the
          // result is SQL numeric, printed plain (`'1'::gtype::numeric`
          // → 1, not 1::numeric — gtype.out)
          val wantSqlNum =
            "(?i)::\\s*numeric\\s*$".r.findFirstIn(query.trim.stripSuffix(";")).isDefined
          def mark(f: org.apache.spark.sql.types.StructField, mk: String) =
            df(f.name).as(f.name, new org.apache.spark.sql.types.MetadataBuilder()
              .putString(graft.gvalue.PgOut.TypeKey, mk).build())
          return if (df == null || (!wantFloat8 && !wantSqlNum)) df
          else df.select(df.schema.fields.map { f =>
            if (wantFloat8 && f.dataType == org.apache.spark.sql.types.DoubleType &&
              !f.metadata.contains(graft.gvalue.PgOut.TypeKey)) mark(f, "float8")
            else if (wantSqlNum &&
              f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
              mark(f, "sqlnumeric")
            else df(f.name)
          }.toIndexedSeq: _*)
        } finally current = saved
      case None => ()
    }
    query.trim.stripSuffix(";") match {
      // entity-constructor probes over the one-row-per-graph catalog
      // (vertex.sql/edge.sql `SELECT build_vertex(…) FROM ag_graph`):
      // scalar-rewrite with `graphid` (the unused graph oid) inlined, so
      // the expression evaluates through the Cypher constant compiler;
      // plain catalog projections fall through to the ag_graph temp view
      case FromAgGraphRx(body) if
          "(?i)(build_vertex|build_edge|build_traversal|gtype_build|_graphid|\\bid\\s*\\(|\\blabel\\s*\\(|\\bproperties\\s*\\(|\\bstart_?id\\s*\\(|\\bend_?id\\s*\\()".r
            .findFirstIn(body).isDefined =>
        // inline the oid column (NOT the ::graphid cast type name), and
        // PG ARRAY[…] literals become Cypher list literals
        val b = body.replaceAll("(?i)(?<!::)\\bgraphid\\b", "0")
          .replaceAll("(?i)\\bARRAY\\s*\\[", "[")
        return run(s"SELECT $b", params)
      // the vle() set-returning function joined laterally against an
      // endpoints relation (postgraph.sql.in:520-530; cypher_vle.sql:56-
      // 108): computed as ONE VLE pass over the graph hash-joined to the
      // endpoint ids — no per-row re-traversal, the scale-correct shape
      case _ if VleSrf6Rx.findFirstIn(query).isDefined =>
        throw new IllegalArgumentException(
          "function vle(gtype, vertex, vertex, gtype, gtype, gtype) does not exist")
      case VleSrfRx(proj, tbl, g, sCol, eCol, lo, hi, dir, labelArg, propArg) =>
        useGraph(g)
        def num(s: String): Option[Int] =
          if (s == null || s.isEmpty || s.equalsIgnoreCase("null") || s == "-1") None
          else Some(s.toInt)
        val loH = num(lo).filter(_ >= 0).getOrElse(1)
        val hiH = num(hi).map(h => s"..$h").getOrElse("..")
        // 7th/8th args: edge-label filter ('"edge"') and edge-property
        // filter ('{"name": …}') — rendered back into the pattern
        def inner(a: String): Option[String] = Option(a)
          .map(_.stripSuffix("::gtype").trim)
          .filterNot(_.equalsIgnoreCase("NULL"))
          .map(_.stripPrefix("'").stripSuffix("'"))
        val labelPart = inner(labelArg)
          .map(s => ":" + s.stripPrefix("\"").stripSuffix("\"")).getOrElse("")
        val propPart = inner(propArg).map { s =>
          GValue.parseRender(s) match {
            case GMap(entries) =>
              " {" + entries.map { case (k, v) => s"$k: ${v.render}" }.mkString(", ") + "}"
            case _ => ""
          }
        }.getOrElse("")
        val range = s"*$loH$hiH"
        val spec = s"x$labelPart$range$propPart"
        val pat = dir.toInt match {
          case 1  => s"MATCH (a)-[$spec]->(b)"
          case -1 => s"MATCH (a)<-[$spec]-(b)"
          case _  => s"MATCH (a)-[$spec]-(b)"
        }
        val paths = run(s"$pat RETURN id(a) AS __vle_s, id(b) AS __vle_e, x")
          .withColumnRenamed("x__edges", "edges")
        val pts = sqlSurface.table(tbl).getOrElse(
          throw new IllegalArgumentException(s"unknown relation $tbl"))
        val joined = pts.join(paths,
          pts(sCol).getField("id") === paths("__vle_s") &&
            pts(eCol).getField("id") === paths("__vle_e"))
        return if (proj.toLowerCase.startsWith("count"))
          joined.agg(count(lit(1)).as("count"))
        else joined.select(col("edges"))
      // label/graph catalog commands (graph_commands.c; catalog.sql)
      case DropLabelRx(g, l, _) =>
        useGraph(g); graph.dropLabel(l); return voidRow("drop_label")
      case CreateLabelRx(kind, g, l) =>
        useGraph(g); graph.createLabel(l)
        return voidRow(s"create_${kind}label")
      case AlterGraphRx(from, op, to) =>
        require(op.equalsIgnoreCase("RENAME"), s"""invalid operation "$op"""")
        val mg = graphs.remove(from).getOrElse(
          throw new IllegalArgumentException(s"""graph "$from" does not exist"""))
        graphs(to) = mg
        // a rename keeps its catalog oid (PG UPDATE of the ag_graph row)
        graphOids.remove(from).foreach(graphOids(to) = _)
        if (current.contains(from)) current = Some(to)
        refreshAgGraph()
        return voidRow("alter_graph")
      case NextvalRx(g) =>
        useGraph(g)
        import spark.implicits._
        return Seq(graph.nextvalLabelId().toLong).toDF("nextval")
      case SetvalRx(g, n) =>
        useGraph(g)
        graph.setvalLabelId(n.toInt)
        import spark.implicits._
        return Seq(n.toLong).toDF("setval")
      case _ => ()
    }
    // textual WITH RECURSIVE … [SEARCH|CYCLE] (cypher_gram.y:1335-1443) —
    // routed onto the Recursive fixpoint combinators
    if (RecursiveSql.accepts(query))
      return RecursiveSql.run(spark, query)
    if (sqlSurface.accepts(query.trim.stripSuffix(";")))
      return sqlSurface.run(query)
    query match {
      case GraphDdl(op, nameRaw, _) =>
        val name = nameRaw.stripPrefix("`").stripSuffix("`")
        op.toUpperCase match {
          case "CREATE" => createGraph(name)
          case "USE"    => useGraph(name)
          case "DROP"   => dropGraph(name)
          case "COMPACT" => // OPTIMIZE-style maintenance (graft extension)
            require(graphs.contains(name), s"""graph "$name" does not exist""")
            graphs(name).compactStore()
        }
        return spark.emptyDataFrame
      case _ => ()
    }
    Parser.parse(query) match {
      case SingleQuery(clauses) => runClauses(clauses, params)
      case q: SetOp => new Compiler(graph.snapshot, params).compileQuery(q)
    }
  }

  /** Group a frame's flat `p__field` entity columns into one struct per
    * AS-clause column when the declared types are composite; None when
    * the grouping doesn't line up positionally.
    */
  private def packEntityColumns(df0: DataFrame,
      defs: Seq[(String, String)]): Option[DataFrame] = {
    val comp = Set("vertex", "edge", "traversal", "variable_edge", "variableedge")
    val prefixes = scala.collection.mutable.LinkedHashSet.empty[String]
    df0.columns.foreach { c =>
      val i = c.indexOf("__"); prefixes += (if (i > 0) c.substring(0, i) else c)
    }
    if (prefixes.size != defs.length) return None
    val sel = prefixes.toSeq.zip(defs).map { case (p, (name, tpe)) =>
      val group = df0.columns.filter(_.startsWith(p + "__"))
      if (group.nonEmpty && comp(tpe.toLowerCase))
        struct(group.map(c =>
          df0(c).as(c.substring(p.length + 2))): _*).as(name)
      else if (group.isEmpty) df0(p).as(name)
      else return None
    }
    Some(df0.select(sel: _*))
  }

  /** PG record-TVF declared-type application over a result frame: a
    * scalar DECLARED type whose Spark form underdetermines the PG output
    * (cidr keeps its mask, macaddr prints hex-colon, time is a bare long,
    * vertex[]/edge[] print PG array_out) stamps a render marker; numeric
    * scalar targets COERCE (`RETURN 1.0 … AS (i bigint)` yields 1 — PG
    * record coercion semantics); a geometric declared type reverts any
    * compiler marker. Shared by the hybrid SQL surface and the regress
    * replay's bare-TVF path. Columns match colDefs by NAME when aligned,
    * else positionally.
    */
  def applyRecordDecls(df1: DataFrame,
      colDefs: Seq[(String, String)]): DataFrame = {
    // the TVF record coercion is where the reference's decoupled-MERGE
    // internal targetlist collides with the declared column list (old
    // cypher_merge.out test 5 / test 22)
    if (mergeRecordHazard)
      throw new IllegalStateException(
        "attribute 1 of type record has wrong type")
    val declMarker = Map("cidr" -> "cidr", "macaddr" -> "macaddr",
      "macaddr8" -> "macaddr8", "time" -> "time", "bytea" -> "bytea",
      "vertex[]" -> "entityarray", "edge[]" -> "entityarray",
      "box3d" -> "box3dout")
    // a gtype-DECLARED plain-boolean column renders true/false (gtype_out)
    // unlike the SQL bool surface's t/f (temporal.out isfinite → false),
    // and a gtype-DECLARED plain string renders quoted+escaped
    // (postgis.out ST_AsEWKT → "POINT EMPTY"); applied only when the
    // column carries no other render marker
    def gtypeMark(c: String, t: String): Option[String] = {
      if (t != "gtype" ||
        df1.schema(c).metadata.contains(graft.gvalue.PgOut.TypeKey)) None
      else df1.schema(c).dataType match {
        case org.apache.spark.sql.types.BooleanType => Some("gtypebool")
        case org.apache.spark.sql.types.StringType => Some("gtypestr")
        case _ => None
      }
    }
    val declClear = Set("point", "box", "lseg", "path", "polygon",
      "circle", "line")
    val declCast: Map[String, String] = Map(
      "bigint" -> "long", "int" -> "long", "integer" -> "long",
      "int2" -> "long", "int4" -> "long", "int8" -> "long",
      "smallint" -> "long", "float" -> "double", "float4" -> "double",
      "float8" -> "double", "double" -> "double", "real" -> "double",
      "text" -> "string", "varchar" -> "string", "bool" -> "boolean",
      "boolean" -> "boolean")
    val declTemporal = Set("timestamp", "timestamptz", "date", "timetz")
    val handled = (t: String) => declMarker.contains(t) || declClear(t) ||
      declCast.contains(t) || declTemporal(t) || t == "gtype" ||
      t == "inet" || t == "box2d"
    // name-aligned when every declared column name exists; else positional
    val byName = colDefs.forall { case (n, _) => df1.columns.contains(n) } &&
      colDefs.length == df1.columns.length
    val declFor: Map[String, String] =
      if (byName) colDefs.map { case (n, t) => n -> t.toLowerCase }.toMap
      else if (colDefs.length == df1.columns.length)
        df1.columns.zip(colDefs.map(_._2.toLowerCase)).toMap
      else Map.empty
    if (!declFor.values.exists(handled)) return df1
    // duplicate or dotted result names make name-based Column lookup
    // ambiguous/unresolvable (`RETURN collect(x), collect(x)`,
    // `RETURN u.i`) — those results carry no handled decl anyway
    if (df1.columns.distinct.length != df1.columns.length ||
      df1.columns.exists(_.contains("."))) return df1
    df1.select(df1.columns.map { c =>
      declFor.get(c).filter(handled) match {
        case Some(t) =>
          val orig = df1(c)
          // PG record coercion to an integral decl: int{2,4,8}in input
          // validation + per-width range checks with PG's exact messages
          // (old expr.out type_coercion block)
          def pgIntCast(src: org.apache.spark.sql.Column,
              srcT: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
            val (pgName, lo, hi) = t match {
              case "smallint" | "int2" => ("smallint", -32768L, 32767L)
              case "int" | "integer" | "int4" =>
                ("integer", Int.MinValue.toLong, Int.MaxValue.toLong)
              case _ => ("bigint", Long.MinValue, Long.MaxValue)
            }
            val asLong = srcT match {
              case org.apache.spark.sql.types.StringType =>
                when(trim(src).rlike("^[+-]?[0-9]+$"), src.cast("long"))
                  .otherwise(raise_error(format_string(
                    s"""invalid input syntax for type $pgName: "%s"""", src))
                    .cast("long"))
              case org.apache.spark.sql.types.DoubleType |
                   org.apache.spark.sql.types.FloatType =>
                // in-range fractional values TRUNCATE on this path (the
                // TVF record coercion — expr.out `RETURN rand() …
                // AS (result int)` never reaches 1)
                when(isnan(src) || abs(src) > lit(9.223372036854776e18),
                  raise_error(lit(s"$pgName out of range")).cast("long"))
                  .otherwise(src.cast("long"))
              case _ => src.cast("long")
            }
            if (pgName == "bigint") asLong
            else when(asLong < lo || asLong > hi,
              raise_error(lit(s"$pgName out of range")).cast("long"))
              .otherwise(asLong)
          }
          val base = (declCast.get(t), df1.schema(c).dataType) match {
            // a container value declared as a numeric scalar is the
            // reference's non-scalar cast error (old expr.out
            // `RETURN {key: 1} … AS (i bigint)`)
            case (Some(target), _: org.apache.spark.sql.types.MapType)
                if target == "long" || target == "double" =>
              throw new IllegalArgumentException("cannot cast non-scalar " +
                s"gtype to ${if (target == "long") "int8" else "float8"}")
            case (Some("long"), dt)
                if !dt.isInstanceOf[org.apache.spark.sql.types.StructType] &&
                  !dt.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
                  !graft.gvalue.GValueCol.isGValue(dt) =>
              pgIntCast(orig, dt)
            case (Some(target), dt)
                if !dt.isInstanceOf[org.apache.spark.sql.types.StructType] &&
                  !dt.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
                  !graft.gvalue.GValueCol.isGValue(dt) =>
              orig.cast(target)
            // a DYNAMIC (gvalue) column declared as a numeric scalar
            // decodes through the numeric lane; float→int8 rounds
            // (expr.out `RETURN 1.0 … AS (i bigint)` → 1)
            case (Some(target), dt)
                if graft.gvalue.GValueCol.isGValue(dt) &&
                  (target == "long" || target == "double") =>
              val num = graft.gvalue.GValueCol.numeric(orig)
              if (target == "long")
                // the gvalue numeric lane is a float8 decode → PG dtoi8
                // rounds half-even (rint), like tointeger's column path
                // (ADVICE r10)
                org.apache.spark.sql.functions.bround(num).cast("long")
              else num
            // declared inet/cidr over a bare string parses it
            case _ if (t == "inet" || t == "cidr") &&
                df1.schema(c).dataType == org.apache.spark.sql.types.StringType =>
              graft.functions.NetworkFns.toInet(orig)
            // declared inet/cidr over a gvalue string decodes then parses
            case _ if (t == "inet" || t == "cidr") &&
                graft.gvalue.GValueCol.isGValue(df1.schema(c).dataType) =>
              graft.functions.NetworkFns.toInet(
                graft.gvalue.GValueCol.render(orig))
            // a DECLARED box2d over a BOX3D render drops the z footprint
            // (PostGIS box3d→box2d cast; postgis.out:3616-3619 —
            // downstream ST_AsEWKT then prints the corner POLYGON)
            case _ if t == "box2d" &&
                df1.schema(c).dataType == org.apache.spark.sql.types.StringType =>
              org.apache.spark.sql.functions.regexp_replace(orig,
                "(?i)^BOX3D\\((\\S+) (\\S+) \\S+,\\s*(\\S+) (\\S+) \\S+\\)$",
                "BOX($1 $2,$3 $4)")
            // declared temporal types coerce a string/gvalue-string result
            // through the PG datetime parser (temporal.out `RETURN
            // '2020-02-11 15:44:17' … AS r(result timestamp)` renders
            // `Tue Feb 11 15:44:17 2020`)
            case _ if declTemporal(t) => {
              val src0 = df1.schema(c).dataType match {
                case dt if graft.gvalue.GValueCol.isGValue(dt) =>
                  graft.gvalue.GValueCol.render(orig)
                case org.apache.spark.sql.types.StringType => orig
                case _ => null
              }
              if (src0 == null) orig
              else t match {
                case "timestamp" =>
                  graft.functions.TemporalFns.pgTimestampParse(src0, tz = false)
                case "timestamptz" =>
                  graft.functions.TemporalFns.pgTimestampParse(src0, tz = true)
                case "date" =>
                  graft.functions.TemporalFns.pgTimestampParse(src0, tz = false)
                    .cast("date")
                case _ => // timetz keeps its offset: (us, off) struct
                  graft.functions.TemporalFns.toTimeTz(src0)
              }
            }
            case _ => orig
          }
          if (declClear(t)) base.as(c, org.apache.spark.sql.types.Metadata.empty)
          else declMarker.get(t).orElse(gtypeMark(c, t)) match {
            case Some(mk) => base.as(c, new org.apache.spark.sql.types.MetadataBuilder()
              .putString(graft.gvalue.PgOut.TypeKey, mk).build())
            // no marker action: keep the original column when no cast
            // applied, so an existing compiler marker survives
            // (Column.as drops metadata)
            case None => if (base.eq(orig)) orig else base.as(c)
          }
        case None => df1(c)
      }
    }.toIndexedSeq: _*)
  }

  private val FromAgGraphRx =
    "(?is)^SELECT\\s+(.*?)\\s+FROM\\s+ag_graph\\s*$".r
  private val VleSrfRx =
    ("(?is)^SELECT\\s+(edges|count\\(edges\\))\\s+FROM\\s+(\\w+)\\s*,\\s*vle\\(\\s*" +
      "'\"([^\"]+)\"'\\s*::gtype\\s*,\\s*(\\w+)\\s*,\\s*(\\w+)\\s*,\\s*" +
      "'([^']*)'\\s*::gtype\\s*,\\s*'([^']*)'\\s*::gtype\\s*,\\s*'(-?[0-9]+)'\\s*::gtype" +
      "\\s*,\\s*(NULL(?:::gtype)?|'[^']*'(?:::gtype)?)\\s*,\\s*(NULL(?:::gtype)?|'[^']*'(?:::gtype)?)\\s*\\)$").r
  /** A 6-arg vle() call — the reference catalog only declares the 8-arg
    * form, so this is its undefined-function error
    * (old cypher_vle.out:72).
    */
  private val VleSrf6Rx =
    ("(?is)^SELECT\\s+(?:edges|count\\(edges\\))\\s+FROM\\s+\\w+\\s*,\\s*vle\\(\\s*" +
      "'\"[^\"]+\"'\\s*::gtype\\s*,\\s*\\w+\\s*,\\s*\\w+\\s*,\\s*" +
      "'[^']*'\\s*::gtype\\s*,\\s*'[^']*'\\s*::gtype\\s*,\\s*'-?[0-9]+'\\s*::gtype\\s*\\)$").r
  private val CreateLabelRx =
    "(?is)^SELECT\\s+create_([ve])label\\(\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*\\)$".r
  private val DropLabelRx =
    "(?is)^SELECT\\s+drop_label\\(\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*(?:,\\s*(true|false)\\s*)?\\)$".r
  private val AlterGraphRx =
    "(?is)^SELECT\\s+alter_graph\\(\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*\\)$".r
  private val NextvalRx =
    "(?is)^SELECT\\s+nextval\\(\\s*'([^.']+)\\._label_id_seq'\\s*\\)$".r
  private val SetvalRx =
    "(?is)^SELECT\\s+setval\\(\\s*'([^.']+)\\._label_id_seq'\\s*,\\s*([0-9]+)\\s*\\)$".r

  /** `cypher('g', $$…$$) AS alias(col type, …)` occurrences inside a SQL
    * statement. The dollar-quoted body is non-greedy; the column definition
    * list is mandatory (the reference's SETOF-record TVF requires it too).
    */
  private val HybridTvfRx =
    "(?is)\\bcypher\\s*\\(\\s*'([^']+)'\\s*,\\s*\\$\\$(.*?)\\$\\$\\s*(?:,\\s*('[^']*'|\\$\\d+)\\s*)?\\)\\s+as\\s+([A-Za-z_]\\w*)?\\s*\\(([^)]*)\\)".r

  private var hybridViewSeq = 0

  /** The reference's hybrid SQL surface over the cypher() TVF (SURVEY §3.2;
    * old/regress/expr.sql:563, temporal.sql:600-660, index.sql): an
    * arbitrary outer SELECT — projection expressions, WHERE, aggregates,
    * comma'd scalar functions in FROM — over one or more `cypher('g',
    * $$…$$) AS a(cols)` calls. Each TVF call compiles through the Cypher
    * pipeline and lands in a session temp view named per its AS clause;
    * the rewritten statement then runs through Spark SQL, so Catalyst
    * plans the outer query over the graph scan like any other relation.
    */
  private def runHybridSql(q0: String): DataFrame = {
    var q = q0.trim.stripSuffix(";")
    val saved = current
    try {
      q = HybridTvfRx.replaceAllIn(q, m => {
        val g = m.group(1); val inner = m.group(2).trim
        val alias = Option(m.group(4))
        val colDefs = m.group(5).split(",").map(_.trim).filter(_.nonEmpty)
          .map { d => val t = d.split("\\s+"); (t(0), t.lift(1).getOrElse("")) }
        val cols = colDefs.map(_._1)
        if (!graphs.contains(g)) createGraph(g) else useGraph(g)
        // optional third TVF argument: a jsonish parameter map literal
        val tvfParams: Map[String, GValue] = Option(m.group(3)) match {
          case Some(p) if p.startsWith("'") =>
            GValue.parseRender(p.stripPrefix("'").stripSuffix("'")) match {
              case GMap(entries) => entries.toMap
              case _ => Map.empty
            }
          case _ => Map.empty
        }
        val df0 = run(inner, params = tvfParams)
        // positional rename to the AS-clause column names (PG record TVF
        // semantics). When the AS clause declares composite entity types
        // (vertex/edge/traversal), the compiler's FLAT entity column
        // groups (b__id, b__label, b__<prop>…) pack into one struct per
        // declared column, so `INSERT INTO t(x vertex)` and downstream
        // `.id` access behave like the reference's composite columns.
        val df1 = if (cols.length == df0.columns.length) df0.toDF(cols.toSeq: _*)
          else packEntityColumns(df0, colDefs.toSeq).getOrElse(df0)
        val df = applyRecordDecls(df1, colDefs.toSeq)
        hybridViewSeq += 1
        val view = s"__ctvf$hybridViewSeq"
        df.createOrReplaceTempView(view)
        java.util.regex.Matcher.quoteReplacement(
          view + alias.map(a => s" AS $a").getOrElse(""))
      })
    } finally current = saved
    sqlSurface.run(rewriteHybridPgisms(q))
  }

  /** Outer-SQL PG-isms around a rewritten TVF that Spark SQL lacks. */
  private def rewriteHybridPgisms(q0: String): String = {
    var q = q0
    // gtype is our value surface already — the cast is a no-op outside
    // the gtype literal parser
    q = q.replaceAll("(?i)::gtype", "")
    // precision arguments on niladic datetime fns; CURRENT_TIME family
    q = q.replaceAll("(?i)\\bCURRENT_TIMESTAMP\\s*\\(\\s*\\d+\\s*\\)", "now()")
    q = q.replaceAll("(?i)\\bLOCALTIMESTAMP\\b\\s*(\\(\\s*\\d+\\s*\\))?", "localtimestamp()")
    // CURRENT_TIME compares against the Cypher timetz struct(us, off);
    // LOCALTIME against the plain micros-of-day long
    q = q.replaceAll("(?i)\\bCURRENT_TIME(?!STAMP)\\s*(\\(\\s*\\d+\\s*\\))?",
      "named_struct('us', cast(unix_micros(now()) - unix_micros(date_trunc('DAY', now())) as bigint), 'off', cast(0 as int))")
    q = q.replaceAll("(?i)\\bLOCALTIME(?!STAMP)\\s*(\\(\\s*\\d+\\s*\\))?",
      "(unix_micros(now()) - unix_micros(date_trunc('DAY', now())))")
    q = q.replaceAll("(?i)\\b(transaction_timestamp|statement_timestamp|clock_timestamp)\\s*\\(\\s*\\)", "now()")
    q = q.replaceAll("(?i)\\btimeofday\\s*\\(\\s*\\)", "cast(now() as string)")
    // PG 1-based subscripts and array_length over the view's array columns
    q = q.replaceAll("(?i)\\barray_length\\s*\\(\\s*(\\w+)\\s*,\\s*1\\s*\\)", "size($1)")
    q = "(?<![\\w'])([A-Za-z_]\\w*)\\[([^\\]\\[]+)\\]".r.replaceAllIn(q, m =>
      if (m.group(1).equalsIgnoreCase("array")) m.matched
      else java.util.regex.Matcher.quoteReplacement(
        s"element_at(${m.group(1)}, ${m.group(2)})"))
    // scalar function calls comma'd onto the TVF in FROM become a one-row
    // lateral relation named after the function (PG function-in-FROM):
    // `FROM cypher(…) AS (r gtype), tan(3.1415)` — anchored on the
    // substituted view so projection/ORDER BY commas never capture
    q = "(?i)(FROM\\s+__ctvf\\d+(?:\\s+AS\\s+\\w+)?)\\s*,\\s*([A-Za-z_]\\w*)\\s*\\(([^()]*)\\)".r
      .replaceAllIn(q, m => java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)} CROSS JOIN (SELECT ${m.group(2)}(${m.group(3)}) AS ${m.group(2)}) "))
    q
  }

  /** A table-free `SELECT <exprs>` exercising the gtype surface (casts,
    * gtype_* C entry points, to*() constructors — old/regress gtype.sql,
    * range.sql, geometric.sql raw-SQL statements) rewrites to a Cypher
    * `RETURN`, whose expression compiler carries the whole value surface.
    * Plain SQL (`SELECT 1+1`) stays on the Spark SQL path. Also covers the
    * PG scalar-function-in-FROM form `SELECT * FROM fn(args)`.
    */
  private def gtypeSelectRewrite(q0: String): Option[String] = {
    val q = q0.trim.stripSuffix(";")
    if (!"(?is)^\\s*SELECT\\b.*".r.pattern.matcher(q).matches()) return None
    val noStrings = q.replaceAll("''", "").replaceAll("'[^']*'", "''")
    val hasFrom = "(?i)\\bFROM\\b".r.findFirstIn(noStrings).isDefined
    val gtypeish = noStrings.contains("::") ||
      ("(?i)\\b(gtype_[a-z0-9_]+|bool_to_gtype|to[a-z0-9_]*(range|multirange)|" +
        "tocidr|toinet|topoint|topath|topolygon|tolseg|toline|tocircle|tobox|" +
        "tomacaddr8?|tobytea|tovector|totsvector|totsquery|st_[a-z0-9_]+|" +
        "build_vertex|build_edge|build_traversal|_graphid|id|label)\\s*\\(").r
        .findFirstIn(noStrings).isDefined
    // the raw-SQL ST_CPAWithin has the DOCUMENTED semantics, unlike the
    // cypher surface's (miswired to ST_IsValidTrajectory in the reference
    // — see compileFn st_cpawithin): rename so the compiler can split
    def sqlisms(s: String): String =
      s.replaceAll("(?i)\\bST_CPAWithin\\s*\\(", "st_cpawithin_sql(")
    if (!hasFrom && gtypeish)
      Some("RETURN " + sqlisms(q.replaceFirst("(?is)^\\s*SELECT\\s+", "")))
    else if (hasFrom) {
      val m = "(?is)^SELECT\\s+\\*\\s+FROM\\s+([A-Za-z_]\\w*)\\s*\\((.*)\\)\\s*$".r
        .findFirstMatchIn(q)
      // the argument parens disambiguate from table references — relations
      // in FROM never carry a call-argument list
      m.filter(_.group(1).toLowerCase != "cypher")
        .map(mm => s"RETURN ${mm.group(1)}(${mm.group(2)})")
    } else None
  }

  private def runClauses(clauses0: List[Clause], params: Map[String, GValue]): DataFrame = {
    // statement atomicity: writes apply eagerly clause-by-clause, but the
    // reference wraps each statement in a transaction — an ERROR after a
    // DELETE/CREATE already executed must leave the graph as it was
    // (cypher_delete.out:276-327 "vertex assigned to variable n was
    // deleted" rolls the DETACH DELETE back too)
    val tx = graph.txSnapshot()
    try {
      val r = runClausesInner(clauses0, params)
      // durable graphs: publish the post-statement state (write clauses
      // applied eagerly above, so this IS the transaction commit point)
      graph.commitIfChanged(tx)
      r
    }
    catch { case e: Throwable =>
      graph.txRestore(tx)
      // once a MERGE create path skipped prev-clause property
      // materialization, the reference statement dies with the
      // record-coercion error regardless of what later clauses hit
      // (old cypher_merge.out test 22)
      if (mergeRecordHazard)
        throw new IllegalStateException(
          "attribute 1 of type record has wrong type")
      throw e
    }
  }

  /** Set when a MERGE create path had to skip materializing prev-clause
    * property values this statement (see mergeByProps); the cypher() TVF
    * record-decl surface turns it into the reference's coercion error.
    */
  private[cypher] var mergeRecordHazard = false

  private def runClausesInner(clauses0: List[Clause], params: Map[String, GValue]): DataFrame = {
    queryDeletedIds = None
    mergeRecordHazard = false
    // A query ENDING in a bare MATCH gets an implicit projection: each
    // named pattern variable as (value, id, properties) — the reference's
    // `MATCH (n:v);` form (old cypher_match.out:1313-1321 columns
    // n | _id_n___ | _pr_n)
    val clauses = clauses0.lastOption match {
      case Some(m: Match) =>
        val vars = m.patterns.flatMap(_.elements).collect {
          case n: NodePattern if n.variable.isDefined => n.variable.get
          case r: RelPattern if r.variable.isDefined => r.variable.get
        }.distinct
        if (vars.isEmpty) clauses0
        else clauses0 :+ Return(vars.flatMap(v => List(
          ReturnItem(Var(v), None),
          ReturnItem(FnCall("id", List(Var(v)), distinct = false), Some(s"_id_${v}___")),
          ReturnItem(FnCall("properties", List(Var(v)), distinct = false), Some(s"_pr_$v")))),
          distinct = false, Nil, None, None)
      case _ => clauses0
    }
    val ctx = runClausesCtx(clauses, params)
    // a statement ENDING in a write clause returns no rows even when an
    // intermediate WITH projected (cypher_merge.out test 19 `CREATE …
    // WITH n as a MERGE ({i: 2})` → 0 rows)
    val writeFinal = clauses.lastOption.exists {
      case _: Create | _: Merge | _: SetClause | _: Remove | _: Delete => true
      case _ => false
    }
    if (ctx.projected && !writeFinal) ctx.df
    else spark.emptyDataFrame // write-only query returns no rows (reference behavior)
  }

  private def runClausesCtx(clauses: List[Clause], params: Map[String, GValue]): Ctx = {
    var compiler = new Compiler(graph.snapshot, params)
    var ctx = Ctx.empty
    var wrote = false
    // reference MERGE statement-shape quirks (old cypher_merge.out):
    //  - entity bindings that pass through a WITH are BROKEN for a later
    //    MERGE — the merge runs standalone over the graph, pattern vars
    //    fresh (test 16: `CREATE (n) WITH n as a MERGE (a)-[:e]->()`
    //    creates a whole new path instead of attaching to n)
    //  - a SET on an entity CREATEd in the same statement is LOST when a
    //    MERGE follows (test 18/19: final state keeps {i: 1}); MATCHed
    //    entities keep their SET (test 20)
    var withSeen = false
    val createdHere = mutable.Set.empty[String]
    // the reference's transform pass registers every CREATE/MERGE label
    // table while PARSING the statement, before execution — so a statement
    // that errors mid-way has still burned the label ids of its later
    // clauses (old cypher_merge.out test 22: BORN_IN takes label 8 even
    // though the first MERGE errors; `node` then lands on 9)
    clauses.foreach {
      case Create(pats) => pats.foreach(registerPatternLabels)
      case m: Merge => registerPatternLabels(m.pattern)
      case _ => ()
    }
    var remaining = clauses
    clauses.foreach { c0 => remaining = remaining.tail; c0 match {
      // CALL {…} containing writes: run the subquery's clauses through
      // this same write-capable loop (reference exec path; old regress
      // cypher_call.sql:146 `CALL { CREATE (n) RETURN n as n } RETURN n`).
      // The reference requires a trailing RETURN — same error here.
      case CallSubquery(SingleQuery(sub)) if sub.exists {
          case _: Match | _: Unwind | _: With | _: Return |
               _: CallSubquery | _: CallProc => false
          case _ => true
        } =>
        require(ctx.df == null,
          "correlated CALL subquery with writes is not supported")
        if (sub.lastOption.forall(!_.isInstanceOf[Return]))
          throw new IllegalArgumentException(
            "Call Cypher Subquery must end with a RETURN")
        ctx = runClausesCtx(sub, params)
        compiler = new Compiler(graph.snapshot, params); wrote = false
      case c @ (_: Match | _: Unwind | _: With | _: Return |
                _: CallSubquery | _: CallProc) =>
        if (wrote) { compiler = new Compiler(graph.snapshot, params); wrote = false }
        if (c.isInstanceOf[With]) withSeen = true
        ctx = compiler.compileClause(ctx, c)
      case SetClause(items) if remaining.exists(_.isInstanceOf[Merge]) &&
          items.exists(i => createdHere.contains(i.variable)) =>
        // quirk: SET on a same-statement-CREATEd entity is lost when a
        // MERGE follows (cypher_merge.out tests 18/19 keep {i: 1})
        val kept = items.filterNot(i => createdHere.contains(i.variable))
        if (kept.nonEmpty) { ctx = executeWrite(ctx, SetClause(kept), compiler); wrote = true }
      case m: Merge if withSeen && ctx.df != null =>
        // quirk: bindings through WITH are broken for MERGE — standalone
        // match-or-create of the whole pattern, input rows only gate it
        // (cypher_merge.out test 16 creates a fresh path, test 20 matches)
        registerPatternLabels(m.pattern)
        if (!ctx.df.isEmpty) {
          val matched = try {
            !new Compiler(graph.snapshot, params)
              .compileClause(Ctx.empty,
                Match(List(m.pattern), optional = false, None))
              .df.isEmpty
          } catch { case _: UnknownLabelException => false }
          if (!matched)
            executeCreate(Ctx.empty, mergeDirected(m.pattern),
              new Compiler(graph.snapshot, params))
        }
        wrote = true
      case w =>
        w match {
          case Create(pats) => createdHere ++= pats.flatMap(_.elements).collect {
            case NodePattern(Some(v), _, _) => v
            case RelPattern(Some(v), _, _, _, _) => v
          }
          case _ => ()
        }
        ctx = executeWrite(ctx, w, compiler)
        wrote = true
    } }
    ctx
  }

  // ------------------------------------------------------------------- writes

  private def executeWrite(ctx: Ctx, clause: Clause, compiler: Compiler): Ctx = clause match {
    case Create(patterns) =>
      // label ids allocate in SYNTACTIC pattern order — the reference's
      // transform registers each label table as the parse walks the
      // pattern, so `(n)-[e:e]->(m:v)` gives e a LOWER id than v
      // (cypher_merge.out edge 844424930131969 = label 3)
      patterns.foreach(registerPatternLabels)
      patterns.foldLeft(ctx)((c, p) => executeCreate(c, p, compiler))
    case Merge(pattern)   =>
      registerPatternLabels(pattern)
      executeMerge(ctx, pattern, compiler)
    case SetClause(items) => executeSet(ctx, items, compiler)
    case Remove(items)    => executeRemove(ctx, items)
    case Delete(exprs, detach) =>
      // freeze the binding BEFORE mutating the label tables: ctx.df is a
      // lazy plan over them, and a RETURN after DELETE must show the
      // deleted entities (delete.out `DETACH DELETE n RETURN n`), not a
      // re-evaluation against the post-delete graph
      val frozen = if (ctx.df == null) ctx else ctx.copy(df = Local.freeze(ctx.df))
      executeDelete(frozen, exprs, detach); frozen
    case other => throw new UnsupportedOperationException(s"write clause: $other")
  }

  private def constEval(e: Expr): GValue =
    Compiler.litGValue(e).getOrElse(throw new UnsupportedOperationException(
      s"CREATE property values must be literals, got $e"))

  /** CREATE: literal pattern when there is no input relation; otherwise
    * executes once per input row (reference: exec_cypher_create pulls child
    * tuples, cypher_create.c:210-330) — bound variables contribute their
    * matched ids, unbound nodes are created one-per-row, edges wire
    * adjacent pattern nodes per row.
    */
  /** Register every label/type of a pattern in syntactic order so their
    * ids match the reference's parse-time label-table creation order.
    */
  private def registerPatternLabels(pattern: PathPattern): Unit =
    pattern.elements.foreach {
      case n: NodePattern => n.labels.foreach(graph.ensureLabel)
      case r: RelPattern  => r.types.foreach(graph.ensureLabel)
      case _ => ()
    }

  private def executeCreate(ctx0: Ctx, pattern: PathPattern,
      compiler: Compiler): Ctx = {
    val elems = pattern.elements
    // validate the WHOLE pattern before any entity is created — the
    // reference rejects these at parse/transform time, so a later error
    // must not leave a partial write behind (cypher_create.out:90-103)
    elems.foreach {
      case r: RelPattern =>
        if (r.dir == 0) throw new IllegalArgumentException(
          "only directed relationships are allowed in CREATE")
        if (r.types.isEmpty) throw new IllegalArgumentException(
          "relationships must be specify a label in CREATE.")
      case _ =>
    }
    registerLabelsTextually(elems, ctx0.vars.keySet)
    if (ctx0.df != null) createPerRow(ctx0, elems, compiler, pattern.variable)
    else {
      val ctx = ctx0
      // literal chain: nodes and edges all new. EVERY created entity —
      // named or anonymous, vertex or edge — is bound into the result
      // frame so `CREATE … RETURN a, b` and `CREATE p=… RETURN p` yield
      // the created values (reference cypher_create.sql:80-100; the
      // executor returns the in-flight tuple, cypher_create.c:210-410).
      var createdVars = ctx.vars
      var df = if (ctx.df == null) null else ctx.df
      val chainIds = mutable.Map.empty[String, Long] // vars created in THIS chain
      val nodeAliases = mutable.ListBuffer.empty[String]
      val edgeAliases = mutable.ListBuffer.empty[String]
      // PASS 1 — vertices, textual order (the reference numbers vertex
      // entries left-to-right); pending edges collect as
      // (rel, srcId, dstId) for pass 2
      val rels = mutable.ListBuffer.empty[(RelPattern, Long, Long)]
      var prevId: Option[(String, Long)] = None // (varName, id) of previous node
      var pendingRel: Option[RelPattern] = None
      elems.foreach {
        case n: NodePattern =>
          // re-mention of a variable created earlier in the chain
          // (`CREATE (n:v)-[:e]->(n)` — reference cypher_delete.sql:64
          // self-loop) reuses its id instead of creating a duplicate
          val reused = n.variable.flatMap(chainIds.get)
          val id = reused.getOrElse {
            val label = n.labels.headOption.getOrElse("_default")
            graph.createVertex(label, n.props.map { case (k, v) => k -> constEval(v) })
          }
          if (reused.isDefined)
            require(n.labels.isEmpty && n.props.isEmpty,
              s"cannot add labels/properties to re-mentioned ${n.variable.get} in CREATE")
          val label = n.labels.headOption.getOrElse("_default")
          val alias = n.variable.getOrElse(s"_c$id") // full packed id: collision-free across labels
          if (reused.isEmpty) {
            // bind created node: one-row DF with its columns
            val nodeDf = graph.createdRowDf("v", alias, label, id)
            df = if (df == null) nodeDf else df.crossJoin(nodeDf)
          }
          if (n.variable.isDefined) {
            createdVars += (alias -> VarInfo.vertex)
            chainIds(alias) = id
          }
          nodeAliases += alias
          pendingRel.foreach { r =>
            val (s, d) = if (r.dir == -1) (id, prevId.get._2) else (prevId.get._2, id)
            rels += ((r, s, d))
            pendingRel = None
          }
          prevId = Some((alias, id))
        case r: RelPattern =>
          require(r.varLength.isEmpty, "CREATE cannot use variable-length edges")
          pendingRel = Some(r)
      }
      // PASS 2 — edges, REVERSE textual order: the reference's create
      // executor builds the path targetlist by prepending, so edge entry
      // ids within one path chain descend left-to-right (cypher_vle.out:
      // `:edge` entry 1 is u3→e, entry 4 is b→u1). Aliases still bind in
      // textual order for path values.
      val edgeBinds = rels.reverse.map { case (r, s, d) =>
        val label = r.types.headOption.getOrElse(
          throw new IllegalArgumentException("CREATE edge needs a type"))
        val eid = graph.createEdge(label, s, d,
          r.props.map { case (k, v) => k -> constEval(v) })
        val ealias = r.variable.getOrElse(s"_ce$eid") // full packed id (masking dropped the label bits: two anon edges of different labels collided)
        (r, ealias, label, eid)
      }.reverse
      edgeBinds.foreach { case (r, ealias, label, eid) =>
        val edgeDf = graph.createdRowDf("e", ealias, label, eid)
        df = if (df == null) edgeDf else df.crossJoin(edgeDf)
        if (r.variable.isDefined) createdVars += (ealias -> VarInfo.edge)
        edgeAliases += ealias
      }
      pattern.variable.foreach { p =>
        createdVars += (p -> VarInfo.path(nodeAliases.toList, edgeAliases.toList))
      }
      Ctx(df, createdVars, ctx0.projected)
    }
  }

  /** Pre-register every label the pattern will create, LEFT TO RIGHT — the
    * reference catalog numbers vertex and edge labels from one shared
    * sequence in textual first-appearance order (label_commands.c), while
    * our chain walk creates each far node before its incoming edge; without
    * this the edge/node label ids swap and packed entity ids diverge from
    * the reference's (the value-level replays compare them byte-for-byte).
    */
  private def registerLabelsTextually(elems: Seq[PatternElem],
      bound: Set[String]): Unit = {
    val seen = mutable.Set.empty[String]
    elems.foreach {
      case n: NodePattern =>
        val reused = n.variable.exists(v => bound.contains(v) || !seen.add(v))
        if (!reused) graph.ensureLabel(n.labels.headOption.getOrElse("_default"))
      case r: RelPattern => r.types.headOption.foreach(graph.ensureLabel)
    }
  }

  /** CREATE with an input relation: one pattern instance per input row.
    * Ids for new nodes are `(labelId << 48) | (rowNumber + reservedBase)` —
    * a projection over a deterministic per-row numbering, no id service
    * (same packing the bulk loader uses; numbering is partition-local via
    * [[RowNumber]], so the input never collapses to one partition).
    */
  private def createPerRow(ctx0: Ctx, elems: Seq[PatternElem],
      compiler: Compiler, pathVar: Option[String] = None): Ctx = {
    var vars = ctx0.vars
    var (df, nRows) = RowNumber.attach(ctx0.df, "__crn")
    // every created entity binds under an alias (anonymous ones under
    // `_cn`/`_ce` temps) so RETURN of created edges and `CREATE p=…`
    // path values work; anonymous bindings drop at the end unless a
    // path variable needs them
    val anonAliases = mutable.ListBuffer.empty[String]
    val nodeAliases = mutable.ListBuffer.empty[String]
    val edgeAliases = mutable.ListBuffer.empty[String]
    var prevIdName: String = null
    var pendingRel: Option[RelPattern] = None
    // literal props keep their exact GValue typing; expressions
    // referencing the input row (`{i: n.i}` — reference cypher_create
    // per-tuple evaluation) compile per row
    def compileProps(props: Map[String, Expr]): Seq[(String, org.apache.spark.sql.Column)] =
      props.toSeq.sortBy(_._1).map { case (k, pv) =>
        k -> (scala.util.Try(constEval(pv)).toOption match {
          case Some(gv) => graph.gLit(gv)
          case None =>
            // the reference stores property maps as gtype verbatim — a
            // property expression that is STATICALLY null (NullType, e.g.
            // `a.absent + ' -> ' + b.absent`) is STORED as an explicit
            // gtype null and renders `{"k": null}` (cypher_create.out:180),
            // unlike SET-to-null which removes. Typed expressions keep
            // typed storage (their runtime nulls render absent — the fast
            // path, and no golden exercises the mixed combination).
            val c = compiler.compileExpr(pv, Ctx(df, vars, projected = false))
            df.select(c).schema.head.dataType match {
              case dt if graft.gvalue.GValueCol.isGValue(dt) =>
                coalesce(c, graft.gvalue.GValueCol.nullValue)
              case NullType => graft.gvalue.GValueCol.nullValue
              case _ => c
            }
        })
      }
    elems.foreach {
      case n: NodePattern =>
        val alias: String = n.variable.filter(vars.contains) match {
          case Some(v) =>
            require(n.labels.isEmpty && n.props.isEmpty,
              s"cannot add labels/properties to bound variable $v in CREATE")
            requireNotDeleted(v, df)
            v
          case None =>
            val label = n.labels.headOption.getOrElse("_default")
            val (lid, base) = graph.reserveEntries(label, nRows)
            val idc = shiftleft(lit(lid.toLong), 48)
              .bitwiseOR(col("__crn") + base)
            val a = n.variable match {
              case Some(v) => vars += (v -> VarInfo.vertex); v
              case None =>
                val t = s"_cn${anonAliases.length}"; anonAliases += t; t
            }
            df = df.withColumn(s"${a}__id", idc)
            val propCols = compileProps(n.props)
            graph.createVerticesRows(label,
              df.select(col(s"${a}__id").as("id") +:
                propCols.map { case (k, c) => c.as(Compiler.PropNames.esc(k)) }: _*))
            df = df.withColumn(s"${a}__label", lit(label))
            propCols.foreach { case (k, c) =>
              // escape like storage/reads do: an unescaped reserved name
              // (`id`, `label`) would clobber the internal binding columns
              df = df.withColumn(s"${a}__${Compiler.PropNames.esc(k)}", c)
            }
            a
        }
        val idName = s"${alias}__id"
        nodeAliases += alias
        pendingRel.foreach { r =>
          require(r.dir != 0, "CREATE edge requires a direction")
          val label = r.types.headOption.getOrElse(
            throw new IllegalArgumentException("CREATE edge needs a type"))
          val (s, d) = if (r.dir == 1) (prevIdName, idName) else (idName, prevIdName)
          val ealias = r.variable match {
            case Some(v) => vars += (v -> VarInfo.edge); v
            case None => val t = s"_ce${anonAliases.length}"; anonAliases += t; t
          }
          edgeAliases += ealias
          val (elid, ebase) = graph.reserveEntries(label, nRows)
          df = df
            .withColumn(s"${ealias}__id", shiftleft(lit(elid.toLong), 48)
              .bitwiseOR(col("__crn") + ebase))
            .withColumn(s"${ealias}__start_id", col(s))
            .withColumn(s"${ealias}__end_id", col(d))
            .withColumn(s"${ealias}__label", lit(label))
          val edgePropCols = compileProps(r.props)
          graph.createEdgesWithIds(label,
            df.select(Seq(col(s"${ealias}__id").as("id"), col(s).as("start_id"),
              col(d).as("end_id")) ++
              edgePropCols.map { case (k, c) => c.as(Compiler.PropNames.esc(k)) }: _*))
          edgePropCols.foreach { case (k, c) =>
            df = df.withColumn(s"${ealias}__${Compiler.PropNames.esc(k)}", c)
          }
          pendingRel = None
        }
        prevIdName = idName
      case r: RelPattern =>
        require(r.varLength.isEmpty, "CREATE cannot use variable-length edges")
        pendingRel = Some(r)
    }
    pathVar.foreach { p =>
      vars += (p -> VarInfo.path(nodeAliases.toList, edgeAliases.toList))
    }
    val dropCols =
      if (pathVar.isDefined) Seq("__crn")
      else "__crn" +: df.columns.filter(c =>
        anonAliases.exists(a => c.startsWith(s"${a}__"))).toSeq
    Ctx(df.drop(dropCols: _*), vars, ctx0.projected)
  }

  /** MERGE: match the pattern; create it where it doesn't exist.
    *
    * Standalone: whole-pattern existence probe then create
    * (reference: cypher_merge.c check_path/process_path :202-268).
    * After other clauses: the reference's lateral-left-join shape
    * (transform_merge_make_lateral_join) — input rows whose binding has no
    * pattern instance create one, deduped per distinct binding
    * ("only-create-once-per-distinct-binding"), then the pattern is
    * re-matched so every input row joins its (now guaranteed) instance.
    */
  /** MERGE's create leg materializes an UNDIRECTED pattern edge
    * left-to-right (old cypher_merge.out:663-673 — `MERGE ()-[:e]-()`
    * creates start→end); only CREATE proper rejects dir 0. The match leg
    * keeps the undirected semantics untouched.
    */
  private def mergeDirected(p: PathPattern): PathPattern =
    p.copy(elements = p.elements.map {
      case r: RelPattern if r.dir == 0 => r.copy(dir = 1)
      case e => e
    })

  private def executeMerge(ctx: Ctx, pattern: PathPattern, compiler: Compiler): Ctx = {
    if (ctx.df == null) {
      val probe = new Compiler(graph.snapshot, compiler.params)
      val matched = try {
        val c = probe.compileClause(Ctx.empty, Match(List(pattern), optional = false, None))
        !c.df.isEmpty
      } catch { case _: UnknownLabelException => false } // unknown label → no match
      if (matched) {
        new Compiler(graph.snapshot, compiler.params)
          .compileClause(Ctx.empty, Match(List(pattern), optional = false, None))
      } else executeCreate(Ctx.empty, mergeDirected(pattern),
        new Compiler(graph.snapshot, compiler.params))
    } else {
      // re-mentioning a bound EDGE variable in a MERGE pattern is the
      // reference's transform error (old cypher_merge.out
      // `MATCH ()-[e]-() MERGE ()-[e]->()` → variable e already exists)
      pattern.elements.foreach {
        case r: RelPattern if r.variable.exists(ctx.vars.contains) =>
          throw new IllegalArgumentException(
            s"variable ${r.variable.get} already exists")
        case _ => ()
      }
      val boundVars = pattern.elements.collect {
        case n: NodePattern if n.variable.exists(ctx.vars.contains) => n.variable.get
      }.distinct
      if (boundVars.isEmpty) return mergeByProps(ctx, pattern, compiler)
      // bindings with no existing pattern instance
      val missing = try {
        val inner = new Compiler(graph.snapshot, compiler.params)
          .compileClause(Ctx.empty, Match(List(pattern), optional = false, None))
        val proj = inner.df.select(
          boundVars.map(v => col(s"${v}__id").as(s"__m_${v}__id")): _*)
        val cond = boundVars.map(v => col(s"${v}__id") === col(s"__m_${v}__id"))
          .reduce(_ && _)
        ctx.df.join(proj, cond, "left_anti")
      } catch { case _: UnknownLabelException => ctx.df } // unknown label → all missing
      // r17: freeze ONCE, probe the frozen relation — the emptiness probe
      // and createPerRow's own freeze each re-executed the anti-join plan
      // (two full AQE executions per MERGE, ~6 jobs each on tiny graphs)
      val distinctMissing = Local.freeze(
        missing.dropDuplicates(boundVars.map(v => s"${v}__id")))
      if (!distinctMissing.isEmpty)
        createPerRow(Ctx(distinctMissing, ctx.vars, projected = false),
          mergeDirected(pattern).elements, compiler)
      // every binding now matches: inner-join the pattern from the new
      // snapshot (zero input rows + a never-created label → empty result)
      rematch(ctx, pattern, compiler.params)
    }
  }

  /** Lateral re-match after MERGE ensured instances exist. If nothing was
    * ever created under the pattern's label (zero input rows), the label
    * may not exist at all — that is an empty result, not an error.
    */
  private def rematch(ctx: Ctx, pattern: PathPattern,
      params: Map[String, GValue]): Ctx =
    try new Compiler(graph.snapshot, params)
      .compileClause(ctx, Match(List(pattern), optional = false, None))
    catch { case _: UnknownLabelException =>
      Ctx(ctx.df.limit(0), ctx.vars, ctx.projected)
    }

  /** MERGE after a clause with NO shared variable: correlate on the
    * pattern's property EXPRESSIONS (reference cypher_merge.sql test 3:
    * `MATCH (n) MERGE ({i: n.i})` — zero input rows create nothing; each
    * distinct evaluated binding creates at most once). Single-node
    * patterns only; chains still need a shared variable.
    */
  private def mergeByProps(ctx: Ctx, pattern: PathPattern, compiler: Compiler): Ctx = {
    val n = pattern.elements match {
      case List(node: NodePattern) => node
      case _ => throw new UnsupportedOperationException(
        "MERGE after a clause must share a bound variable, or be a single node pattern")
    }
    val label = n.labels.headOption.getOrElse("_default")
    val keys = n.props.keys.toSeq.sorted
    if (keys.isEmpty) {
      // bare `MERGE (n)` after a clause (cypher_merge.sql test 27): one
      // existence probe — any instance at all satisfies every input row;
      // zero input rows merge nothing
      val exists = try {
        val c = new Compiler(graph.snapshot, compiler.params).compileClause(Ctx.empty,
          Match(List(PathPattern(None,
            List(NodePattern(Some("__merge_probe"), n.labels, Map.empty)))),
            optional = false, None))
        !c.df.isEmpty
      } catch { case _: UnknownLabelException => false }
      if (!exists && !ctx.df.isEmpty)
        executeCreate(Ctx.empty, PathPattern(None, List(n)),
          new Compiler(graph.snapshot, compiler.params))
      return rematch(ctx, pattern, compiler.params)
    }
    var withVals = ctx.df
    keys.foreach { k =>
      withVals = withVals.withColumn(s"__mv_$k", compiler.compileExpr(n.props(k), ctx))
    }
    // existing instances' property tuples (missing prop column → no match)
    val mm = "__merge_probe"
    val instOpt: Option[DataFrame] = try {
      val c = new Compiler(graph.snapshot, compiler.params).compileClause(Ctx.empty,
        Match(List(PathPattern(None,
          List(NodePattern(Some(mm), n.labels, Map.empty)))), optional = false, None))
      if (keys.forall(k => c.df.columns.contains(s"${mm}__${Compiler.PropNames.esc(k)}")))
        Some(c.df.select(keys.map(k =>
          col(s"${mm}__${Compiler.PropNames.esc(k)}").as(s"__mi_$k")): _*).distinct())
      else None
    } catch { case _: UnknownLabelException => None } // unknown label
    val distinctVals = withVals.select(keys.map(k => col(s"__mv_$k")): _*).distinct()
    val missing = instOpt match {
      case None => distinctVals
      case Some(inst) =>
        // a heterogeneous stored property may have gone DYNAMIC while the
        // merge expression stays typed (or vice versa) — compare through
        // the codec when the sides' types disagree
        import graft.gvalue.GValueCol
        def mEq(k: String): org.apache.spark.sql.Column = {
          val (a, b) = (col(s"__mv_$k"), col(s"__mi_$k"))
          val at = distinctVals.schema(s"__mv_$k").dataType
          val bt = inst.schema(s"__mi_$k").dataType
          if (at == bt) a === b
          else (GValueCol.dynCoerce(a, at), GValueCol.dynCoerce(b, bt)) match {
            case (Some(x), Some(y)) => coalesce(GValueCol.eqv(x, y), lit(false))
            case _ => a === b
          }
        }
        distinctVals.join(inst, keys.map(mEq).reduce(_ && _), "left_anti")
    }
    val (numbered, nRows) = RowNumber.attach(missing, "__crn")
    // reference quirk: the MERGE create path cannot materialize property
    // values drawn from a PREVIOUS clause's row — it allocates ids, then
    // creates NOTHING (new cypher_merge.out:139-151 `MATCH (n) MERGE
    // ({j: n.i})` leaves one vertex); on the cypher() TVF surface the
    // statement additionally dies on the record-coercion error (old
    // cypher_merge.out test 5 / test 22 `attribute 1 of type record has
    // wrong type`) — raised by applyRecordDecls via this flag
    if (nRows > 0 && n.props.values.exists(e =>
        Compiler.varRefs(e).exists(ctx.vars.contains))) {
      graph.reserveEntries(label, nRows)
      mergeRecordHazard = true
      return rematch(ctx, pattern, compiler.params)
    }
    if (nRows > 0) {
      val (lid, base) = graph.reserveEntries(label, nRows)
      val rows = numbered
        .select(shiftleft(lit(lid.toLong), 48).bitwiseOR(col("__crn") + base).as("id") +:
          keys.map(k => col(s"__mv_$k").as(Compiler.PropNames.esc(k))): _*)
      graph.createVerticesRows(label, rows)
    }
    // re-match laterally: correlated prop filters now resolve post-join
    rematch(ctx, pattern, compiler.params)
  }

  /** SET n.k = expr — copy-on-write column update keyed on entity id
    * (reference: update_entity_tuple, cypher_set.c:100-176; ours is a join
    * instead of a per-tuple heap update).
    */
  private def executeSet(ctx0: Ctx, items: List[SetItem], compiler: Compiler): Ctx = {
    // freeze the binding before mutating: ctx.df is lazy over the label
    // tables, and a MATCH whose predicate reads the very property being
    // SET must not re-evaluate against the post-update graph
    val ctx = if (ctx0.df == null) ctx0 else ctx0.copy(df = Local.freeze(ctx0.df))
    // constant CONTAINER values store in the same typed-or-dynamic form
    // the CREATE path uses (homogeneous scalar list → typed array; mixed/
    // nested/map → dynamic struct), so reads and filters stay consistent
    def valCol(valueExpr: Expr): org.apache.spark.sql.Column =
      Compiler.litGValue(valueExpr) match {
        case Some(gv @ (_: GArray | _: GMap)) => graph.gLit(gv)
        case _ => compiler.compileExpr(valueExpr, ctx)
      }
    items.foreach { case SetItem(v, k, valueExpr) =>
      require(ctx.df != null && ctx.vars.get(v).exists(_.isEntity), s"SET target $v not matched")
      if (ctx.vars(v).derived) throw new IllegalArgumentException(
        "SET clause can only update vertex and edges")
      val updates = ctx.df
        .select(col(s"${v}__id").as("__set_id"), valCol(valueExpr).as("__set_val"))
        .dropDuplicates("__set_id")
      graph.updateProperty(Compiler.PropNames.esc(k), updates)
    }
    // reflect the writes in the CURRENT binding too, so RETURN right after
    // SET sees the new values on the DIRECT entity variable (reference
    // cypher_set.out:81-87) — but a PATH variable's interior values were
    // materialized when the path bound, so p keeps the PRE-update
    // properties (cypher_set.out:165-169: RETURN n, p after SET n.y=99
    // shows y:99 on n and y:50 inside p). Snapshot the interior entity
    // columns of affected paths BEFORE the in-place update and rebind the
    // path to the snapshots.
    val snapped = snapshotPaths(ctx, items.map(_.variable).toSet)
    val updatedCols = items.map { case SetItem(v, k, valueExpr) =>
      s"${v}__${Compiler.PropNames.esc(k)}" -> valCol(valueExpr)
    }.toMap
    snapped.copy(df = snapped.df.withColumns(updatedCols))
  }

  /** Copy the flat columns of each SET/REMOVE-target entity var that a
    * path variable references into frozen `v$sN__*` columns and rebind the
    * path's interior lists to them — the path value then renders the
    * bind-time snapshot, not the post-update entity.
    */
  private def snapshotPaths(ctx: Ctx, updated: Set[String]): Ctx = {
    import Compiler.VarKind
    val needed = ctx.vars.collect {
      case (_, info) if info.kind == VarKind.Path =>
        (info.pathNodes ++ info.pathEdges).filter(updated)
    }.flatten.toSet
    if (needed.isEmpty) return ctx
    var df = ctx.df
    val alias = needed.map { v =>
      snapCounter += 1
      val s = s"$v$$s$snapCounter"
      val copies = df.columns.filter(_.startsWith(s"${v}__"))
        .map(c => s"${s}__${c.stripPrefix(s"${v}__")}" -> col(c)).toMap
      df = df.withColumns(copies)
      v -> s
    }.toMap
    val vars = ctx.vars.map {
      case (p, info) if info.kind == VarKind.Path &&
          (info.pathNodes ++ info.pathEdges).exists(updated) =>
        p -> info.copy(pathNodes = info.pathNodes.map(m => alias.getOrElse(m, m)),
          pathEdges = info.pathEdges.map(m => alias.getOrElse(m, m)))
      case kv => kv
    } ++ alias.map { case (v, s) => s -> ctx.vars(v) }
    ctx.copy(df = df, vars = vars)
  }

  private var snapCounter = 0

  private def executeRemove(ctx0: Ctx, items: List[(String, String)]): Ctx = {
    val ctx = if (ctx0.df == null) ctx0 else ctx0.copy(df = Local.freeze(ctx0.df))
    items.foreach { case (v, k) =>
      require(ctx.df != null && ctx.vars.get(v).exists(_.isEntity), s"REMOVE target $v not matched")
      if (ctx.vars(v).derived) throw new IllegalArgumentException(
        "REMOVE clause can only update vertex and edges")
      val updates = ctx.df.select(col(s"${v}__id").as("__set_id"),
        lit(null).as("__set_val"))
        .dropDuplicates("__set_id")
      graph.updateProperty(Compiler.PropNames.esc(k), updates)
    }
    val snapped = snapshotPaths(ctx, items.map(_._1).toSet)
    snapped.copy(df = snapped.df.withColumns(
      items.map { case (v, k) => s"${v}__${Compiler.PropNames.esc(k)}" -> lit(null) }.toMap))
  }

  /** DELETE / DETACH DELETE (reference: cypher_delete.c — DETACH cascades
    * across every edge label; plain DELETE errors if edges remain).
    */
  private def executeDelete(ctx: Ctx, exprs: List[Expr], detach: Boolean): Unit =
    exprs.foreach {
      case Var(v) if ctx.vars.get(v).exists(_.kind == Compiler.VarKind.Edge) =>
        // DELETE e removes the matched edges (round-3 fix: this used to
        // fall into the vertex path and silently delete nothing)
        val ids = ctx.df.select(col(s"${v}__id").as("id")).distinct()
        graph.deleteEdges(ids)
      case Var(v) if ctx.vars.get(v).exists(_.isEntity) =>
        val ids = Local.freeze(ctx.df.select(col(s"${v}__id").as("id")).distinct())
        graph.deleteVertices(ids, detach)
        // remember what this query deleted: a later CREATE reusing a
        // variable bound to one of these ids must error
        // ("vertex assigned to variable n was deleted", cypher_delete.c —
        // delete.out:276,296,411)
        queryDeletedIds = Some(queryDeletedIds.map(_.union(ids)).getOrElse(ids))
      case other => throw new UnsupportedOperationException(s"DELETE target: $other")
    }

  /** Vertex ids deleted by earlier clauses of the CURRENT query. */
  private var queryDeletedIds: Option[DataFrame] = None

  private[cypher] def requireNotDeleted(v: String, binding: DataFrame): Unit =
    queryDeletedIds.foreach { del =>
      val hit = !binding.select(col(s"${v}__id").as("id"))
        .join(del, Seq("id"), "left_semi").isEmpty
      if (hit) throw new IllegalStateException(
        s"vertex assigned to variable $v was deleted")
    }
}
