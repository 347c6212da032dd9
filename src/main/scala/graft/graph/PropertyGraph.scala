package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Property-graph storage: one DataFrame per label, ids packed exactly like the
  * reference's graphid — 16-bit label id ‖ 48-bit entry id
  * (/root/reference/src/include/utils/graphid.h:31-46). The label id being a
  * bit-prefix of every entity id means a label filter is `(id >> 48) = labelId`
  * — a cheap, partition-prunable predicate (SURVEY.md §1.1).
  *
  * Vertex label table: `id LONG, <typed property columns>`
  * Edge label table:   `id LONG, start_id LONG, end_id LONG, <property columns>`
  *
  * Scale design: property columns are *typed* (schema-on-write per label), so
  * property predicates push down to parquet scans; vertex/edge tables joined on
  * packed longs hash-partition evenly; natural keys are reused as entry ids so
  * id assignment is a pure projection (no global sort / no id service).
  */
final case class LabelMeta(name: String, kind: String, labelId: Int)

final class PropertyGraph(
    val spark: SparkSession,
    val vertexLabels: Map[String, DataFrame],
    val edgeLabels: Map[String, DataFrame],
    val labelIds: Map[String, Int],
    /** IVFFlat-analog index probe (reference
      * create_ivfflat_{l2,ip}_ops_index, sql/postgraph.sql.in:151-158):
      * (escaped property name, metric, query vector) → (indexed label id,
      * candidate-id relation) when an index covers the shape. Wired by
      * MutableGraph.snapshot; the default graph has no indexes.
      */
    val ivfProbe: (String, String, Seq[Double]) => Option[(Int, DataFrame)] =
      (_, _, _) => None,
    /** r13 manifest-stats data skipping (the GIN property-index analog,
      * reference gtype_gin.c): (kind "v"/"e", label, escaped property,
      * lower bound, upper bound, the exact label DataFrame this plan
      * scans) → a file-pruned scan of the label when per-file min/max
      * stats prove some files cannot hold a row in [lo, hi] (equality =
      * both bounds the same literal). The DataFrame identity is the
      * validity proof: stats apply only to the snapshot they were
      * collected for. None = no stats / no win / diverged — callers fall
      * back to the full table. Wired by MutableGraph.snapshot.
      */
    val statsPrune: (String, String, String, Option[graft.gvalue.GValue],
        Option[graft.gvalue.GValue], DataFrame) => Option[DataFrame] =
      (_, _, _, _, _, _) => None,
    /** r16: declared endpoint labels per edge label, (srcLabel, dstLabel),
      * recorded by GraphBuilder (which packs start/end ids from exactly
      * these labels). Lets the VLE expansion drop whole edge tables from a
      * hop's scan+join when the hop's source/destination label is known
      * (guide §2.4 — remove work before the exchange). Empty (the default,
      * e.g. GraphSession mutable graphs where an edge label may connect
      * arbitrary vertex labels) disables the pruning — correctness never
      * depends on it.
      */
    val edgeEndpoints: Map[String, (String, String)] = Map.empty) {

  def labelIdOf(label: String): Int = labelIds(label)

  /** Union-all view over all vertex labels (the reference's default
    * `_ag_label_vertex` parent table) restricted to common columns.
    */
  lazy val allVertices: DataFrame = unionAll(vertexLabels)
  lazy val allEdges: DataFrame = unionAll(edgeLabels)

  /** Union-all view with PER-BRANCH manifest-stats file pruning (r14,
    * VERDICT r13 #3): the reference's GIN property index serves the parent
    * `_ag_label_vertex` scan too (gtype_gin.c key/value lookups are
    * label-agnostic), so an unlabeled property-filtered MATCH prunes each
    * label's file list independently before the union is built. Some only
    * when at least one branch actually pruned — callers otherwise keep the
    * cached lazy `allVertices`/`allEdges` (no per-query union rebuild).
    */
  def unionPruned(kind: String, propEsc: String,
      lo: Option[graft.gvalue.GValue],
      hi: Option[graft.gvalue.GValue]): Option[DataFrame] = {
    val tables = if (kind == "v") vertexLabels else edgeLabels
    var any = false
    val pruned = tables.map { case (l, df) =>
      statsPrune(kind, l, propEsc, lo, hi, df) match {
        case Some(p) => any = true; l -> p
        case None => l -> df
      }
    }
    if (any) Some(unionAll(pruned)) else None
  }

  private def unionAll(tables: Map[String, DataFrame]): DataFrame = {
    require(tables.nonEmpty, "graph has no label tables of requested kind")
    // union-by-name over the FULL column set: a property absent from some
    // label is null there, matching the reference's schemaless access
    // (n.missing → null), not dropped. A property whose TYPE differs across
    // labels (legal in the reference — every property is gtype) is wrapped
    // in the tagged dynamic-value struct so the union still types; the
    // compiler compares/orders those via GValueCol order keys.
    val typesByName = tables.values.toSeq
      .flatMap(_.schema.fields.map(f => f.name -> f.dataType))
      .groupMap(_._1)(_._2).view.mapValues(_.distinct).toMap
    val conflicted = typesByName.collect {
      case (name, ts) if ts.size > 1 && !Set("id", "start_id", "end_id")(name) &&
        ts.forall(graft.gvalue.GValueCol.canEncode) => name
    }.toSet
    tables.toSeq.sortBy(_._1)
      .map { case (label, df) =>
        // SQL NULL must survive the wrap as SQL NULL (= property ABSENT,
        // rendered as {}), not as the codec's gtype-null (= property
        // explicitly stored null, rendered "k": null) — cypher_create.out
        // distinguishes the two (line 204 `{}` vs line 180 `{"var_name": null}`)
        val wrapped = conflicted.intersect(df.columns.toSet).foldLeft(df)((d, c) =>
          d.withColumn(c, {
            val dt = d.schema(c).dataType
            val enc = graft.gvalue.GValueCol.encode(col(c), dt)
            if (dt == graft.gvalue.GValueCol.structType) enc
            else when(col(c).isNull,
              lit(null).cast(graft.gvalue.GValueCol.structType)).otherwise(enc)
          }))
        wrapped.withColumn("__label", lit(label))
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def save(dir: String): Unit = {
    val fs = new java.io.File(dir)
    fs.mkdirs()
    val meta = labelIds.toSeq.sortBy(_._2).map { case (name, id) =>
      val kind = if (vertexLabels.contains(name)) "v" else "e"
      s"""{"name":"$name","kind":"$kind","labelId":$id}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_labels.json"), meta)
    vertexLabels.foreach { case (l, df) => df.write.mode("overwrite").parquet(s"$dir/v_$l") }
    edgeLabels.foreach { case (l, df) => df.write.mode("overwrite").parquet(s"$dir/e_$l") }
  }
}

object PropertyGraph {

  /** Max 48-bit entry id (graphid.h:40-41). */
  val EntryIdMask: Long = (1L << 48) - 1

  def packId(labelId: Int, entryId: Long): Long = (labelId.toLong << 48) | entryId
  def labelOf(id: Long): Int = (id >>> 48).toInt

  /** Column form of labelOf — `(id >> 48)`, prunable in scans. */
  def labelOfCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.shiftrightunsigned(id, 48)

  def load(spark: SparkSession, dir: String): PropertyGraph = {
    val metaStr = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/_labels.json"))
    // minimal parse of the _labels.json we write ourselves
    val entry = """\{"name":"([^"]+)","kind":"([ve])","labelId":(\d+)\}""".r
    val metas = entry.findAllMatchIn(metaStr).map(m =>
      LabelMeta(m.group(1), m.group(2), m.group(3).toInt)).toSeq
    val vs = metas.filter(_.kind == "v")
      .map(m => m.name -> spark.read.parquet(s"$dir/v_${m.name}")).toMap
    val es = metas.filter(_.kind == "e")
      .map(m => m.name -> spark.read.parquet(s"$dir/e_${m.name}")).toMap
    new PropertyGraph(spark, vs, es, metas.map(m => m.name -> m.labelId).toMap)
  }
}

/** Builds a PropertyGraph from source DataFrames, packing graphids from
  * natural keys — the 100 TB-friendly path (id assignment = projection).
  */
final class GraphBuilder(spark: SparkSession) {
  private var nextLabelId = 1
  private val labelIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
  private val vertices = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  private val edges = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  private val endpoints = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]

  private def allocate(label: String): Int = {
    require(!labelIds.contains(label), s"duplicate label $label")
    require(nextLabelId <= 0xFFFF, "label id space exhausted (max 65535)")
    val id = nextLabelId
    nextLabelId += 1
    labelIds(label) = id
    id
  }

  /** Vertex label from a source table; `keyCol` (a unique integral column,
    * < 2^48) becomes the entry id; all source columns become properties.
    */
  def vertexLabel(label: String, df: DataFrame, keyCol: String): GraphBuilder = {
    val lid = allocate(label)
    vertices(label) = df.select(
      (shiftleft(lit(lid.toLong), 48).bitwiseOR(col(keyCol).cast("long"))).as("id") +:
        df.columns.map(col): _*)
    this
  }

  /** Edge label; endpoints are (vertex label, natural key column) pairs so
    * start/end ids are computed by the same packing — no join needed.
    */
  def edgeLabel(label: String, df: DataFrame, keyCol: String,
      srcLabel: String, srcKeyCol: String,
      dstLabel: String, dstKeyCol: String): GraphBuilder = {
    val lid = allocate(label)
    val srcLid = labelIds(srcLabel)
    val dstLid = labelIds(dstLabel)
    endpoints(label) = (srcLabel, dstLabel)
    edges(label) = df.select(
      Seq(
        (shiftleft(lit(lid.toLong), 48).bitwiseOR(col(keyCol).cast("long"))).as("id"),
        (shiftleft(lit(srcLid.toLong), 48).bitwiseOR(col(srcKeyCol).cast("long"))).as("start_id"),
        (shiftleft(lit(dstLid.toLong), 48).bitwiseOR(col(dstKeyCol).cast("long"))).as("end_id")) ++
        df.columns.filterNot(c => Set("id", "start_id", "end_id")(c)).map(col): _*)
    this
  }

  def build(): PropertyGraph =
    new PropertyGraph(spark, vertices.toMap, edges.toMap, labelIds.toMap,
      edgeEndpoints = endpoints.toMap)
}
