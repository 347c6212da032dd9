package graft.cypher

import graft.Local
import graft.graph.PropertyGraph
import graft.gvalue._
import MutableGraph.{LabelState, Touched, folded, has, union}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** In-memory mutable label tables + id allocation (the reference's per-label
  * sequence, graph_commands.c:222-270).
  */
final class MutableGraph(spark: SparkSession) {
  private val labelIds = mutable.LinkedHashMap.empty[String, Int]
  // user labels number from 3, as in the reference: ids 1/2 belong to the
  // catalog's _ag_label_vertex/_ag_label_edge (label_commands.c) — packed
  // entity ids then match the reference's byte-for-byte (844424930131969 =
  // 3<<48 | 1), which the value-level replay diffs rely on
  // the label-id SEQUENCE (reference: per-graph `_label_id_seq`, CYCLE at
  // 65535 back to the low end, skipping ids still in use —
  // graph_commands.c / catalog.out:239-290). `seqLast` is PG last_value.
  private var seqLast = 2
  private def seqNext(): Int = {
    seqLast = if (seqLast >= 65535) 1 else seqLast + 1
    seqLast
  }
  /** Raw sequence advance (SELECT nextval('g._label_id_seq')). */
  private[cypher] def nextvalLabelId(): Int = seqNext()
  /** SELECT setval('g._label_id_seq', n). */
  private[cypher] def setvalLabelId(n: Int): Unit = { seqLast = n }
  /** create_vlabel/create_elabel: pre-register; re-creating is an error
    * (catalog.out:356 `label "r" already exists`).
    */
  private[cypher] def createLabel(l: String): Unit = {
    require(!labelIds.contains(l), s"""label "$l" already exists""")
    labelId(l)
  }

  /** drop_label('g','l'): remove the label and its rows from the graph. */
  private[cypher] def dropLabel(l: String): Unit = {
    require(labelIds.contains(l) || vertexLabels.contains(l) || edgeLabels.contains(l),
      s"""label "$l" does not exist""")
    labelIds.remove(l)
    vertexLabels -= l
    edgeLabels -= l
    nextEntry.remove(l)
  }
  private val nextEntry = mutable.Map.empty[String, Long]
  private[cypher] var vertexLabels = Map.empty[String, LabelState]
  private[cypher] var edgeLabels = Map.empty[String, LabelState]

  // ---- One write path. Every stored value is encoded by [[gLit]], every
  // CREATE (literal, per-row, MERGE's) passes [[checkUnique]], and a
  // CREATE, SET, REMOVE, DELETE or ingest upsert of driver-held ids is one
  // [[replaced]]: its ids join the label state's `dead` and its new rows
  // take their place in `rows`. Any other write makes its join or union
  // the new base (the `local.maxRows=0` reference path): an append stays
  // a lazy union of at most MaxParts parts, any other is marked for a
  // re-base at the statement's end ([[flattened]]). Each write records in
  // the state what it touched, so publish rewrites only the parquet FILES
  // holding touched ids (a write that recorded nothing would lose rows
  // under CoW, so the primitives record it themselves); the first write
  // of a statement starts from nothing recorded.

  /** Statement-level transactionality: the reference runs each statement
    * in a PG transaction, so an ERROR mid-statement (e.g. CREATE through a
    * variable whose vertex the same statement deleted) leaves the graph
    * untouched (cypher_delete.out:276-284). States are immutable — only the
    * small catalog maps need copying, so a snapshot is O(labels).
    */
  private var start = MutableGraph.TxState(Nil, Map.empty, Map.empty, Map.empty, Set.empty, Set.empty)

  private def labels(kind: String): Map[String, LabelState] =
    if (kind == "v") vertexLabels else edgeLabels

  private def put(kind: String, l: String, st: LabelState): Unit =
    if (kind == "v") vertexLabels += (l -> st) else edgeLabels += (l -> st)

  /** Label `l`'s state as this statement's next write continues it: nothing
    * recorded while it is the state the statement started from.
    */
  private def continued(kind: String, l: String, st: LabelState): LabelState =
    if ((if (kind == "v") start.vertexLabels else start.edgeLabels).get(l).exists(_ eq st))
      st.copy(touched = Touched.empty, rebase = false)
    else st

  /** The state after a write that cannot stay held: its table `next` is
    * the new base, `added` bytes larger. An append that unions `parts`
    * leaves onto the table and re-encodes no row adds them to the base's
    * parts; any other write marks the label for a re-base, and a mark an
    * earlier write of the statement set stays.
    */
  private def written(st: LabelState, next: DataFrame, ids: DataFrame, added: BigInt = 0,
      whole: Boolean = false, parts: Int = 0): LabelState =
    LabelState(next, Array.empty, Array.empty, next.schema, st.bytes + added,
      st.touched ++ Touched(Array.empty, List(ids.select(col("id"))), whole),
      rebase = st.rebase || parts == 0 || whole, st.parts + parts, materialized = false)

  /** Whether a held state of `n` dead ids and row-versions stays held: the
    * bound of a merge-on-read statement and of `Local`'s cap.
    */
  private def holdable(n: Int): Boolean =
    n <= MutableGraph.DvMaxStatementIds && Local.holds(spark, n)

  private[cypher] def txSnapshot(): MutableGraph.TxState = {
    start = MutableGraph.TxState(labelIds.toSeq, nextEntry.toMap,
      vertexLabels, edgeLabels, uniqueConstraints.toSet, wholePropsUnique.toSet)
    start
  }

  /** PG sequences are NON-transactional: a rolled-back statement's label
    * allocations disappear from the catalog (labelIds is restored) but the
    * `_label_id_seq` position stays advanced — cypher_delete.out:465 shows
    * e2 landing on label id 8 after three rolled-back CREATE attempts
    * burned ids 5-7. seqLast is therefore deliberately NOT restored.
    */
  private[cypher] def txRestore(s: MutableGraph.TxState): Unit = {
    labelIds.clear(); labelIds ++= s.labelIds
    // nextEntry (the per-label ENTRY id sequence) is deliberately NOT
    // restored: PG serial sequences are non-transactional, so a failed
    // statement burns the entry ids it allocated (index.out:
    // post-unique-violation inserts land on id 13, not 12)
    vertexLabels = s.vertexLabels
    edgeLabels = s.edgeLabels
    uniqueConstraints.clear(); uniqueConstraints ++= s.uniques
    wholePropsUnique.clear(); wholePropsUnique ++= s.wholeUniques
  }

  def snapshot: PropertyGraph =
    new PropertyGraph(spark,
      if (vertexLabels.isEmpty)
        Map("_default" -> spark.createDataFrame(
          new java.util.ArrayList[Row](),
          StructType(Seq(StructField("id", LongType)))))
      else vertexLabels.map { case (l, st) => l -> st.df },
      edgeLabels.map { case (l, st) => l -> st.df }, labelIds.toMap, annProbe, statsPrunedScan)

  // Manifest-stats data skipping (the GIN property-index analog,
  // gtype_gin.c:62-554, as Delta-style per-file typed min/max): the
  // manifest of each file-form label, rebuilt at load and after every
  // publish; an in-session change invalidates it by table identity until
  // the next publish.
  /** (files kept, files total) of the last pruned-scan attempt — lets
    * WriteSpec assert a property-filtered MATCH actually skipped files. */
  @volatile var lastPruneInfo: Option[(Int, Int)] = None
  /** r14 test counter: index-entry chain compactions that ran as a
    * chain-file MERGE (base + deltas, last-wins) — IvfIndexSpec asserts a
    * compaction happened without any label re-scan/re-encode (there is no
    * full-recompute path anymore; assignBuilds/encodeBuilds stay ∝ touched
    * rows per publish). */
  val entryChainMerges = new java.util.concurrent.atomic.AtomicLong(0)

  /** Benchmark/test switch: disables manifest-stats pruning so tools can
    * measure the pruned vs unpruned scan of the same store (StoreBench). */
  @volatile var statsPruneEnabled: Boolean = true

  /** Scan of `label` restricted to the manifest files whose stats may
    * hold a row with property `propEsc` inside [lo, hi]
    * ([[Commit.prunedScan]]). None when stats cannot prune (no manifest,
    * diverged content, non-scalar literal, or nothing skippable) or need
    * not (a table held on the driver, which reads with no job): the
    * caller uses the in-memory table.
    */
  private def statsPrunedScan(kind: String, label: String, propEsc: String,
      lo: Option[GValue], hi: Option[GValue], tbl: DataFrame): Option[DataFrame] = {
    if (!statsPruneEnabled ||
        tbl.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
      return None
    val root = storeRoot.getOrElse(return None)
    val m = held.manifest.get((kind, label))
      .filter(_.src eq tbl) // scanned snapshot = manifest content
      .getOrElse(return None)
    Commit.prunedScan(spark, root, m, tbl, propEsc, lo, hi).flatMap {
      case (kept, total, scan) =>
        lastPruneInfo = Some((kept, total))
        scan
    }
  }

  // ---------------------------------------------------- ANN indexes
  // ([[AnnIndex]]). A trained matrix is fixed at build, like IVFFlat's
  // lists; entries derive lazily from the CURRENT label table and are
  // cached by its identity, so an index never goes stale across writes and
  // needs no per-write hook.
  private val annIndexes = mutable.LinkedHashMap.empty[AnnIndex.Key, AnnIndex]
  /** Each index's entries with the label table they reflect. */
  private var annEntries = Map.empty[AnnIndex.Key, (DataFrame, DataFrame)]
  /** Clusters probed per IVF query (reference GUC ivfflat.probes; default 1). */
  @volatile var ivfProbes: Int = 1
  /** PQ's ADC shortlist size, reranked exactly by the query's ORDER BY. */
  @volatile var pqShortlist: Int = 192

  def createIvfIndex(label: String, prop: String, dims: Int, lists: Int, metric: String): Unit =
    createIndex(label, prop, dims, "ivfflat")(AnnIndex.IvfFlat.train(label, _, metric, dims, lists, _))

  def createPqIndex(label: String, prop: String, dims: Int, m: Int, k: Int, metric: String): Unit =
    createIndex(label, prop, dims, "pq")(AnnIndex.Pq.train(label, _, metric, dims, m, k, _))

  /** Train an ANN index of `label`.`prop0` (`train` gets the escaped
    * property and the label's embeddings). Index DDL is durable like the
    * reference's on-disk build: it publishes at once, and since CREATE
    * INDEX writes the list pages, not just the trained structure
    * (ivfbuild.c), the entries are built first so the publish persists
    * them and a reopened store probes them.
    */
  private def createIndex(label: String, prop0: String, dims: Int, am: String)(
      train: (String, DataFrame) => AnnIndex): Unit = {
    val prop = Compiler.PropNames.esc(prop0)
    val tbl = vertexLabels.getOrElse(label,
      throw new IllegalArgumentException(s"unknown vertex label $label")).df
    require(tbl.columns.contains(prop), s"label $label has no property $prop0")
    require(dims >= 1 && dims <= 2000, s"$am supports 1..2000 dimensions") // ivfflat.h:33
    val ix = train(prop, AnnIndex.embeddings(tbl, prop, dims))
    annIndexes(ix.key) = ix
    annEntries -= ix.key
    held = held.rebuilt(ix)
    if (storeRoot.isDefined) {
      entries(ix)
      publish(vertexLabels, edgeLabels)
    }
  }

  /** The entries of `ix` for its label's current table: cached, else
    * read from its stored files while they reflect the table and all
    * still exist (a 2+-versions-stale reader may race a concurrent
    * writer's gc, and then derives instead of failing mid-query), else
    * derived. Derived entries, and stored ones the index caches, are
    * checkpointed and cached for the table.
    */
  private def entries(ix: AnnIndex): DataFrame = {
    val tbl = vertexLabels(ix.label).df
    annEntries.get(ix.key).collect { case (src, e) if src eq tbl => e }.getOrElse {
      val stored = for {
        root <- storeRoot
        (rels, src) <- held.stored.get(ix.entriesKey)
        if (src eq tbl) && rels.forall(r => java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/$r")))
      } yield ix.readStored(rels.map(r => (spark.read.parquet(s"$root/$r"), GraphStore.versionOf(r))), tbl)
      stored match {
        case Some(e) if !ix.cachesStored => e
        case _ =>
          val e = stored.getOrElse(ix.derive(AnnIndex.embeddings(tbl, ix.prop, ix.dims))).localCheckpoint()
          annEntries += (ix.key -> (tbl, e))
          e
      }
    }
  }

  /** Probe: the single IVF index covering (prop, metric, dims), else the
    * single PQ one → (its label id, candidate ids). Ambiguous coverage
    * (two labels indexing the same property name) passes to the next kind,
    * and then disables the rewrite rather than guessing.
    */
  private def annProbe(propEsc: String, metric: String,
      vec: Seq[Double]): Option[(Int, DataFrame)] = {
    val covering = annIndexes.values.filter(ix =>
      ix.prop == propEsc && ix.metric == metric && ix.dims == vec.length).toSeq
    AnnIndex.Tags.map(t => covering.filter(_.tag == t)).collectFirst { case Seq(ix) =>
      (labelIds(ix.label), ix.candidates(entries(ix), vec, ivfProbes, pqShortlist))
    }
  }

  private def labelId(l: String): Int =
    // the unlabeled-vertex label IS the catalog's _ag_label_vertex, id 1
    // (label_commands.c) — it never consumes a user label id, so packed
    // ids of unlabeled entities match the reference byte-for-byte
    // (281474976710657 = 1<<48 | 1) and later user labels don't shift
    labelIds.getOrElseUpdate(l,
      if (l == "_default") 1
      else {
        // advance the sequence, skipping reserved (1, 2) and in-use ids
        // (the post-CYCLE reuse path, catalog.out:285-300)
        var i = seqNext(); var guard = 0
        while ((i <= 2 || labelIds.values.exists(_ == i)) && guard < 65536) {
          i = seqNext(); guard += 1
        }
        require(guard < 65536, "label id space exhausted (65535 labels)")
        i
      })

  /** Pre-register a label so ids assign in the reference's TEXTUAL order —
    * its catalog numbers vertex and edge labels from one shared sequence
    * in first-appearance order across the whole CREATE pattern
    * (label_commands.c), so `(b:begin)-[:edge]->(u:middle)` is
    * begin=3, edge=4, middle=5; creating the far node before its incoming
    * edge would swap the last two.
    */
  private[cypher] def ensureLabel(l: String): Unit = labelId(l)

  private def isScalarProp(v: GValue): Boolean = v match {
    case _: GArray | _: GMap | _: GVector => false
    case _ => true
  }

  /** Last committed micro-batch id per streaming writer identity (r12) —
    * persisted in the store catalog (`stream <app> <batchId>` lines) so a
    * replayed foreachBatch after restart is recognized and skipped: the
    * idempotent-sink half of Structured Streaming's exactly-once contract
    * (the same txn-appId/txn-version pattern Delta's streaming sink uses).
    */
  private[cypher] val streamBatches = mutable.Map.empty[String, Long]

  /** Run one micro-batch commit: skip if (appId, batchId) already
    * committed, publish as one version, restore the marker on failure so
    * the retry is not skipped.
    */
  private def ingestBatch(appId: String, batchId: Long)(make: => Unit): Unit = {
    if (streamBatches.get(appId).exists(_ >= batchId)) return
    val tx = txSnapshot()
    val prevMark = streamBatches.get(appId)
    try {
      make
      streamBatches(appId) = batchId // written into the catalog by publish
      commitIfChanged(tx)
    } catch {
      case t: Throwable =>
        txRestore(tx)
        prevMark match {
          case Some(v) => streamBatches(appId) = v
          case None => streamBatches.remove(appId)
        }
        throw t
    }
  }

  /** Commit one streaming micro-batch of vertices as ONE store version.
    * Ids pack from `keyCol` like GraphBuilder labels (key-addressed); a
    * later CREATE into the label numbers past the largest ingested key.
    */
  private[cypher] def ingestVertexBatch(label: String, keyCol: String,
      batch: DataFrame, appId: String, batchId: Long): Unit =
    ingestBatch(appId, batchId) {
      appendRows("v", label, frozenBatch("v", label, keyedBatch(label, keyCol, batch)))
    }

  /** A micro-batch frozen for an append: held on the driver while it fits
    * `Local`'s write bound, so into an existing label its rows join the
    * held rows (no re-base per batch); a new label's base is its checkpoint.
    * The label's entry sequence passes the batch's keys ([[advanceEntries]]).
    */
  private def frozenBatch(kind: String, label: String, df: DataFrame): DataFrame = {
    val (frozen, rows) =
      if (labels(kind).contains(label)) Local.freezeHeld(df) else (df.localCheckpoint(), None)
    advanceEntries(label, frozen, rows)
    frozen
  }

  /** A vertex batch with ids packed from `keyCol`, as GraphBuilder packs. */
  private def keyedBatch(label: String, keyCol: String, batch: DataFrame): DataFrame =
    batch.select(packedId(label, keyCol).as("id") +:
      batch.columns.filterNot(_ == "id").sorted.map(col): _*)

  /** The id packed from `keyCol` into `label`; a null key fails the batch,
    * naming both, where the projection runs.
    */
  private def packedId(label: String, keyCol: String): Column =
    when(col(keyCol).isNull, raise_error(lit(s"ingest key $keyCol of label $label is null")))
      .otherwise(shiftleft(lit(labelId(label).toLong), 48).bitwiseOR(col(keyCol).cast("long")))

  /** Raise `label`'s entry sequence to at least the largest entry of its
    * packed ids in ingested frame `df`, read from its driver `rows` when
    * held, else by one fold over the checkpointed frame (one job, no
    * shuffle): a later CREATE into the label then numbers past every
    * ingested key.
    */
  private def advanceEntries(label: String, df: DataFrame, rows: Option[Array[Row]]): Unit = {
    val (lid, i) = (labelId(label).toLong, df.schema.fieldIndex("id"))
    val entry = (id: Long) => if (id >>> 48 == lid) id & ((1L << 48) - 1) else 0L
    val top = rows match {
      case Some(rs) => rs.iterator.map(r => entry(r.getLong(i))).maxOption.getOrElse(0L)
      case None => df.queryExecution.toRdd.map(r => entry(r.getLong(i))).fold(0L)(math.max)
    }
    if (top > nextEntry.getOrElse(label, 0L)) nextEntry(label) = top
  }

  /** Upsert twin of [[ingestVertexBatch]] (r12 streaming CDC): a batch
    * row whose key already exists REPLACES the stored row — the publish
    * path tombstones the old on-disk copy through the deletion-vector
    * machinery, so a point update costs the new row + 8 B, never a file
    * rewrite — and new keys append. Same exactly-once (appId, batchId)
    * contract. Duplicate keys within one batch collapse to one arbitrary
    * row (pre-aggregate upstream for a deterministic pick). A batch held
    * on the driver replaces its ids in an existing label's held state
    * ([[replaced]]), and a base no open or re-base materialized (a new
    * label's first batch, an appended union) is marked for a re-base,
    * once, so a small label's later reads run on the driver. Otherwise the
    * label without the batch's ids, plus the batch, is the new base.
    */
  private[cypher] def ingestVertexUpsertBatch(label: String, keyCol: String,
      batch: DataFrame, appId: String, batchId: Long): Unit =
    ingestBatch(appId, batchId) {
      val keyed = keyedBatch(label, keyCol, batch)
      val idIx = keyed.schema.fieldIndex("id")
      val existing = vertexLabels.get(label).map(continued("v", label, _))
      val rows = existing.flatMap(_ => Local.collect(keyed, Local.WriteBytes))
        .map(_.distinctBy(_.getLong(idIx)))
      val df = rows.fold(keyed.dropDuplicates("id").localCheckpoint())(
        Local.relation(spark, _, keyed.schema))
      advanceEntries(label, df, rows)
      existing match {
        case None => appendRows("v", label, df)
        case Some(st) =>
          val held = rows.map(_.map(_.getLong(idIx)).sorted)
            .flatMap(ids => replaced(st, ids, ids.length)(Some(df)))
            .map(h => h.copy(rebase = h.rebase || !st.materialized))
          put("v", label, held.getOrElse {
            val kept = st.df.join(df.select(col("id")), Seq("id"), "left_anti")
            written(st, aligned(kept, df), df, Local.bytesOf(df), reencodes(st.schema, df))
          })
      }
    }

  /** Commit one streaming micro-batch of edges as ONE store version —
    * endpoint ids pack from the src/dst key columns against their vertex
    * labels, exactly GraphBuilder.edgeLabel's scheme.
    */
  private[cypher] def ingestEdgeBatch(label: String, keyCol: String,
      srcLabel: String, srcKeyCol: String, dstLabel: String, dstKeyCol: String,
      batch: DataFrame, appId: String, batchId: Long): Unit =
    ingestBatch(appId, batchId) {
      val ids = Seq(packedId(label, keyCol).as("id"),
        packedId(srcLabel, srcKeyCol).as("start_id"), packedId(dstLabel, dstKeyCol).as("end_id"))
      val props = batch.columns
        .filterNot(Set("id", "start_id", "end_id", keyCol, srcKeyCol, dstKeyCol))
        .sorted.map(col)
      appendRows("e", label, frozenBatch("e", label, batch.select(ids ++ props: _*)))
    }

  /** Append rows to a label table (all CREATE paths), schema-aligned. A
    * frame held on the driver joins the label's held row-versions
    * ([[replaced]], no ids). Otherwise the union is the new base, adding
    * the held rows' relation and the frame to its parts. A new label's
    * base is the frame itself, written whole.
    */
  private def appendRows(kind: String, label: String, df: DataFrame): Unit =
    put(kind, label, labels(kind).get(label).map(continued(kind, label, _)) match {
      case None => LabelState.of(df, Local.bytesOf(df), Touched.Whole, materialized = false)
      case Some(st) =>
        Some(df.queryExecution.optimizedPlan).collect { case r: LocalRelation => r.data.length }
          .flatMap(n => replaced(st, Array.empty, n)(Some(df)))
          .getOrElse(written(st, aligned(st.df, df), df, Local.bytesOf(df), reencodes(st.schema, df),
            parts = if (st.size > 0) 2 else 1))
    })

  /** The one held write: state `st` with the row-versions of its sorted
    * `ids` replaced by the `n` driver-held rows of `add`; the ids join
    * dead, the rows take their place in rows, and both are recorded as
    * touched. A DELETE passes no `add`, an append no ids. None past
    * [[holdable]] (checked before `add` is built), when `add` re-encodes
    * the label or does not fold on the driver, or when it repeats a held
    * id it does not replace: the commit writes a held state's rows of its
    * touched ids, so that id's stored copy would be written again.
    */
  private def replaced(st: LabelState, ids: Array[Long], n: Int)(
      add: => Option[DataFrame]): Option[LabelState] =
    if (!holdable(st.size + ids.length + n)) None
    else {
      val idIx = st.schema.fieldIndex("id")
      val kept = st.rows.filterNot(r => has(ids, r.getLong(idIx)))
      add match {
        case None => Some(st.copy(dead = union(st.dead, ids), rows = kept,
          touched = st.touched ++ Touched.of(ids)))
        case Some(df) if !reencodes(st.schema, df) =>
          val merged = aligned(Local.relation(spark, kept.toSeq, st.schema), df)
          folded(merged).flatMap { rows =>
            val i = merged.schema.fieldIndex("id")
            val added = rows.drop(kept.length).map(_.getLong(i)).distinct.sorted
            Option.when(added.forall(a => has(ids, a) || !has(st.rowIds, a)))(st.copy(
              dead = union(st.dead, ids), rows = rows, schema = merged.schema,
              touched = st.touched ++ Touched.of(union(ids, added))))
          }
        case _ => None
      }
    }

  /** Columns of `o` that `add` holds with another type; nullability-only
    * differences are NOT conflicts: a streaming batch round-trips through
    * parquet, which relaxes containsNull/nullable — treating that as a type
    * change forced a dynCoerce full rewrite on every wrapper-ingested batch
    * (dropping index-entry chains, r14).
    */
  private def conflicts(o: StructType, add: DataFrame): Seq[String] =
    o.fields.flatMap { f =>
      add.schema.fields.find(_.name == f.name)
        .filter(g => MutableGraph.relaxNullability(g.dataType) !=
          MutableGraph.relaxNullability(f.dataType) &&
          f.dataType != NullType && g.dataType != NullType)
        .map(_ => f.name)
    }.toSeq

  /** Whether appending `add` to a table of schema `o` re-encodes its rows:
    * a conflicting column of o that is not already dynamic (dynCoerce of a
    * GValue column is the identity). A label state's schema serves, so the
    * test renders no table.
    */
  private def reencodes(o: StructType, add: DataFrame): Boolean =
    conflicts(o, add).exists(n => !graft.gvalue.GValueCol.isGValue(o(n).dataType))

  /** New rows `add` aligned with an existing label table `o` (union of
    * columns). A property column whose type CONFLICTS between the two (the
    * reference stores every property as gtype, so `CREATE ({i: 1})` then
    * `CREATE ({i: 'str'})` is legal — order_by.sql fixture) re-encodes
    * through the dynamic codec on BOTH sides, paid only on conflict: not an
    * id-local change, so its caller records the label written whole
    * ([[reencodes]]).
    */
  private def aligned(o: DataFrame, add: DataFrame): DataFrame = {
    import graft.gvalue.GValueCol
    val conflicts = this.conflicts(o.schema, add)
    def fix(df: DataFrame): DataFrame = conflicts.foldLeft(df) { (d, n) =>
      GValueCol.dynCoerce(col(n), d.schema(n).dataType) match {
        // keep SQL NULL (= property absent) rather than letting the
        // codec's gtype-null wrap it: an absent property must stay
        // absent in the entity render, while an explicitly stored null
        // keeps its TNull payload (cypher_create.out:239 `{}` vs
        // `{"var_name": null}`)
        case Some(c) => d.withColumn(n,
          when(col(n).isNull, lit(null).cast(GValueCol.structType)).otherwise(c))
        case None => d // no dynamic form — surface the union error below
      }
    }
    if (conflicts.isEmpty) o.unionByName(add, allowMissingColumns = true)
    else fix(o).unionByName(fix(add), allowMissingColumns = true)
  }

  /** The one encoder of a stored value, GValue → literal Column, for a
    * literal CREATE, a per-row CREATE's constant and a SET's container: a
    * homogeneous scalar list stays a typed array; a mixed or nested list
    * and a map take the dynamic struct (the reference keeps every property
    * a full gtype — cypher_match.sql's {map_key: {…}, list_key: […]}
    * shapes), whose nested list carries its canonical and its render half
    * ([[GValueCol.gLit]]); a numeric is `decimal(38,18)` whatever its
    * scale, so numerics of two scales share one column type.
    */
  private[cypher] def gLit(v: GValue): Column = v match {
    case GArray(xs) if xs.nonEmpty && xs.forall(isScalarProp) &&
        xs.map(_.getClass).distinct.size == 1 =>
      array(xs.map(gLit): _*)
    case g @ (_: GArray | _: GMap) => graft.gvalue.GValueCol.gLit(g)
    case GNumeric(n) => lit(n.bigDecimal).cast(DecimalType(38, 18))
    case GTimestamp(us) => lit(java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)))
    case GDate(d) => lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)))
    case GBool(b) => lit(b)
    case GInt(i) => lit(i)
    case GFloat(f) => lit(f)
    case GString(s) => lit(s)
    case GNull => lit(null)
    case other => throw new UnsupportedOperationException(s"property value: ${other.render}")
  }

  /** Reserve `n` consecutive entry ids for a label; returns (labelId, base). */
  private[cypher] def reserveEntries(label: String, n: Long): (Int, Long) = {
    val lid = labelId(label)
    val base = nextEntry.getOrElse(label, 0L)
    nextEntry(label) = base + n
    (lid, base)
  }

  /** Append fully-formed vertex rows (id + ROW-VALUED property columns) —
    * the general path for CREATE/MERGE whose properties are expressions
    * over the input row, not constants.
    */
  private[cypher] def createVerticesRows(label: String, rows: DataFrame): Unit = {
    checkUnique(label, rows)
    labelId(label)
    appendRows("v", label, idsFirst(rows, Seq("id")))
  }

  /** `rows` with its `ids` columns first, then its properties by name. */
  private def idsFirst(rows: DataFrame, ids: Seq[String]): DataFrame =
    rows.select((ids ++ rows.columns.filterNot(ids.contains).sorted).map(col): _*)

  private val uniqueConstraints = mutable.Set.empty[(String, String)]

  /** Register a unique constraint; existing data must already satisfy it. */
  def addUniqueConstraint(label: String, prop: String): Unit = {
    vertexLabels.get(label).map(_.df).foreach { df =>
      if (df.columns.contains(prop)) {
        val dup = df.filter(col(prop).isNotNull).groupBy(col(prop))
          .count().filter(col("count") > 1).limit(1).count()
        // PG's failed CREATE UNIQUE INDEX message; expression indexes
        // name as <table>_expr_idx… (old index.out:
        // could not create unique index "City_expr_idx1")
        require(dup == 0,
          s"""could not create unique index "${label}_expr_idx1"""")
      }
    }
    uniqueConstraints += ((label, Compiler.PropNames.esc(prop)))
  }

  private val wholePropsUnique = mutable.Set.empty[String]

  /** Whole-properties uniqueness (create_unique_properties_constraint,
    * postgraph.sql.in:161): no two vertices of the label may carry an
    * identical property map.
    */
  def addUniquePropertiesConstraint(label: String): Unit =
    wholePropsUnique += label

  /** Fail a CREATE of vertex `rows` into `label` that breaks one of its
    * unique constraints: a property's, where rows without the property
    * are no key, or the whole property map's, where an absent property
    * equals an absent one. For each constraint's key columns, one
    * aggregate finds a key repeated among the new rows and one null-safe
    * semi-join a key the label already holds, both sides in one column
    * encoding ([[aligned]]); over driver-held rows neither runs a job.
    */
  private def checkUnique(label: String, rows: DataFrame): Unit = {
    val table = vertexLabels.get(label).map(_.df)
    val props = rows.columns.filterNot(_ == "id").toSeq
    val keys = uniqueConstraints.toSeq.sorted.collect { case (`label`, k) if props.contains(k) =>
      (Seq(k), false, s"unique constraint violation: $label.$k")
    } ++ Option.when(wholePropsUnique(label))(
      ((props ++ table.toSeq.flatMap(_.columns)).distinct.filterNot(_ == "id"), true,
        s"""duplicate key value violates unique constraint "${label}_properties_key""""))
    keys.foreach { case (ks, nullKeys, message) =>
      def keyed(df: DataFrame, old: Boolean): DataFrame =
        df.select(ks.filter(df.columns.contains).map(col) :+ lit(old).as("__old"): _*)
      val both = table.fold(keyed(rows, old = false))(t =>
        aligned(keyed(t, old = true), keyed(rows, old = false)))
        .filter(if (nullKeys) lit(true) else col(ks.head).isNotNull)
      val fresh = both.filter(!col("__old")).drop("__old")
      val repeated = !fresh.groupBy(ks.map(col): _*).count().filter(col("count") > 1).isEmpty
      def stored: Boolean = table.isDefined && !both.filter(col("__old")).join(
        fresh.select(ks.map(k => col(k).as(s"__new_$k")): _*),
        ks.map(k => col(k) <=> col(s"__new_$k")).foldLeft(lit(true))(_ && _), "left_semi").isEmpty
      if (repeated || stored) throw new IllegalStateException(message)
    }
  }

  def createVertex(label: String, props: Map[String, GValue]): Long = {
    // allocate BEFORE the constraint check: PG's heap insert consumes the
    // serial value before the unique index rejects the tuple, so a failed
    // CREATE burns its entry id (index.out — post-violation rows land on
    // id 13, not 12; sequences are non-transactional)
    val id = nextId(label)
    val row = entityRow(Seq("id" -> id), props)
    checkUnique(label, row)
    appendRows("v", label, row)
    id
  }

  def createEdge(label: String, startId: Long, endId: Long,
      props: Map[String, GValue]): Long = {
    val id = nextId(label)
    appendRows("e", label,
      entityRow(Seq("id" -> id, "start_id" -> startId, "end_id" -> endId), props))
    id
  }

  /** The next entry id of `label`, packed with its label id. */
  private def nextId(label: String): Long = {
    val (lid, base) = reserveEntries(label, 1)
    PropertyGraph.packId(lid, base + 1)
  }

  /** One new entity's row held on the driver: its `ids` columns, then its
    * properties by escaped name, each encoded by [[gLit]] (a select over a
    * one-row relation, which the optimizer folds into driver rows), with
    * every column nullable as a label's columns are.
    */
  private def entityRow(ids: Seq[(String, Long)], props: Map[String, GValue]): DataFrame = {
    val one = Local.relation(spark, Seq(Row()), new StructType())
    val df = one.select(ids.map { case (n, v) => lit(v).as(n) } ++
      props.toSeq.map { case (k, v) => Compiler.PropNames.esc(k) -> v }.sortBy(_._1)
        .map { case (k, v) => gLit(v).as(k) }: _*)
    Local.relation(spark, df.collect().toSeq, StructType(df.schema.map(_.copy(nullable = true))))
  }

  /** One-row DF for a just-created entity of `kind`, columns prefixed `alias__`. */
  def createdRowDf(kind: String, alias: String, label: String, id: Long): DataFrame = {
    val src = labels(kind)(label).df.filter(col("id") === id).withColumn("label", lit(label))
    src.toDF(src.columns.map(c => s"${alias}__$c"): _*)
  }

  /** Append edges whose ids the caller already assigned from a
    * [[reserveEntries]] block — the per-row CREATE path that binds the
    * edge variable needs the id visible to the same query's RETURN.
    */
  def createEdgesWithIds(label: String, rows: DataFrame): Unit = {
    labelId(label)
    appendRows("e", label, idsFirst(rows, Seq("id", "start_id", "end_id")))
  }

  /** SET/REMOVE property k for ids in `updates(__set_id, __set_val)` across
    * every label table containing those ids (copy-on-write). When the
    * updates are held on the driver and keep the column's type, a label
    * replaces its touched ids' current versions ([[versionsOf]]) with the
    * updated ones ([[replaced]]).
    */
  def updateProperty(k: String, updates0: DataFrame): Unit = {
    // eager localCheckpoint, not persist(): the updated label tables hold a
    // lazy reference to `updates`, so there is no "after the consuming
    // action" point to unpersist at — checkpointing materializes once, cuts
    // the lineage (deterministic re-scans), and the blocks are released by
    // the context cleaner when the session drops the table version
    val frozen = Local.freezeHeld(updates0)
    val updates = frozen._1
    val hit = labelsIn(frozen, "__set_id")
    def apply(kind: String): Map[String, LabelState] =
      labels(kind).map { case (l, st0) =>
        if (!hits(hit, l)) l -> st0
        else {
          val st = continued(kind, l, st0)
          val kept = keepsType(st.schema, k, updates)
          l -> frozen._2.filter(_ => kept).flatMap(idsOf(_, "__set_id", l)).flatMap(ids =>
            replaced(st, ids, ids.length)(Some(setColumn(versionsOf(st, ids), k, updates))))
            .getOrElse(written(st, setColumn(st.df, k, updates),
              updates.select(col("__set_id").as("id")), whole = !kept))
        }
      }
    vertexLabels = apply("v")
    edgeLabels = apply("e")
  }

  /** Whether SET of `updates` keeps column k's type in a table of `schema`;
    * nullability marks alone (a list literal's `containsNull`) do not
    * change it, as in [[conflicts]].
    */
  private def keepsType(schema: StructType, k: String, updates: DataFrame): Boolean =
    !schema.fieldNames.contains(k) || {
      val (oldDt, newDt) = (schema(k).dataType, updates.schema("__set_val").dataType)
      MutableGraph.relaxNullability(oldDt) == MutableGraph.relaxNullability(newDt) ||
        oldDt == NullType || newDt == NullType
    }

  /** `df` with column k set from `updates` where its id has one. A
    * type-changing SET re-encodes the whole column, untouched rows too.
    */
  private def setColumn(df: DataFrame, k: String, updates: DataFrame): DataFrame = {
    val joined = df.join(updates, df("id") === updates("__set_id"), "left_outer")
    val updated =
      if (df.columns.contains(k)) {
        val (oldC, newC) =
          if (keepsType(df.schema, k, updates)) (col(k), col("__set_val"))
          else {
            // type-changing SET (long → list/map/string …): both the
            // kept and the new values re-encode through the dynamic
            // codec — reference stores every property as gtype
            import graft.gvalue.GValueCol
            (GValueCol.dynCoerce(col(k), df.schema(k).dataType),
              GValueCol.dynCoerce(col("__set_val"), updates.schema("__set_val").dataType)) match {
              case (Some(o2), Some(n2)) => (o2, n2)
              case _ => (col(k), col("__set_val")) // no dynamic form
            }
          }
        joined.withColumn(k, when(col("__set_id").isNotNull, newC).otherwise(oldC))
      } else joined.withColumn(k, col("__set_val"))
    updated.drop("__set_id", "__set_val")
  }

  /** The current row-versions of state `st`'s sorted `ids`: from its held
    * rows, and for those in base by one collect of base filtered by them.
    */
  private def versionsOf(st: LabelState, ids: Array[Long]): DataFrame = {
    val inBase = ids.filter(i => !has(st.rowIds, i) && !has(st.dead, i))
    val baseRows =
      if (inBase.isEmpty) Array.empty[Row]
      else st.base.filter(MutableGraph.idIn(inBase)).collect()
    Local.relation(spark, baseRows.toSeq, st.base.schema)
      .unionByName(st.rowsDf.filter(MutableGraph.idIn(ids)), allowMissingColumns = true)
  }

  /** The sorted ids of label `l` in `idCol` of a frozen write snapshot's
    * rows; None for a label without an id.
    */
  private def idsOf(rows: Array[Row], idCol: String, l: String): Option[Array[Long]] =
    labelIds.get(l).map { lid =>
      rows.iterator.map(r => r.get(r.fieldIndex(idCol)))
        .collect { case n: java.lang.Number if (n.longValue >>> 48) == lid => n.longValue }
        .toArray.distinct.sorted
    }

  /** Label ids of the entity ids in `idCol` of a frozen write snapshot:
    * read off the driver rows when it is held there, else one job.
    */
  private def labelsIn(frozen: (DataFrame, Option[Array[Row]]), idCol: String): Set[Long] =
    frozen match {
      case (_, Some(rows)) =>
        rows.iterator.map(r => r.get(r.fieldIndex(idCol)))
          .collect { case n: java.lang.Number => n.longValue >>> 48 }.toSet
      case (df, None) =>
        df.select(PropertyGraph.labelOfCol(col(idCol).cast(LongType)).as("l"))
          .where(col("l").isNotNull)
          .distinct().collect().map(_.getLong(0)).toSet
    }
  /** Whether a write whose ids carry label ids `hit` can change label `l`:
    * a label it cannot change keeps its DataFrame reference, and publish
    * carries it by pointer.
    */
  private def hits(hit: Set[Long], l: String): Boolean =
    labelIds.get(l).forall(i => hit(i.toLong))

  /** DELETE edges by id across every edge label table. */
  def deleteEdges(ids0: DataFrame): Unit = {
    val frozen = Local.freezeHeld(ids0)
    val hit = labelsIn(frozen, "id")
    edgeLabels = edgeLabels.map { case (l, st) =>
      if (!hits(hit, l)) l -> st
      else l -> deleted("e", l, st, frozen)
    }
  }

  /** DELETE vertices by id; DETACH cascades to incident edges on every edge
    * label (get_all_edge_labels_per_graph semantics); plain DELETE errors if
    * any incident edge remains.
    */
  def deleteVertices(ids0: DataFrame, detach: Boolean): Unit = {
    val frozen = Local.freezeHeld(ids0) // eager + lineage-cut (see updateProperty)
    val ids = frozen._1
    // ids held on the driver filter each edge label by its endpoints (a
    // scan, or no job over a held label); others take a semi-join, a
    // broadcast nested loop on the OR
    val heldIds = frozen._2.map(_.iterator.map(r => r.get(r.fieldIndex("id")))
      .collect { case n: java.lang.Number => Long.box(n.longValue) }.toSeq.distinct)
    def incident(e: DataFrame): DataFrame = heldIds match {
      case Some(held) => e.filter(col("start_id").isin(held: _*) || col("end_id").isin(held: _*))
      case None =>
        e.join(ids, e("start_id") === ids("id") || e("end_id") === ids("id"), "left_semi")
    }
    if (!detach) {
      val n = edgeLabels.values.map(e => incident(e.df).limit(1).count()).sum
      if (n > 0)
        throw new IllegalStateException(
          "cannot delete vertex with incident edges — use DETACH DELETE")
    } else if (edgeLabels.nonEmpty) {
      // the cascade is keyed on ENDPOINTS: enumerate the edge ids it removes
      // (one filter or semi-join per label, frozen in one job) and delete
      // those by id, so the statement stays id-local — a point DETACH
      // DELETE publishes tombstones through the dv path (r12), and an edge
      // label with no incident edge keeps its reference
      deleteEdges(edgeLabels.values.map(e => incident(e.df).select(col("id")))
        .reduce(_ unionByName _))
    }
    val hit = labelsIn(frozen, "id")
    vertexLabels = vertexLabels.map { case (l, st) =>
      if (!hits(hit, l)) l -> st
      else l -> deleted("v", l, st, frozen)
    }
  }

  /** Label `l`'s state without the frozen ids: held, the label's sorted
    * ids join dead and leave the held rows with no job ([[replaced]]), or
    * by an anti-join past the bound.
    */
  private def deleted(kind: String, l: String, st0: LabelState,
      frozen: (DataFrame, Option[Array[Row]])): LabelState = {
    val (st, ids) = (continued(kind, l, st0), frozen._1)
    frozen._2.flatMap(idsOf(_, "id", l)).flatMap(d => replaced(st, d, 0)(None))
      .getOrElse(written(st, st.df.join(ids, st.df("id") === ids("id"), "left_anti"), ids))
  }

  // ------------------------------------------------------ durable store
  // (GraphStore layout doc) — when attached, every successful mutating
  // statement publishes the next parquet version; reads use the in-memory
  // label tables, never re-reading the store. Invariant, kept at commit
  // (commitIfChanged): a committed label is a materialized base, or a
  // lazy union of at most MaxParts appended parts over one, with a held
  // delta (`base − dead ∪ rows`) whose dead ids and driver-held rows stay
  // within the merge-on-read bound, so a statement's plans and its publish
  // meet a small delta over a near-flat table, whatever the history.

  private[cypher] var storeRoot: Option[String] = None
  /** What this graph holds of its store, set at load and by each publish;
    * its version is the optimistic commit's validation base.
    */
  private var held = Commit.NotHeld

  /** Publish the current catalog and label tables as the next version
    * ([[Commit.publish]]; the layout and the per-label choice are in the
    * [[GraphStore]] doc). A label whose state is the one of the
    * statement's snapshot (`prevV`/`prevE`) is carried by its catalog
    * lines instead of being rewritten; a label in `compact` is rewritten
    * whole.
    */
  private[cypher] def publish(prevV: Map[String, LabelState] = Map.empty,
      prevE: Map[String, LabelState] = Map.empty,
      compact: Set[(String, String)] = Set.empty): Unit = storeRoot.foreach { root =>
    val (now, chainMerges) = Commit.publish(spark, Commit.Snapshot(root, held,
      GraphStore.Catalog(seqLast, labelIds.toList, nextEntry.toList,
        uniqueConstraints.toList, wholePropsUnique.toList, streamBatches.toList,
        Nil, Nil, Nil),
      vertexLabels, edgeLabels, prevV, prevE, compact,
      annIndexes.values.toList, annEntries))
    held = now
    entryChainMerges.addAndGet(chainMerges)
  }

  /** Explicit compaction (the Delta/Iceberg OPTIMIZE analog): rewrite every
    * label in file-manifest form whole at a new version, dropping its
    * deletion vectors and manifest chain, and carry the rest. Returns false
    * (and publishes nothing) when no label is in manifest form, so it is
    * safe on a schedule. Incremental writes self-compact at the 64-line
    * bound; this reclaims read debt earlier (after a dv-heavy burst).
    */
  private[cypher] def compactStore(): Boolean = storeRoot.exists { root =>
    val manifested = held.manifest.keySet
    if (manifested.nonEmpty)
      publish(vertexLabels.filter { case (l, _) => !manifested(("v", l)) },
        edgeLabels.filter { case (l, _) => !manifested(("e", l)) }, manifested)
    manifested.nonEmpty
  }

  /** Commit to the store iff this statement changed catalog or tables
    * relative to its pre-statement snapshot (reference: every write runs
    * in a PG transaction whose commit persists the heap — here the
    * version publish IS the commit). Label states are immutable, so
    * reference inequality is an exact dirty check.
    */
  private[cypher] def commitIfChanged(prev: MutableGraph.TxState): Unit = {
    vertexLabels = flattened(vertexLabels, prev.vertexLabels)
    edgeLabels = flattened(edgeLabels, prev.edgeLabels)
    if (storeRoot.isDefined &&
      ((vertexLabels ne prev.vertexLabels) || (edgeLabels ne prev.edgeLabels) ||
        labelIds.toSeq != prev.labelIds || nextEntry.toMap != prev.nextEntry ||
        uniqueConstraints.toSet != prev.uniques ||
        wholePropsUnique.toSet != prev.wholeUniques))
      publish(prev.vertexLabels, prev.edgeLabels)
  }

  /** Re-base each label the statement changed that is marked for it (a
    * write that could not stay held left a join or a re-encoding over the
    * label as its base), whose base holds more than [[MutableGraph.MaxParts]]
    * appended parts, or whose held delta passed [[holdable]]: an
    * unflattened table makes each later plan and publish re-walk the whole
    * write history. Pregelix keeps its state materialized and joins each step's
    * delta against it; this is that rule. The re-base is
    * [[Local.materialize]], gated by the state's own size estimate (its
    * base's recorded bytes plus its held rows' real ones, not Spark's
    * schema-based guess for driver rows or its product of a join's sides):
    * a small label is held on the driver as a LocalRelation (one collect,
    * or none when the optimizer folds its plan into driver rows,
    * [[graft.LocalFold]]), so its later reads run no job. A larger one is
    * checkpointed, coalesced first: an append history also inflates the
    * partition count, which would schedule many near-empty tasks on every
    * later scan. The re-based state keeps what the statement touched, for
    * its commit.
    */
  private def flattened(now: Map[String, LabelState],
      prev: Map[String, LabelState]): Map[String, LabelState] =
    if (now eq prev) now
    else now.map {
      case (l, st) if prev.get(l).exists(_ eq st) ||
          !(st.rebase || st.parts > MutableGraph.MaxParts || (st.size > 0 && !holdable(st.size))) =>
        l -> st
      case (l, st) =>
        val size = st.bytes
        l -> LabelState.of(org.apache.spark.sql.graft.Bridge.withSizeInBytes(
          Local.materialize(st.df, size, Some(spark.sparkContext.defaultParallelism)), size),
          size, st.touched)
    }
}

object MutableGraph {

  /** Test hook: the most recent dv-filtered scan, pre-checkpoint — lets
    * WriteSpec assert the dv-read plan carries no `id IN (…)` chain. */
  @volatile private[graft] var lastDvRead: Option[DataFrame] = None

  /** Merge-on-read bounds: a statement touching more ids of a label, or a
    * label whose tombstones would exceed the budget, commits by CoW
    * ([[Commit.idLocalPlan]]). Vars only so specs can exercise the
    * fallbacks at small scale; production code never writes them.
    */
  @volatile private[graft] var DvMaxStatementIds: Int = 8192
  @volatile private[graft] var DvMaxTombstones: Int = 65536

  /** Parts an append may union onto a label's base before its statement
    * re-bases it: each append past `Local`'s bounds (an ingest batch
    * checkpointed past [[Local.WriteBytes]], a bulk CREATE that does not
    * fold) costs no re-base of the whole label, and a read scans at most
    * this many parts over the last re-base.
    */
  val MaxParts: Int = 16

  /** The type with every nullability mark relaxed — two types equal under
    * this differ only in NOT NULL claims and union/compare losslessly. */
  private[cypher] def relaxNullability(dt: DataType): DataType = dt match {
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(relaxNullability(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(relaxNullability(k), relaxNullability(v), valueContainsNull = true)
    case other => other
  }

  /** Reopen a durable graph from its store root ([[Commit.open]]). */
  private[cypher] def load(spark: SparkSession, root: String,
      asOf: Option[Long] = None): MutableGraph = {
    val o = Commit.open(spark, root, asOf)
    val g = new MutableGraph(spark)
    val c = o.catalog
    g.setvalLabelId(c.seq)
    g.labelIds ++= c.labels
    g.nextEntry ++= c.next
    g.uniqueConstraints ++= c.uniques
    g.wholePropsUnique ++= c.wholeUniques
    g.streamBatches ++= c.streams
    g.vertexLabels = o.vertexLabels
    g.edgeLabels = o.edgeLabels
    o.indexes.foreach(ix => g.annIndexes(ix.key) = ix)
    g.held = o.held
    g.storeRoot = Some(root)
    g
  }
  /** Frozen catalog state for statement-level rollback. */
  final case class TxState(
      labelIds: Seq[(String, Int)], nextEntry: Map[String, Long],
      vertexLabels: Map[String, LabelState], edgeLabels: Map[String, LabelState],
      uniques: Set[(String, String)], wholeUniques: Set[String])

  /** `id IN ids`. */
  private[cypher] def idIn(ids: Array[Long]): Column = col("id").isin(ids.map(Long.box): _*)

  /** The rows of a plan the optimizer folds into driver-held rows ([[LocalFold]]). */
  private def folded(df: DataFrame): Option[Array[Row]] =
    if (Local.onDriver(df)) Some(df.collect()) else None

  private[cypher] def has(sorted: Array[Long], id: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, id) >= 0

  private[cypher] def union(a: Array[Long], b: Array[Long]): Array[Long] =
    if (b.isEmpty) a else (a ++ b).distinct.sorted

  /** What one statement's writes touched of a label, as its commit reads
    * it: the sorted ids of held writes, the id frames of distributed ones
    * (their ids may span labels), and whether a write re-encoded untouched
    * rows, so the label is written whole.
    */
  final case class Touched(ids: Array[Long], frames: List[DataFrame], whole: Boolean) {
    def ++(o: Touched): Touched = Touched(union(ids, o.ids), frames ++ o.frames, whole || o.whole)
  }
  object Touched {
    val empty: Touched = Touched(Array.empty, Nil, whole = false)
    val Whole: Touched = Touched(Array.empty, Nil, whole = true)
    def of(ids: Array[Long]): Touched = Touched(ids, Nil, whole = false)
  }

  /** A label's state, `base − dead ∪ rows`, the store's files plus
    * deletion vectors in memory: `base` its table as of its open or last
    * re-base ([[Local.materialize]]: driver rows when small, else a
    * checkpoint) or a write that could not stay held (then `rebase`),
    * `dead` the sorted ids whose copy in base, if any, is suppressed, and
    * `rows` the driver-held current row-versions of those ids and of new
    * ids, in the label's column order (`schema`: base's, then the columns
    * writes added). Every held write changes `dead` and `rows` in one way
    * (the graph's `replaced`): the ids it replaces join `dead` and its
    * new row-versions take their place in `rows`. An upsert replaces every
    * id of its batch without looking in base, so `dead` may hold ids base
    * never had; they suppress nothing. An id of `rows` with a copy in base
    * is in `dead`, but for a key an append stream sends again: both copies
    * stay, as in the store.
    * `baseBytes` is base's size estimate: the gate of its open or re-base
    * plus what later appends added. `parts` counts the leaves appends
    * unioned onto base since then ([[MutableGraph.MaxParts]]).
    * `materialized` tells whether base is a table of its open or a re-base,
    * held on the driver within the held bounds and checkpointed past them;
    * a new label's first frame or an appended union is not.
    */
  final case class LabelState(base: DataFrame, dead: Array[Long], rows: Array[Row],
      schema: StructType, baseBytes: BigInt, touched: Touched, rebase: Boolean,
      parts: Int = 0, materialized: Boolean = true) {
    lazy val rowsDf: DataFrame = Local.relation(base.sparkSession, rows.toSeq, schema)

    /** The label's table, one object per state (manifests, ANN caches and
      * the commit's carry check compare it by reference): one filter of base
      * and one union with the rows, which adds no join and one leaf to base.
      * Over base rows held on the driver it is one LocalRelation of those
      * rows, folded once ([[LocalFold]]), so a read folds nothing.
      */
    lazy val df: DataFrame =
      if (dead.isEmpty && rows.isEmpty) base
      else {
        val union = (if (dead.isEmpty) base else base.filter(!idIn(dead)))
          .unionByName(rowsDf, allowMissingColumns = true)
        if (!Local.onDriver(base)) union
        else folded(union).fold(union)(Local.relation(base.sparkSession, _, union.schema))
      }

    def size: Int = dead.length + rows.length

    /** Ids of `rows`, sorted. */
    lazy val rowIds: Array[Long] = {
      val i = schema.fieldIndex("id")
      rows.map(_.getLong(i)).sorted
    }

    /** The size estimate a re-base gates on: base's recorded bytes plus
      * the held rows' own ([[Local.bytesOf]]).
      */
    def bytes: BigInt = baseBytes + Local.bytesOf(rows, schema)
  }
  object LabelState {
    /** A state of base `df` alone, of size estimate `bytes`. */
    def of(df: DataFrame, bytes: BigInt, touched: Touched = Touched.empty,
        materialized: Boolean = true): LabelState =
      LabelState(df, Array.empty, Array.empty, df.schema, bytes, touched, rebase = false,
        materialized = materialized)
  }
}
