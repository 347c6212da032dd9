package graft.cypher

import graft.Local
import graft.cypher.GraphStore._
import graft.cypher.MutableGraph.{LabelState, Touched}
import graft.graph.PropertyGraph
import graft.gvalue._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.stream.LongStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The commit protocol of a durable [[MutableGraph]] over the store that
  * [[GraphStore]] describes: publish a statement's changes as the next
  * version, open a version, and scan a label's manifest files. A commit
  * reads an immutable [[Commit.Snapshot]] of the graph and returns what the
  * graph applies ([[Commit.Committed]]); it touches no graph field.
  */
private[cypher] object Commit {
  type Key = (String, String)
  /** Deleted row positions per part-file basename, each array sorted. */
  type Positions = Map[String, Array[Long]]

  /** A file-form label as a version records it, with its dv positions,
    * for the in-memory table `src` whose content it is.
    */
  final case class Manifest(src: DataFrame, files: List[FileStats],
      dvps: List[DvpFile], dvs: Positions)

  /** What a graph holds of its store: the version its state derives from,
    * the version holding each ANN index's matrix, each index's stored
    * entry files with the label table they reflect (a probe may read them
    * only while the label is that table), both keyed by their catalog
    * line's (tag, label, prop), and the manifests of its file-form labels.
    */
  final case class Held(version: Long, matrixAt: Map[AnnIndex.Key, Long],
      stored: Map[AnnIndex.Key, (List[String], DataFrame)], manifest: Map[Key, Manifest]) {
    /** Forget what is persisted of a rebuilt index. */
    def rebuilt(ix: AnnIndex): Held =
      copy(matrixAt = matrixAt - ix.key, stored = stored - ix.entriesKey)
  }
  val NotHeld: Held = Held(0L, Map.empty, Map.empty, Map.empty)

  /** What a commit reads: the graph's label states at the end of a
    * statement and at its start (`prevV`/`prevE`; a changed state records
    * what the statement touched and holds its row-versions), the labels to
    * rewrite whole however they changed (`compact`), its ANN indexes with
    * their in-memory entries, and what it holds of the store. `head` is the
    * catalog's non-table part.
    */
  final case class Snapshot(root: String, held: Held, head: Catalog,
      vertexLabels: Map[String, LabelState], edgeLabels: Map[String, LabelState],
      prevV: Map[String, LabelState], prevE: Map[String, LabelState], compact: Set[Key],
      indexes: List[AnnIndex], entries: Map[AnnIndex.Key, (DataFrame, DataFrame)])

  /** A graph as a version holds it (see [[open]]). */
  final case class Opened(catalog: Catalog,
      vertexLabels: Map[String, LabelState], edgeLabels: Map[String, LabelState],
      indexes: List[AnnIndex], held: Held)

  /** How a changed label commits. */
  sealed trait Plan
  /** Rewrite the label whole. */
  case object Full extends Plan
  /** Nothing of the label was touched: carry its files and dvs. */
  case object Carry extends Plan
  /** Write the new row-versions and tombstone `tombstones`. */
  final case class Dv(tombstones: Array[Long]) extends Plan
  /** Rewrite only the files holding touched ids. */
  case object Cow extends Plan

  /** The id-local choice for a changed label with previous files and dvs
    * `prev`, from the statement's sorted touched ids of it (past
    * `DvMaxStatementIds` only the excess counts). Once the label's file +
    * dvp lines reach 64 it is rewritten whole, which keeps open-time
    * footer reads and gc's live-version set bounded (Delta's OPTIMIZE,
    * triggered by write). A tombstone is needed only for an id an older
    * file may hold, proven by the per-file id stats alone, never by the
    * sequence position: streaming-ingested labels pack ids from user keys.
    * So a touched id no file holds, a new key of an append or a held
    * upsert (whose dead ids are never checked against base), counts toward
    * `DvMaxTombstones` only while some file's id range covers it, and its
    * position read then finds no live copy.
    */
  def idLocalPlan(prev: FileTable, touched: => Array[Long]): Plan = {
    if (prev.files.size + prev.dvps.size >= 64) return Full
    if (touched.isEmpty) return Carry
    if (touched.length <= MutableGraph.DvMaxStatementIds) {
      val tombstones = touched.filter(t => prev.files.exists(_.idStats.forall {
        case (mn, mx) => mn <= t && t <= mx }))
      if (prev.dvps.map(_.count).sum + tombstones.length <= MutableGraph.DvMaxTombstones)
        return Dv(tombstones)
    }
    Cow
  }

  /** May file `f` hold one of the sorted `ids`, one in its [min, max] id
    * range? A file without id stats may.
    */
  def mayHold(f: FileStats, ids: Array[Long]): Boolean = f.idStats.forall { case (mn, mx) =>
    val i = java.util.Arrays.binarySearch(ids, mn)
    val from = if (i >= 0) i else -i - 1
    from < ids.length && ids(from) <= mx
  }

  /** Publish `s` as the next version, under the store's commit lock with
    * base-version validation: a concurrent writer having published since
    * the graph's snapshot raises PG's serialization failure, and an
    * unreadable previous catalog fails the commit; either way `_LATEST`
    * stays where it was.
    */
  def publish(spark: SparkSession, s: Snapshot): (Held, Int) =
    withCommitLock(s.root) {
      val cur = latestVersion(s.root).getOrElse(0L)
      if (cur != s.held.version) throw new SerializationFailure
      val prev = if (cur <= 0) Catalog.empty else Catalog.read(s.root, cur)
      val next = cur + 1
      Files.createDirectories(Paths.get(s.root, s"v$next"))
      val w = new Writer(spark, s, prev, next)
      val tables = w.tables("v", s.vertexLabels, s.prevV) ++
        w.tables("e", s.edgeLabels, s.prevE)
      val ixs = s.indexes.sortBy(ix => AnnIndex.Tags.indexOf(ix.tag))
      val entries = ixs.flatMap(w.persistEntries)
      val cat = s.head.copy(tables = tables, indexes = ixs.map(w.matrix), entries = entries.map(_._1))
      Files.write(catalogPath(s.root, next), cat.render.getBytes(UTF_8))
      swapLatest(s.root, next)
      val held = heldAt(next, cat, entries, w.manifest(cat))
      gc(s.root, keep = prev.referencedVersions ++ cat.referencedVersions ++ Set(cur, next))
      (held, w.chainMerges)
    }

  private def heldAt(version: Long, cat: Catalog, entries: List[(Entries, DataFrame)],
      manifest: Map[Key, Manifest]): Held =
    Held(version, cat.indexes.map(d => (d.tag, d.label, d.prop) -> d.ver).toMap,
      entries.map { case (e, tbl) => (e.tag, e.label, e.prop) -> ((e.rels, tbl)) }.toMap, manifest)

  private val idSchema = StructType(Seq(StructField("id", LongType)))
  /** The part-file basename of a scanned row. */
  private val fileBase = element_at(split(col("_metadata.file_path"), "/"), -1)


  /** One commit's work: each changed label's touched ids, held on the
    * driver while they fit `Local`'s cap (a driver-held frame costs no job)
    * and checkpointed past it, and the tables and entries it writes into
    * version dir `next`.
    */
  private final class Writer(spark: SparkSession, s: Snapshot, prev: Catalog, next: Long) {
    private val root = s.root
    private val dir = s"$root/v$next"
    private val labelIds = s.head.labels.toMap
    private val prevTables = prev.tables.map(t => (t.kind, t.label) -> t).toMap
    var chainMerges = 0

    /** What the statement touched of label `key`: nothing for a label whose
      * state it did not change.
      */
    private def touchedOf(key: Key): Touched =
      if (s.compact(key)) Touched.Whole
      else {
        val (now, prevM) = if (key._1 == "v") (s.vertexLabels, s.prevV) else (s.edgeLabels, s.prevE)
        now.get(key._2).filterNot(st => prevM.get(key._2).exists(_ eq st))
          .fold(Touched.empty)(_.touched)
      }
    /** Label `key`'s touched ids: sorted on the driver while they fit
      * `Local`'s cap (its held writes' ids and each id frame's collect),
      * else one checkpointed frame.
      */
    private val touched = mutable.Map.empty[Key, Either[DataFrame, Array[Long]]]
    private def touchedIds(key: Key): Either[DataFrame, Array[Long]] = touched.getOrElseUpdate(key, {
      val (t, lid) = (touchedOf(key), labelIds(key._2))
      t.frames.foldLeft(Option(t.ids)) { (acc, f) =>
        for (ids <- acc; rows <- Local.collect(f, Local.WriteBytes)
             if Local.holds(spark, ids.length + rows.length))
        yield MutableGraph.union(ids, rows.iterator.filterNot(_.isNullAt(0))
          .map(_.getLong(0)).filter(i => (i >>> 48) == lid).toArray)
      }.toRight((idFrame(t.ids) :: t.frames).reduce(_ unionByName _).localCheckpoint()
        .filter(PropertyGraph.labelOfCol(col("id")) === lit(lid)).select(col("id")).distinct())
    })
    private def idFrame(ids: Array[Long]): DataFrame =
      Local.relation(spark, ids.toSeq.map(Row(_)), idSchema)
    /** The label's touched ids, sorted; past `max` only the excess counts. */
    private def touchedIdsOf(kind: String, l: String, max: Int): Array[Long] =
      touchedIds((kind, l)).fold(_.limit(max + 1).collect().map(_.getLong(0)).sorted, identity)

    private val dvCache = mutable.Map.empty[Key, (List[DvpFile], Positions)]
    /** The positions of a label's `dvps`: carried from the graph's
      * manifest or this commit where they hold that list, read otherwise.
      */
    def dvsOf(key: Key, dvps: List[DvpFile]): Positions =
      dvCache.get(key).orElse(s.held.manifest.get(key).map(m => (m.dvps, m.dvs))) match {
        case Some((known, pos)) if known == dvps => pos
        case _ =>
          val pos = readDvps(root, dvps)
          dvCache(key) = (dvps, pos)
          pos
      }

    /** The ids of `files` with the label's dvs applied: every publish-side
      * read of previous files needs them, or suppressed row-versions would
      * be resurrected into rewritten files. The id-only schema skips the
      * schema-inference job a mergeSchema read runs over the footers.
      */
    private def readIds(key: Key, files: List[FileStats], dvps: List[DvpFile]): DataFrame = {
      val raw = spark.read.schema(idSchema).parquet(files.map(f => s"$root/${f.rel}"): _*)
      if (dvps.isEmpty) raw else applyDvs(raw, dvsOf(key, dvps))
    }

    def tables(kind: String, m: Map[String, LabelState],
        prevM: Map[String, LabelState]): List[Table] =
      m.toList.map { case (l, st) =>
        prevTables.get((kind, l)) match {
          case Some(t) if prevM.get(l).exists(_.df eq st.df) => t // unchanged: carry its lines
          case prevT =>
            lazy val ids = touchedIdsOf(kind, l, MutableGraph.DvMaxStatementIds)
            idLocalPrev(kind, l, st.df, prevT).flatMap { p =>
              idLocalPlan(p, ids) match {
                case Full => None
                case Carry => Some(p)
                case Dv(tombstones) =>
                  writeDv(kind, l, st, p, ids, tombstones).orElse(writeCow(kind, l, st.df, p, ids))
                case Cow => writeCow(kind, l, st.df, p, ids)
              }
            }.getOrElse(writeFull(kind, l, st.df))
        }
      }

    /** The previous files of a changed label that may commit id-locally;
      * None when it must be rewritten whole. A dir-form label is exploded
      * to its files here, with stats from one footer-bounded job (every
      * later catalog carries them): the dv decision is stats-driven.
      */
    private def idLocalPrev(kind: String, l: String, df: DataFrame,
        prevT: Option[Table]): Option[FileTable] = {
      if (touchedOf((kind, l)).whole || df.schema.fields.exists(_.dataType == NullType))
        return None
      val p = prevT match {
        case Some(t: FileTable) => t
        case Some(DirTable(_, _, ver, Nil)) =>
          FileTable(kind, l, statsOf(s"$root/v$ver/$kind/${enc(l)}", kind, l,
            partFiles(root, s"v$ver/$kind/${enc(l)}")), Nil)
        case _ => return None // a new label, or NullType columns on disk
      }
      if (p.files.isEmpty) None else Some(p)
    }

    /** Merge-on-read point write (the Delta deletion-vector shape): write
      * only the touched ids' new row-versions as one file from driver rows,
      * carry every previous file, and record the (file basename, row
      * position) of each live copy of a tombstoned id in one `dvp` file.
      * Bytes per point SET/DELETE are the row plus a position line,
      * whatever the file size. The row-versions are written on the driver,
      * and so are the positions while the tombstones fit `Local`'s cap. A
      * held state whose statement wrote only held ids takes its
      * row-versions from its held rows of the touched ids, with no scan of
      * the label, and only its dead ids lose their older copies; one that
      * also unioned a frame onto its base reads every copy of the touched
      * ids from its table. None when there is nothing to write.
      */
    private def writeDv(kind: String, l: String, st: LabelState, p: FileTable,
        ids: Array[Long], touchedInFiles: Array[Long]): Option[FileTable] = {
      val (encl, df) = (enc(l), st.df)
      val held = st.size > 0 && touchedOf((kind, l)).frames.isEmpty
      val rows =
        if (held) {
          val idIx = st.schema.fieldIndex("id")
          st.rows.filter(r => MutableGraph.has(ids, r.getLong(idIx)))
        } else df.filter(MutableGraph.idIn(ids)).collect()
      val tombstones =
        if (held) touchedInFiles.filter(MutableGraph.has(st.dead, _)) else touchedInFiles
      val newFiles =
        if (rows.isEmpty) Nil
        else {
          val base = Bridge.writeParquet(spark, s"$dir/$kind/$encl", df.schema, rows.toSeq)
          List(statsOfHeld(rows, df.schema, kind, l, s"v$next/$kind/$encl/$base"))
        }
      if (newFiles.isEmpty && tombstones.isEmpty) return None
      // only the files whose id range may hold a tombstone, existing dvs
      // applied so only LIVE copies get entries
      val affected = p.files.filter(mayHold(_, tombstones))
      val positions: Array[(String, Long)] =
        if (tombstones.isEmpty || affected.isEmpty) Array.empty
        else if (Local.holds(spark, tombstones.length))
          heldPositions((kind, l), affected, p.dvps, tombstones)
        else
          // one column-pruned scan; the id filter pushes down here, and
          // reads filter on row_index only
          readIds((kind, l), affected, p.dvps)
            .filter(col("id").isin(tombstones.map(Long.box): _*))
            .select(fileBase, col("_metadata.row_index"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
      val dvp =
        if (positions.isEmpty) Nil
        else {
          val name = s"${kind}__$encl.txt"
          Files.createDirectories(Paths.get(dir, "dv"))
          Files.write(Paths.get(dir, "dv", name),
            positions.map { case (b, i) => s"$b $i" }.sorted.mkString("\n").getBytes(UTF_8))
          val d = DvpFile(s"v$next/dv/$name", positions.length.toLong)
          val added = positions.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sorted }
          dvCache((kind, l)) = (p.dvps :+ d, mergePos(dvsOf((kind, l), p.dvps), added))
          List(d)
        }
      Some(FileTable(kind, l, newFiles ++ p.files, p.dvps ++ dvp))
    }

    /** The live (file basename, row position) copies of the sorted
      * `tombstones` in `files`, read on the driver from each file's `id`
      * column alone, one file at a time: a row's position is its ordinal
      * in the file, which is what `_metadata.row_index` reads. Positions in
      * the label's dvs are not live. Only live positions are kept, at most
      * one per tombstone, whatever the files' sizes.
      */
    private def heldPositions(key: Key, files: List[FileStats], dvps: List[DvpFile],
        tombstones: Array[Long]): Array[(String, Long)] = {
      val conf = Bridge.hadoopConf(spark)
      val dvs = dvsOf(key, dvps)
      files.toArray.flatMap { f =>
        idPositions(new HPath(s"$root/${f.rel}"), conf, tombstones,
          dvs.getOrElse(f.base, Array.empty[Long])).map(f.base -> _)
      }
    }

    /** File-level copy-on-write: rewrite only the files holding touched ids
      * and carry the rest. Carried dvs still suppress old copies in carried
      * files; rewritten files get fresh part-file basenames, which no
      * carried entry can hit. None when the full rewrite is the better
      * write: most files touched, or the label emptied.
      */
    private def writeCow(kind: String, l: String, df: DataFrame, p: FileTable,
        ids: Array[Long]): Option[FileTable] = {
      val encl = enc(l)
      val touched = touchedIds((kind, l)).fold(identity, idFrame)
      val oversized = ids.length > MutableGraph.DvMaxStatementIds
      val (cand, skipped) = p.files.partition(f => oversized || mayHold(f, ids))
      // dv-aware: a touched id whose only copy in a candidate file is
      // suppressed must not mark the file touched, or the rewrite would
      // resurrect it against the carried file holding the live copy
      val touchedNames: Set[String] =
        if (cand.isEmpty) Set.empty
        else readIds((kind, l), cand, p.dvps)
          .select(col("id"), fileBase.as("__fname"))
          .join(touched, Seq("id"), "left_semi")
          .select(col("__fname")).distinct().collect().map(_.getString(0)).toSet
      val (rewritten, carriedCand) = cand.partition(f => touchedNames(f.base))
      val carried = skipped ++ carriedCand
      if (rewritten.size * 2 > p.files.size && p.files.size > 1) return None
      val idsToRewrite =
        if (rewritten.isEmpty) touched // pure insert
        else readIds((kind, l), rewritten, p.dvps).select(col("id")).union(touched).distinct()
      val rows = df.join(idsToRewrite, Seq("id"), "left_semi")
      if (carried.isEmpty && rows.isEmpty) return None
      val outDir = s"$dir/$kind/$encl"
      rows.coalesce(math.max(1, rewritten.size)).write.parquet(outDir)
      val written = statsOf(outDir, kind, l, partFiles(root, s"v$next/$kind/$encl"))
      Some(FileTable(kind, l, carried ++ written, p.dvps))
    }

    /** Rewrite the label whole into a dir. Parquet cannot store NullType:
      * such a column persists as all-null strings and is recorded for
      * restore. The 16-file cap keeps an append-inflated table from
      * exploding the next commit's manifest (coalesce is narrow).
      */
    private def writeFull(kind: String, l: String, df: DataFrame): Table = {
      val nullCols = df.schema.fields.filter(_.dataType == NullType).map(_.name).toList
      nullCols.foldLeft(df)((acc, c) => acc.withColumn(c, col(c).cast(StringType)))
        .coalesce(16).write.mode("overwrite").parquet(s"$dir/$kind/${enc(l)}")
      DirTable(kind, l, next, nullCols)
    }

    /** Per-file stats of the part files `rels` in `outDir`, from one
      * aggregate of their rows grouped by file basename: the id range plus
      * the claims of [[statColumns]].
      */
    private def statsOf(outDir: String, kind: String, l: String,
        rels: List[String]): List[FileStats] = {
      if (rels.isEmpty) return Nil
      val df = spark.read.parquet(outDir)
      val eligible = statColumns(df.schema)
      val aggs = Seq(min(col("id")).as("mn"), max(col("id")).as("mx")) ++
        eligible.zipWithIndex.flatMap { case (f, i) =>
          Seq(min(col(f.name)).as(s"pmn$i"), max(col(f.name)).as(s"pmx$i")) }
      val rows = df.groupBy(fileBase.as("__fname")).agg(aggs.head, aggs.tail: _*).collect()
      val byFile = rows.map { r =>
        val ptail = eligible.zipWithIndex.flatMap { case (f, i) =>
          claim(f, r.get(r.fieldIndex(s"pmn$i")), r.get(r.fieldIndex(s"pmx$i")))
        }.toList
        r.getString(0) -> ((r.getLong(1), r.getLong(2)), ptail)
      }.toMap
      rels.map { r =>
        val st = byFile.get(r.substring(r.lastIndexOf('/') + 1))
        FileStats(kind, enc(l), r, st.map(_._1), st.map(_._2).getOrElse(Nil))
      }
    }

    /** [[statsOf]] of file `rel` holding the driver rows `rows`, with no
      * Dataset: each min and max in Spark's ordering of its type (strings
      * in UTF-8 byte order, NaN above every double), the first of equal
      * values kept, as Spark's `min` and `max` keep it.
      */
    private def statsOfHeld(rows: Array[Row], schema: StructType, kind: String, l: String,
        rel: String): FileStats = {
      val ids = rows.map(_.getLong(schema.fieldIndex("id")))
      val ptail = statColumns(schema).flatMap { f =>
        val i = schema.fieldIndex(f.name)
        val vs = rows.iterator.map(_.get(i)).filter(_ != null).toSeq
        // a temporal value of an unexpected class orders as none: no claim
        val key: Any => Any = f.dataType match {
          case DateType => v => dayOf(v).orNull
          case TimestampType | TimestampNTZType => v => usOf(v).orNull
          case _ => identity
        }
        val ord: Ordering[Any] = f.dataType match {
          case DoubleType => (a, b) => SQLOrderingUtil.compareDoubles(
            a.asInstanceOf[Double], b.asInstanceOf[Double])
          case StringType => (a, b) =>
            UTF8String.fromString(a.toString).compareTo(UTF8String.fromString(b.toString))
          case _ => (a, b) => java.lang.Long.compare(
            a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
        }
        if (vs.isEmpty) claim(f, null, null)
        else if (vs.exists(v => key(v) == null)) Nil
        else claim(f, vs.reduce((m, v) => if (ord.lt(key(v), key(m))) v else m),
          vs.reduce((m, v) => if (ord.gt(key(v), key(m))) v else m))
      }.toList
      FileStats(kind, enc(l), rel, Some((ids.min, ids.max)), ptail)
    }

    /** The columns a file's stats claim min and max of: up to 12 typed
      * property columns (data skipping, the GIN property-index analog).
      */
    private def statColumns(schema: StructType): Array[StructField] =
      schema.fields.filter(f =>
        !Set("id", "start_id", "end_id")(f.name) && (f.dataType match {
          case LongType | IntegerType | DoubleType | StringType => true
          case TimestampType | TimestampNTZType | DateType => true
          case _ => false
        })).take(12)

    /** Column `f`'s claim from its min `mn` and max `mx`, both null when it
      * is all null. Strings over 64 chars carry no claim (a truncated max
      * would be unsound), and so does a temporal value of an unexpected
      * collected class.
      */
    private def claim(f: StructField, mn: Any, mx: Any): Seq[String] = {
      def of(ty: String, lo: Option[Any], hi: Option[Any]): Seq[String] =
        (lo, hi) match {
          case (Some(a), Some(b)) => Seq(enc(f.name), ty, enc(a.toString), enc(b.toString))
          case _ => Nil
        }
      if (mn == null) Seq(enc(f.name), "n", "_", "_") // all-null column
      else f.dataType match {
        case LongType | IntegerType => of("l", Some(mn), Some(mx))
        case DoubleType => of("d", Some(mn), Some(mx))
        case StringType =>
          if (mn.toString.length > 64 || mx.toString.length > 64) Nil
          else of("s", Some(mn), Some(mx))
        case DateType => of("D", dayOf(mn), dayOf(mx))
        case _ => of("t", usOf(mn), usOf(mx))
      }
    }

    // temporal edges persist as plain longs (micros since epoch / epoch
    // days), independent of the collector's java8API representation
    private def usOf(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case l: java.time.LocalDateTime =>
        Some(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L)
      case _ => None
    }
    private def dayOf(v: Any): Option[Long] = v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }

    /** An index's trained matrix: written once as text into the building
      * version (Double.toString round-trips exactly), then carried by its
      * catalog line.
      */
    def matrix(ix: AnnIndex): IndexDef =
      s.held.matrixAt.get(ix.key) match {
        case Some(ver) => IndexDef(ix.tag, ix.label, ix.prop, ix.metric, ix.shape, ver)
        case None =>
          val d = IndexDef(ix.tag, ix.label, ix.prop, ix.metric, ix.shape, next)
          Files.createDirectories(Paths.get(dir, ix.tag))
          Files.write(Paths.get(root, d.matrixRel),
            ix.matrix.map(_.map(java.lang.Double.toString).mkString(" ")).mkString("\n")
              .getBytes(UTF_8))
          d
      }

    /** Touched ids of one label as a frame, or None when unusable for an
      * incremental entry refresh (whole rewrite, nothing recorded, or more
      * than 4096 ids).
      */
    private def boundedTouched(label: String): Option[DataFrame] = {
      if (touchedOf(("v", label)).whole || !labelIds.contains(label)) return None
      val ids = touchedIdsOf("v", label, 4096)
      if (ids.length > 4096) None else Some(idFrame(ids))
    }

    /** Persist an index's entries (the reference stores the list pages
      * themselves, ivfbuild.c; ivfscan.c reads them back) as parquet, one
      * catalog line per file. An id-local write appends a delta file of the
      * touched rows' new entries, carried files keep their lines, and at
      * 16 lines the chain merges its files last-wins per entry key (cost
      * proportional to the chain, never a label re-scan); the entry format
      * and how a probe reads it are the index's ([[AnnIndex]]). A whole rewrite or an unbounded
      * change drops the lines. They return with the in-memory entries a
      * probe derives: a commit of the table they reflect writes them as
      * one file, and so does an id-local commit right after it, as the
      * cached entries without the touched ids plus the touched rows' new
      * entries. Returns the lines and the table they reflect.
      */
    def persistEntries(ix: AnnIndex): Option[(Entries, DataFrame)] = {
      val tbl = s.vertexLabels.getOrElse(ix.label, return None).df
      def cached(t: DataFrame) = s.entries.get(ix.key).collect { case (src, a) if src eq t => a }
      def derive(touched: DataFrame) = ix.derive(
        AnnIndex.embeddings(tbl, ix.prop, ix.dims).join(touched, Seq("id"), "left_semi"))
      def kept(rels: List[String]) = Some((Entries(ix.entryTag, ix.label, ix.prop, rels), tbl))
      def write(a: DataFrame, carried: List[String]) = {
        val rel = s"v$next/${ix.entryTag}/${enc(ix.label)}__${enc(ix.prop)}"
        // range-partitioned and sorted on the probe key, so row-group
        // stats act as the list index: a cluster-pruned scan reads only
        // the probed lists
        a.repartitionByRange(ix.sortCols.map(col): _*)
          .sortWithinPartitions(ix.sortCols.map(col): _*)
          .write.parquet(s"$root/$rel")
        kept(carried :+ rel)
      }
      s.held.stored.get(ix.entriesKey) match {
        case Some((rels, src)) if src eq tbl => kept(rels) // unchanged: pointers
        case _ => cached(tbl) match {
          case Some(a) => write(a, Nil) // fresh in-memory entries, one file
          case None =>
            val prevRels = prev.entries.find(p => (p.tag, p.label, p.prop) == ix.entriesKey).map(_.rels)
            (prevRels, boundedTouched(ix.label)) match {
              case (Some(rels), Some(touched)) =>
                if (touched.isEmpty) kept(rels) // identity churn only
                else if (rels.size >= 16) {
                  chainMerges += 1
                  write(ix.lastWins(rels.zipWithIndex.map { case (r, i) =>
                    (spark.read.parquet(s"$root/$r"), i.toLong) } :+ ((derive(touched), rels.size.toLong))), Nil)
                } else write(derive(touched), rels) // delta: the touched rows
              case (None, Some(touched)) =>
                // entries a probe cached against the statement's start
                s.prevV.get(ix.label).map(_.df).flatMap(cached).map { a =>
                  if (touched.isEmpty) a
                  else a.join(touched, Seq("id"), "left_anti").unionByName(derive(touched))
                }.flatMap(write(_, Nil))
              case _ => None
            }
        }
      }
    }

    /** The manifests of `cat`'s file-form labels held in memory. */
    def manifest(cat: Catalog): Map[Key, Manifest] =
      cat.tables.flatMap {
        case t: FileTable =>
          val tbl = if (t.kind == "v") s.vertexLabels.get(t.label) else s.edgeLabels.get(t.label)
          tbl.map(st => (t.kind, t.label) ->
            Manifest(st.df, t.files, t.dvps, dvsOf((t.kind, t.label), t.dvps)))
        case _ => None
      }.toMap
  }

  def mergePos(a: Positions, b: Positions): Positions =
    b.foldLeft(a) { case (acc, (k, v)) =>
      acc.updated(k, (acc.getOrElse(k, Array.empty[Long]) ++ v).distinct.sorted)
    }

  /** The positions of `dvps`: each file holds `<fileBasename> <rowIndex>` lines. */
  def readDvps(root: String, dvps: List[DvpFile]): Positions =
    dvps.flatMap(d => Files.readAllLines(Paths.get(root, d.rel)).asScala.filter(_.nonEmpty))
      .map { s =>
        val i = s.lastIndexOf(' ')
        (s.substring(0, i), s.substring(i + 1).toLong)
      }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).distinct.sorted.toArray }

  /** The positions (row ordinals) of the rows of the file at `path` whose
    * `id` is one of the sorted `ids` and whose position is not in the
    * sorted `dead`. Only the `id` column is read, and of it only the row
    * groups and pages whose statistics and column index may hold one of
    * `ids`, as the scan's pushed-down filter reads; a row's position is
    * its group's first row index plus its index in the group. The
    * projection is the file's own `id` field: Spark writes a non-nullable
    * column as `required`.
    */
  private def idPositions(path: HPath, conf: Configuration, ids: Array[Long],
      dead: Array[Long]): Array[Long] = {
    val hit = FilterApi.in[java.lang.Long, Operators.LongColumn](FilterApi.longColumn("id"),
      ids.map(Long.box).toSet.asJava)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).withRecordFilter(FilterCompat.get(hit)).build())
    try {
      val meta = r.getFooter.getFileMetaData
      val schema = meta.getSchema
      val proj = new MessageType(schema.getName, schema.getType(schema.getFieldIndex("id")))
      r.setRequestedSchema(proj)
      val column = proj.getColumns.get(0)
      val out = Array.newBuilder[Long]
      var pages = r.readNextFilteredRowGroup()
      while (pages != null) {
        val first: Long = pages.getRowIndexOffset.get
        val rows = pages.getRowIndexes.orElse(LongStream.range(0, pages.getRowCount).iterator)
        val cr = new ColumnReadStoreImpl(pages, new GroupRecordConverter(proj).getRootConverter,
          proj, meta.getCreatedBy).getColumnReader(column)
        while (rows.hasNext) {
          val pos = first + rows.nextLong()
          if (cr.getCurrentDefinitionLevel == column.getMaxDefinitionLevel &&
              java.util.Arrays.binarySearch(ids, cr.getLong) >= 0 &&
              java.util.Arrays.binarySearch(dead, pos) < 0) out += pos
          cr.consume()
        }
        pages = r.readNextFilteredRowGroup()
      }
      out.result()
    } finally r.close()
  }

  /** Apply deletion vectors to a raw manifest-file scan: ONE [[DvLive]]
    * predicate over (`_metadata.file_path`, `_metadata.row_index`), a
    * binary search per row over per-file sorted positions. `id` never
    * appears in it, so pushed id filters and parquet row-group pruning on
    * id survive on dv-bearing label reads.
    */
  def applyDvs(raw: DataFrame, dvs: Positions): DataFrame = {
    if (dvs.isEmpty) return raw
    val out = raw.filter(Bridge.column(DvLive(
      Bridge.expression(col("_metadata.file_path")),
      Bridge.expression(col("_metadata.row_index")),
      new DvIndex(dvs))))
    MutableGraph.lastDvRead = Some(out)
    out
  }

  /** A label's live rows from its parquet files `paths`, dvs applied, read
    * with their footers' schemas merged on the driver as Spark's inference
    * merges them (files in path order, later columns appended), so no
    * inference job runs; the read infers where the footers disagree on a
    * type or a name's case. Files lacking a column a CoW SET added read it
    * as null, the absent-property semantics.
    */
  def scanFiles(spark: SparkSession, paths: Seq[String], dvs: Positions): DataFrame = {
    val fields = paths.sorted.flatMap(Bridge.parquetSchema(spark, _).fields)
    val agree = fields.groupBy(_.name.toLowerCase).values
      .forall(_.map(f => (f.name, f.dataType)).distinct.size == 1)
    val read =
      if (agree && paths.nonEmpty) spark.read.schema(StructType(fields.distinctBy(_.name)))
      else spark.read.option("mergeSchema", "true")
    applyDvs(read.parquet(paths: _*), dvs)
  }

  /** Rel paths of the part files in store dir `rel`, sorted. */
  private def partFiles(root: String, rel: String): List[String] = {
    val dp = Paths.get(root, rel)
    if (!Files.isDirectory(dp)) Nil
    else Files.list(dp).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toList.sorted.map(n => s"$rel/$n")
  }

  /** Open version `asOf` (default the latest). Each label is read with
    * the schema of its files' footers ([[scanFiles]]), and its table
    * materialized in one job ([[Local.materialize]]): held on the driver
    * as a LocalRelation while its files are within [[Local.HeldLabelBytes]]
    * and its rows within [[Local.HeldLabelRows]], so reads and point
    * writes of a small label run no job, and localCheckpoint'd eagerly past
    * them (a label past the row bound alone takes two jobs, the collect and
    * the checkpoint). Either way a later gc can never invalidate a
    * lazily-held file. The label's state ([[MutableGraph.LabelState]])
    * records its files' size as its base's estimate.
    */
  def open(spark: SparkSession, root: String, asOf: Option[Long]): Opened = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no durable graph at $root (_LATEST missing)"))
    val v = asOf.getOrElse(latest)
    if (!Files.exists(catalogPath(root, v))) {
      val have = Files.list(Paths.get(root)).iterator().asScala
        .map(_.getFileName.toString).filter(_.matches("v\\d+"))
        .map(_.drop(1).toLong).toList.sorted
      throw new IllegalArgumentException(
        s"version $v not available at $root (retention keeps: ${have.mkString(", ")})")
    }
    val cat = Catalog.read(root, v)
    val dvs = cat.tables.collect {
      case t: FileTable => (t.kind, t.label) -> readDvps(root, t.dvps) }.toMap
    def state(df: DataFrame): LabelState = {
      val bytes = Local.sizeOf(df)
      LabelState.of(Local.materialize(df, bytes), bytes)
    }
    def tablesOf(kind: String): Map[String, LabelState] = {
      val (dirs, files) = cat.tables.filter(_.kind == kind).partition(_.isInstanceOf[DirTable])
      (dirs ++ files).map {
        case t: DirTable =>
          val raw = scanFiles(spark,
            partFiles(root, s"v${t.ver}/$kind/${enc(t.label)}").map(f => s"$root/$f"), Map.empty)
          t.label -> state(t.nullCols.foldLeft(raw)((acc, c) => acc.withColumn(c, lit(null))))
        case t: FileTable =>
          t.label -> state(scanFiles(spark, t.files.map(f => s"$root/${f.rel}"), dvs((kind, t.label))))
      }.toMap
    }
    val tables = Map("v" -> tablesOf("v"), "e" -> tablesOf("e"))
    def matrixOf(d: IndexDef): Array[Array[Double]] =
      Files.readAllLines(Paths.get(root, d.matrixRel)).asScala
        .map(_.split(" ").map(java.lang.Double.parseDouble)).toArray
    // stored entries are valid exactly for the label tables this open made
    val entries = cat.entries.flatMap(e => tables("v").get(e.label).map(e -> _.df))
    Opened(cat, tables("v"), tables("e"), cat.indexes.map(d => AnnIndex.of(d, matrixOf(d))), heldAt(v, cat, entries,
      cat.tables.collect { case t: FileTable => (t.kind, t.label) ->
        Manifest(tables(t.kind)(t.label).df, t.files, t.dvps, dvs((t.kind, t.label))) }.toMap))
  }

  /** A scan of manifest `m`'s files whose stats may hold a row with
    * property `propEsc` in [lo, hi] (equality passes one literal on both
    * sides), as (files kept, files total, scan). None when the bounds carry
    * no claim (a NaN or non-scalar bound: PG orders NaN above every
    * number). The scan is None when nothing is pruned or the pruned read
    * cannot be aligned to `tbl` (pruning is advisory), with kept == total
    * in the latter case. The pruned scan is lazy parquet, not
    * checkpointed: it touches only the probed files.
    */
  def prunedScan(spark: SparkSession, root: String, m: Manifest, tbl: DataFrame,
      propEsc: String, lo: Option[GValue], hi: Option[GValue]): Option[(Int, Int, Option[DataFrame])] = {
    def conv(g: GValue): Option[Any] = g match {
      case GInt(v) => Some(v)
      case GFloat(v) => if (v.isNaN) None else Some(v)
      case GString(v) => Some(v)
      case GTimestamp(us) => Some(TsBound(us))
      case GDate(d) => Some(DateBound(d.toLong))
      case _ => None
    }
    if (lo.isEmpty && hi.isEmpty) return None
    val loV = lo.map(g => conv(g).getOrElse(return None))
    val hiV = hi.map(g => conv(g).getOrElse(return None))
    val kept = m.files.filter(_.mayOverlap(propEsc, loV, hiV))
    val total = m.files.size
    if (kept.size == total) return Some((total, total, None))
    if (kept.isEmpty) return Some((0, total, Some(tbl.limit(0))))
    // align to the in-memory schema: the subset may lack columns a CoW SET
    // added only to other files (absent = null), and types a wider merge
    // settled differently. `.schema` forces analysis inside the Try, so a
    // bad cast cannot surface later as a query error
    scala.util.Try {
      val dved = scanFiles(spark, kept.map(f => s"$root/${f.rel}"), m.dvs)
      val aligned = tbl.schema.fields.foldLeft(dved)((acc, f) =>
        if (acc.columns.contains(f.name))
          acc.withColumn(f.name, col(f.name).cast(MutableGraph.relaxNullability(f.dataType)))
        else acc.withColumn(f.name, lit(null).cast(MutableGraph.relaxNullability(f.dataType))))
      val out = aligned.select(tbl.columns.map(col): _*)
      out.schema
      out
    }.toOption match {
      case ok @ Some(_) => Some((kept.size, total, ok))
      case None => Some((total, total, None)) // the full table is read: no prune
    }
  }
}
