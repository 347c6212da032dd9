package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (north star — the reference is a pure-OLTP
  * extension with no streaming; SURVEY.md §2.5): continuous ingestion into
  * graph label tables and watermarked windowed aggregation over event
  * streams. Batch and stream share the same projection logic, so a label
  * table is identical whether bulk-built or streamed.
  */
object Streams {

  /** Stream a directory of parquet files into a vertex label table:
    * packs graphids exactly like GraphBuilder.vertexLabel (projection-only,
    * so the stream stays stateless — no shuffle, scales with input rate).
    */
  def vertexIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      labelId: Int,
      keyCol: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(sourceDir)
    val packed = src.select(
      (shiftleft(lit(labelId.toLong), 48).bitwiseOR(col(keyCol).cast("long"))).as("id") +:
        schema.fieldNames.map(col): _*)
    packed.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Stream vertices into a DURABLE graph (r12): each micro-batch commits
    * as ONE GraphStore version through the same OCC publish path as
    * interactive statements, so readers see batch boundaries atomically
    * and the store's file-level CoW bounds a batch's write volume to the
    * batch's own file plus the catalog. Exactly-once lands on the
    * idempotent sink: the store catalog records (appId, batchId) and a
    * replayed batch after restart is skipped (the Delta streaming-sink
    * txn pattern). Ids pack from `keyCol` (key-addressed, like
    * GraphBuilder labels); a later CREATE into the label numbers past the
    * largest ingested key, and a null key fails the batch.
    */
  def graphStoreIngest(
      docs: DataFrame, // streaming DF
      session: graft.cypher.GraphSession,
      label: String,
      keyCol: String,
      checkpointDir: String,
      appId: Option[String] = None): StreamingQuery = {
    val app = appId.getOrElse(checkpointDir)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        session.ingestVertexBatch(label, keyCol, batch, app, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** CDC twin of [[graphStoreIngest]] (r12): a re-sent key REPLACES the
    * stored row — the store tombstones the old copy through its
    * deletion-vector path, so a streamed update costs the new row-version
    * plus ~8 bytes, never a file rewrite. New keys append. Same
    * exactly-once (appId, batchId) contract on restarts.
    */
  def graphStoreUpsertIngest(
      docs: DataFrame, // streaming DF
      session: graft.cypher.GraphSession,
      label: String,
      keyCol: String,
      checkpointDir: String,
      appId: Option[String] = None): StreamingQuery = {
    val app = appId.getOrElse(checkpointDir)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        session.ingestVertexUpsertBatch(label, keyCol, batch, app, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Edge twin of [[graphStoreIngest]]: streams (src, dst, props) rows
    * into a durable graph's edge label, one store version per micro-batch,
    * same exactly-once (appId, batchId) contract.
    */
  def graphStoreIngestEdges(
      docs: DataFrame, // streaming DF
      session: graft.cypher.GraphSession,
      label: String, keyCol: String,
      srcLabel: String, srcKeyCol: String,
      dstLabel: String, dstKeyCol: String,
      checkpointDir: String,
      appId: Option[String] = None): StreamingQuery = {
    val app = appId.getOrElse(checkpointDir)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        session.ingestEdgeBatch(label, keyCol, srcLabel, srcKeyCol,
          dstLabel, dstKeyCol, batch, app, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked sliding-window aggregation over an event stream —
    * the canonical streaming shape (late data dropped past the watermark;
    * state store bounded).
    */
  def windowedEventCounts(
      events: DataFrame, // streaming DF with ts TIMESTAMP, event_type STRING, value DOUBLE
      watermark: String = "1 hour",
      window_ : String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Stateful per-user sessionization skeleton: running event count +
    * last-seen timestamp per user via mapGroupsWithState-style aggregation.
    * Expressed with streaming agg (update mode).
    */
  def perUserActivity(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_seen"))

  /** Streaming exact dedup: drop re-ingested duplicates by content
    * fingerprint inside the watermark horizon. State = one fingerprint per
    * kept row, expired by the watermark — the streaming half of d1's exact
    * dedup (same fingerprint function, so batch and stream agree).
    */
  def dedupIngest(docs: DataFrame, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs.withColumn("fp", graft.functions.TextFns.fingerprintMd5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup detection at ingest: per-document MinHash band
    * keys (the per-row HOF form — corpus-wide aggregation shapes don't
    * exist mid-stream, and per-row work keeps the stream stateless)
    * stream-static joined against a prebuilt corpus band index
    * (Dedup.bandIndex). Emits (doc_id, corpus_doc) candidate matches;
    * exact verification happens downstream exactly as in d3. Scales as a
    * broadcast of the band-bucketed index or a shuffle on band keys —
    * either way per-batch cost ∝ batch size, not corpus size.
    */
  def nearDupIngest(docs: DataFrame, corpusIndex: DataFrame,
      k: Int = 63, bands: Int = 21): DataFrame = {
    import graft.functions.TextFns
    val withHashes = docs.withColumn("__hs",
      transform(TextFns.shingles(col("text"), 3), s => xxhash64(s)))
    withHashes
      .withColumn("bands",
        TextFns.lshBandKeys(TextFns.minhashFromHashes(col("__hs"), k), k, bands))
      .select(col("doc_id"), explode(col("bands")).as("band"))
      .join(corpusIndex.withColumnRenamed("doc_id", "corpus_doc"), "band")
      .filter(col("doc_id") =!= col("corpus_doc"))
      .select(col("doc_id"), col("corpus_doc"))
  }

  /** Streaming quality-score + BM25-at-ingest: each arriving document is
    * scored per-row (quality composite — same kernel as t2) and BM25-scored
    * against PRE-BUILT corpus statistics (N, avgdl, per-term df — computed
    * once over the static corpus, exactly like t7's single-row aggregate)
    * carried in as a one-row broadcast. The ingestion-pipeline shape at
    * 100 TB: per-batch cost ∝ batch size, the corpus appears only through
    * its fixed-size statistics, no state store needed.
    */
  def scoreIngest(docs: DataFrame, corpusStats: DataFrame,
      terms: Seq[String]): DataFrame = {
    val toks = filter(split(lower(col("text")), "[^a-z0-9]+"),
      t => length(t) > 0)
    val tf = docs.select(
      col("doc_id") +: col("ts") +:
        graft.functions.TextFns.qualityScore(col("text")).as("quality") +:
        size(toks).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === t)).as(s"tf$i") }: _*)
    val scored = tf.crossJoin(broadcast(corpusStats))
    val bm25 = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
      idf * (col(s"tf$i") * 2.2) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col("doc_id"), col("ts"), round(col("quality"), 4).as("quality"),
      round(bm25 + 1e-9, 6).as("bm25"))
  }

  /** The t7-shaped corpus statistics a scoreIngest stream joins against —
    * one row: N, avgdl, df per term (built once per corpus version).
    */
  def bm25CorpusStats(corpus: DataFrame, terms: Seq[String]): DataFrame = {
    val toks = filter(split(lower(col("text")), "[^a-z0-9]+"),
      t => length(t) > 0)
    val tf = corpus.select(size(toks).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        size(filter(toks, x => x === t)).as(s"tf$i") }: _*)
    tf.agg(
      count(lit(1)).cast("double").as("n"),
      (avg(col("dl")).as("avgdl") +:
        terms.indices.map(i =>
          sum((col(s"tf$i") > 0).cast("long")).cast("double").as(s"df$i"))): _*)
  }

  /** Doc row for streaming sequence packing. */
  final case class PackDoc(lang: String, doc_id: Long, n_tokens: Long)
  /** A closed packed chunk (training-sequence bin). */
  final case class PackedChunk(lang: String, bin: Long, n_docs: Long,
      bin_tokens: Long, first_doc: Long, last_doc: Long)
  /** Open-chunk carry state per language stream (public: state encoder
    * codegen needs constructor access). */
  final case class PackState(cum: Long, bin: Long, nDocs: Long,
      tokens: Long, firstDoc: Long, lastDoc: Long)

  /** Streaming sequence packing — the stateful counterpart of the batch
    * `d8_sequence_pack` operator, SAME semantics (concat-and-chunk: a doc
    * belongs to the chunk its first token lands in): per language stream,
    * the open chunk is flatMapGroupsWithState state; a chunk emits the
    * moment a document lands in a LATER bin. Deterministic given per-lang
    * in-order arrival (the ingest contract; an out-of-order source would
    * need a watermark + sort buffer upstream). State per key is O(1) —
    * six longs — so the state store stays tiny at any corpus size.
    */
  def packStream(docs: org.apache.spark.sql.Dataset[PackDoc],
      budget: Long): org.apache.spark.sql.Dataset[PackedChunk] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    docs.groupByKey(_.lang)
      .flatMapGroupsWithState[PackState, PackedChunk](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (lang: String, rows: Iterator[PackDoc], state: GroupState[PackState]) =>
          var st = state.getOption.getOrElse(PackState(0L, 0L, 0L, 0L, -1L, -1L))
          val closed = scala.collection.mutable.ListBuffer.empty[PackedChunk]
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            val bin = st.cum / budget
            if (bin != st.bin && st.nDocs > 0) {
              closed += PackedChunk(lang, st.bin, st.nDocs, st.tokens,
                st.firstDoc, st.lastDoc)
              st = PackState(st.cum, bin, 0L, 0L, -1L, -1L)
            }
            st = PackState(st.cum + d.n_tokens, bin, st.nDocs + 1,
              st.tokens + d.n_tokens,
              if (st.nDocs == 0) d.doc_id else st.firstDoc, d.doc_id)
          }
          state.update(st)
          closed.iterator
      }
  }

  /** Event row for sessionization (ts in epoch micros). */
  final case class SessionEvent(user_id: Long, ts_us: Long)
  /** Closed session: event count + span. */
  final case class Session(user_id: Long, n_events: Long,
      start_us: Long, end_us: Long)
  /** Open-session carry state (public: the state encoder's codegen needs
    * constructor access). */
  final case class SessState(n: Long, startUs: Long, lastUs: Long)

  /** Custom session windows via flatMapGroupsWithState (the
    * KeyValueGroupedDataset custom-state surface): a session closes when no
    * event arrives within `gapUs`; closed sessions are emitted, open state
    * is carried. Processing-time timeout flushes idle users.
    */
  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapUs: Long): org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessState]) =>
          val sorted = rows.toSeq.sortBy(_.ts_us)
          var st = state.getOption.getOrElse(SessState(0L, -1L, -1L))
          val closed = scala.collection.mutable.ListBuffer.empty[Session]
          sorted.foreach { e =>
            if (st.n == 0L) st = SessState(1L, e.ts_us, e.ts_us)
            else if (e.ts_us - st.lastUs > gapUs) {
              closed += Session(user, st.n, st.startUs, st.lastUs)
              st = SessState(1L, e.ts_us, e.ts_us)
            } else st = SessState(st.n + 1, st.startUs, e.ts_us)
          }
          state.update(st)
          closed.iterator
      }
  }
}
