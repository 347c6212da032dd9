package graft.operators

import graft.Local
import graft.Tables.T
import graft.graph.Algorithms
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.graphx.Graph
import org.apache.spark.sql.functions._

/** Corpus-level training-data pipeline operators — the steps BETWEEN the
  * per-document primitives (Dedup / TextAnalysis) and a training run:
  * near-dup cluster canonicalization ("keep one per cluster"), deterministic
  * stratified sampling (language rebalancing), sequence packing
  * (concat-and-chunk token budgeting), and benchmark-contamination checks.
  * All deterministic and SQL-mirrorable so the DuckDB gate can verify them
  * end-to-end.
  */
object Pipeline {

  /** Context-window token budget for sequence packing. */
  private val PackBudget = 2048L

  /** Per-language keep-rate (out of 1000 sampling buckets): downsample the
    * dominant language, keep the rest — the classic mixture-rebalancing step.
    */
  private def keepRateOf(lang: Column): Column =
    when(lang === "en", lit(300L)).otherwise(lit(1000L))

  /** Deterministic sampling bucket in [0, 1000): md5 of a salted doc_id.
    * md5 is the one hash both engines compute identically, which makes the
    * sample membership itself oracle-checkable — and at 100 TB the property
    * that matters is that membership is a pure per-row projection:
    * re-runnable, partition-independent, no RNG state to coordinate across
    * executors (Spark's `sample()` is none of those).
    */
  private def sampleBucket(docId: Column): Column =
    conv(substring(md5(concat(lit("smp:"), docId.cast("string"))), 1, 15), 16, 10)
      .cast("long") % 1000

  /** Near-dup component labels over the LSH-verified pair set:
    * (id, lbl) with lbl = min doc_id of the component, over the CANDIDATE
    * node set only (docs appearing in some near-dup pair — a tiny fraction
    * of the corpus). Shared by d6 (cluster report) and d10 (corpus
    * materialization) through this session cache (same amortization as
    * Dedup.pairsCache; the labels are built once).
    */
  private val labelsCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long), DataFrame]()
  /** Benchmark hook (ScaleBench cold path). */
  def clearSessionCache(): Unit = labelsCache.clear()

  private def dupClusterLabels(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    labelsCache.keySet.asScala.foreach { k =>
      if (k._1.sparkContext.isStopped) labelsCache.remove(k)
    }
    if (labelsCache.size >= 64) labelsCache.clear()
    // content-fingerprinted key + single-flight, same discipline (and the
    // same fingerprint) as Dedup.pairsCache — see corpusFingerprint
    labelsCache.computeIfAbsent((s, dir, Dedup.corpusFingerprint(dir)),
      _ => dupClusterLabelsBuild(s, dir))
  }

  private def dupClusterLabelsBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.lshVerifiedPairs(s, dir)
      .select(col("da"), col("db")).as[(Long, Long)].localCheckpoint()
    // the pair set is ∝ duplicates, not corpus — usually tiny (25 pairs at
    // sf0.01, 256 at sf0.1), so the gate is its ACTUAL count: the estimate
    // is join-inflated (3.9e17 B for those 25 rows). Union-find on the
    // driver within the row cap; above it, x1's GraphX CC. Both give lbl =
    // the least id of the component, whatever its diameter.
    if (Local.holds(s, pairs.count()))
      Algorithms.components(pairs.collect().iterator).toSeq.toDF("id", "lbl")
    else Graph.fromEdgeTuples(pairs.rdd, 0).connectedComponents().vertices.toDF("id", "lbl")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Near-dup cluster canonicalization: per-cluster keeper (= min doc_id)
    // and membership over the LSH-verified pair set — see dupClusterLabels
    "d6_dup_clusters" -> ((s, dir) =>
      dupClusterLabels(s, dir)
        .groupBy(col("lbl").as("keeper"))
        .agg(count(lit(1)).as("csize"), sum(col("id")).as("id_sum"))
        .orderBy(col("keeper"))),

    // Deterministic stratified sampling: per-language keep-rates applied via
    // the md5 bucket — a pure codegen projection + filter (no shuffle for
    // membership; the single shuffle here is the per-language REPORT
    // aggregate). sampled_id_sum pins the exact sample membership in the
    // oracle comparison, not just its size.
    "d7_stratified_sample" -> ((s, dir) => {
      val keep = sampleBucket(col("doc_id")) < keepRateOf(col("lang"))
      T(s, dir, "documents")
        .select(col("lang"), col("doc_id"), keep.as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("sampled_id_sum"))
        .orderBy(col("lang"))
    }),

    // Sequence packing (concat-and-chunk): within each language stream,
    // documents ordered by doc_id are concatenated and split into
    // PackBudget-token chunks; a document belongs to the chunk its first
    // token lands in. One window (partitioned by lang — the stream key;
    // at 100 TB the partition key would be (lang, shard) with shard =
    // bucket(doc_id), keeping window state bounded per task) + one
    // aggregate shuffle.
    "d8_sequence_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      T(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("tok"))
        .withColumn("cum", coalesce(sum(col("tok")).over(win), lit(0L)))
        .withColumn("bin", floor(col("cum") / PackBudget))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("bin_tokens"))
        .orderBy(col("lang"), col("bin"))
    }),

    // The pipeline ENDPOINT: the deduplicated corpus itself. A document
    // survives iff it is (a) the exact-dup keeper of its normalized-text
    // fingerprint group (min doc_id, as d1 counts) and (b) not a non-keeper
    // member of a near-dup cluster (as d6 derives from the LSH pair set).
    // Both removal sets are joins against SMALL relations (dup groups and
    // candidate clusters ∝ duplicates, not corpus), so the surviving-corpus
    // scan stays one broadcast-anti-join pass at 100 TB. Output is the
    // survivor summary (count, id sum, char sum) so the oracle pins exact
    // membership.
    "d10_dedup_corpus" -> ((s, dir) => {
      import graft.functions.TextFns.fingerprintMd5
      val docs = T(s, dir, "documents")
      // both REMOVAL sets are ∝ duplicates (small), never ∝ corpus — the
      // keeper set would be corpus-sized and must not be the broadcast side
      val exactLosers = docs
        .select(fingerprintMd5(col("text")).as("fp"), col("doc_id"))
        .withColumn("keeper", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
        .filter(col("doc_id") =!= col("keeper"))
        .select(col("doc_id").as("loser"))
      val nearDupLosers = dupClusterLabels(s, dir)
        .filter(col("id") =!= col("lbl")).select(col("id").as("loser"))
      docs.join(broadcast(exactLosers.unionByName(nearDupLosers).distinct()),
          col("doc_id") === col("loser"), "left_anti")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("char_sum"))
    }),

    // Benchmark-contamination check: distinct word-3gram overlap between
    // train docs and a held-out eval set (doc_id % 50 = 0 stands in for the
    // benchmark corpus). With a real (bounded) benchmark set the eval side
    // broadcasts automatically and the shingle join is map-side; the only
    // shuffle is the per-(train, eval) overlap count, bounded by actual
    // collisions. Same 8-byte shingle-hash discipline as d2/d3 — the
    // shingle string never crosses a stage boundary.
    "d9_contamination" -> ((s, dir) => {
      val sh = Dedup.docShingleHashes(s, dir)
      val eval = sh.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("eval_id"), col("h"))
      val train = sh.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("train_id"), col("h"))
      // no broadcast hint: REAL benchmark corpora are bounded and broadcast
      // automatically under the threshold, but this %50 stand-in scales
      // with the corpus — forcing it would blow the broadcast cap at scale
      train.join(eval, "h")
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("train_id"), col("eval_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    // transitive closure over the near-dup pair set (the same pair SQL the
    // d2/d3 oracles use), min reachable id = component id
    "d6_dup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  WITH d AS (
        |    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |    FROM documents),
        |  sh AS (
        |    SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |      for i in range(1, len(w) - 1)])) AS shingle
        |    FROM d WHERE len(w) >= 3),
        |  sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |  inter AS (
        |    SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2)
        |  SELECT da, db
        |  FROM inter
        |  JOIN sz sa ON da = sa.doc_id
        |  JOIN sz sb ON db = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3
        |),
        |edges AS (SELECT da AS s, db AS d FROM pairs UNION ALL SELECT db, da FROM pairs),
        |reach AS (
        |  SELECT s AS id, s AS lbl FROM edges
        |  UNION
        |  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
        |),
        |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY 1)
        |SELECT lbl AS keeper, count(*) AS csize, CAST(sum(id) AS BIGINT) AS id_sum
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,

    "d7_stratified_sample" ->
      """WITH b AS (
        |  SELECT lang, doc_id,
        |    CAST(('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000 AS bucket,
        |    CASE WHEN lang = 'en' THEN 300 ELSE 1000 END AS rate
        |  FROM documents)
        |SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(sum(CASE WHEN bucket < rate THEN doc_id ELSE 0 END) AS BIGINT) AS sampled_id_sum
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "d8_sequence_pack" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, tok,
        |    coalesce(sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t)
        |SELECT lang, CAST(floor(cum / 2048.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // survivors = exact-dup keepers minus near-dup cluster non-keepers
    // (the d1 fingerprint grouping + the d6 transitive closure combined)
    "d10_dedup_corpus" ->
      """WITH RECURSIVE pairs AS (
        |  WITH d AS (
        |    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |    FROM documents),
        |  sh AS (
        |    SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |      for i in range(1, len(w) - 1)])) AS shingle
        |    FROM d WHERE len(w) >= 3),
        |  sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |  inter AS (
        |    SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2)
        |  SELECT da, db
        |  FROM inter
        |  JOIN sz sa ON da = sa.doc_id
        |  JOIN sz sb ON db = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3
        |),
        |edges AS (SELECT da AS s, db AS d FROM pairs UNION ALL SELECT db, da FROM pairs),
        |reach AS (
        |  SELECT s AS id, s AS lbl FROM edges
        |  UNION
        |  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
        |),
        |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY 1),
        |losers AS (SELECT id FROM comp WHERE id <> lbl),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM documents
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
        |surv AS (
        |  SELECT d.doc_id, d.n_chars
        |  FROM documents d
        |  JOIN keepers k ON d.doc_id = k.doc_id
        |  WHERE d.doc_id NOT IN (SELECT id FROM losers))
        |SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM surv""".stripMargin,

    "d9_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |    for i in range(1, len(w) - 1)])) AS shingle
        |  FROM d WHERE len(w) >= 3
        |  UNION
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) < 3)
        |SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS n_shared
        |FROM sh a JOIN sh b ON a.shingle = b.shingle
        |WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin
  )
}
