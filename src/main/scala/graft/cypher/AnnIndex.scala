package graft.cypher

import graft.functions.Ivf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An ANN index of a vertex label's vector property: the IVFFlat access
  * method (reference: create_ivfflat_{l2,ip}_ops_index,
  * postgraph.sql.in:151-158; ivfbuild.c builds the lists, ivfscan.c reads
  * the probed ones) or its PQ/ADC sibling. Both are a matrix trained at
  * build over a bounded driver sample, written once as text under
  * `v<N>/<tag>/` and carried by its catalog line, plus per-row entries
  * derived from the label's embeddings, written as parquet under
  * `v<N>/<entryTag>/`. Each case states only what differs: its training,
  * matrix, entries, stored-entry read and candidates.
  *
  * Entry files: each is range-partitioned and sorted on `sortCols`, so
  * row-group stats act as the list index. An id-local commit appends a
  * delta file of the touched rows' entries; a chain merge keeps the last
  * entry per `dedupKeys` ([[lastWins]]).
  */
private[cypher] sealed trait AnnIndex {
  def label: String
  def prop: String
  def metric: String
  def dims: Int
  /** Catalog tag of the trained matrix, and of the entry files. */
  def tag: String
  def entryTag: String
  /** The shape the matrix's catalog line records. */
  def shape: List[Int]
  /** The matrix as its text file holds it, one row per line. */
  def matrix: Array[Array[Double]]
  def dedupKeys: Seq[String]
  def valCol: String
  def sortCols: Seq[String]
  /** Whether a probe keeps what it read of the stored entries for the
    * next probe of the same table, as it keeps derived entries. */
  def cachesStored: Boolean
  /** The entries of embedding rows `emb` ([[AnnIndex.embeddings]]). */
  def derive(emb: DataFrame): DataFrame
  /** The entries a probe reads of the stored files, each with its place
    * in the chain, for the live label table `tbl`. */
  def readStored(files: List[(DataFrame, Long)], tbl: DataFrame): DataFrame
  /** The candidate ids of query `vec` among `entries`; the caller's ORDER
    * BY reranks them exactly. */
  def candidates(entries: DataFrame, vec: Seq[Double], probes: Int, shortlist: Int): DataFrame

  def key: AnnIndex.Key = (tag, label, prop)
  def entriesKey: AnnIndex.Key = (entryTag, label, prop)

  /** The last entry per dedup key of `files`, a later place winning. */
  def lastWins(files: List[(DataFrame, Long)]): DataFrame =
    files.map { case (f, i) => f.withColumn("__seq", lit(i)) }.reduce(_ unionByName _)
      .groupBy(dedupKeys.map(col): _*)
      .agg(max_by(col(valCol), struct(col("__seq"), col(valCol))).as(valCol))
}

private[cypher] object AnnIndex {
  type Key = (String, String, String)

  /** The kinds in probe precedence, which is also their catalog order. */
  val Tags: Seq[String] = Seq("ivf", "pq")

  /** IVFFlat: `lists` centroids; an entry is a row's nearest list. */
  final case class IvfFlat(label: String, prop: String, metric: String, dims: Int,
      lists: Int, centroids: Array[Array[Double]]) extends AnnIndex {
    def tag = "ivf"
    def entryTag = "ivfa"
    def shape: List[Int] = List(dims, lists)
    def matrix: Array[Array[Double]] = centroids
    def dedupKeys: Seq[String] = Seq("id")
    def valCol = "cluster"
    def sortCols: Seq[String] = Seq("cluster", "id")
    def cachesStored = false
    def derive(emb: DataFrame): DataFrame = Ivf.assignments(emb, "id", prop, centroids)
    /** The stored lists' union, read raw and pruned to the probed lists on
      * every probe: a stale entry only adds a candidate the rerank drops. */
    def readStored(files: List[(DataFrame, Long)], tbl: DataFrame): DataFrame =
      files.map(_._1).reduce(_ unionByName _)
    /** The members of the `probes` lists nearest `vec`. */
    def candidates(entries: DataFrame, vec: Seq[Double], probes: Int,
        shortlist: Int): DataFrame = {
      val probed = Ivf.lowest(centroids.map(Ivf.score(metric, _, vec.toArray)), math.max(1, probes))
      entries.filter(col("cluster").isin(probed: _*)).select(col("id")).distinct()
    }
  }

  object IvfFlat {
    def train(label: String, prop: String, metric: String, dims: Int, lists: Int,
        emb: DataFrame): IvfFlat = {
      require(lists >= 1 && lists <= 32768, "lists must be in 1..32768") // ivfflat.h:53
      IvfFlat(label, prop, metric, dims, lists, Ivf.kmeansSampled(emb, "id", prop, k = lists, iters = 5))
    }
  }

  /** PQ/ADC: `m` subspace codebooks of `k` codewords; an entry is a row's
    * code in one subspace. */
  final case class Pq(label: String, prop: String, metric: String, dims: Int,
      m: Int, k: Int, codebooks: Array[Array[Array[Double]]]) extends AnnIndex {
    def tag = "pq"
    def entryTag = "pqc"
    def shape: List[Int] = List(dims, m, k)
    def matrix: Array[Array[Double]] = codebooks.flatten
    def dedupKeys: Seq[String] = Seq("id", "sub")
    def valCol = "code"
    def sortCols: Seq[String] = Seq("id", "sub")
    def cachesStored = true
    def derive(emb: DataFrame): DataFrame = Ivf.pqEncode(emb, "id", prop, codebooks)
    /** The last code per (id, sub), a stale one would count twice in the
      * ADC sum, of the live ids only: a deleted vertex's codes would take
      * shortlist slots. */
    def readStored(files: List[(DataFrame, Long)], tbl: DataFrame): DataFrame =
      lastWins(files).join(tbl.select(col("id")), Seq("id"), "left_semi")
    /** The `shortlist` ids nearest `vec` by asymmetric distance. */
    def candidates(entries: DataFrame, vec: Seq[Double], probes: Int,
        shortlist: Int): DataFrame =
      Ivf.pqAdcCandidates(entries, "id", codebooks, vec, metric, math.max(1, shortlist))
  }

  object Pq {
    def train(label: String, prop: String, metric: String, dims: Int, m: Int, k: Int,
        emb: DataFrame): Pq = {
      require(m >= 1 && m <= 64 && dims % m == 0,
        s"m must divide dims ($dims % $m != 0) and be in 1..64")
      require(k >= 2 && k <= 256, "k (centroids per subspace) must be in 2..256")
      Pq(label, prop, metric, dims, m, k, Ivf.pqCodebooksSampled(emb, "id", prop, dims, m, k))
    }
  }

  /** The index a catalog line `d` describes, with its matrix `rows`. */
  def of(d: GraphStore.IndexDef, rows: Array[Array[Double]]): AnnIndex = d.tag match {
    case "ivf" => IvfFlat(d.label, d.prop, d.metric, d.shape(0), d.shape(1), rows)
    case "pq" =>
      val List(dims, m, k) = d.shape
      require(rows.length == m * k, s"pq codebook file: ${rows.length} != $m*$k")
      Pq(d.label, d.prop, d.metric, dims, m, k,
        Array.tabulate(m)(s => Array.tabulate(k)(c => rows(s * k + c))))
  }

  /** The rows of `tbl` whose `prop` is a vector of `dims` numbers. */
  def embeddings(tbl: DataFrame, prop: String, dims: Int): DataFrame =
    tbl.select(col("id"), col(prop).cast(ArrayType(DoubleType)).as(prop))
      .filter(col(prop).isNotNull && size(col(prop)) === dims)
}
