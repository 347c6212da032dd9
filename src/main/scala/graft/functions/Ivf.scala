package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** IVF (inverted-file) vector index — the Spark-native re-expression of the
  * reference's IVFFlat access method (/root/reference/src/backend/access/
  * ivfbuild.c kmeans build, ivfscan.c probe-nearest-lists scan; defaults
  * lists=100, ivfflat.h:52).
  *
  * Centroids live in a small *DataFrame* (cluster, pos, c) that is
  * broadcast-joined against exploded vectors — not inlined as literal
  * expression trees (inlining k×dim literals makes codegen quadratic-sized;
  * measured 122 s vs ~5 s at sf0.1). This is also the shape that scales:
  * at 100 TB the centroid table stays tiny and broadcast, the vector side
  * streams.
  *
  * The exploded (id, pos, component) relation is built ONCE and
  * localCheckpoint'd; the index assignment and the query probes reuse it.
  * Lloyd's iterations run on the driver over one bounded sample
  * ([[kmeansSampled]]).
  */
object Ivf {

  /** (__vid, pos, v) exploded-component view of a vector column, eagerly
    * materialized so iterative consumers don't recompute the explode.
    */
  def flatten(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("__vid"),
        posexplode(transform(col(vecCol), _.cast("double"))).as(Seq("pos", "v")))
      .localCheckpoint()

  /** (cluster, pos, c) centroid table from driver arrays. */
  private def centroidDf(spark: SparkSession, centroids: Array[Array[Double]]) = {
    import spark.implicits._
    centroids.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toSeq.toDF("cluster", "pos", "c")
  }

  /** Squared-L2 distance of every flat row group to every centroid:
    * (id, cluster, dist). One broadcast join + one partial-aggregated sum.
    */
  private def distancesFlat(flat: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    flat.join(broadcast(centroidDf(flat.sparkSession, centroids)), "pos")
      .groupBy(col("__vid"), col("cluster"))
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("dist"))

  /** Nearest-centroid assignment: (__vid, cluster). `min_by` aggregation,
    * not a row_number window — partial aggregation map-side combines, so
    * the shuffle carries one row per (vector, cluster) partial instead of
    * sorting whole partitions per vector id.
    */
  def assignmentsFlat(flat: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    distancesFlat(flat, centroids)
      .groupBy(col("__vid"))
      // struct(dist, cluster) is a unique ordering key → deterministic
      .agg(min_by(col("cluster"), struct(col("dist"), col("cluster"))).as("cluster"))

  /** Assignment passes this JVM has run — lets IvfIndexSpec assert that a
    * reopened store's probe reads the STORED entries (r13) instead of
    * re-deriving assignments over the label. */
  val assignBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Nearest-centroid assignment keyed back to the caller's id column. */
  def assignments(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    assignBuilds.incrementAndGet()
    assignmentsFlat(flatten(emb, idCol, vecCol), centroids)
      .select(col("__vid").as(idCol), col("cluster"))
  }

  /** Index builds this JVM has run — lets PersistSpec assert that a
    * reopened store USES its stored centroids instead of re-clustering. */
  val kmeansBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Sampled k-means build — the reference's IVFFlat shape (ivfbuild.c
    * samples rows before clustering; lists=100 needs only ~50·k samples):
    * ONE deterministic id-stride sample collected to the driver, Lloyd's
    * run locally, and only the ASSIGNMENT pass stays distributed. At any
    * corpus size the driver holds ≤ cap vectors.
    */
  def kmeansSampled(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, cap: Int = SampleCap, nHint: Option[Long] = None): Array[Array[Double]] = {
    val n = nHint.getOrElse(emb.count()) // callers pass the session-cached count
    kmeansOf(strideSample(emb, idCol, vecCol, n, cap), n, k, iters)
  }

  /** [[kmeansSampled]] over a stride sample already on the driver, of a
    * corpus of `n` vectors.
    */
  def kmeansOf(sample: Array[Array[Double]], n: Long, k: Int,
      iters: Int): Array[Array[Double]] = {
    kmeansBuilds.incrementAndGet()
    require(n >= k, s"need at least $k vectors")
    lloyd(sample, k, iters)
  }

  /** Most vectors a stride sample holds. */
  val SampleCap = 4096

  /** Up to `cap` vectors of `emb` on the driver as doubles: the rows whose
    * id is a multiple of n / cap, lowest ids first (no RNG — reruns sample
    * the same rows); `n` is the row count of `emb`.
    */
  private[graft] def strideSample(emb: DataFrame, idCol: String, vecCol: String,
      n: Long, cap: Int): Array[Array[Double]] =
    emb.filter(col(idCol) % math.max(n / cap, 1) === 0)
      .orderBy(col(idCol))
      .limit(cap)
      .select(transform(col(vecCol), _.cast("double")))
      .collect().map(_.getSeq[Double](0).toArray)

  /** [[strideSample]] of vectors already on the driver, keyed by id. */
  private[graft] def strideSample(vecs: java.util.Map[Long, Array[Double]], n: Long,
      cap: Int): Array[Array[Double]] = {
    val stride = math.max(n / cap, 1)
    vecs.keySet().asScala.iterator.filter(_ % stride == 0).toArray.sorted
      .take(cap).map(vecs.get)
  }

  /** Deterministic driver-side Lloyd over an already-collected sample —
    * shared by kmeansSampled and the PQ codebook build (which samples ONCE
    * and trains one codebook per subspace slice).
    */
  private[graft] def lloyd(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val dim = sample.head.length
    val sstride = math.max(sample.length / k, 1)
    var cent: Array[Array[Double]] =
      Array.tabulate(k)(i => sample(math.min(i * sstride, sample.length - 1)).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Long](k)
      for (v <- sample) {
        val best = nearest(v, cent)
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        cnt(best) += 1
      }
      cent = Array.tabulate(k)(c =>
        if (cnt(c) > 0) sums(c).map(_ / cnt(c)) else cent(c))
    }
    cent
  }

  // ------------------------------------------------------------------
  // Driver kernels: every driver-side distance of the vector layer. Each
  // sum is an ascending left fold, so a driver path sees the doubles of
  // its Catalyst twin (`aggregate(zip_with(...))`, a left fold from 0.0).

  /** Squared L2 distance between `v[off, off + c.length)` and `c`. */
  def sqDist(v: Array[Double], c: Array[Double], off: Int = 0): Double = {
    var d = 0.0; var j = 0
    while (j < c.length) { val x = v(off + j) - c(j); d += x * x; j += 1 }
    d
  }

  /** `c` · `v[off, off + c.length)`. The fold starts at −0.0, the additive
    * identity, so a sum of −0.0 terms stays −0.0 as Scala's `sum` gives it.
    */
  def dot(c: Array[Double], v: Array[Double], off: Int = 0): Double = {
    var d = -0.0; var j = 0
    while (j < c.length) { d += c(j) * v(off + j); j += 1 }
    d
  }

  /** A centroid's score against `v[off, off + c.length)`, lower is nearer:
    * the negative inner product for metric "ip", else squared L2. */
  def score(metric: String, c: Array[Double], v: Array[Double], off: Int = 0): Double =
    if (metric == "ip") -dot(c, v, off) else sqDist(v, c, off)

  /** Index of the centroid nearest `v`; a distance tie keeps the lower
    * index (the `min_by(struct(dist, cluster))` order). */
  def nearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = sqDist(v, cents(c))
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Indexes of the `n` lowest `scores`, lowest first, ties by index. */
  def lowest(scores: Array[Double], n: Int): Seq[Int] =
    scores.zipWithIndex.sorted.take(n).map(_._2).toSeq

  /** The `n` centroids nearest `v` (the probed lists), nearest first. */
  def probes(v: Array[Double], cents: Array[Array[Double]], n: Int): Seq[Int] =
    lowest(cents.map(sqDist(v, _)), n)

  /** The ADC lookup table of `q`: `t(sub)(code)` is the score of the
    * query's `sub` slice against codeword `code` of that subspace. */
  def adcTable(q: Array[Double], books: Array[Array[Array[Double]]],
      metric: String = "l2"): Array[Array[Double]] =
    Array.tabulate(books.length)(si => books(si).map(c => score(metric, c, q, si * c.length)))

  // ------------------------------------------------------------------
  // Product quantization (PQ/ADC — Jégou et al. 2011) as a DDL-built,
  // catalog-persisted index (r12): the graph-session twin of the
  // operators/Similarity bench path. Codebooks train on ONE bounded
  // driver sample (same discipline as kmeansSampled); encode and probe
  // stay distributed.

  /** One codebook per subspace from a single stride sample: returns
    * codebooks(sub)(code) = centroid of length dims/m. Counts as one
    * kmeansBuilds (one sample collect, m local Lloyd runs).
    */
  def pqCodebooksSampled(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, k: Int, iters: Int = 8, cap: Int = 4096,
      nHint: Option[Long] = None): Array[Array[Array[Double]]] = {
    require(dims % m == 0 && dims >= m, s"dims=$dims not divisible by m=$m")
    kmeansBuilds.incrementAndGet()
    val n = nHint.getOrElse(emb.count())
    require(n >= k, s"need at least $k vectors")
    subspaceBooks(strideSample(emb, idCol, vecCol, n, cap), m, k, iters)
  }

  /** One Lloyd codebook of `k` codewords per each of `m` equal slices of
    * the sample's vectors. */
  private[graft] def subspaceBooks(sample: Array[Array[Double]], m: Int, k: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val dsub = sample.head.length / m
    Array.tabulate(m) { s =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)),
        k, iters)
    }
  }

  /** (sub, code, spos, c) broadcast-side codebook relation. */
  private def codebookDf(spark: SparkSession,
      codebooks: Array[Array[Array[Double]]]) = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.flatMap { case (cent, code) =>
        cent.zipWithIndex.map { case (v, p) => (s, code, p, v) }
      }
    }.toSeq.toDF("sub", "code", "spos", "c")
  }

  /** Distributed PQ encode: (id, sub, code) — nearest sub-centroid per
    * subspace, via the same flatten → broadcast-join → two keyed
    * aggregations chain as the IVF assignment (never a per-row loop).
    */
  /** Encode passes this JVM has run (see [[assignBuilds]]). */
  val encodeBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    encodeBuilds.incrementAndGet()
    val dsub = codebooks(0)(0).length
    val flat = flatten(emb, idCol, vecCol)
      .withColumn("sub", (col("pos") / dsub).cast("int"))
      .withColumn("spos", (col("pos") % dsub).cast("int"))
    flat.join(broadcast(codebookDf(emb.sparkSession, codebooks)), Seq("sub", "spos"))
      .groupBy(col("__vid"), col("sub"), col("code"))
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("dist"))
      .groupBy(col("__vid"), col("sub"))
      .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))
      .select(col("__vid").as(idCol), col("sub"), col("code"))
  }

  /** ADC shortlist for one query vector: per-subspace lookup table joined
    * (broadcast, m×k rows) against the stored codes, summed, top
    * `shortlist` ids by approximate distance. The caller reranks exactly.
    */
  def pqAdcCandidates(codes: DataFrame, idCol: String,
      codebooks: Array[Array[Array[Double]]], vec: Seq[Double],
      metric: String, shortlist: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val lut = adcTable(vec.toArray, codebooks, metric).zipWithIndex.toSeq.flatMap {
      case (t, s) => t.toSeq.zipWithIndex.map { case (d, code) => (s, code, d) }
    }.toDF("sub", "code", "qd")
    codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col(idCol)).agg(sum(col("qd")).as("adc"))
      .orderBy(col("adc"), col(idCol)).limit(shortlist)
      .select(col(idCol))
  }

  /** ANN top-k by cosine: probe the `nprobe` nearest clusters per query,
    * exact-score candidates within those clusters only. Scan cost per query
    * drops from |corpus| to ~|corpus|·nprobe/k — the IVFFlat trade.
    * `flatOpt` lets the caller pass the flattened corpus used for the
    * k-means build so the index assignment reuses its checkpoint.
    */
  def annSearch(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      centroids: Array[Array[Double]], nprobe: Int, topK: Int,
      flatOpt: Option[DataFrame] = None): DataFrame = {
    val flat = flatOpt.getOrElse(flatten(emb, idCol, vecCol))
    val indexed = emb
      .join(assignmentsFlat(flat, centroids).select(col("__vid").as(idCol), col("cluster")), idCol)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"), col("cluster"))
    val wq = Window.partitionBy(col("__vid")).orderBy(col("dist"), col("cluster"))
    val probes = distancesFlat(flatten(queries, qIdCol, qVecCol), centroids)
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col("__vid").as("qid"), col("cluster"))
      .join(queries.select(col(qIdCol).as("qid"), col(qVecCol).as("qv")), "qid")
    topByCosine(probes.join(indexed, "cluster")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(VectorFns.cosineSimilarity(col("qv"), col("cv")), 6)), topK)
  }

  /** The exact top-k tail of every distributed ANN pipeline: each query's
    * scored `(qid, cid, cos)` candidates ranked by (cos desc, cid), the
    * first `k` kept as `(qid, rank, cid, cos)` ordered by qid, rank, with
    * `row_number`'s int rank.
    */
  def topByCosine(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }
}
