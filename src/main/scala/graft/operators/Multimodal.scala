package graft.operators

import graft.Tables.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * processed partition-wise. The container has no image/audio codecs, so the
  * decode step is a clearly-marked deterministic stub ([[FakeCodec]]); the
  * Spark-side shape — binary column, metadata struct, `mapPartitions` batch
  * processing with a typed Encoder, partition-preserving plumbing — is real
  * and oracle-checked where expressible.
  */
object Multimodal {

  /** STUB codec: stands in for image/audio decode (no codec libs in this
    * environment). Deterministic: "frames" are fixed 64-byte windows of the
    * payload; a real decoder would yield pixel/sample buffers here.
    */
  object FakeCodec {
    val FrameBytes = 64
    def frames(payload: Array[Byte]): Iterator[Array[Byte]] =
      payload.grouped(FrameBytes)
  }

  /** documents → (doc_id, payload BINARY, meta STRUCT) — the canonical
    * multimodal asset table layout.
    */
  def assets(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        col("source").as("origin"),
        col("n_chars").as("raw_len"),
        lit("text/plain").as("mime")).as("meta"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // binary metadata extraction — pure column ops on BINARY
    "m1_binary_meta" -> ((s, dir) => {
      assets(s, dir)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          hex(substring(col("payload"), 1, 4)).as("header_hex"),
          md5(col("payload")).as("payload_md5"),
          col("meta.origin").as("origin"))
        .orderBy(col("doc_id"))
    }),

    // frame sampling through the stub codec via typed mapPartitions —
    // the real multimodal batch-processing shape (Encoder in, Encoder out,
    // no shuffle, partition-preserving)
    "m2_frame_sample" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ds = assets(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      ds.mapPartitions { it =>
        it.map { case (docId, payload) =>
          val fs = FakeCodec.frames(payload).toSeq
          val firstMd5 = java.security.MessageDigest.getInstance("MD5")
            .digest(fs.head)
            .map("%02x".format(_)).mkString
          (docId, fs.size.toLong, firstMd5)
        }
      }.toDF("doc_id", "n_frames", "first_frame_md5")
        .orderBy(col("doc_id"))
    }),

    // per-asset feature extraction through the stub codec: pixel-intensity
    // stats as the stand-in feature vector. The per-doc byte sums are
    // EXACT integers accumulated in one partition-local pass, and the
    // float math is a fixed formula over them — bit-identical across
    // engines, no summation-order noise.
    "m3_feature_extract" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ds = assets(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      ds.mapPartitions { it =>
        it.map { case (docId, payload) =>
          var sum = 0L; var sumSq = 0L
          FakeCodec.frames(payload).foreach(_.foreach { b =>
            val v = (b & 0xFF).toLong; sum += v; sumSq += v * v
          })
          val n = payload.length.toDouble
          val mean = sum / 255.0 / n
          val std = math.sqrt(sumSq.toDouble / n -
            (sum.toDouble / n) * (sum.toDouble / n)) / 255.0
          (docId, payload.length.toLong, mean, std)
        }
      }.toDF("doc_id", "n_px", "mean_raw", "std_raw")
        .select(col("doc_id"), col("n_px"),
          round(col("mean_raw"), 6).as("mean_px"),
          round(col("std_raw"), 6).as("std_px"))
        .orderBy(col("doc_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "m1_binary_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  hex(encode(substring(text, 1, 4))) AS header_hex,
        |  md5(text) AS payload_md5,
        |  source AS origin
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,
    "m2_frame_sample" ->
      """SELECT doc_id,
        |  CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames,
        |  md5(substring(text, 1, 64)) AS first_frame_md5
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,
    "m3_feature_extract" ->
      """WITH b AS (
        |  SELECT doc_id, ord(substr(text, CAST(i + 1 AS INT), 1)) AS v
        |  FROM documents CROSS JOIN range(100000) t(i)
        |  WHERE doc_id < 20 AND i < octet_length(encode(text))),
        |agg AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS s,
        |         CAST(sum(v * v) AS BIGINT) AS s2,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1)
        |SELECT doc_id, n AS n_px,
        |  round(s / 255.0 / n, 6) AS mean_px,
        |  round(sqrt(CAST(s2 AS DOUBLE) / n -
        |    (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / 255.0, 6) AS std_px
        |FROM agg ORDER BY doc_id""".stripMargin
  )
}
