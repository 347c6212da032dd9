package graft

import graft.gvalue.GValueCol
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A parquet file written on the driver from held rows
  * (`Bridge.writeParquet`, the deletion-vector commit's row-version file)
  * is the file Spark's own write of the same rows makes: the same parquet
  * schema, required/optional included, the same Spark row metadata and
  * codec, and the same rows read back.
  */
class DriverParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n", LongType),
    StructField("x", DoubleType),
    StructField("t", StringType),
    StructField("b", BooleanType),
    StructField("d", DateType),
    StructField("ts", TimestampType),
    StructField("g", GValueCol.structType),
    StructField("xs", ArrayType(LongType)),
    StructField("m", MapType(StringType, DoubleType))))

  private def gv(tag: Byte, i: Long, s: String) =
    Row(tag, false, i, 0.0, s, Seq(Row(tag, true, i + 1, -0.0, s + "!")))

  private val rows = Seq(
    Row(1L, 7L, 0.0, "a", true, java.time.LocalDate.of(2024, 2, 29),
      java.time.Instant.parse("2024-02-29T12:34:56.123456Z"), gv(3, 5L, "s"),
      Seq(1L, 2L), Map("k" -> 1.5)),
    Row(2L, null, -0.0, "\uffff", false, java.time.LocalDate.of(1, 1, 1),
      java.time.Instant.parse("1900-01-01T00:00:00Z"), null, Seq.empty[Long],
      Map.empty[String, Double]),
    Row(3L, -1L, Double.NaN, "\ud83d\ude00", null, null, null, gv(2, -9L, ""),
      null, null),
    Row(4L, Long.MaxValue, Double.NegativeInfinity, null, true,
      java.time.LocalDate.of(9999, 12, 31), java.time.Instant.parse("2262-04-11T23:47:16Z"),
      gv(4, 0L, "\uffff\ud83d\ude00"), Seq(Long.MinValue), Map("a" -> Double.NaN)))

  private def footer(file: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), Bridge.hadoopConf(spark)))
    try r.getFooter finally r.close()
  }

  /** The one part file of `dir`. */
  private def partIn(dir: String): String = {
    val parts = Files.list(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter(_.split('/').last.startsWith("part-")).toList
    assert(parts.size == 1, parts)
    parts.head
  }

  private def compare(): (String, String) = {
    val base = Files.createTempDirectory("graft_driver_parquet").toString
    try compareIn(base) finally graft.cypher.GraphStore.deleteTree(Paths.get(base))
  }

  private def compareIn(base: String): (String, String) = {
    val held = Bridge.writeParquet(spark, s"$base/held", schema, rows)
    Local.relation(spark, rows, schema).coalesce(1).write.parquet(s"$base/spark")
    val (h, s) = (s"$base/held/$held", partIn(s"$base/spark"))
    assert(held.matches("part-00000-[0-9a-f-]{36}-c000\\..*parquet"), held)
    assert(held.dropWhile(_ != '.') == s.split('/').last.dropWhile(_ != '.'))
    val (hf, sf) = (footer(h), footer(s))
    assert(hf.getFileMetaData.getSchema == sf.getFileMetaData.getSchema)
    val fs = hf.getFileMetaData.getSchema
    assert(fs.getType(fs.getFieldIndex("id")).getRepetition.toString == "REQUIRED")
    val kv = "org.apache.spark.sql.parquet.row.metadata"
    assert(hf.getFileMetaData.getKeyValueMetaData.get(kv) ==
      sf.getFileMetaData.getKeyValueMetaData.get(kv))
    assert(hf.getFileMetaData.getKeyValueMetaData.asScala.keySet ==
      sf.getFileMetaData.getKeyValueMetaData.asScala.keySet)
    def codecs(f: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
    assert(codecs(hf) == codecs(sf))
    def back(file: String) = spark.read.parquet(file).collect().map(_.toString).toSeq
    assert(back(h) == back(s))
    assert(back(h).length == rows.length)
    (codecs(hf).mkString(","), held)
  }

  test("a file written from driver rows equals Spark's write of them") {
    val (codec, _) = compare()
    assert(codec == spark.conf.get("spark.sql.parquet.compression.codec").toUpperCase)
  }

  test("the driver write honours a non-default parquet codec") {
    val key = "spark.sql.parquet.compression.codec"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "gzip")
    try {
      val (codec, name) = compare()
      assert(codec == "GZIP")
      assert(name.endsWith(".gz.parquet"), name)
    } finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
