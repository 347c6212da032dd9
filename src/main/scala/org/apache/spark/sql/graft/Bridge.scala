package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import java.util.UUID

/** Column ↔ catalyst Expression bridge (ExpressionUtils is private[sql] in
  * Spark 4's classic module; function registration needs raw Expressions).
  */
object Bridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A grouping key as the physical aggregate normalizes it: -0.0 and 0.0
    * are one value, and all NaNs are one value (`normalize` is private[sql]).
    */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)

  /** A checkpointed frame that reports `sizeInBytes` as its size estimate
    * instead of the estimate of the plan it was checkpointed from (a join's
    * estimate is the product of its sides'). Other frames are returned as
    * they are.
    */
  def withSizeInBytes(df: DataFrame, sizeInBytes: BigInt): DataFrame =
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          r.copy()(session, Some(Statistics(sizeInBytes)), None))
      case _ => df
    }

  /** The Spark schema of the parquet file at `path`, read from its footer
    * on the driver as the session's own reads convert it.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = hadoopConf(spark)
    val p = new Path(path)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try new ParquetToSparkSchemaConverter(spark.asInstanceOf[classic.SparkSession]
      .sessionState.conf).convert(r.getFooter.getFileMetaData.getSchema)
    finally r.close()
  }

  /** The Hadoop conf the session's own file reads and writes see. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Write `rows` of `schema` as one parquet file in `dir`, on the driver
    * and with no job, through the file format and output writer Spark's
    * own parquet write uses: the same write support, codec, timestamp
    * type, legacy format and row metadata, read from the session's conf.
    * The file is named as a one-task Spark write names it,
    * `part-00000-<uuid>-c000<ext>`; returns that basename.
    */
  def writeParquet(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row]): String = spark.withActive {
    val job = Job.getInstance(hadoopConf(spark))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(dir))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val out = factory.newInstance(s"$dir/$name", schema, ctx)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => out.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally out.close()
    name
  }
}
