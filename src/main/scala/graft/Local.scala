package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one small-input policy: every choice between holding a relation in
  * one place (the driver, or a single executor task) and keeping it
  * distributed is made here, from the observed size of the input, as
  * Pregelix picks an iteration's physical plan. Three parts:
  *  - one key, `spark.graft.local.maxRows` (default 65536): the most rows
  *    any local path may hold. `0` sends every site down its distributed
  *    path, which is how the differential specs compare the two.
  *  - [[fits]], an estimate gate that runs no job: the optimizer's
  *    `sizeInBytes` against the site's byte bound, a constant below.
  *  - [[capped]] and [[holds]], which check the ACTUAL row count, so an
  *    estimate that undercounts never puts more than `maxRows` rows on the
  *    driver; above the cap the site takes its distributed path.
  * Sites: write snapshots, a micro-batch appended to a label, write-id
  * numbering and a publish's touched ids (MutableGraph, Commit), the base
  * of a label table, at a durable graph's open (Commit: its parquet bytes)
  * and at a re-base after writes (MutableGraph: the label state's own
  * estimate): [[materialize]], estimate under [[HeldLabelBytes]] and
  * actual rows under [[HeldLabelRows]], a deletion-vector commit's
  * tombstone positions (Commit: the tombstone count, as it holds one live
  * position per tombstone, whatever the size of the files read), the
  * recursive local frontier (Recursive), the single-task graph
  * algorithms (Algorithms: estimate only, they never collect), near-dup
  * clustering (Pipeline: actual pair count only, its estimate is
  * join-inflated by orders of magnitude), the ANN serves (Similarity:
  * corpus row count) and the optimizer fold of joins, unions and
  * aggregates over driver-held rows ([[LocalFold]]: actual rows of every
  * input and of the output), installed on a session by [[install]].
  */
private[graft] object Local {

  /** Write snapshots (r17): under 1 MiB a statement's snapshot is a
    * LocalRelation, so its per-row CREATE numbering is one driver collect
    * instead of a multi-task job (w4 1.59×, w1 1.42×). Its existence
    * probes became driver-only with [[LocalFold]]: before it, a
    * LocalRelation under a join still ran one broadcast job per build side.
    */
  val WriteBytes: Long = 1L << 20

  /** Recursive seeds, 64 KiB not 1 MiB (r16 measured): a 15k-row seed (q31)
    * is cheaper distributed, as the local mode re-broadcasts the growing
    * accumulated set for each generation's anti-join, while a tiny deep
    * recursion (q35's 25-row ring) wins 2× locally.
    */
  val RecursiveBytes: Long = 64L << 10

  /** Single-task graph algorithms: 256 MiB of (src, dst) pairs ≈ 8–16 M
    * edges, trivially held by one task; 100 TB inputs estimate in the TBs.
    */
  val GraphBytes: Long = 256L << 20

  /** Rows of a label table held on the driver as its base ([[materialize]]).
    * Measured on a 4-core box, a durable graph with one `Item` label of N
    * rows, medians of 30 reads in two runs (CHANGES.md has the table): a
    * point read (`MATCH (i:Item) WHERE i.k = $k RETURN i.v`) and a count of
    * the held label run no job and take 34–39 ms at 8,192 rows, against
    * 47–63 ms checkpointed (1 and 2 jobs). The two cross between 12k and
    * 16k rows: at 16,384 the held count is the slower (58–63 ms against
    * 49–63), and at 32,768 both held reads are 1.8–2.4× slower.
    */
  val HeldLabelRows: Int = 8192

  /** Size estimate of a label table held on the driver ([[materialize]]):
    * at open its parquet bytes, at a re-base the label state's estimate,
    * its base's bytes plus its driver-held rows' own
    * ([[graft.cypher.MutableGraph.LabelState]]). Measured on the same box
    * with a wide label, `Doc` of N rows with a W-byte hex string each
    * (parquet ≈ N·W bytes), medians
    * of 30 reads (CHANGES.md has the table): held reads beat checkpointed
    * ones by 28–43% at 8 MiB of 4 KiB rows (2,048) and tie at 8 MiB of
    * 1 KiB rows (8,192, the row bound); at 16 MiB of 4 KiB rows the gain
    * narrows to 16–23% while the open's collect costs 111 ms more than the
    * checkpoint (288 against 177 ms), so past 8 MiB a label stays off the
    * driver.
    */
  val HeldLabelBytes: Long = 8L << 20

  private val MaxRowsKey = "spark.graft.local.maxRows"
  private val DefaultMaxRows = "65536"

  /** The cap as the optimizer reads it, from the active session's conf. */
  def maxRows(conf: SQLConf): Long = conf.getConfString(MaxRowsKey, DefaultMaxRows).toLong

  private def maxRows(spark: SparkSession): Long = spark.conf.get(MaxRowsKey, DefaultMaxRows).toLong

  /** Puts [[LocalFold]] into the session's optimizer, once. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(LocalFold))
      ex.extraOptimizations = ex.extraOptimizations :+ LocalFold
  }

  def fits(bytes: Long, dfs: DataFrame*): Boolean =
    maxRows(dfs.head.sparkSession) > 0 && dfs.map(sizeOf).sum <= bytes

  /** The optimizer's size estimate of `df`, which runs no job. */
  def sizeOf(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Whether the optimizer holds `df`'s rows on the driver, as one
    * LocalRelation (its own, or [[LocalFold]]'s of its plan).
    */
  def onDriver(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The bytes of driver rows of `schema` as Spark holds them, each an
    * UnsafeRow: a string costs its UTF-8 bytes, where a LocalRelation's
    * estimate counts 20 a string whatever its length.
    */
  def bytesOf(rows: Array[Row], schema: StructType): BigInt = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    unsafeBytes(rows.iterator.map(toCatalyst(_).asInstanceOf[InternalRow]), schema)
  }

  /** The size estimate of `df` a re-base gates on: its rows' bytes when
    * the optimizer holds them on the driver, else [[sizeOf]].
    */
  def bytesOf(df: DataFrame): BigInt = df.queryExecution.optimizedPlan match {
    case r: LocalRelation => unsafeBytes(r.data.iterator, r.schema)
    case p => p.stats.sizeInBytes
  }

  private def unsafeBytes(rows: Iterator[InternalRow], schema: StructType): BigInt =
    if (!rows.hasNext) 0
    else {
      val unsafe = UnsafeProjection.create(schema)
      rows.map(unsafe(_).getSizeInBytes.toLong).sum
    }

  def holds(spark: SparkSession, n: Long): Boolean = {
    val cap = maxRows(spark)
    cap > 0 && n <= cap
  }

  /** The rows of `df`, or None past the cap. A plain collect whose length
    * is checked: `limit(n + 1)` scans partitions in rounds (one job each)
    * and `df.rdd` turns a driver-only LocalTableScan into a job, each a
    * cost per write statement.
    */
  def capped(df: DataFrame): Option[Array[Row]] =
    if (maxRows(df.sparkSession) <= 0) None
    else Some(df.collect()).filter(rows => holds(df.sparkSession, rows.length))

  def collect(df: DataFrame, bytes: Long): Option[Array[Row]] =
    if (fits(bytes, df)) capped(df) else None

  /** A write statement's frozen snapshot: a LocalRelation when small, else
    * an eager localCheckpoint — value- and order-identical either way.
    */
  def freeze(df: DataFrame): DataFrame = freezeHeld(df)._1

  /** [[freeze]], plus the rows themselves when the snapshot is held on the
    * driver, so a caller can read them without another job.
    */
  def freezeHeld(df: DataFrame): (DataFrame, Option[Array[Row]]) =
    collect(df, WriteBytes) match {
      case Some(rows) => (relation(df.sparkSession, rows, df.schema), Some(rows))
      case None => (df.localCheckpoint(), None)
    }

  /** A label table materialized as the base of later reads and writes:
    * its rows as a LocalRelation when the caller's size estimate `bytes`
    * is within [[HeldLabelBytes]] and the ACTUAL rows are at most
    * [[HeldLabelRows]], else an eager localCheckpoint, coalesced to
    * `partitions` when given. A table within both bounds, or past the byte
    * estimate, costs one job; one past the row bound alone two, the collect
    * and the checkpoint. Within the byte estimate, a plan the optimizer
    * folds into driver rows ([[LocalFold]], itself bounded by `maxRows`) is
    * held as those rows with no job.
    */
  def materialize(df: DataFrame, bytes: BigInt, partitions: Option[Int] = None): DataFrame = {
    val rows =
      if (bytes > HeldLabelBytes) None
      else if (onDriver(df)) Some(df.collect())
      else capped(df).filter(_.length <= HeldLabelRows)
    rows.fold(partitions.fold(df)(df.coalesce).localCheckpoint())(relation(df.sparkSession, _, df.schema))
  }

  /** Driver rows as a LocalRelation. */
  def relation(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    install(spark)
    spark.createDataFrame(rows.asJava, schema)
  }
}
