package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * Sites: write snapshots, write-id numbering and a publish's touched ids
  * (GraphSession), a deletion-vector commit's tombstone positions (Commit:
  * the tombstone count, as it holds one live position per tombstone,
  * whatever the size of the files read), the recursive local frontier
  * (Recursive), the single-task graph algorithms (Algorithms: estimate
  * only, they never collect), near-dup clustering (Pipeline: actual pair
  * count only, its estimate is join-inflated by orders of magnitude), the
  * ANN serves (Similarity: corpus row count) and the optimizer fold of
  * joins, unions and aggregates over driver-held rows ([[LocalFold]]:
  * actual rows of every input and of the output), installed on a session
  * by [[install]].
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
    maxRows(dfs.head.sparkSession) > 0 &&
      dfs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <= bytes

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

  /** Driver rows as a LocalRelation. */
  def relation(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    install(spark)
    spark.createDataFrame(rows.asJava, schema)
  }
}
