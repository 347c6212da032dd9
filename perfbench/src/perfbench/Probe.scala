package perfbench

import org.apache.spark.sql.SparkSession

/** The contention probe. The 4-core box the benchmark runs on is a virtual
  * machine whose host is at times oversubscribed: the guest then loses up
  * to a third of its CPU time to steal, and every Spark job slows with it,
  * a catalog pass by up to 2.7x. The probe is a fixed two-stage RDD job (a
  * map and a shuffle over four partitions; no engine code, no Catalyst),
  * run after every set-up round and after every operation of the window,
  * outside their timing. Its median says how fast this JVM ran Spark jobs
  * meanwhile, and the end-to-end times are scaled by `NominalMs / median`:
  * they are seconds of a run in which the probe took its nominal time. */
final class Probe(spark: SparkSession, parallelism: Int) {
  /** The probe's median on the quiet box the benchmark was tuned on. A
    * constant: it fixes the unit, not the comparison. */
  val NominalMs = 50.0

  /** `n` timings of the probe job (ms). */
  def measure(n: Int): Seq[Double] = (1 to n).map { _ =>
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(0 until 4000, parallelism)
      .map(i => (i % 16, 1L)).reduceByKey(_ + _, parallelism).count()
    (System.nanoTime() - t0) / 1e6
  }

  /** Factor that turns times measured beside `samples` into nominal ones. */
  def scale(samples: Seq[Double]): Double = NominalMs / Stats.median(samples)
}
