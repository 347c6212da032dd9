package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Scratch fixed-overhead profiler (not part of the library): for each named
  * SparkEntry query, splits the wall time into laps — DataFrame
  * construction (our compiler, with any jobs it runs), Catalyst analysis,
  * optimization and physical planning, and execution — and attributes
  * execution to job/stage/task counts plus summed executor task time,
  * distinguishing scheduling overhead (many tiny jobs/tasks) from real
  * compute.
  */
object Prof4 {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ad-hoc conf overrides for A/B runs: SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    spark.read.parquet(s"$dir/region.parquet").count()

    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) taskMs.addAndGet(t.taskMetrics.executorRunTime)
      }
    })

    val names = if (args.nonEmpty) args.toSeq
      else Seq("g1_label_scan", "g2_pattern_join", "g21_vle_path_values")
    for (name <- names; round <- 1 to 2) {
      graft.operators.Similarity.clearSessionCache()
      graft.operators.Dedup.clearSessionCache()
      graft.operators.Pipeline.clearSessionCache()
      var t = System.nanoTime()
      def lap(): Double = { val now = System.nanoTime(); val s = (now - t) / 1e9; t = now; s }
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val construct = lap()
      val qe = df.queryExecution
      qe.analyzed
      val analyze = lap()
      qe.optimizedPlan
      val optimize = lap()
      qe.executedPlan
      val physical = lap()
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      val n = df.count()
      val exec = lap()
      spark.catalog.clearCache()
      // listener bus is async; give it a beat before reading counters
      Thread.sleep(200)
      println(f"PROF4 $name%-26s r$round construct=$construct%6.3f analyze=$analyze%6.3f " +
        f"optimize=$optimize%6.3f physical=$physical%6.3f exec=$exec%6.3f " +
        f"jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d taskTime=${taskMs.get / 1000.0}%8.2f s rows=$n")
    }
    spark.stop()
  }
}
