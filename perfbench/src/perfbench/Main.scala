package perfbench

import org.apache.spark.sql.SparkSession

/** One workload of the closed loop (one client thread). */
trait Workload {
  /** Builds the workload's state from scratch. Timed; run several times,
    * the loop uses the state of the last one. */
  def setup(round: Int): Unit
  /** Untimed operations between the last set-up and the window, recorded
    * in a throwaway `ops`: JIT and codegen warm-up. */
  def warmup(ops: Ops): Unit
  /** Issues the next operation of the mix. */
  def step(ops: Ops): Unit
  /** Correctness checks made after the window; returns the problems. */
  def verify(): Seq[String]
  /** Contention probes after each operation of the window: enough for a
    * steady median over the window, few enough not to crowd it out. */
  def probesPerOp: Int
  /** Whether the window may end before the next step. */
  def atBoundary: Boolean
  /** Facts the DuckDB checks outside the JVM compare against. */
  def checks: Seq[(String, Any)] = Nil
  /** The window's read, write and batch latency (ms), behind `read_ms`,
    * `write_ms` and `batch_ms`: the mean, over the operation kinds of the
    * class, of each kind's median. */
  def classMs(ops: Ops): Map[String, Double]
  /** Workload-specific per-layer metrics of a traced run. */
  def layerMetrics(tracer: Tracer, ops: Ops): Map[String, Double] = Map.empty
}

/** Runs one workload and writes its result file.
  *
  * Args: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --data <dir> --work <dir> --out <file> [--inject-failure 1]
  */
object Main {
  val Cores = 4
  val SetupRounds = 3
  /** Contention probes after each set-up round; `setup_s` is scaled by
    * their median over all rounds. */
  val SetupProbes = 8

  /** Every per-layer metric a traced run reports, whatever the workload
    * (a layer the workload does not touch reports 0). */
  val PerLayer: Seq[String] =
    Seq("parse.ms", "compile.ms", "optimize.ms", "plan.ms", "construct.ms",
      "construct.jobs") ++
    "dfgmqstwx".map(f => s"family.$f.s") ++
    Seq("execute.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_ms",
      "exec.core_util", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
      "exec.spill_bytes", "exec.failed_tasks",
      "write.create_ms", "write.set_ms", "write.merge_ms", "write.delete_ms", "write.jobs",
      "store.commits", "store.bytes_written", "store.bytes_per_user_byte",
      "store.files_max", "store.compactions", "store.dv_positions",
      "store.files_read_ratio", "store.open_ms",
      "stream.start_ms", "stream.add_batch_ms", "stream.planning_ms",
      "stream.wal_commit_ms", "stream.trigger_ms",
      "trace.overhead_pct", "probe.ms")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val start0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val startS = (System.nanoTime() - start0) / 1e9
    val tracer = new Tracer(spark, traced)
    val env = Env(spark, tracer, a("data"), work, seed)
    val w: Workload = name match {
      case "catalog" => new Catalog(env)
      case "graph_write" => new GraphWrite(env)
      case other => sys.error(s"unknown workload $other")
    }

    val probe = new Probe(spark, Cores)
    probe.measure(3) // compiles the probe's own code
    // (seconds, probe timings right after) per set-up round
    val setups = (1 to SetupRounds).map { r =>
      tracer.op = -r
      val t0 = System.nanoTime()
      tracer.listening(tracer.span("setup")(w.setup(r)))
      ((System.nanoTime() - t0) / 1e9, probe.measure(SetupProbes))
    }
    val setupS = setups.map(_._1)

    tracer.op = 0
    val warm0 = System.nanoTime()
    w.warmup(new Ops(tracer, tracing = false))
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val windowProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ops = new Ops(tracer, () => windowProbes ++= probe.measure(w.probesPerOp))
    // the self-test of the failure accounting: an operation that throws
    // must show up in `failed`, not as a fast sample
    if (a.get("inject-failure").contains("1"))
      ops("injected_failure")(sys.error("deliberately failing operation"))
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run also goes on until every kind has a traced sample
    while (elapsed < seconds || !w.atBoundary || (traced && !ops.eachKindTraced)) w.step(ops)
    val windowS = elapsed

    val verify0 = System.nanoTime()
    val problems = w.verify()
    val verifyS = (System.nanoTime() - verify0) / 1e9
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val metrics: Seq[(String, Double)] =
      if (!traced) {
        val classes = w.classMs(ops)
        val window = Seq(
          "total_s" -> ops.samples.keys.map(ops.medianOf).sum / 1000) ++
          Seq("read", "write", "batch").map(c => s"${c}_ms" -> classes(c))
        val scale = probe.scale(windowProbes.toSeq)
        System.err.println(f"[perfbench] probe median ${Stats.median(windowProbes.toSeq)}%.1f ms " +
          s"over ${windowProbes.size} samples; unscaled: setup_s ${Stats.median(setupS)}, " +
          window.map { case (k, v) => s"$k $v" }.mkString(", "))
        ("setup_s" -> Stats.median(setupS) * probe.scale(setups.flatMap(_._2))) +:
          window.map { case (k, v) => k -> v * scale }
      } else {
        val m = generic(tracer, ops) ++ w.layerMetrics(tracer, ops) +
          ("probe.ms" -> Stats.median(windowProbes.toSeq))
        tracer.printTable(windowS * 1000)
        tracer.writeJsonl(s"$work/spans.jsonl")
        PerLayer.map(k => k -> m.getOrElse(k, 0.0))
      }
    (ops.samples.keySet ++ ops.tracedSamples.keySet).toSeq.sorted.foreach { k =>
      val xs = ops.of(k)
      System.err.println(f"[perfbench] $k%-28s n=${xs.size}%4d median ${Stats.median(xs)}%10.1f ms")
    }
    System.err.println(s"[perfbench] $name: ${ops.attempted} operations, ${ops.failed} failed, " +
      f"session $startS%.1f s, setups ${setupS.map(s => f"$s%.2f").mkString("/")} s, warm-up $warmupS%.1f s, " +
      f"window $windowS%.1f s, checks $verifyS%.1f s")
    val doc = Json.obj(Seq(
      "correct" -> problems.isEmpty,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> metrics.toMap,
      "checks" -> w.checks.toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), doc)
    spark.stop()
  }

  /** Layer metrics every workload shares, per traced operation of the
    * window. Phases are self times in ms; counts are Spark work. */
  private def generic(tracer: Tracer, ops: Ops): Map[String, Double] = {
    val window = tracer.spans.filter(_.op > 0)
    val nOps = math.max(1, window.count(_.parent == -1)).toDouble
    val self = tracer.selfNs
    def selfMs(name: String) = window.filter(_.name == name).map(s => self(s.id)).sum / 1e6
    val w = new Work
    window.foreach(s => w.add(tracer.workOf(s.id)))
    val construct = window.filter(_.name == "construct")
    val opWallMs = window.filter(_.parent == -1).map(_.ns).sum / 1e6
    Map(
      "parse.ms" -> selfMs("parse") / nOps,
      "compile.ms" -> selfMs("compile") / nOps,
      "optimize.ms" -> selfMs("optimize") / nOps,
      "plan.ms" -> selfMs("plan") / nOps,
      "execute.ms" -> selfMs("execute") / nOps,
      "construct.ms" -> selfMs("construct") / nOps,
      "construct.jobs" -> construct.map(s => tracer.workOf(s.id).jobs).sum /
        math.max(1, construct.size).toDouble,
      "exec.jobs" -> w.jobs / nOps,
      "exec.stages" -> w.stages / nOps,
      "exec.tasks" -> w.tasks / nOps,
      "exec.task_ms" -> w.taskMs / nOps,
      "exec.core_util" -> w.taskMs / math.max(1e-9, opWallMs * Cores),
      "exec.shuffle_write_bytes" -> w.shuffleWrite / nOps,
      "exec.shuffle_read_bytes" -> w.shuffleRead / nOps,
      "exec.spill_bytes" -> w.spill / nOps,
      "exec.failed_tasks" -> w.failedTasks.toDouble,
      "trace.overhead_pct" -> ops.overheadPct)
  }
}

/** What every workload gets: the session, the tracer, its inputs and its
  * private working directory. */
final case class Env(spark: SparkSession, tracer: Tracer, data: String, work: String,
    seed: Long)
