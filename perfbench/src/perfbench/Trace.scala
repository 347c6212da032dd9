package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed call into a layer. `op` is the operation the span belongs to;
  * `parent` is the enclosing span's id, -1 for an operation's root. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Spark work attributed to one span through its job group. */
final class Work {
  var jobs, stages, tasks, taskMs, shuffleWrite, shuffleRead, spill, failedTasks = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; failedTasks += o.failedTasks
  }
}

/** Counts jobs, stages and task metrics per job group. Each span sets its
  * own id as the job group, so every Spark job lands on the innermost span
  * open when it was submitted (a streaming query's thread inherits the
  * group of the span that started it). Written on the listener thread,
  * read after [[Tracer.listening]] has drained the bus. */
final class JobTally extends SparkListener {
  val byGroup = mutable.HashMap.empty[String, Work]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private def work(g: String) = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    work(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    work(stageGroup.getOrElse(e.stageInfo.stageId, "-")).stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(stageGroup.getOrElse(e.stageId, "-"))
    w.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Span recorder for the single client thread. Disabled, `span` is a
  * plain call: the untraced run pays nothing but the closure. Spans stay
  * in memory until [[writeJsonl]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val tally = new JobTally
  private var open: List[Int] = Nil
  private var nextId = 0
  /** Operation id of the spans opened from now on. */
  var op = 0
  /** Off for the operations the traced run leaves untraced, so that it can
    * measure its own overhead. */
  var active = true

  /** Runs `f` with the job tally listening, when spans are recorded. The
    * listener is removed again once the bus has delivered `f`'s events, so
    * an untraced operation pays neither spans nor the listener. */
  def listening[A](f: => A): A =
    if (!enabled || !active) f
    else {
      val sc = spark.sparkContext
      sc.addSparkListener(tally)
      try f
      finally { org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(tally) }
    }

  def span[A](name: String)(f: => A): A =
    if (!enabled || !active) f
    else {
      val sc = spark.sparkContext
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(id.toString, name)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, parent, op, name, t0, t1)
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      }
    }

  private val adopted = mutable.HashMap.empty[String, Int]

  /** Attributes the jobs of a job group the engine sets itself (a
    * streaming query's run id) to the innermost open span. */
  def adopt(group: String): Unit =
    if (enabled && active) open.headOption.foreach(adopted(group) = _)

  /** Spark work of each span id (its own jobs, not its children's). */
  def workOf(id: Int): Work = {
    val w = new Work
    (id.toString +: adopted.collect { case (g, `id`) => g }.toSeq)
      .foreach(g => tally.byGroup.get(g).foreach(w.add))
    w
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfNs: Map[Int, Long] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }
    spans.map(s => s.id -> (s.ns - child.getOrElse(s.id, 0L))).toMap
  }

  /** Per span name: (calls, total ms, self ms, Spark work). */
  def layers: Seq[(String, Int, Double, Double, Work)] = {
    val self = selfNs
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val w = new Work
      ss.foreach(s => w.add(workOf(s.id)))
      (name, ss.size, ss.map(_.ns).sum / 1e6, ss.map(s => self(s.id)).sum / 1e6, w)
    }.sortBy(-_._4)
  }

  def writeJsonl(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      val w = workOf(s.id)
      out.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> w.jobs, "tasks" -> w.tasks, "task_ms" -> w.taskMs)))
    } finally out.close()
  }

  /** The per-layer table the traced run prints on stderr. */
  def printTable(wallMs: Double): Unit = {
    val self = layers
    val totalSelf = self.map(_._4).sum
    System.err.println(f"${"layer"}%-22s ${"calls"}%7s ${"total_ms"}%11s ${"self_ms"}%11s ${"self%"}%6s ${"jobs"}%6s ${"tasks"}%7s ${"task_ms"}%9s")
    self.foreach { case (name, n, tot, selfMs, w) =>
      System.err.println(f"$name%-22s $n%7d $tot%11.1f $selfMs%11.1f ${100 * selfMs / math.max(totalSelf, 1e-9)}%6.1f ${w.jobs}%6d ${w.tasks}%7d ${w.taskMs}%9d")
    }
    System.err.println(f"traced wall $wallMs%.1f ms, spans ${spans.size}")
    // per operation kind: Spark jobs of the whole operation, and those
    // launched while a catalog query's DataFrame is built
    System.err.println(f"${"operation"}%-22s ${"traced"}%7s ${"median_ms"}%11s ${"jobs/op"}%8s ${"construct_jobs/op"}%18s")
    val byOp = spans.groupBy(_.op)
    spans.filter(s => s.op > 0 && s.parent == -1).groupBy(_.name).toSeq.sortBy(_._1)
      .foreach { case (name, roots) =>
        def jobs(p: Span => Boolean) =
          roots.map(r => byOp(r.op).filter(p).map(s => workOf(s.id).jobs).sum).sum.toDouble / roots.size
        System.err.println(f"$name%-22s ${roots.size}%7d ${Stats.median(roots.map(_.ns / 1e6).toSeq)}%11.1f ${jobs(_ => true)}%8.1f ${jobs(_.name == "construct")}%18.1f")
      }
  }
}
