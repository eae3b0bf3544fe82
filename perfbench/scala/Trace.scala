package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Levels: workload -> operation (ingest pass, query,
  * table op, kernel call) -> Catalyst phase or Spark job -> stage.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Span recorder. Operation spans come from the benchmark's own calls into
  * each layer; job, stage and Catalyst-phase spans from a SparkListener and
  * a QueryExecutionListener, which are only registered when tracing is on.
  * Everything stays in memory until [[toJson]] at exit.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  private val ops = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val t0 = Clock.nowMs

  private final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  private final case class Task(stage: Int, durMs: Double, runMs: Double, cpuNs: Double,
      gcMs: Double, inBytes: Double, shWrite: Double, shRead: Double, spill: Double)
  private final case class Stage(id: Int, name: String, start: Double, end: Double)
  private final case class Phase(name: String, start: Double, end: Double)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val phases = mutable.ArrayBuffer.empty[Phase]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val j = Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
      jobs += j; jobById(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += Stage(i.stageId, i.name, s.toDouble, c.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.duration.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime.toDouble, m.jvmGCTime.toDouble,
        m.inputMetrics.bytesRead.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
        m.shuffleReadMetrics.totalBytesRead.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
  }

  /** Register the listeners; operations from here on become spans. */
  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Time one operation; with tracing on it also becomes a span. */
  def op[T](name: String, layer: String = "op")(f: => T): (T, Double) = {
    val s = Clock.nowMs
    val r = f
    val e = Clock.nowMs
    if (on) synchronized { ops += Span(nextId, 0, name, layer, s, e); nextId += 1 }
    (r, (e - s) / 1e3)
  }

  /** Drain, then stop listening. */
  def pause(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Rounds alternating untraced and traced, until `budget` seconds have
    * passed and each side has run `min` rounds; returns (untraced, traced).
    * Alternating keeps warm-up drift out of the tracing-overhead estimate.
    * Listening stays on afterwards.
    */
  def alternate[T](budget: Double, min: Int)(round: Int => T): (Seq[T], Seq[T]) = {
    val untraced, traced = Seq.newBuilder[T]
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 * min || (System.nanoTime() - t0) / 1e9 < budget) {
      if (i % 2 == 0) { pause(); untraced += round(i) }
      else { start(); traced += round(i) }
      i += 1
    }
    start()
    (untraced.result(), traced.result())
  }

  private def opSpans(from: Double, to: Double): Seq[Span] =
    ops.filter(o => o.start >= from && o.end <= to).toSeq

  /** Jobs whose start falls inside `o` (one closed-loop client, so every job
    * started during an operation belongs to it).
    */
  private def jobsIn(o: Span): Seq[Job] =
    jobs.filter(j => j.start >= o.start - 1 && j.start <= o.end + 1 && !j.end.isNaN).toSeq

  /** Seconds of `o`'s wall not covered by any of its Spark jobs. */
  def driverSeconds(o: Span): Double =
    math.max(0.0, o.dur - Stats.unionLength(jobsIn(o).map(j =>
      (math.max(j.start, o.start), math.min(j.end, o.end))))) / 1e3

  def jobCount(o: Span): Int = jobsIn(o).size

  def opsOf(layer: String, from: Double, to: Double): Seq[Span] =
    opSpans(from, to).filter(_.layer == layer)

  /** Catalyst, executor and driver per-layer figures for the traced window
    * [from, to], normalised per pass. `cores` is the local[N] width.
    */
  def layerMetrics(from: Double, to: Double, passes: Int, cores: Int, out: Result): Unit = {
    val win = opSpans(from, to)
    val wJobs = win.flatMap(jobsIn).distinct
    val stageIds = wJobs.flatMap(_.stages).toSet
    val wTasks = tasks.filter(t => stageIds(t.stage))
    val wStages = stages.filter(s => stageIds(s.id))
    val p = math.max(1, passes).toDouble
    def phase(n: String) =
      phases.filter(ph => ph.name == n && ph.start >= from && ph.end <= to).map(ph => ph.end - ph.start).sum / 1e3 / p
    out.layers("catalyst.analysis_s") = (phase("analysis"), "s")
    out.layers("catalyst.optimization_s") = (phase("optimization"), "s")
    out.layers("catalyst.planning_s") = (phase("planning"), "s")
    out.layers("exec.jobs") = (wJobs.size / p, "count")
    out.layers("exec.stages") = (wStages.size / p, "count")
    out.layers("exec.tasks") = (wTasks.size / p, "count")
    out.layers("exec.task_run_s") = (wTasks.map(_.runMs).sum / 1e3 / p, "s")
    out.layers("exec.task_cpu_s") = (wTasks.map(_.cpuNs).sum / 1e9 / p, "s")
    out.layers("exec.gc_s") = (wTasks.map(_.gcMs).sum / 1e3 / p, "s")
    out.layers("exec.input_mb") = (wTasks.map(_.inBytes).sum / 1e6 / p, "MB")
    out.layers("exec.shuffle_write_mb") = (wTasks.map(_.shWrite).sum / 1e6 / p, "MB")
    out.layers("exec.shuffle_read_mb") = (wTasks.map(_.shRead).sum / 1e6 / p, "MB")
    out.layers("exec.spill_mb") = (wTasks.map(_.spill).sum / 1e6 / p, "MB")
    val opWall = Stats.unionLength(win.map(o => (o.start, o.end)))
    out.layers("exec.busy_frac") =
      (wTasks.map(_.durMs).sum / math.max(1e-9, opWall * cores), "ratio")
    val stageToJob = wJobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val skews = wTasks.groupBy(t => stageToJob(t.stage)).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durMs)
      d.max / math.max(1.0, Stats.median(d))
    }
    out.layers("exec.task_skew") = (if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio")
    val covered = Stats.unionLength(wJobs.map(j => (math.max(j.start, from), math.min(j.end, to))).toSeq)
    out.layers("driver.gap_s") = (math.max(0.0, opWall - covered) / 1e3 / p, "s")
  }

  /** All spans as one tree: workload root, operations, Catalyst phases and
    * jobs under the operation they fall in, stages under their job.
    */
  def spans(workload: String): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    val end = (ops.map(_.end) ++ jobs.filterNot(_.end.isNaN).map(_.end) :+ Clock.nowMs).max
    out += Span(0, -1, workload, "workload", t0, end)
    var id = ops.size + 1
    val sortedOps = ops.sortBy(_.start)
    def parentOf(t: Double): Int =
      sortedOps.find(o => t >= o.start - 1 && t <= o.end + 1).map(_.id).getOrElse(0)
    out ++= ops
    phases.foreach { ph =>
      out += Span(id, parentOf(ph.start), ph.name, "catalyst", ph.start, ph.end); id += 1
    }
    val jobSpan = mutable.HashMap.empty[Int, Int]
    jobs.filterNot(_.end.isNaN).foreach { j =>
      out += Span(id, parentOf(j.start), s"job ${j.id}", "job", j.start, j.end)
      j.stages.foreach(s => jobSpan(s) = id); id += 1
    }
    stages.foreach { s =>
      out += Span(id, jobSpan.getOrElse(s.id, 0), s"stage ${s.id}", "stage", s.start, s.end); id += 1
    }
    out.toSeq
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer.
    */
  def selfTimes(all: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).toSeq.map { case (layer, ss) =>
      val self = ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        math.max(0.0, s.dur - Stats.unionLength(c))
      }.sum
      (layer, ss.size, ss.map(_.dur).sum / 1e3, self / 1e3)
    }.sortBy(-_._4)
  }

  def toJson(workload: String, extra: Map[String, Any]): String = {
    val all = spans(workload)
    Json.render(Map(
      "workload" -> workload,
      "time_unit" -> "epoch ms",
      "layers_self_time" -> selfTimes(all).map { case (l, n, tot, self) =>
        Map("layer" -> l, "spans" -> n, "total_s" -> tot, "self_s" -> self) },
      "per_layer" -> extra,
      "spans" -> all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end))))
  }
}
