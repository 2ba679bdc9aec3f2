package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed call into a layer's public entry point. `op` is
  * the id of the benchmark operation (request, step, sink tick) the span
  * belongs to; `parent` is the enclosing span's id, -1 for a root. */
final case class Span(id: Int, name: String, op: String, parent: Int,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark's per-job and per-task accounting, scoped to benchmark ops. */
final case class JobRec(id: Int, op: String, start: Long, end: Long)
final class StageRec(val op: String) {
  var tasks = 0
  val runMs = mutable.ArrayBuffer[Long]()
}
final class OpExec {
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Spans kept in memory (written out once, at exit) plus a SparkListener
  * and a StreamingQueryListener. With `enabled = false` every method is a
  * pass-through: no listener is registered and no span is recorded, so
  * end-to-end numbers are measured untraced.
  *
  * Jobs are attributed to the op whose id the client thread set as a
  * local property when the job was submitted; Bulk extract jobs run on
  * a pool thread and are attributed through their job group, which
  * equals the Bulk job id.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  val OpKey = "graftbench.op"
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with nanoTime resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  private val groupOp = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  val jobs = mutable.ArrayBuffer[JobRec]()
  private val stageOp = mutable.Map[Int, String]()
  val stages = mutable.Map[Int, StageRec]()
  val opExec = mutable.Map[String, OpExec]()
  /** (streaming query run id, batch start epoch ms, durationMs) */
  val progress = mutable.ArrayBuffer[(String, Long, Map[String, Long])]()

  /** Runs `body` as benchmark op `op`: a root span, and the local
    * property every job it submits carries. */
  def op[T](op: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      spark.sparkContext.setLocalProperty(OpKey, op)
      try span(name, op)(body)
      finally spark.sparkContext.setLocalProperty(OpKey, null)
    }

  /** A child span of the current op (or a root span with `op`). */
  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val (parent, o) = stack match {
        case (p, po) :: _ => (p, if (op.nonEmpty) op else po)
        case Nil => (-1, op)
      }
      stack = (id, o) :: stack
      val start = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, o, parent, start, nowMs)
      }
    }

  /** Bulk jobs run under job group `group`; charge them to `op`. */
  def bindGroup(group: String, op: String): Unit =
    if (enabled) groupOp.put(group, op)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val op = group.flatMap(g => Option(groupOp.get(g)))
        .orElse(props.flatMap(p => Option(p.getProperty(OpKey))))
        .getOrElse("")
      Trace.this.synchronized {
        jobStart(e.jobId) = (op, e.time)
        e.stageIds.foreach(s => if (!stageOp.contains(s)) stageOp(s) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (op, t) =>
          jobs += JobRec(e.jobId, op, t, e.time)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val op = stageOp.getOrElse(e.stageInfo.stageId, "")
        stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(op))
          .tasks = e.stageInfo.numTasks
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          val op = stageOp.getOrElse(e.stageId, "")
          stages.getOrElseUpdate(e.stageId, new StageRec(op))
            .runMs += m.executorRunTime
          val acc = opExec.getOrElseUpdate(op, new OpExec)
          acc.runMs += m.executorRunTime
          acc.cpuNs += m.executorCpuTime
          acc.gcMs += m.jvmGCTime
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val m = Map.newBuilder[String, Long]
      d.forEach((k, v) => m += (k -> v.longValue))
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      Trace.this.synchronized { progress += ((p.runId.toString, ts, m.result())) }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every listener event posted so far was delivered. */
  def drain(): Unit =
    if (enabled) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  /** Jobs charged to ops satisfying `keep`. */
  def jobsOf(keep: String => Boolean): Seq[JobRec] =
    synchronized(jobs.filter(j => keep(j.op)).toSeq)

  /** Op wall time during which none of its jobs ran. */
  def driverGapMs(root: Span, opJobs: Seq[JobRec]): Double = {
    val iv = opJobs.map(j => (math.max(j.start.toDouble, root.start),
      math.min(j.end.toDouble, root.end))).filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    math.max(0.0, root.ms - covered)
  }

  /** Executor-side layer metrics over the ops satisfying `keep`, with
    * `wallMs` the timed window and `cores` the local[N] width. */
  def execMetrics(keep: String => Boolean, roots: Seq[Span], wallMs: Double,
      cores: Int): Map[String, Double] = synchronized {
    val js = jobs.filter(j => keep(j.op))
    val byOp = js.groupBy(_.op)
    val gaps = roots.map(r => driverGapMs(r, byOp.getOrElse(r.op, Nil).toSeq))
    val st = stages.values.filter(s => keep(s.op)).toSeq
    val acc = opExec.filter(kv => keep(kv._1)).values.toSeq
    val nOps = math.max(1, roots.size).toDouble
    val skews = st.filter(_.runMs.size >= 2).map { s =>
      val mean = s.runMs.sum.toDouble / s.runMs.size
      if (mean > 0) s.runMs.max / mean else 1.0
    }
    Map(
      "exec.jobs_per_op" -> js.size / nOps,
      "exec.stages_1task_share" ->
        (if (st.isEmpty) 0.0 else st.count(_.tasks == 1).toDouble / st.size),
      "exec.driver_gap_ms" -> Stats.median(gaps),
      "exec.busy" -> (if (wallMs > 0)
        acc.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "exec.task_cpu_ms" -> acc.map(_.cpuNs).sum / 1e6 / nOps,
      "exec.gc_ms" -> acc.map(_.gcMs).sum / nOps,
      "exec.shuffle_write_bytes" -> acc.map(_.shuffleWrite).sum / nOps,
      "exec.spill_bytes" -> acc.map(_.spill).sum / nOps,
      "exec.skew_max_mean" -> (if (skews.isEmpty) 0.0 else skews.max))
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
    "start_ms" -> s.start, "end_ms" -> s.end))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
