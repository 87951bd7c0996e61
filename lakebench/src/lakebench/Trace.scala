package lakebench

import org.apache.spark.scheduler._

/** One traced interval: an op (parent -1, opId = its op), a layer call
  * inside one, or a probe outside every op (parent -1, opId -1).
  * `firstJob` until `endJob` (exclusive) are the ids of the Spark jobs
  * submitted while it was open. */
final case class Span(id: Int, parent: Int, opId: Int, name: String,
                      startNs: Long, firstJob: Int) {
  var endNs: Long = -1L
  var endJob: Int = -1
  def ms: Double = (endNs - startNs) / 1e6
  def holds(jobId: Int): Boolean = jobId >= firstJob && jobId < endJob
}

/** In-memory spans around the benchmark's own calls into each module.
  * There is a single client thread, so the open-span stack is plain
  * state. Each span reads the scheduler's job counter when it opens and
  * closes; every job the call submits, from the client thread or from a
  * worker thread it waits for, gets an id in between. Disabled, [[span]]
  * is a bare call. */
final class Trace(val enabled: Boolean, jobCursor: () => Int) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1

  // span instants on the same clock the scheduler stamps jobs with
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  def epochMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  def spans: Seq[Span] = buf.toSeq

  /** The id the next submitted job will get. */
  def nextJob: Int = jobCursor()

  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    try span(name)(body) finally currentOp = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(buf.size, stack.headOption.map(_.id).getOrElse(-1),
        currentOp, name, System.nanoTime(), jobCursor())
      buf += s
      stack = s :: stack
      try body
      finally {
        s.endJob = jobCursor()
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Time `body` as a span and also return its milliseconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Per-job Spark counters, gathered by a listener the benchmark
  * attaches in traced runs. Jobs are later attributed to spans by id. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val submitMs: Long, val details: String) {
    @volatile var endMs: Long = -1L
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }

  private val jobs =
    new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob =
    new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  def all: Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.id)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time,
      e.stageInfos.map(_.details).mkString("\n"))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
      j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Joins spans with listener jobs: per-op Spark counters, per-layer
  * times and job counts, and the reconciliation checks. A job counts in
  * every span whose id range holds it: its own span and that span's
  * ancestors, never a sibling. */
final class Attribution(trace: Trace, jobs: Seq[JobListener#Job]) {
  private val byOp: Map[Int, Seq[Span]] =
    trace.spans.filter(_.opId >= 0).groupBy(_.opId)

  def opSpan(opId: Int): Option[Span] =
    byOp.getOrElse(opId, Nil).find(_.parent < 0)

  def jobsOf(s: Span): Seq[JobListener#Job] = jobs.filter(j => s.holds(j.id))

  /** Union of the intervals of `js`, clipped to span `s`, in ms. */
  def activeMs(s: Span, js: Seq[JobListener#Job]): Double = {
    val lo = trace.epochMs(s.startNs)
    val hi = trace.epochMs(s.endNs)
    val iv = js.map { j =>
      val end = if (j.endMs < 0) hi else j.endMs.toDouble
      (math.max(lo, j.submitMs.toDouble), math.min(hi, end))
    }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    iv.foreach { case (a, b) =>
      if (curLo.isNaN || a > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }

  /** Layer spans of one op named `name`. */
  def layer(opId: Int, name: String): Seq[Span] =
    byOp.getOrElse(opId, Nil).filter(_.name == name)

  /** Spark counters of one op, keyed by the metric suffix. `driver_ms`
    * is, by definition, the op's wall time not covered by its jobs. */
  def sparkOf(opId: Int): Map[String, Double] = opSpan(opId) match {
    case None => Map.empty
    case Some(s) =>
      val js = jobsOf(s)
      val active = activeMs(s, js)
      Map(
        "jobs" -> js.size.toDouble,
        "stages" -> js.map(_.stages).sum.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "task_ms" -> js.map(_.taskMs).sum.toDouble,
        "gc_ms" -> js.map(_.gcMs).sum.toDouble,
        "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
        "input_bytes" -> js.map(_.inputBytes).sum.toDouble,
        "output_bytes" -> js.map(_.outputBytes).sum.toDouble,
        "job_active_ms" -> active,
        "driver_ms" -> (s.ms - active))
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfMs(s: Span): Double =
    s.ms - trace.spans.filter(_.parent == s.id).map(_.ms).sum

  /** Checks that can fail: (a) every job with an id in `timedJobs` —
    * the timed loop — belongs to exactly one top-level span (an op or a
    * probe) and the listener saw every job submitted in it; (b) each
    * traced op's span lasts as long as the op's own record, within 25 ms
    * plus 2 % (the record's clock also covers the wrapper). */
  def reconcile(timedJobs: Range, recs: Seq[OpRec]): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val top = trace.spans.filter(_.parent < 0)
    val seen = jobs.map(_.id).toSet
    timedJobs.foreach { id =>
      val owners = top.filter(_.holds(id))
      if (owners.size != 1)
        problems += s"job $id belongs to ${owners.size} top-level spans " +
          owners.map(_.name).mkString("(", ",", ")")
      if (!seen(id)) problems += s"job $id never reached the listener"
    }
    recs.filter(_.traced).foreach { r =>
      val wall = (r.endNs - r.startNs) / 1e6
      opSpan(r.id) match {
        case None => problems += s"op ${r.id} has no span"
        case Some(s) =>
          if (math.abs(s.ms - wall) > 25.0 + 0.02 * wall)
            problems += f"op ${r.id}: span ${s.ms}%.3f ms, record $wall%.3f ms"
      }
    }
    problems.toSeq
  }
}
