package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.util.control.NonFatal

/** Task metrics summed over the tasks of one Spark job. */
final class TaskSums {
  var tasks = 0L
  var cpuMs = 0.0
  var runMs = 0.0
  var gcMs = 0.0
  var schedDelayMs = 0.0
  var inputBytes = 0L
  var shuffleBytes = 0L
  var resultBytes = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; cpuMs += o.cpuMs; runMs += o.runMs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; inputBytes += o.inputBytes
    shuffleBytes += o.shuffleBytes; resultBytes += o.resultBytes
  }
}

final class JobRec(val jobId: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  val stages = mutable.LinkedHashMap[Int, (Long, Long)]() // stage -> (submitted, completed)
  val sums = new TaskSums
}

/** Records every Spark job with the job group it ran under, and the task
  * metrics of its stages, while it is registered. Events arrive on Spark's
  * listener thread, so every access goes through this object's lock.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val rec = new JobRec(e.jobId, group.orNull, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (j <- stageJob.get(si.stageId); rec <- jobs.get(j); sub <- si.submissionTime;
         done <- si.completionTime if si.numTasks > 0)
      rec.stages(si.stageId) = (sub, done)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
      val s = rec.sums
      val info = e.taskInfo
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.cpuMs += m.executorCpuTime / 1e6
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.resultBytes += m.resultSize
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  /** Blocks until the job run under `group` has ended (or `waitMs`
    * passes), then forgets it. Events reach a listener in the order Spark
    * posted them, so every event of an earlier job has arrived by then.
    */
  def awaitEnd(group: String, waitMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + waitMs
    def ended = synchronized(jobs.values.exists(j => j.group == group && j.endMs >= 0))
    while (!ended && System.currentTimeMillis() < deadline) Thread.sleep(1)
    synchronized(jobs.filterInPlace((_, j) => j.group != group))
  }

  /** Jobs started so far; blocks until each has ended (or `waitMs` passes). */
  def settled(waitMs: Long): Seq[JobRec] = {
    val deadline = System.currentTimeMillis() + waitMs
    def open = synchronized(jobs.values.count(_.endMs < 0))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    synchronized(jobs.values.toList)
  }
}

/** One timed call into a layer of the program. */
final case class Call(id: Long, op: String, parent: String, startMs: Double, wallMs: Double,
                      ok: Boolean, vectors: Int, traced: Boolean) {
  def group: String = s"perfbench-$id"
  def endMs: Double = startMs + wallMs
}

/** A span as written to the trace file: one per call, with one child per
  * Spark job of that call and one grandchild per stage.
  */
final case class Span(id: String, name: String, parent: String, startMs: Double, endMs: Double)

/** Times calls into the program. In a traced run every other call of
  * each type (op and number of query vectors) is traced: the listener is
  * registered for it alone, and it runs under its own Spark job group so
  * the listener can hand its jobs back to it. The untraced calls of the
  * same run pay for neither, so they give the tracing overhead.
  */
final class Recorder(sc: SparkContext, val listener: Option[JobListener]) {
  val calls = mutable.ArrayBuffer[Call]()
  private var nextId = 0L
  private val seen = mutable.HashMap[String, Int]().withDefaultValue(0)
  private var flip = 0
  var parent: String = "workload"
  /** Time spent registering and draining the listener around traced
    * calls; the loop clock leaves it out.
    */
  var tracingNs = 0L

  /** Restarts the per-type alternation; `flipped` traces the other half. */
  def restartAlternation(flipped: Boolean): Unit = { seen.clear(); flip = if (flipped) 1 else 0 }

  /** Runs `f` as one call; None when it threw. */
  def call[T](op: String, vectors: Int = 0, alwaysTrace: Boolean = false)(f: => T): Option[T] = {
    nextId += 1
    val id = nextId
    val kind = s"$op/$vectors"
    val traced = listener.isDefined && (alwaysTrace || (seen(kind) + flip) % 2 == 0)
    seen(kind) += 1
    if (traced) {
      val a0 = System.nanoTime()
      listener.foreach(sc.addSparkListener)
      sc.setJobGroup(s"perfbench-$id", op, interruptOnCancel = false)
      tracingNs += System.nanoTime() - a0
    }
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val out = try Some(f) catch { case NonFatal(e) =>
      System.err.println(s"perfbench: $op failed: $e")
      None
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    if (traced) {
      val d0 = System.nanoTime()
      drain(id)
      tracingNs += System.nanoTime() - d0
    }
    calls += Call(id, op, parent, startMs, wallMs, out.isDefined, vectors, traced)
    out
  }

  /** Marks the most recent call as failed (its result was wrong). */
  def failLast(): Unit = if (calls.nonEmpty) calls(calls.size - 1) = calls.last.copy(ok = false)

  /** Runs a one-task marker job and waits until the listener has seen it
    * end, so every event of the traced call has arrived; then unregisters
    * the listener.
    */
  private def drain(id: Long): Unit = listener.foreach { l =>
    val group = s"perfbench-drain-$id"
    sc.setJobGroup(group, "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    l.awaitEnd(group, 10000)
    sc.removeSparkListener(l)
  }
}

/** Joins calls with their jobs after the run: spans, self time and
  * per-call job shapes.
  */
final class TraceView(calls: Seq[Call], jobs: Seq[JobRec]) {
  private val byGroup: Map[String, Seq[JobRec]] =
    jobs.filter(_.group != null).groupBy(_.group)

  def jobsOf(c: Call): Seq[JobRec] = byGroup.getOrElse(c.group, Nil)

  /** Part of the call's interval that its jobs cover (union of intervals). */
  def childMs(c: Call): Double = {
    val iv = jobsOf(c).map { j =>
      val end = if (j.endMs < 0) c.endMs else j.endMs.toDouble
      (math.max(c.startMs, j.startMs.toDouble), math.min(c.endMs, end))
    }.filter(p => p._2 > p._1).sortBy(_._1)
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
    covered
  }

  def selfMs(c: Call): Double = c.wallMs - childMs(c)

  def sums(c: Call): TaskSums = {
    val t = new TaskSums
    jobsOf(c).foreach(j => t.add(j.sums))
    t
  }

  def stages(c: Call): Int = jobsOf(c).map(_.stages.size).sum

  /** Jobs that started inside one of `calls` but carry no job group, so
    * they cannot be handed back to the call (e.g. run from a thread that
    * did not inherit the group).
    */
  def unattributed(calls: Seq[Call]): Int = jobs.count { j =>
    j.group == null && calls.exists(c => j.startMs >= c.startMs && j.startMs <= c.endMs)
  }

  def spans: Seq[Span] = calls.filter(_.traced).flatMap { c =>
    val cs = s"call-${c.id}"
    Span(cs, s"vdbstore.${c.op}", c.parent, c.startMs, c.endMs) +:
      jobsOf(c).flatMap { j =>
        val js = s"job-${j.jobId}"
        Span(js, "spark.job", cs, j.startMs.toDouble, j.endMs.toDouble) +:
          j.stages.toSeq.map { case (s, (a, b)) =>
            Span(s"stage-$s", "spark.stage", js, a.toDouble, b.toDouble)
          }
      }
  }
}
