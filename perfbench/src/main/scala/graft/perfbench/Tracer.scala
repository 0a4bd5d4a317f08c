package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `op` is the id of the operation span the interval
 * belongs to (shared by every span of one operation); times are on the
 * harness's `System.nanoTime` clock. */
final class Span(
    val id: Int,
    val parent: Int,
    val op: Int,
    val kind: String,
    val name: String,
    val start: Long) {
  var end: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** Records spans around the harness's calls into the engine and keeps them
 * in memory until the run ends.
 *
 * Untraced, only the workload and its operations get spans: that is what
 * the end-to-end metrics need. Traced, each operation's phases get spans
 * too, each phase runs under its own Spark job group, and a SparkListener
 * registered here turns the jobs and stages launched in that group into
 * child spans of the phase, with their task counters. Jobs that start
 * while an operation runs but in none of its groups are listed on the
 * operation, so the trace self-check can fail on them. Nothing is traced
 * inside the engine. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  // listener events carry epoch milliseconds; this maps them onto nanoTime,
  // read just after the millisecond clock ticks, so a mapped event time is
  // at most 1 ms early and never late
  private val epochToNano = {
    val m = System.currentTimeMillis()
    while (System.currentTimeMillis() == m) {}
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  }
  private val listener = new GroupListener
  if (traced) sc.addSparkListener(listener)

  /** Jobs that had posted no JobEnd when their operation settled. */
  var unsettledJobs = 0

  private def open(parent: Span, op: Int, kind: String, name: String): Span = {
    val id = spans.size
    val s = new Span(id, if (parent == null) -1 else parent.id, if (op < 0) id else op, kind, name,
      System.nanoTime())
    spans += s
    s
  }

  private def timed[T](s: Span)(body: => T): T =
    try body
    finally s.end = System.nanoTime()

  def workload[T](name: String)(body: Span => T): T = {
    val s = open(null, -1, "workload", name)
    timed(s)(body(s))
  }

  /** An operation (a query or a job run). Traced, its Spark jobs and stages
   * are attached once every job started in its groups has posted JobEnd. */
  def operation[T](workload: Span, name: String)(body: Span => T): T = {
    val s = open(workload, -1, "op", name)
    try timed(s)(body(s))
    finally if (traced) settle(s)
  }

  /** A phase of `op`: build, analyze, optimize, plan or execute for a
   * query; the job call for a job operation. */
  def phase[T](op: Span, name: String)(body: => T): T =
    if (!traced) body
    else {
      val s = open(op, op.op, "phase", name)
      sc.setJobGroup(group(op, name), name, interruptOnCancel = false)
      try timed(s)(body)
      finally sc.clearJobGroup()
    }

  private def group(op: Span, phase: String) = s"${GroupListener.Prefix}${op.op}:$phase"

  /** Barrier without sleeping: a one-task job submitted now posts its
   * JobEnd after every event the operation's jobs posted, and the listener
   * bus delivers events in order; jobs still running after that (none in
   * a closed loop) are waited for by their own JobEnd. */
  private def settle(op: Span): Unit = {
    sc.setJobGroup(GroupListener.Barrier, "barrier", interruptOnCancel = false)
    val seen = listener.barriersSeen
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    listener.awaitBarrier(seen + 1)
    val prefix = s"${GroupListener.Prefix}${op.op}:"
    val jobs = listener.awaitJobs(prefix)
    // jobs that started while the operation ran but carry none of its
    // groups: time the phases cannot account for (the check fails on any)
    val slack = 2000000L // ns; listener times have millisecond resolution
    val foreign = listener.takeForeign().filter { j =>
      ms(j.startMs) >= op.start - slack && ms(j.startMs) <= op.end + slack
    }
    unsettledJobs += (jobs ++ foreign).count(_.endMs < 0)
    op.attrs("foreign_jobs") = foreign.map { j =>
      Seq(ms(j.startMs), if (j.endMs < 0) op.end else ms(j.endMs), j.group, j.callSite)
    }
    val phases = spans.filter(s => s.op == op.op && s.kind == "phase").map(s => s.name -> s).toMap
    for (j <- jobs; ph <- phases.get(j.group.stripPrefix(prefix))) {
      val js = new Span(spans.size, ph.id, op.op, "job", j.callSite, ms(j.startMs))
      js.end = if (j.endMs < 0) ph.end else ms(j.endMs)
      js.attrs("api") = j.api
      spans += js
      for (st <- listener.stagesOf(j)) {
        val ss = new Span(spans.size, js.id, op.op, "stage", st.name, ms(st.submitMs))
        ss.end = ms(st.doneMs)
        ss.attrs ++= Seq(
          "tasks" -> st.tasks, "run_ms" -> st.runMs, "cpu_ns" -> st.cpuNs, "gc_ms" -> st.gcMs,
          "shuffle_write_bytes" -> st.shuffleWrite, "shuffle_read_bytes" -> st.shuffleRead,
          "spill_bytes" -> st.spill)
        spans += ss
      }
    }
    listener.forget(prefix)
  }

  private def ms(epochMs: Long): Long = epochMs * 1000000L - epochToNano

  def all: Seq[Span] = spans.toSeq
}

private object GroupListener {
  val Prefix = "perfbench:"
  val Barrier = "perfbench-barrier"
  final class Job(val id: Int, val group: String, val callSite: String, val api: String,
      val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class Stage(val id: Int, val name: String) {
    var submitMs, doneMs = -1L
    var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  }
}

/** Ties Spark jobs to harness job groups, keeps the jobs that ran in no
 * harness group, and sums each stage's task counters from TaskEnd events.
 * All state sits behind one lock; waiters are woken by JobEnd. */
private final class GroupListener extends SparkListener {
  import GroupListener._
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val barrierJobs = mutable.HashSet.empty[Int]
  // jobs in no harness group, kept until the next operation settles
  private val foreign = mutable.LinkedHashMap.empty[Int, Job]
  private var barriers = 0L

  def barriersSeen: Long = lock.synchronized(barriers)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(Prefix)) lock.synchronized {
      // the result stage is created last; its name is the job's call site
      // and its details start with the public API call that launched it
      val result = e.stageInfos.maxByOption(_.stageId)
      jobs(e.jobId) = new Job(e.jobId, g, result.map(_.name).getOrElse(""),
        result.map(_.details.takeWhile(_ != '\n')).getOrElse(""), e.time, e.stageIds)
      e.stageInfos.foreach(si => stages.getOrElseUpdate(si.stageId, new Stage(si.stageId, si.name)))
    }
    else if (g == Barrier) lock.synchronized(barrierJobs += e.jobId)
    else lock.synchronized {
      foreign(e.jobId) = new Job(e.jobId, Option(g).getOrElse(""),
        e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""), "", e.time, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).orElse(foreign.get(e.jobId)) match {
      case Some(j) => j.endMs = e.time
      case None => if (barrierJobs.remove(e.jobId)) barriers += 1
    }
    lock.notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submitMs = e.stageInfo.submissionTime.getOrElse(-1L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      if (s.submitMs < 0) s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
      s.doneMs = e.stageInfo.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def awaitBarrier(n: Long): Unit = lock.synchronized {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (barriers < n && System.nanoTime() < deadline) lock.wait(1000)
    if (barriers < n) throw new IllegalStateException("listener barrier not reached in 60 s")
  }

  /** The jobs of every group starting with `prefix`, once each has ended
   * (or after 30 s; an unended job is returned with endMs < 0). */
  def awaitJobs(prefix: String): Seq[Job] = lock.synchronized {
    def mine = jobs.values.filter(_.group.startsWith(prefix)).toSeq
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (mine.exists(_.endMs < 0) && System.nanoTime() < deadline) lock.wait(1000)
    mine
  }

  /** Every job started in no harness group since the last call, once each
   * has ended (or after 30 s). */
  def takeForeign(): Seq[Job] = lock.synchronized {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (foreign.values.exists(_.endMs < 0) && System.nanoTime() < deadline) lock.wait(1000)
    val all = foreign.values.toSeq
    foreign.clear()
    all
  }

  /** Stages that ran for job `j`: a stage shared with an earlier job (a
   * reused shuffle) belongs to the job that ran it first. */
  def stagesOf(j: Job): Seq[Stage] = lock.synchronized {
    j.stageIds.sorted.flatMap(stages.get).filter { s =>
      s.submitMs >= 0 && s.doneMs >= 0 &&
        !jobs.values.exists(o => o.id < j.id && o.stageIds.contains(s.id))
    }
  }

  def forget(prefix: String): Unit = lock.synchronized {
    val done = jobs.values.filter(_.group.startsWith(prefix)).toSeq
    done.foreach { j => jobs.remove(j.id); j.stageIds.foreach(stages.remove) }
  }
}
