package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the id shared by every span of one
  * operation (a query, a build, a pipeline pass); `parent` is -1 for the
  * operation's root span. Times are epoch nanoseconds (start from
  * currentTimeMillis, advanced with nanoTime) so they line up with the
  * scheduler's epoch-millisecond task times.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
  /** The layer is the span name's first dotted segment. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Span recorder for the single closed-loop client thread. With tracing
  * off it only times operations; with tracing on it keeps every span in
  * memory and passes each span's id to `setJobGroup`, so the scheduler
  * listener can attribute jobs to the innermost span that ran them.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[(Int, Int)] = Nil // (span id, op id)
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  private def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  def group(spanId: Int): String = s"perfbench-$spanId"

  /** Id of the operation the innermost open span belongs to. */
  def currentOp: Option[Int] = stack.headOption.map(_._2)

  /** Root span of a new operation; returns the result and wall seconds. */
  def op[T](name: String)(f: => T): (T, Double) = {
    require(stack.isEmpty, s"operation $name started inside another")
    timed(name)(f)
  }

  /** Child span of the innermost open span; just runs `f` when tracing is
    * off or no operation is open.
    */
  def span[T](name: String)(f: => T): T =
    if (!enabled || stack.isEmpty) f else timed(name)(f)._1

  private def timed[T](name: String)(f: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = f
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val id = nextId
    nextId += 1
    val (parent, opId) = stack.headOption.getOrElse((-1, id))
    stack = (id, opId) :: stack
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val t0 = now()
    try {
      val r = f
      val t1 = now()
      spans += Span(id, opId, name, parent, t0, t1)
      (r, (t1 - t0) / 1e9)
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some((p, _)) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Span duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(c => (c.start, c.end)).toSeq
    (s.end - s.start - Intervals.covered(kids)) / 1e9
  }

  /** Spans as JSON lines, written when the run ends. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"op":${s.op},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Intervals {
  /** Total length covered by the union of half-open intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Scheduler counts of one span's jobs. Byte and time sums come from the
  * completed stages; task intervals (epoch ms) from task-end events.
  */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskBusyMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

object SchedListener {
  private final case class Job(group: String, startMs: Long,
                               stats: GroupStats)
}

/** Attributes every job, stage and task to the job group it was submitted
  * under, read from the job's own properties at `SparkListenerJobStart` —
  * never from a shared "current key", which races with the listener bus.
  * Stages and tasks map to a job through the stage ids the job submitted.
  */
final class SchedListener extends SparkListener {
  import SchedListener.Job
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val orphan = new GroupStats // stages of jobs never seen starting

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(g, e.time, new GroupStats)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  private def statsOf(stageId: Int): GroupStats =
    stageJob.get(stageId).flatMap(jobs.get).map(_.stats).getOrElse(orphan)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val st = statsOf(info.stageId)
      val m = info.taskMetrics
      st.stages += 1
      st.tasks += info.numTasks
      if (m != null) {
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.inputBytes += m.inputMetrics.bytesRead
        st.spillBytes += m.diskBytesSpilled
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = statsOf(e.stageId)
    val ti = e.taskInfo
    st.taskBusyMs += ti.finishTime - ti.launchTime
    st.taskIntervals += ti.launchTime -> ti.finishTime
  }

  /** Per-group stats once the bus has drained, and the number of jobs
    * attributed by time. A job whose group does not name a span that was
    * open when the job started goes to the innermost span open then. Two
    * cases need this: the program sets its own job group (IndexBuilder's
    * stages run under `graft:<stage>` and clear the group on exit), and
    * the program's `Future`s run on pooled threads, which copy the group
    * when the thread is created, not when the task is queued. With one
    * closed-loop client the open span is the operation that ran the job.
    */
  def resolve(sc: SparkContext, spans: Seq[Span],
              group: Int => String): (Map[String, GroupStats], Int) = {
    org.apache.spark.ListenerDrain(sc)
    synchronized {
      val byName = spans.map(s => group(s.id) -> s).toMap
      def ms(ns: Long) = ns / 1000000L
      def openAt(t: Long): Option[Span] = spans
        .filter(s => ms(s.start) <= t && t <= ms(s.end))
        .sortBy(s => s.end - s.start).headOption // shortest = innermost
      var byTime = 0
      val out = mutable.HashMap.empty[String, GroupStats]
      jobs.values.foreach { j =>
        val target = byName.get(j.group) match {
          case Some(s) if ms(s.start) <= j.startMs && j.startMs <= ms(s.end) =>
            j.group
          case _ => openAt(j.startMs) match {
            case Some(o) => byTime += 1; group(o.id)
            case None => j.group // outside every span: not an operation's
          }
        }
        val o = out.getOrElseUpdate(target, new GroupStats)
        val st = j.stats
        o.jobs += 1
        o.stages += st.stages; o.tasks += st.tasks
        o.shuffleReadBytes += st.shuffleReadBytes
        o.shuffleWriteBytes += st.shuffleWriteBytes
        o.inputBytes += st.inputBytes; o.spillBytes += st.spillBytes
        o.cpuNs += st.cpuNs; o.gcMs += st.gcMs
        o.taskBusyMs += st.taskBusyMs; o.taskIntervals ++= st.taskIntervals
      }
      (out.toMap, byTime)
    }
  }
}
