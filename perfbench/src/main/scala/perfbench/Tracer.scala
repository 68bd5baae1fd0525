package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call the benchmark made into a layer. `parent` is -1 at the
  * top; spans of one operation share `op`. Times are milliseconds since
  * the tracer started. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Spark work counted per job by [[JobCounter]]. */
final case class SparkCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, inputBytes: Long = 0,
    spillBytes: Long = 0, busyMs: Long = 0, failedTasks: Long = 0) {
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, inputBytes + o.inputBytes,
    spillBytes + o.spillBytes, busyMs + o.busyMs, failedTasks + o.failedTasks)
}

/** Counts every job's stages, tasks and task metrics. Events arrive on
  * Spark's listener thread; a job belongs to the span that was innermost
  * open when the job was submitted (the benchmark runs one operation at a
  * time, so that span is unique). Submission time is the only link: Spark
  * submits adaptive-execution jobs from pool threads whose call sites and
  * inherited local properties name no benchmark call. */
final class JobCounter extends SparkListener {
  private val jobTime = mutable.Map.empty[Int, Long] // job -> submit epoch ms
  private val stageJob = mutable.Map.empty[Int, Int]
  private val perJob = mutable.Map.empty[Int, SparkCounts]

  private def add(job: Int, c: SparkCounts): Unit =
    perJob(job) = perJob.getOrElse(job, SparkCounts()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTime(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    add(e.jobId, SparkCounts(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(add(_, SparkCounts(stages = 1)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val m = Option(e.taskMetrics)
      add(job, SparkCounts(tasks = 1,
        shuffleWriteBytes = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        shuffleReadBytes = m.fold(0L)(t =>
          t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
        inputBytes = m.fold(0L)(_.inputMetrics.bytesRead),
        spillBytes = m.fold(0L)(_.diskBytesSpilled),
        busyMs = m.fold(0L)(_.executorRunTime),
        failedTasks = if (e.reason == Success) 0L else 1L))
    }
  }

  /** (submit epoch ms, counts) of every job seen so far. */
  def jobs: Seq[(Long, SparkCounts)] = synchronized {
    perJob.toSeq.map { case (j, c) => (jobTime.getOrElse(j, 0L), c) }
  }
}

/** Records spans around the benchmark's own calls into each layer and
  * keeps them in memory until the run ends. Not thread-safe: the
  * benchmark opens spans from its one client thread. */
final class Tracer(sc: SparkContext) {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var op = -1
  val counter = new JobCounter
  sc.addSparkListener(counter)

  private def nowMs: Double = (System.nanoTime() - nano0) / 1e6

  /** Time `f` as a span named `name` under the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val start = nowMs
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      spans += Span(id, name, op, parent, start, nowMs)
    }
  }

  /** A top-level span for operation `opId`; its children share the id. */
  def opSpan[T](opId: Int, name: String)(f: => T): T = {
    op = opId
    try span(name)(f) finally op = -1
  }

  def all: Seq[Span] = spans.toSeq

  /** Spark counts per span id: each job goes to the innermost span open at
    * its submission. Drains Spark's listener queue first. */
  def sparkBySpan(): Map[Int, SparkCounts] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val byStart = spans.sortBy(_.startMs)
    counter.jobs.flatMap { case (t, c) =>
      val at = t - epoch0 // ms since tracer start; submit time has 1 ms grain
      val open = byStart.filter(s => s.startMs <= at + 1 && at <= s.endMs)
      open.sortBy(s => -s.startMs).headOption.map(_.id -> c)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
