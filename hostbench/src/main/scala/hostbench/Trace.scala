package hostbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer: name, wall interval, and the span that
  * caused it. All spans of one traced run share `run`. */
final case class Span(id: Long, run: String, name: String, parent: Long,
    startNs: Long, endNs: Long)

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var resultBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "task_run_ms" -> taskRunMs,
    "task_cpu_ms" -> taskCpuNs / 1000000L, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "result_bytes" -> resultBytes)
}

/** In-memory span recorder plus a SparkListener that attributes jobs,
  * stages and task metrics to the span open when each job was submitted.
  *
  * Attribution reads the `hostbench.span` job local property (set for the
  * duration of every span and inherited by threads the traced call starts).
  * A job without the property falls back to time overlap: the innermost
  * span whose interval contains the job's submission time. Spans are only
  * written out once, at the end of the run. */
final class Tracer(val run: String, sc: SparkContext) extends SparkListener {
  import Tracer.{Prop, SyncProp}

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // the calling thread's open spans (innermost first)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  private val lock = new Object
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Long]
  // jobs submitted outside any propagated span: (stage ids, submit time)
  private val orphanJobs = mutable.ArrayBuffer.empty[(Seq[Int], Long)]
  private val byStage = mutable.Map.empty[Int, Counters]
  // the drain job's stages, left out of every count
  private val ignored = mutable.Set.empty[Int]
  @volatile private var syncJob = -1
  private val synced = new java.util.concurrent.CountDownLatch(1)
  // parent of spans opened on threads with no open span (the stream's
  // micro-batch thread): the run's root span
  @volatile private var rootId = 0L

  /** Run `f` inside the run's root span: spans opened on other threads
    * without an open span of their own become its children. */
  def root[A](name: String)(f: => A): A = open(name, isRoot = true)(f)

  /** Run `f` inside a span named `name`, child of this thread's open span. */
  def span[A](name: String)(f: => A): A = open(name, isRoot = false)(f)

  private def open[A](name: String, isRoot: Boolean)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(if (isRoot) 0L else rootId)
    if (isRoot) rootId = id
    val prevProp = sc.getLocalProperty(Prop)
    stack.set(id :: stack.get())
    sc.setLocalProperty(Prop, id.toString)
    val start = System.nanoTime()
    try f
    finally {
      val end = System.nanoTime()
      if (isRoot) rootId = 0L
      stack.set(stack.get().tail)
      sc.setLocalProperty(Prop, prevProp)
      done.add(Span(id, run, name, parent, start, end))
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Wait until the listener has seen every event posted so far: events
    * arrive in order, so once a marker job's end is seen, all work before
    * it has been counted. */
  def drain(): Unit = {
    sc.setLocalProperty(SyncProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SyncProp, null)
    synced.await(60, java.util.concurrent.TimeUnit.SECONDS)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == syncJob) synced.countDown()

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    val sid = props.flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)
    val stageIds = e.stageInfos.map(_.stageId)
    if (props.exists(_.getProperty(SyncProp) != null)) {
      ignored ++= stageIds
      syncJob = e.jobId
    } else sid match {
      case Some(s) =>
        jobSpan(e.jobId) = s
        stageIds.foreach(st => stageSpan(st) = s)
      case None => orphanJobs += ((stageIds, System.nanoTime()))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    if (!ignored(e.stageInfo.stageId)) byStage.getOrElseUpdate(e.stageInfo.stageId, new Counters).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (!ignored(e.stageId)) count(e)
  }

  private def count(e: SparkListenerTaskEnd): Unit = {
    val c = byStage.getOrElseUpdate(e.stageId, new Counters)
    c.tasks += 1
    if (e.reason != org.apache.spark.Success || e.taskInfo.attemptNumber > 0)
      c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.resultBytes += m.resultSize
    }
  }

  /** Counters per span id (0 = work outside every span), jobs included. */
  def countersBySpan(): Map[Long, Counters] = lock.synchronized {
    val all = spans
    // overlap fallback: innermost (latest-starting) span containing t
    def spanAt(t: Long): Long =
      all.filter(s => s.startNs <= t && t <= s.endNs)
        .sortBy(-_.startNs).headOption.map(_.id).getOrElse(0L)
    val resolved = mutable.Map.empty[Int, Long] ++ stageSpan
    orphanJobs.foreach { case (stageIds, t) =>
      val s = spanAt(t)
      stageIds.foreach(st => resolved(st) = s)
    }
    val out = mutable.Map.empty[Long, Counters]
    byStage.foreach { case (stage, c) =>
      val s = resolved.getOrElse(stage, 0L)
      val acc = out.getOrElseUpdate(s, new Counters)
      acc.stages += c.stages; acc.tasks += c.tasks
      acc.taskFailures += c.taskFailures; acc.taskRunMs += c.taskRunMs
      acc.taskCpuNs += c.taskCpuNs; acc.gcMs += c.gcMs
      acc.shuffleReadBytes += c.shuffleReadBytes
      acc.shuffleWriteBytes += c.shuffleWriteBytes
      acc.spillBytes += c.spillBytes; acc.inputBytes += c.inputBytes
      acc.outputBytes += c.outputBytes; acc.resultBytes += c.resultBytes
    }
    jobSpan.values.foreach(s => out.getOrElseUpdate(s, new Counters).jobs += 1)
    orphanJobs.foreach { case (stageIds, t) =>
      out.getOrElseUpdate(stageIds.headOption.flatMap(resolved.get).getOrElse(spanAt(t)),
        new Counters).jobs += 1
    }
    out.toMap
  }
}

object Tracer {
  val Prop = "hostbench.span"
  val SyncProp = "hostbench.sync"
}
