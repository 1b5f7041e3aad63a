package hostbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.model.StreamContext
import graft.runtime.{CorpusBuildJob, GraftMain, GraftSession}

/** The benchmark's JVM half. Reads a job file written by `run.py`, then:
  *
  *  1. makes one hosted pass over the warm-up slice (the cold start), then
  *     sets up `setup_reps` more times (fresh SparkSession + one pod
  *     start-up and shut-down) and records each set-up's wall time;
  *  2. runs the hosted program over the timed backlog, one fresh output root
  *     per repetition, until `seconds` have passed (at least one repetition);
  *  3. with `trace`, runs once more through benchmark-owned kinds that wrap
  *     each layer's public calls in spans, with a SparkListener attributing
  *     Spark work to the spans;
  *  4. exports what the output checks need and writes one result file.
  *
  * Usage: `hostbench.Main <job.json> <result.json>` */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Job(node: JsonNode) {
    def str(k: String): String = node.path(k).asText()
    def workload: String = str("workload")
    def kind: String = str("kind")
    def work: String = str("work")
    def cores: Int = node.path("cores").asInt()
    def seconds: Double = node.path("seconds").asDouble()
    def setupReps: Int = node.path("setup_reps").asInt()
    def trace: Boolean = node.path("trace").asBoolean()
    def streaming: Boolean = kind != "corpus-build"
    /** The `warm`, `resetup` or `timed` input's spec (stream kinds) or env
      * (batch build), with `{out}` bound to this pass's output root. */
    def config(which: String, out: String): Map[String, String] = {
      val n = node.path(which)
      if (streaming) {
        val spec = mapper.writeValueAsString(n).replace("{out}", out)
        Map(StreamContext.SpecVar -> spec, StreamContext.BackfillVar -> "true",
          StreamContext.StreamIdVar -> s"hostbench-$workload",
          StreamContext.StreamKindVar -> kind)
      } else n.fields().asScala.map(e => e.getKey -> e.getValue.asText().replace("{out}", out)).toMap
    }
  }

  /** Largest heap occupancy right after a GC while armed: the heap pools
    * only, not Metaspace or the code cache. */
  private object HeapWatch extends NotificationListener {
    @volatile var peak = -1L
    @volatile var armed = false
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
    def arm(): Unit = { peak = -1L; armed = true }
    def disarm(): Long = { armed = false; peak }
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Streaming progress of the hosted query, one entry per trigger. The
    * listener bus delivers a query's events in order and asynchronously, so
    * every progress event has arrived once its termination event has. */
  private final class Progress extends StreamingQueryListener {
    val triggers = mutable.ArrayBuffer.empty[Map[String, Any]]
    @volatile var lastNs = 0L
    private val terminated = new java.util.concurrent.CountDownLatch(1)
    def awaitTermination(seconds: Long): Boolean =
      terminated.await(seconds, java.util.concurrent.TimeUnit.SECONDS)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.countDown()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      lastNs = System.nanoTime()
      val p = e.progress
      triggers += Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
  }

  def session(job: Job): SparkSession = {
    val spark = GraftSession.local(s"hostbench-${job.workload}", job.cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${job.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** One hosted run over `which` into the fresh root `out`. */
  def runOnce(spark: SparkSession, job: Job, which: String, out: String,
      kinds: Map[String, graft.runtime.StreamGraphBuilder] = Map.empty,
      kindOverride: Option[String] = None,
      status: String => Unit = _ => ()): mutable.Map[String, Any] = {
    val env0 = job.config(which, out)
    val env = kindOverride.fold(env0)(k => env0 + (StreamContext.StreamKindVar -> k))
    val prog = new Progress
    if (job.streaming) spark.streams.addListener(prog)
    val rec = mutable.Map.empty[String, Any]
    // every timed call starts from the same collected heap, so the peak
    // below is the call's own
    System.gc()
    val cpu0 = osBean.getProcessCpuTime
    HeapWatch.arm()
    val t0 = System.nanoTime()
    val (exit, phases) =
      if (job.streaming) (GraftMain.run(spark, env, kinds, status), Nil)
      else try {
        val r = CorpusBuildJob.execute(spark, env, status)
        (0, r.phases.map(p => Map("name" -> p.name, "rows" -> p.rows, "ms" -> p.millis)))
      } catch { case e: Exception => status(s"fatal: $e"); (1, Nil) }
    val t1 = System.nanoTime()
    // no collection during a short call: its end occupancy bounds the peak
    rec("heap_peak_bytes") = HeapWatch.disarm() match {
      case -1L => ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      case peak => peak
    }
    rec("cpu_s") = (osBean.getProcessCpuTime - cpu0) / 1e9
    rec("wall_s") = (t1 - t0) / 1e9
    rec("start_ns") = t0
    rec("end_ns") = t1
    rec("exit") = exit
    rec("out") = out
    rec("phases") = phases
    if (job.streaming) {
      // a run that ends without starting its query posts no termination
      if (!prog.awaitTermination(if (exit == 0) 30 else 5) && exit == 0)
        throw new IllegalStateException("the hosted query's termination event never arrived")
      spark.streams.removeListener(prog)
      rec("triggers") = prog.synchronized(prog.triggers.toList)
      rec("last_progress_ns") = prog.lastNs
    }
    rec
  }

  /** What the session keeps holding once a call is over: the live heap
    * after full collections. Spark's ContextCleaner frees shuffle and
    * broadcast state on its own thread once a collection has found it
    * unreachable, so it gets time to run before the second collection. */
  def retainedHeap(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Files the output checks read, written after the timed call. */
  def export(spark: SparkSession, job: Job, out: String): Unit = job.kind match {
    case "dedup-decision" =>
      val dir = new File(out, "export"); dir.mkdirs()
      val dec = graft.streaming.StreamingDecision.decisionsRaw(spark, s"$out/store")
        .select(col("doc_id"), col("decision"), col("keeper_id")).collect()
        .map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.getLong(2)}")
      Files.write(Paths.get(dir.getPath, "decisions.tsv"),
        dec.sorted.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      val comp = graft.ext.ComponentStore.components(spark, s"$out/clusters").collect()
        .map(r => s"${r.getLong(0)}\t${r.getLong(1)}")
      Files.write(Paths.get(dir.getPath, "components.tsv"),
        comp.sorted.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    case _ => ()
  }

  /** How fast this box runs small Spark jobs right now: a fixed Spark-only
    * job mix (no engine code) on its own SparkContext, built from a plain
    * builder with every setting it depends on set here, so no engine setting
    * reaches it. Each round runs a small shuffle and writes and reads back a
    * small partitioned parquet table, the two kinds of work a hosted trigger
    * is made of; one untimed round warms its plans, then each round is
    * timed on its own. Timings are scaled by it, because the box's speed
    * drifts by more than the regression bounds within minutes. Call it with
    * no other session running. */
  def probe(job: Job, rounds: Int = 2): List[Map[String, Double]] = {
    System.gc()
    val s = SparkSession.builder()
      .master(s"local[${job.cores}]")
      .appName("hostbench-probe")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${job.work}/spark-local")
      .config("spark.serializer", "org.apache.spark.serializer.JavaSerializer")
      .config("spark.sql.shuffle.partitions", job.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val dir = s"${job.work}/probe"
    def round(): Unit = {
      s.range(0, 200000, 1, job.cores).selectExpr("id % 97 as k").groupBy("k").count().collect()
      s.range(0, 20000, 1, job.cores).selectExpr("id % 16 as p", "id")
        .write.mode("overwrite").partitionBy("p").parquet(dir)
      s.read.parquet(dir).count()
    }
    try {
      round()
      (0 until rounds).toList.map { _ =>
        val cpu0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        round()
        Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
          "cpu_s" -> (osBean.getProcessCpuTime - cpu0) / 1e9)
      }
    } finally stop(s)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val job = Job(mapper.readTree(new File(args(0))))
    val result = mutable.Map.empty[String, Any]
    // cold start: JVM start to the end of the warm-up pass (session, class
    // loading, first-plan codegen) — what a freshly launched pod pays
    var spark = session(job)
    if (runOnce(spark, job, "warm", s"${job.work}/warm")("exit") != 0)
      throw new IllegalStateException("warm-up pass failed")
    result("cold_start_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // set-up, repeated: session creation plus one pod start-up and
    // shut-down over the `resetup` input (an empty feed for the stream
    // kinds); the previous session's stop and the harness's GC and progress
    // wait around the run are left out
    val setups = (0 until job.setupReps).map { i =>
      stop(spark)
      val t0 = System.nanoTime()
      spark = session(job)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val r = runOnce(spark, job, "resetup", s"${job.work}/setup-$i")
      if (r("exit") != 0) throw new IllegalStateException(s"set-up $i failed")
      sessionS + r("wall_s").asInstanceOf[Double]
    }
    result("setup_s") = setups.toList

    // the speed probe runs alone, on its own context, just before and just
    // after the timed repetitions; a traced run reports only per-layer
    // figures, which are not scaled, and skips it
    val probeBefore = if (job.trace) None else {
      stop(spark)
      val p = probe(job)
      spark = session(job)
      Some(p)
    }
    val reps = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val tStart = System.nanoTime()
    while (reps.isEmpty || (System.nanoTime() - tStart) / 1e9 < job.seconds) {
      val r = runOnce(spark, job, "timed", s"${job.work}/timed-${reps.size}")
      r("heap_retained_bytes") = retainedHeap()
      if (reps.isEmpty) export(spark, job, r("out").toString)
      reps += r
    }
    result("reps") = reps.map(_.toMap).toList

    if (job.trace) result("traced") = Traced.run(spark, job)
    stop(spark)
    result("probe") = probeBefore.map(_ ++ probe(job)).getOrElse(Nil)
    result("cores") = job.cores
    Files.write(Paths.get(args(1)), mapper.writeValueAsBytes(result.toMap))
  }
}
