package graft.runtime

import java.util.UUID
import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming._
import org.scalatest.LoneElement
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture
import graft.model._

/** Lifecycle matrix for the stream host — the Scala analogue of the
  * reference's HostBuilderExtensionsTests (exit codes) and
  * ParquetSinkTests' COMPLETED-token suppression assertions
  * (ParquetSinkTests.cs:174-310, Times.Never on interruption). A
  * controllable fake query makes every interruption path
  * deterministic; real rate-stream queries whose micro-batches throw
  * pin the exit code of a fault raised inside a running query. */
class StreamRunnerSpec extends AnyFlatSpec with Matchers with LoneElement with SparkFixture {

  /** StreamingQuery stub: terminates when completed or stopped. */
  private final class FakeQuery(sparkSession0: SparkSession) extends StreamingQuery {
    private val latch = new CountDownLatch(1)
    @volatile var wasStopped = false
    def complete(): Unit = latch.countDown()
    override def stop(): Unit = { wasStopped = true; latch.countDown() }
    override def awaitTermination(): Unit = latch.await()
    override def awaitTermination(timeoutMs: Long): Boolean = {
      latch.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    override def name: String = "fake"
    override def id: UUID = UUID.randomUUID()
    override def runId: UUID = UUID.randomUUID()
    override def sparkSession: SparkSession = sparkSession0
    override def isActive: Boolean = latch.getCount > 0
    override def exception: Option[StreamingQueryException] = None
    override def status: StreamingQueryStatus = null
    override def recentProgress: Array[StreamingQueryProgress] = Array.empty
    override def lastProgress: StreamingQueryProgress = null
    override def processAllAvailable(): Unit = ()
    override def explain(): Unit = ()
    override def explain(extended: Boolean): Unit = ()
  }

  /** Graph builder whose per-phase behavior is scripted. */
  private final class ScriptedBuilder(
      buildThrows: Option[Throwable] = None,
      // given (phase index, runner, query): complete or interrupt it
      script: (Int, StreamRunner, FakeQuery) => Unit = (_, _, q) => q.complete())
      extends StreamGraphBuilder {
    var runner: StreamRunner = _
    val triggers = scala.collection.mutable.ListBuffer[Trigger]()
    var completedCount = 0
    override def build(ctx: StreamContext, spark: SparkSession): DataFrame = {
      buildThrows.foreach(throw _)
      spark.range(1).toDF()
    }
    override def start(ctx: StreamContext, df: DataFrame, trigger: Trigger): StreamingQuery = {
      triggers += trigger
      val q = new FakeQuery(df.sparkSession)
      val phase = triggers.size - 1
      new Thread(() => { Thread.sleep(50); script(phase, runner, q) }).start()
      q
    }
    override def onCompleted(ctx: StreamContext): Unit = completedCount += 1
  }

  private def ctx(backfill: Boolean) =
    StreamContext("s1", "test", isBackfilling = backfill, spec = "{}")

  private def newRunner(b: ScriptedBuilder): StreamRunner = {
    val r = new StreamRunner(spark, statusReporter = _ => ())
    b.runner = r
    r
  }

  behavior of "StreamRunner exit codes"

  it should "exit SUCCESS and publish completion on a graceful stream" in {
    val b = new ScriptedBuilder()
    newRunner(b).run(ctx(backfill = false), b) shouldBe ExitCodes.Success
    b.completedCount shouldBe 1
    b.triggers.head shouldBe a[Trigger] // ProcessingTime
  }

  it should "exit RESTART and suppress the token on interrupted backfill" in {
    val b = new ScriptedBuilder(script = (_, r, q) => { r.requestStop(); q.stop() })
    newRunner(b).run(ctx(backfill = true), b) shouldBe ExitCodes.Restart
    b.completedCount shouldBe 0
  }

  it should "exit SUCCESS but suppress the token on an interrupted stream" in {
    val b = new ScriptedBuilder(script = (_, r, q) => { r.requestStop(); q.stop() })
    newRunner(b).run(ctx(backfill = false), b) shouldBe ExitCodes.Success
    b.completedCount shouldBe 0 // ParquetSinkTests.cs: token Times.Never
  }

  it should "map schema mismatch to SUCCESS (operator restarts in backfill)" in {
    val b = new ScriptedBuilder(buildThrows = Some(new SchemaMismatchException("drift")))
    newRunner(b).run(ctx(backfill = false), b) shouldBe ExitCodes.Success
    b.completedCount shouldBe 0
  }

  it should "map schema inconsistency to RESTART" in {
    val b = new ScriptedBuilder(buildThrows = Some(new SchemaInconsistentException("arity")))
    newRunner(b).run(ctx(backfill = false), b) shouldBe ExitCodes.Restart
  }

  it should "map anything else to FATAL" in {
    val b = new ScriptedBuilder(buildThrows = Some(new RuntimeException("boom")))
    newRunner(b).run(ctx(backfill = false), b) shouldBe ExitCodes.Fatal
  }

  /** A real rate stream whose every micro-batch throws `fault`: the
    * fault reaches the runner wrapped by Spark, not as itself. */
  private final class FailingBatchBuilder(fault: Throwable) extends StreamGraphBuilder {
    var completedCount = 0
    override def build(ctx: StreamContext, spark: SparkSession): DataFrame =
      spark.readStream.format("rate").option("rowsPerSecond", "10").load()
    override def start(ctx: StreamContext, df: DataFrame, trigger: Trigger): StreamingQuery =
      df.writeStream
        .foreachBatch { (_: DataFrame, _: Long) => throw fault }
        .option("checkpointLocation", tempDir("runner-fault-ckpt"))
        .trigger(trigger).start()
    override def onCompleted(ctx: StreamContext): Unit = completedCount += 1
  }

  /** Run `fault` through a real query; (exit code, statuses, tokens). */
  private def runFailing(fault: Throwable): (Int, Seq[String], Int) = {
    val b = new FailingBatchBuilder(fault)
    val statuses = scala.collection.mutable.ListBuffer[String]()
    val code = new StreamRunner(spark, java.time.Duration.ofMillis(100), statuses += _)
      .run(ctx(backfill = false), b)
    (code, statuses.toList, b.completedCount)
  }

  behavior of "StreamRunner exit codes for faults inside a running query"

  it should "map a micro-batch's schema inconsistency to RESTART" in {
    val (code, statuses, tokens) = runFailing(new SchemaInconsistentException("arity 3 vs 4"))
    code shouldBe ExitCodes.Restart
    statuses shouldBe Seq("schema-inconsistent: arity 3 vs 4")
    tokens shouldBe 0
  }

  it should "map a micro-batch's schema mismatch to SUCCESS with a schema-mismatch status" in {
    val (code, statuses, tokens) = runFailing(new SchemaMismatchException("feed drifted"))
    code shouldBe ExitCodes.Success
    statuses shouldBe Seq("schema-mismatch: feed drifted")
    tokens shouldBe 0
  }

  it should "map any other micro-batch fault to FATAL" in {
    val (code, statuses, tokens) = runFailing(new RuntimeException("blob storage down"))
    code shouldBe ExitCodes.Fatal
    statuses.loneElement should startWith("fatal: ")
    tokens shouldBe 0
  }

  behavior of "backfill-then-stream flip"

  it should "drain AvailableNow then restart as ProcessingTime, token only at the end" in {
    val b = new ScriptedBuilder() // both phases complete gracefully
    newRunner(b).runWithFlip(ctx(backfill = true), b) shouldBe ExitCodes.Success
    b.triggers.size shouldBe 2
    b.triggers(0) shouldBe Trigger.AvailableNow()
    b.triggers(1) should not be Trigger.AvailableNow()
    b.completedCount shouldBe 1 // never between phases
  }

  it should "stop after backfill when requested" in {
    val b = new ScriptedBuilder()
    newRunner(b).runWithFlip(ctx(backfill = true), b,
      stopAfterBackfill = true) shouldBe ExitCodes.Success
    b.triggers.size shouldBe 1
    b.triggers.head shouldBe Trigger.AvailableNow()
    b.completedCount shouldBe 1
  }

  it should "not flip when the backfill was interrupted" in {
    val b = new ScriptedBuilder(script = (_, r, q) => { r.requestStop(); q.stop() })
    newRunner(b).runWithFlip(ctx(backfill = true), b) shouldBe ExitCodes.Restart
    b.triggers.size shouldBe 1
    b.completedCount shouldBe 0
  }

  it should "pass a non-backfill context straight to stream mode" in {
    val b = new ScriptedBuilder()
    newRunner(b).runWithFlip(ctx(backfill = false), b) shouldBe ExitCodes.Success
    b.triggers.size shouldBe 1
    b.triggers.head should not be Trigger.AvailableNow()
  }

  behavior of "OffsetStore"

  it should "round-trip values atomically and report absence" in {
    val store = new OffsetStore(spark, tempDir("offsets"))
    store.read("k") shouldBe None
    store.write("k", "v1")
    store.read("k") shouldBe Some("v1")
    store.write("k", "v2") // overwrite
    store.read("k") shouldBe Some("v2")
    store.writeLong("ver", 42L)
    store.readLong("ver") shouldBe Some(42L)
  }
}
