package graft.sources

import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture
import graft.runtime.OffsetStore

/** CT server for the consumer-view case, instantiable by class name:
  * at v102, with an update of id 1 at v101 and a delete of id 2 at v102
  * after the v100 snapshot. Answers the bounded delta window. */
class ConsumerViewCtServer extends dsv2.CtGateway {
  override def scalar(sql: String): Option[Long] =
    if (sql.contains("CHANGE_TRACKING_CURRENT_VERSION")) Some(102L) else None
  override def rows(sql: String): Iterator[Seq[Any]] = {
    val m = """CHANGETABLE\(CHANGES \[dbo\]\.\[t\], (\d+)\).*SYS_CHANGE_VERSION <= (\d+)""".r
      .unanchored.findFirstMatchIn(sql.replace('\n', ' ')).get
    val (from, to) = (m.group(1).toLong, m.group(2).toLong)
    Seq[(Long, String, Long, String, String)](
        (1L, "updated", 101L, "U", "k1"), (2L, null, 102L, "D", "k2"))
      .filter { case (_, _, v, _, _) => v > from && v <= to }
      .iterator
      .map { case (id, v, ver, op, mk) => Seq[Any](id, v, ver, op, to, mk) }
  }
}

/** Connector resume semantics: the CT full load continued by the DSv2
  * stream from the snapshot's version, and REST mid-pagination resume
  * from durable page state — zero duplicate pages after restart
  * (VERDICT r1 "What's missing" #3). */
class ConnectorOffsetSpec extends AnyFlatSpec with Matchers with SparkFixture {

  // ---------------- CT full load → DSv2 stream ----------------

  private class RecordingExecutor extends SqlExecutor {
    val sqls = scala.collection.mutable.ListBuffer[String]()
    override def queryDataFrame(sql: String): DataFrame = { sqls += sql; spark.emptyDataFrame }
    override def queryScalar(sql: String): Option[Long] = { sqls += sql; Some(1L) }
  }

  behavior of "ChangeTrackingSource.fullLoad partitioning"

  it should "probe PK bounds and issue a range-partitioned read" in {
    val calls = scala.collection.mutable.ListBuffer[(String, String, Long, Long, Int)]()
    val ex = new SqlExecutor {
      override def queryDataFrame(sql: String): DataFrame =
        fail(s"expected a partitioned read, got single-stream: $sql")
      override def queryScalar(sql: String): Option[Long] =
        if (sql.contains("MIN")) Some(1L) else Some(5000L)
      override def queryDataFramePartitioned(sql: String, pc: String,
          lo: Long, hi: Long, n: Int): DataFrame = {
        calls += ((sql, pc, lo, hi, n))
        spark.range(1).toDF()
      }
    }
    new ChangeTrackingSource(ex, "dbo", "t", Seq("id"), Seq("v"),
      fullLoadPartitionColumn = Some("id"), fullLoadNumPartitions = 16).fullLoad()
    calls.size shouldBe 1
    val (sql, pc, lo, hi, n) = calls.head
    sql should include("CHANGE_TRACKING_CURRENT_VERSION()")
    (pc, lo, hi, n) shouldBe (("id", 1L, 5000L, 16))
  }

  it should "fall back to a single read when bounds collapse" in {
    val ex = new RecordingExecutor
    new ChangeTrackingSource(ex, "dbo", "t", Seq("id"), Seq("v"),
      fullLoadPartitionColumn = Some("id")).fullLoad()
    // min==max ⇒ plain read (the RecordingExecutor's queryDataFrame)
    ex.sqls.count(_.contains("SELECT MIN")) shouldBe 1
    ex.sqls.last should include("CHANGE_TRACKING_CURRENT_VERSION()")
  }

  behavior of "CT end-to-end ingestion (full load → DSv2 stream → arcane sink)"

  it should "continue the full load from its version and show consumers the merged rows" in {
    import graft.sinks.{ArcaneLayoutReader, ArcaneParquetSink, SinkConfig}
    import spark.implicits._

    // scripted server: full load of 3 rows @v100; the stream then reads
    // v101 (update of id 1) and v102 (delete of id 2) from ConsumerViewCtServer
    val ex = new SqlExecutor {
      override def queryScalar(sql: String): Option[Long] = Some(100L)
      override def queryDataFrame(sql: String): DataFrame = Seq(
          (1L, "a", 0L, "I", 100L, "k1"),
          (2L, "b", 0L, "I", 100L, "k2"),
          (3L, "c", 0L, "I", 100L, "k3"))
        .toDF("id", "v", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION",
          "ChangeTrackingVersion", "ARCANE_MERGE_KEY")
    }
    val snapshot = new ChangeTrackingSource(ex, "dbo", "t", Seq("id"), Seq("v")).fullLoad()
    val target = tempDir("ct-e2e-sink")
    // ONE sink for both: the stream's batches must match the snapshot's
    // frozen shape
    val sink = new ArcaneParquetSink(SinkConfig(target))
    sink.writeBatch(snapshot)

    val snapshotVersion = snapshot.select("ChangeTrackingVersion").as[Long].head()
    val changes = spark.readStream
      .format(classOf[dsv2.CtTableProvider].getName)
      .option("gatewayClass", classOf[ConsumerViewCtServer].getName)
      .option("schemaName", "dbo").option("tableName", "t")
      .option("pkColumns", "id").option("schemaDdl", "id BIGINT, v STRING")
      .option("numStripes", "1")
      .option("startVersion", snapshotVersion.toString)
      .load()
    val q = sink.start(changes, tempDir("ct-e2e-ckpt"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000) shouldBe true
    q.exception shouldBe None
    sink.complete(snapshot)

    // consumer view: latest per key, deletes applied ⇒ k1 updated, k2 gone, k3 intact
    val merged = ArcaneLayoutReader.readMerged(spark, target)
      .select("ARCANE_MERGE_KEY", "v").as[(String, String)].collect().toMap
    merged shouldBe Map("k1" -> "updated", "k3" -> "c")
  }

  // ---------------- REST mid-pagination resume ----------------

  /** 5-page API: {"total": 5, "items": [...]} keyed by ?page=N. */
  private final class PagedFetcher extends RestSource.HttpFetch {
    val fetchedPages = scala.collection.mutable.ListBuffer[String]()
    override def fetch(uri: String, headers: Map[String, String],
        body: Option[String]): Option[String] = {
      val page = uri.split("page=")(1)
      fetchedPages += page
      Some(s"""{"total": 5, "items": [{"page": $page, "rec": "p$page"}]}""")
    }
  }

  private def restSource(fetcher: RestSource.HttpFetch) = new RestSource(
    spark, fetcher, RestSource.FixedHeaderAuth(Map.empty),
    uriTemplate = "http://api/items?page=@page",
    resolver = Some(RestSource.PageCountingResolver(Seq("total"))),
    recordKeyChain = Seq("items"),
    pagesPerChunk = 2)

  behavior of "RestSource pagination resume"

  it should "resume mid-pagination with zero duplicate pages" in {
    val store = new OffsetStore(spark, tempDir("rest"))
    val f1 = new PagedFetcher
    val it1 = restSource(f1).sweepChunksWithState(Map.empty)
    val (chunk1, state1) = it1.next()
    chunk1.count() shouldBe 2
    f1.fetchedPages.toList shouldBe List("1", "2")
    store.write("page-state", RestSource.PageState.toJson(state1))

    // "crash"; new source + fetcher resume from the persisted state
    val resumed = RestSource.PageState.fromJson(store.read("page-state").get)
    val f2 = new PagedFetcher
    val it2 = restSource(f2).sweepChunksWithState(Map.empty, Some(resumed))
    val rest = it2.toList
    f2.fetchedPages.toList shouldBe List("3", "4", "5") // no re-reads
    rest.map(_._1.count()).sum shouldBe 3
    rest.last._2.exhausted shouldBe true
  }

  it should "emit nothing when resuming an exhausted sweep" in {
    val exhausted = RestSource.PageState(None, 5, exhausted = true)
    val f = new PagedFetcher
    restSource(f).sweepChunksWithState(Map.empty, Some(exhausted)).hasNext shouldBe false
    f.fetchedPages shouldBe empty
  }

  behavior of "RestSource transient retry"

  it should "retry a transiently failing page instead of truncating the sweep" in {
    var failures = 2
    val f = new RestSource.HttpFetch {
      val pages = scala.collection.mutable.ListBuffer[String]()
      override def fetch(uri: String, h: Map[String, String], b: Option[String]) = {
        val page = uri.split("page=")(1)
        if (page == "2" && failures > 0) { failures -= 1; None } // 429s
        else { pages += page; Some(s"""{"total": 3, "items": [{"p": $page}]}""") }
      }
    }
    val src = new RestSource(
      spark, f, RestSource.FixedHeaderAuth(Map.empty),
      "http://api/items?page=@page",
      Some(RestSource.PageCountingResolver(Seq("total"))),
      Seq("items"), maxRetriesPerPage = 3, backoff = _ => ())
    src.sweep(Map.empty).count() shouldBe 3
    f.pages.toList shouldBe List("1", "2", "3") // page 2 eventually served
  }

  it should "raise TransientFetchException when the retry budget runs out" in {
    val f = new RestSource.HttpFetch {
      override def fetch(uri: String, h: Map[String, String], b: Option[String]) = None
    }
    val src = new RestSource(
      spark, f, RestSource.FixedHeaderAuth(Map.empty),
      "http://api/items?page=@page",
      Some(RestSource.PageCountingResolver(Seq("total"))),
      Seq("items"), maxRetriesPerPage = 2, backoff = _ => ())
    a[TransientFetchException] should be thrownBy src.sweep(Map.empty).count()
  }
}
