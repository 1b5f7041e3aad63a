package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture

/** End-to-end MemoryStream coverage for the streaming incremental
  * dedup flow (VERDICT r5 #5): a planted duplicate arriving in batch 2
  * must be flagged against the batch-1 corpus, within-batch pairs must
  * NOT be generated (batch-vs-corpus semantics), and the state store
  * must hold signatures — bounded per bucket by the skew cap — never
  * documents. */
class StreamingDedupSpec extends AnyFlatSpec with Matchers with SparkFixture {

  private val base =
    "the quick brown fox jumps over the lazy dog again and again %s"
  private val unrelated =
    "completely different text about spark catalyst optimizer internals today"

  behavior of "StreamingDedup.nearDupStream"

  it should "flag batch-2 near-dups against the batch-1 corpus only" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val hits = StreamingDedup.nearDupStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", minSigMatch = 6)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("near_hits")
      .option("checkpointLocation", tempDir("neardup-ckpt"))
      .start()
    try {
      // batch 1: the corpus — one distinctive doc + one unrelated
      in.addData((2L, base.format("today")), (4L, unrelated))
      q.processAllAvailable()
      spark.table("near_hits").count() shouldBe 0 // nothing stored yet

      // batch 2: TWO near-dups of corpus doc 2 (also near-dups of each
      // other) + one novel doc
      in.addData((11L, base.format("tonight")),
        (12L, base.format("tomorrow")),
        (13L, "entirely novel content discussing walnut cultivation and irrigation schedules"))
      q.processAllAvailable()
      val out = spark.table("near_hits").as[NearDupHit].collect()
      val pairs = out.map(h => (h.docId, h.matchedDocId)).distinct.sorted
      // cross-batch hits present…
      pairs should contain((11L, 2L))
      pairs should contain((12L, 2L))
      // …within-batch pair suppressed (batch-vs-corpus, like the batch
      // operator's cross-side-only candidate rule), novel doc clean
      pairs.map(_._1) should not contain 13L
      pairs should not contain ((12L, 11L))
      out.foreach(_.nSigMatch should be >= 6)

      // batch 3: the batch-2 docs are corpus now — a later arrival
      // matches against them too
      in.addData((21L, base.format("tonight")))
      q.processAllAvailable()
      val p3 = spark.table("near_hits").as[NearDupHit].collect()
        .map(h => (h.docId, h.matchedDocId)).distinct
      p3 should contain((21L, 11L))
    } finally q.stop()
  }

  it should "cap per-bucket state at maxBucket signatures" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val boiler = "the same boilerplate footer text repeated on every single page here"
    val in = MemoryStream[(Long, String)]
    val hits = StreamingDedup.nearDupStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      maxBucket = 5, minSigMatch = 6)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("capped_hits")
      .option("checkpointLocation", tempDir("capdup-ckpt"))
      .start()
    try {
      // a 20-doc hot bucket in one batch: stored membership is capped
      in.addData((0L until 20L).map(i => (i, boiler)): _*)
      q.processAllAvailable()
      // identical docs share all 4 band keys → exactly 4 state rows,
      // NOT 20×4: the state scales with distinct buckets, each holding
      // ≤ maxBucket signatures
      q.lastProgress.stateOperators.head.numRowsTotal shouldBe 4L
      in.addData((100L, boiler))
      q.processAllAvailable()
      val matched = spark.table("capped_hits").as[NearDupHit].collect()
        .filter(_.docId == 100L).map(_.matchedDocId).distinct
      matched.length shouldBe 5 // the capped bucket, nothing more
      q.lastProgress.stateOperators.head.numRowsTotal shouldBe 4L
    } finally q.stop()
  }

  behavior of "StreamingDedup.nearDupStreamTtl"

  // The TTL horizon is event-time (watermark-driven), so these specs
  // are fully deterministic: timestamps are planted, the watermark
  // advances only when data arrives, and eviction happens at exact
  // trigger boundaries — no sleeps, no wall clock.
  private def ts(minute: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1700000000000L + minute * 60000L)

  private def ttlQuery(in: MemoryStream[(Long, String, java.sql.Timestamp)],
      name: String, ttlMs: Long) = {
    val hits = StreamingDedup.nearDupStream(
      in.toDF().toDF("doc_id", "text", "ts").withWatermark("ts", "0 seconds"),
      "doc_id", "text", Retention.Ttl("ts", ttlMs), minSigMatch = 6)
    hits.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation", tempDir(s"$name-ckpt"))
      .start()
  }

  it should "behave exactly like nearDupStream inside the horizon" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    // horizon (1h) far wider than the planted timestamps (minutes
    // 0-2) → the base operator's semantics on the base spec's scenario
    val q = ttlQuery(in, "ttl_wide_hits", 3600000L)
    try {
      in.addData((2L, base.format("today"), ts(0)), (4L, unrelated, ts(0)))
      q.processAllAvailable()
      spark.table("ttl_wide_hits").count() shouldBe 0
      in.addData((11L, base.format("tonight"), ts(1)),
        (12L, base.format("tomorrow"), ts(1)),
        (13L, "entirely novel content discussing walnut cultivation and irrigation schedules", ts(1)))
      q.processAllAvailable()
      in.addData((21L, base.format("tonight"), ts(2)))
      q.processAllAvailable()
      val pairs = spark.table("ttl_wide_hits").as[NearDupHit].collect()
        .map(h => (h.docId, h.matchedDocId)).distinct.sorted
      pairs should contain((11L, 2L))
      pairs should contain((12L, 2L))
      pairs should contain((21L, 11L))
      pairs.map(_._1) should not contain 13L
      pairs should not contain ((12L, 11L)) // batch-vs-corpus preserved
    } finally q.stop()
  }

  it should "evict members past the horizon and drop idle buckets" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = ttlQuery(in, "ttl_hits", ttlMs = 600000L) // 10-minute horizon
    try {
      // minute 0: the corpus — watermark still at its initial floor
      in.addData((2L, base.format("today"), ts(0)), (4L, unrelated, ts(0)))
      q.processAllAvailable()
      // minute 20: an unrelated doc pushes the watermark past minute
      // 10 = every minute-0 member's expiry; their idle buckets are
      // removed by the timeout path in the watermark-advance batch
      in.addData((99L, "totally fresh subject matter involving glacier monitoring equipment", ts(20)))
      q.processAllAvailable()
      // minute 21: a near-dup of doc 2 arrives AFTER the horizon — no
      // hit (expired members are dropped at access, before matching)
      in.addData((11L, base.format("tonight"), ts(21)))
      q.processAllAvailable()
      spark.table("ttl_hits").count() shouldBe 0
      // state holds exactly docs 99 and 11 (4 band buckets each, one
      // member each): minute-0 buckets are GONE, not parked empty
      val stateRows = q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).lastOption
      stateRows shouldBe Some(8L)
      // the post-eviction store still works: an inside-horizon
      // near-dup matches the live member, never the expired one
      in.addData((12L, base.format("tomorrow"), ts(22)))
      q.processAllAvailable()
      val pairs = spark.table("ttl_hits").as[NearDupHit].collect()
        .map(h => (h.docId, h.matchedDocId)).distinct
      pairs should contain((12L, 11L))
      pairs should not contain ((12L, 2L))
    } finally q.stop()
  }

  it should "produce identical hits under the RocksDB state store provider" in {
    // the 100 TB deployment shape: RocksDB-backed state stores keep
    // streaming state off the executor heap (bounded only by local
    // disk), which is what lets the corpus signature store grow to
    // billions of band buckets. Same scenario as the wide-horizon
    // test — semantics must be bit-identical, and the progress
    // metrics must prove the provider actually engaged.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val hits = StreamingDedup.nearDupStream(
      in.toDF().toDF("doc_id", "text", "ts").withWatermark("ts", "0 seconds"),
      "doc_id", "text", Retention.Ttl("ts", 3600000L), minSigMatch = 6)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("rocksdb_hits")
      .option("checkpointLocation", tempDir("rocksdb-ckpt"))
      .start()
    try {
      in.addData((2L, base.format("today"), ts(0)), (4L, unrelated, ts(0)))
      q.processAllAvailable()
      in.addData((11L, base.format("tonight"), ts(1)),
        (12L, base.format("tomorrow"), ts(1)))
      q.processAllAvailable()
      in.addData((21L, base.format("tonight"), ts(2)))
      q.processAllAvailable()
      val pairs = s2.table("rocksdb_hits").as[NearDupHit].collect()
        .map(h => (h.docId, h.matchedDocId)).distinct.sorted
      pairs should contain((11L, 2L))
      pairs should contain((12L, 2L))
      pairs should contain((21L, 11L))
      pairs should not contain ((12L, 11L))
      import scala.jdk.CollectionConverters._
      val metricKeys = q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .flatMap(_.customMetrics.keySet().asScala)
      atLeast(1, metricKeys) should include("rocksdb")
    } finally q.stop()
  }

  behavior of "StreamingDedup.exactDupStreamTtl"

  it should "break ownership chains when the hash goes unseen past the horizon" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val hits = StreamingDedup.exactDupStream(
      in.toDF().toDF("doc_id", "text", "ts").withWatermark("ts", "0 seconds"),
      "doc_id", "text", Retention.Ttl("ts", 600000L)) // 10-minute horizon
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("exact_ttl_hits")
      .option("checkpointLocation", tempDir("exactttl-ckpt"))
      .start()
    try {
      def collected() = spark.table("exact_ttl_hits").as[ExactDupHit]
        .collect().map(h => (h.docId, h.firstDocId)).sorted.toSeq
      // minute 0: two copies in one batch → 2 owns, 6 hits
      in.addData((2L, "Hello World", ts(0)), (6L, "hello,  world!", ts(0)))
      q.processAllAvailable()
      // minute 20: a third copy — watermark still at minute 0, the
      // entry is alive, hit vs owner 2; last-seen refreshes to 20
      in.addData((12L, "HELLO world", ts(20)))
      q.processAllAvailable()
      collected() shouldBe Seq((6L, 2L), (12L, 2L))
      // minute 40: an unrelated doc pushes the watermark past
      // minute 30 = the entry's refreshed expiry → evicted
      in.addData((99L, unrelated, ts(40)))
      q.processAllAvailable()
      // minute 41: the hash reappears AFTER the break — no hit, doc 22
      // starts a NEW ownership chain
      in.addData((22L, "hello WORLD", ts(41)))
      q.processAllAvailable()
      collected() shouldBe Seq((6L, 2L), (12L, 2L))
      // minute 42: inside the new chain's horizon — hit vs the NEW
      // owner, never the original one
      in.addData((32L, "hello world", ts(42)))
      q.processAllAvailable()
      collected() shouldBe Seq((6L, 2L), (12L, 2L), (32L, 22L))
    } finally q.stop()
  }

  behavior of "StreamingDedup.exactDupStream"

  it should "flag later arrivals of a stored content hash (normalization included)" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val hits = StreamingDedup.exactDupStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("exact_hits")
      .option("checkpointLocation", tempDir("exactdup-ckpt"))
      .start()
    try {
      // batch 1: two copies in ONE batch → lowest id owns the hash
      in.addData((2L, "Hello World"), (6L, "hello,   world!"), (3L, unrelated))
      q.processAllAvailable()
      // batch 2: a third copy arrives later
      in.addData((12L, "HELLO world"))
      q.processAllAvailable()
      val out = spark.table("exact_hits").as[ExactDupHit].collect()
        .map(h => (h.docId, h.firstDocId)).sorted
      out.toSeq shouldBe Seq((6L, 2L), (12L, 2L))
    } finally q.stop()
  }

  it should "never flag the owner's own id re-arriving, and keep non-owner hits per-arrival" in {
    // VERDICT r9 #6: the duplicate-id-in-batch contract, pinned. A
    // replayed source can deliver the owner's row twice in its owning
    // batch, or replay the whole document in a later batch — neither
    // is a duplicate HIT, because the arrival IS the owner. Non-owner
    // arrivals stay per-arrival (each replay emits again); collapsing
    // those is the downstream sink's dropDuplicates, same as the near
    // tier's documented at-least-once contract.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val hits = StreamingDedup.exactDupStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("owner_hits")
      .option("checkpointLocation", tempDir("ownerdup-ckpt"))
      .start()
    try {
      def collected() = spark.table("owner_hits").as[ExactDupHit]
        .collect().map(h => (h.docId, h.firstDocId)).sorted.toSeq
      // batch 1: the owner's row delivered TWICE in the owning batch
      // (normalization-equal variants) → doc 2 owns, zero hits
      in.addData((2L, "Hello World"), (2L, "hello,  world!"))
      q.processAllAvailable()
      collected() shouldBe Seq.empty
      // batch 2: the owner's document replayed in a LATER batch →
      // still not a hit, ownership untouched
      in.addData((2L, "HELLO WORLD"))
      q.processAllAvailable()
      collected() shouldBe Seq.empty
      // batch 3: a genuine duplicate still hits the original owner
      in.addData((6L, "hello world"))
      q.processAllAvailable()
      collected() shouldBe Seq((6L, 2L))
      // batch 4: the non-owner id replayed twice in one batch →
      // per-arrival semantics, TWO more hits against the same owner
      in.addData((6L, "Hello, World"), (6L, "hello world!"))
      q.processAllAvailable()
      collected() shouldBe Seq((6L, 2L), (6L, 2L), (6L, 2L))
    } finally q.stop()
  }

  it should "let an owner re-arrival refresh its TTL chain without emitting a hit" in {
    // The TTL half of the r9 #6 contract: the owner's own arrival is
    // never a hit AND — like every arrival — refreshes last-seen, so a
    // re-arriving owner keeps its chain alive past the original
    // expiry. The minute-13 hit below proves the refresh mattered:
    // without it the watermark (minute 12) would already have evicted
    // the minute-0 entry (expiry minute 10) and doc 32 would have
    // started a fresh chain instead of hitting owner 2.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val hits = StreamingDedup.exactDupStream(
      in.toDF().toDF("doc_id", "text", "ts").withWatermark("ts", "0 seconds"),
      "doc_id", "text", Retention.Ttl("ts", 600000L)) // 10-minute horizon
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("owner_ttl_hits")
      .option("checkpointLocation", tempDir("ownerttl-ckpt"))
      .start()
    try {
      def collected() = spark.table("owner_ttl_hits").as[ExactDupHit]
        .collect().map(h => (h.docId, h.firstDocId)).sorted.toSeq
      // minute 0: doc 2 owns its hash
      in.addData((2L, "Hello World", ts(0)))
      q.processAllAvailable()
      // minute 8: the OWNER re-arrives — no hit, last-seen → minute 8
      in.addData((2L, "hello world", ts(8)))
      q.processAllAvailable()
      collected() shouldBe Seq.empty
      // minute 12: unrelated traffic pushes the watermark past the
      // ORIGINAL expiry (minute 10) but not the refreshed one (18)
      in.addData((99L, unrelated, ts(12)))
      q.processAllAvailable()
      // minute 13: the duplicate hits the ORIGINAL owner — the chain
      // survived only because the owner's re-arrival refreshed it
      in.addData((32L, "HELLO world", ts(13)))
      q.processAllAvailable()
      collected() shouldBe Seq((32L, 2L))
    } finally q.stop()
  }

  it should "recover TTL state across kill/resume with RocksDB changelog checkpointing" in {
    // VERDICT r9 #5: the 100 TB restore-cost knob. With changelog
    // checkpointing the RocksDB provider uploads per-commit CHANGELOGS
    // instead of full snapshots, so recovery replays a changelog tail
    // rather than re-downloading the whole store. Semantics must be
    // unchanged: kill the stream after the owner is stored, resume
    // from the same checkpoint, and the post-resume duplicate must hit
    // the pre-kill owner — state crossed the restart. The .changelog
    // files in the checkpoint prove the knob engaged.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    import s2.implicits._
    val inDir = tempDir("chglog-in")
    val ckpt = tempDir("chglog-ckpt")
    val outDir = tempDir("chglog-out")
    // a memory sink cannot recover from a checkpoint; the file sink
    // can, and its _spark_metadata commit log doubles as the
    // exactly-once evidence across the restart
    def streamHits() = {
      val src = s2.readStream
        .schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      StreamingDedup.exactDupStream(
          src.withWatermark("ts", "0 seconds"),
          "doc_id", "text", Retention.Ttl("ts", 3600000L))
        .toDF()
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    // run 1: the owner batch, then KILL
    Seq((2L, "Hello World", ts(0)), (4L, unrelated, ts(0)))
      .toDF("doc_id", "text", "ts").repartition(1).write
      .mode("append").parquet(inDir)
    val q1 = streamHits()
    try q1.processAllAvailable() finally q1.stop()
    // explicit schema: a hit-free first run leaves only _spark_metadata
    def readOut() = s2.read.schema("docId LONG, firstDocId LONG").parquet(outDir)
    readOut().count() shouldBe 0
    // the duplicate arrives while the stream is DOWN
    Seq((12L, "HELLO world", ts(5)))
      .toDF("doc_id", "text", "ts").repartition(1).write
      .mode("append").parquet(inDir)
    // run 2 resumes from the checkpoint: only the new file is read,
    // and the hit names the owner stored before the kill
    val q2 = streamHits()
    try q2.processAllAvailable() finally q2.stop()
    val out = readOut().as[ExactDupHit].collect()
      .map(h => (h.docId, h.firstDocId)).toSeq
    out shouldBe Seq((12L, 2L))
    // the knob engaged: per-commit changelog files exist in the
    // checkpoint's state directory
    import scala.jdk.CollectionConverters._
    val changelogs = java.nio.file.Files
      .walk(java.nio.file.Paths.get(ckpt, "state"))
      .iterator().asScala
      .filter(_.toString.endsWith(".changelog")).toList
    changelogs should not be empty
  }

  behavior of "StreamingDedup.semanticDupStream"

  // two far-apart coarse cells: centroid 0 at e0, centroid 1 at e10
  private def oneHot(pos: Int, scale: Float = 1f): Array[Float] =
    Array.tabulate(64)(i => if (i == pos) scale else 0f)
  private val semCents: Seq[(Long, Array[Double])] = Seq(
    0L -> oneHot(0).map(_.toDouble),
    1L -> oneHot(10).map(_.toDouble))

  it should "flag arrivals against prior-batch cell members only, with capped admission" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val hits = StreamingDedup.semanticDupStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      semCents, minScoreE4 = 3000L, maxCell = 2)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("sem_hits")
      .option("checkpointLocation", tempDir("semdup-ckpt"))
      .start()
    try {
      def collected() = spark.table("sem_hits").as[SemDupHit].collect()
        .map(h => (h.vecId, h.matchedVecId, h.scoreE4)).sorted.toSeq
      // batch 1: one member per cell; no prior members → no hits.
      // vec 2 sits at e1: equidistant from both centroids (sq dist 2
      // each) → tie resolves to the LOWEST cid, cell 0 — but cosine
      // vs e0 is 0, so it never matches, only occupies a member slot
      in.addData((1L, oneHot(0).toSeq), (2L, oneHot(1).toSeq),
        (5L, oneHot(10).toSeq))
      q.processAllAvailable()
      collected() shouldBe Seq.empty
      // batch 2: vec 11 = e0 → hits member 1 (cos 1.0 = 10000), not
      // member 2 (cos 0); vec 12 = e0 scaled → same-batch pair with 11
      // SUPPRESSED (batch-vs-corpus), hits member 1 only
      in.addData((11L, oneHot(0).toSeq), (12L, oneHot(0, 0.5f).toSeq))
      q.processAllAvailable()
      collected() shouldBe Seq((11L, 1L, 10000L), (12L, 1L, 10000L))
      // cell 0 now holds [1, 2] — maxCell = 2 bound at batch-2
      // admission time, so 11 and 12 were NOT admitted
      // batch 3: vec 21 = e0 → hits the ADMITTED members only
      // (member 1; member 2 at cos 0 misses) — NOT 11 or 12
      in.addData((21L, oneHot(0).toSeq))
      q.processAllAvailable()
      collected() shouldBe Seq((11L, 1L, 10000L), (12L, 1L, 10000L),
        (21L, 1L, 10000L))
      // the other cell is independent: vec 25 = e10 hits member 5
      in.addData((25L, oneHot(10).toSeq))
      q.processAllAvailable()
      collected() should contain((25L, 5L, 10000L))
    } finally q.stop()
  }

  it should "admit within a batch in vec_id order when the cap leaves partial room" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val hits = StreamingDedup.semanticDupStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      semCents, minScoreE4 = 3000L, maxCell = 2)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("sem_adm_hits")
      .option("checkpointLocation", tempDir("semadm-ckpt"))
      .start()
    try {
      // batch 1: three cell-0 vectors arrive at once; the cap admits
      // the two LOWEST ids (7, 8), not 9
      in.addData((9L, oneHot(0).toSeq), (7L, oneHot(0).toSeq),
        (8L, oneHot(0, 2f).toSeq))
      q.processAllAvailable()
      // batch 2: a probe matches exactly the admitted set
      in.addData((30L, oneHot(0).toSeq))
      q.processAllAvailable()
      val got = spark.table("sem_adm_hits").as[SemDupHit].collect()
        .map(h => (h.vecId, h.matchedVecId)).sorted.toSeq
      got shouldBe Seq((30L, 7L), (30L, 8L))
    } finally q.stop()
  }

  it should "not double-admit a replayed or same-batch duplicate member" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val hits = StreamingDedup.semanticDupStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      semCents, minScoreE4 = 3000L, maxCell = 3)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("sem_replay_hits")
      .option("checkpointLocation", tempDir("semreplay-ckpt"))
      .start()
    try {
      // batch 1: vec 1 arrives TWICE in one batch (at-least-once
      // in-batch duplicate) — it must take ONE member slot, not two
      in.addData((1L, oneHot(0).toSeq), (1L, oneHot(0).toSeq))
      q.processAllAvailable()
      // batch 2: vec 1 re-arrives (source replay) alongside fresh vec 2;
      // pre-fix, 1 was stored a second time (burning a cap slot) and
      // every later match would double-emit against it
      in.addData((1L, oneHot(0).toSeq), (2L, oneHot(0, 2f).toSeq))
      q.processAllAvailable()
      // batch 3: probe — with members [1, 2] (one copy of 1, cap room
      // left for 2), the probe hits EACH exactly once
      in.addData((9L, oneHot(0).toSeq))
      q.processAllAvailable()
      val got = spark.table("sem_replay_hits").as[SemDupHit].collect()
        .map(h => (h.vecId, h.matchedVecId)).sorted.toSeq
      got.filter(_._1 == 9L) shouldBe Seq((9L, 1L), (9L, 2L))
    } finally q.stop()
  }

  behavior of "StreamingDedup.semanticDupStreamTtl"

  it should "evict expired members, freeing admission room for new arrivals" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val hits = StreamingDedup.semanticDupStream(
      in.toDF().toDF("vec_id", "embedding", "ts").withWatermark("ts", "0 seconds"),
      "vec_id", "embedding", semCents, minScoreE4 = 3000L,
      retention = Retention.Ttl("ts", 600000L), maxCell = 2) // 10-minute horizon, 2-member cells
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("sem_ttl_hits")
      .option("checkpointLocation", tempDir("semttl-ckpt"))
      .start()
    try {
      def collected() = spark.table("sem_ttl_hits").as[SemDupHit].collect()
        .map(h => (h.vecId, h.matchedVecId)).sorted.toSeq
      // minute 0: cell 0 fills to its cap
      in.addData((1L, oneHot(0).toSeq, ts(0)), (2L, oneHot(0, 2f).toSeq, ts(0)))
      q.processAllAvailable()
      // minute 8 (watermark 0, members alive): arrival hits BOTH, and
      // is NOT admitted — the cap binds against live membership
      in.addData((11L, oneHot(0).toSeq, ts(8)))
      q.processAllAvailable()
      collected() shouldBe Seq((11L, 1L), (11L, 2L))
      // minute 20: other-cell traffic pushes the watermark to 8, then
      // 20 — members 1/2 (expiry minute 10) die with it
      in.addData((99L, oneHot(10).toSeq, ts(20)))
      q.processAllAvailable()
      // minute 21 (watermark 20): the cell is EMPTY — no hits, and the
      // arrival takes the freed room
      in.addData((31L, oneHot(0).toSeq, ts(21)))
      q.processAllAvailable()
      collected() shouldBe Seq((11L, 1L), (11L, 2L))
      // minute 22: a new arrival matches the NEW member only — the
      // expired members are gone, not shadowed
      in.addData((41L, oneHot(0).toSeq, ts(22)))
      q.processAllAvailable()
      collected() shouldBe Seq((11L, 1L), (11L, 2L), (41L, 31L))
    } finally q.stop()
  }

  it should "produce identical hits under the RocksDB state store provider" in {
    // provider independence for the semantic stream, same contract the
    // near tier pins: the 100 TB shape keeps the vector-bearing cell
    // state on executor-local disk, and semantics must not move
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val hits = StreamingDedup.semanticDupStream(
      in.toDF().toDF("vec_id", "embedding", "ts").withWatermark("ts", "0 seconds"),
      "vec_id", "embedding", semCents, minScoreE4 = 3000L,
      retention = Retention.Ttl("ts", 600000L), maxCell = 2)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("sem_rocks_hits")
      .option("checkpointLocation", tempDir("semrocks-ckpt"))
      .start()
    try {
      in.addData((1L, oneHot(0).toSeq, ts(0)), (2L, oneHot(0, 2f).toSeq, ts(0)))
      q.processAllAvailable()
      in.addData((11L, oneHot(0).toSeq, ts(8)))
      q.processAllAvailable()
      in.addData((99L, oneHot(10).toSeq, ts(20)))
      q.processAllAvailable()
      in.addData((31L, oneHot(0).toSeq, ts(21)))
      q.processAllAvailable()
      in.addData((41L, oneHot(0).toSeq, ts(22)))
      q.processAllAvailable()
      val got = s2.table("sem_rocks_hits").as[SemDupHit].collect()
        .map(h => (h.vecId, h.matchedVecId)).sorted.toSeq
      got shouldBe Seq((11L, 1L), (11L, 2L), (41L, 31L)) // same as default provider
      import scala.jdk.CollectionConverters._
      val metricKeys = q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .flatMap(_.customMetrics.keySet().asScala)
      atLeast(1, metricKeys) should include("rocksdb")
    } finally q.stop()
  }

  it should "recover vector-bearing cell state across kill/resume with changelog checkpointing" in {
    // the semantic tier's state rows carry nested float arrays (the
    // member vectors) — this proves THAT schema round-trips through a
    // RocksDB changelog-checkpoint restore, not just the exact tier's
    // scalar state: the post-resume duplicate must cosine-match a
    // member admitted before the kill
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    import s2.implicits._
    val inDir = tempDir("semchg-in")
    val ckpt = tempDir("semchg-ckpt")
    val outDir = tempDir("semchg-out")
    def streamHits() = {
      val src = s2.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .withWatermark("ts", "0 seconds")
      StreamingDedup.semanticDupStream(
          src, "vec_id", "embedding", semCents,
          minScoreE4 = 3000L, retention = Retention.Ttl("ts", 3600000L))
        .toDF()
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    Seq((1L, oneHot(0).toSeq, ts(0)), (5L, oneHot(10).toSeq, ts(0)))
      .toDF("vec_id", "embedding", "ts").repartition(1).write
      .mode("append").parquet(inDir)
    val q1 = streamHits()
    try q1.processAllAvailable() finally q1.stop()
    // the duplicate arrives while the stream is DOWN
    Seq((21L, oneHot(0).toSeq, ts(5)))
      .toDF("vec_id", "embedding", "ts").repartition(1).write
      .mode("append").parquet(inDir)
    val q2 = streamHits()
    try q2.processAllAvailable() finally q2.stop()
    val out = s2.read
      .schema("vecId LONG, matchedVecId LONG, scoreE4 LONG")
      .parquet(outDir).as[SemDupHit].collect()
      .map(h => (h.vecId, h.matchedVecId, h.scoreE4)).toSeq
    out shouldBe Seq((21L, 1L, 10000L))
  }

  behavior of "StreamingDedup state writes"

  it should "write a key's state row at first access, then only when it changes" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val boiler = "the same boilerplate footer text repeated on every single page here"
    // (numRowsTotal, numRowsUpdated) of the last trigger
    def rows(q: org.apache.spark.sql.streaming.StreamingQuery) = {
      val op = q.lastProgress.stateOperators.head
      (op.numRowsTotal, op.numRowsUpdated)
    }
    def run[T](hits: org.apache.spark.sql.Dataset[T], name: String)(
        body: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
      val q = hits.writeStream.outputMode("append").format("memory")
        .queryName(name).option("checkpointLocation", tempDir(name)).start()
      try body(q) finally q.stop()
    }
    // near, cap 1: the first doc fills its 4 band buckets; a later
    // duplicate finds them full and rewrites none
    val near = MemoryStream[(Long, String)]
    run(StreamingDedup.nearDupStream(near.toDF().toDF("doc_id", "text"),
        "doc_id", "text", maxBucket = 1), "sw_near") { q =>
      near.addData((1L, boiler)); q.processAllAvailable()
      rows(q) shouldBe ((4L, 4L))
      near.addData((2L, boiler)); q.processAllAvailable()
      rows(q) shouldBe ((4L, 0L))
    }
    // near, cap 0: no member is ever stored and no hit emitted, but
    // each accessed bucket still gets its (empty) row
    val near0 = MemoryStream[(Long, String)]
    run(StreamingDedup.nearDupStream(near0.toDF().toDF("doc_id", "text"),
        "doc_id", "text", maxBucket = 0), "sw_near0") { q =>
      near0.addData((1L, boiler)); q.processAllAvailable()
      near0.addData((2L, boiler)); q.processAllAvailable()
      rows(q) shouldBe ((4L, 0L))
      spark.table("sw_near0").count() shouldBe 0
    }
    // exact: the owner is written once; its duplicates rewrite nothing
    val exact = MemoryStream[(Long, String)]
    run(StreamingDedup.exactDupStream(exact.toDF().toDF("doc_id", "text"),
        "doc_id", "text"), "sw_exact") { q =>
      exact.addData((1L, boiler)); q.processAllAvailable()
      rows(q) shouldBe ((1L, 1L))
      exact.addData((2L, boiler), (3L, boiler)); q.processAllAvailable()
      rows(q) shouldBe ((1L, 0L))
    }
    // semantic, cap 1: a full cell is not rewritten by a later arrival
    val sem = MemoryStream[(Long, Seq[Float])]
    run(StreamingDedup.semanticDupStream(sem.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", semCents, minScoreE4 = 3000L, maxCell = 1),
        "sw_sem") { q =>
      sem.addData((1L, oneHot(0).toSeq)); q.processAllAvailable()
      rows(q) shouldBe ((1L, 1L))
      sem.addData((2L, oneHot(0).toSeq)); q.processAllAvailable()
      rows(q) shouldBe ((1L, 0L))
    }
  }
}
