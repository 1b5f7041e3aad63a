package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture

/** Mid-stream retraction for the UNBOUNDED tiers (VERDICT r12 #2): a
  * takedown that healed the persisted stores must also stop a RUNNING
  * query's suppression — the tombstone feed rides the data stream as
  * `retract = true` control rows, purging the doc from state at access
  * and tombstoning its id against re-admission. These specs pin, per
  * tier: (1) the retracted member stops matching immediately after its
  * control row's batch; (2) a re-arrival of a tombstoned id is dropped
  * outright — no hits, no admission, no ownership; (3) exact-tier
  * ownership HEALS — the next surviving arrival starts the new chain.
  * The TTL tiers have no retract variant BY DESIGN: their state
  * self-heals at the event-time horizon, pinned here too. */
class StreamingRetractionSpec extends AnyFlatSpec with Matchers with SparkFixture {

  private val base =
    "the quick brown fox jumps over the lazy dog again and again %s"
  private val unrelated =
    "completely different text about spark catalyst optimizer internals today"

  behavior of "StreamingDedup.nearDupStreamRetract"

  it should "stop suppression after a mid-stream retraction and drop re-arrivals" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Boolean)]
    val hits = StreamingDedup.nearDupStream(
      in.toDF().toDF("doc_id", "text", "retract"), "doc_id", "text",
      Retention.Retractable("retract"), minSigMatch = 6)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("retract_near_hits")
      .option("checkpointLocation", tempDir("retract-near-ckpt"))
      .start()
    try {
      def pairs() = spark.table("retract_near_hits").as[NearDupHit].collect()
        .map(h => (h.docId, h.matchedDocId)).distinct.sorted.toSeq
      // batch 1: corpus doc 2 + an unrelated doc
      in.addData((2L, base.format("today"), false), (4L, unrelated, false))
      q.processAllAvailable()
      // batch 2: near-dup of 2 IS suppressed-flagged while 2 is live
      in.addData((11L, base.format("tonight"), false))
      q.processAllAvailable()
      pairs() should contain((11L, 2L))
      // batch 3: TAKEDOWN of doc 2 (control row carries its content)
      in.addData((2L, base.format("today"), true))
      q.processAllAvailable()
      // batch 4: a fresh near-dup matches the surviving member 11
      // but NOT the retracted 2 — suppression ended mid-stream
      in.addData((21L, base.format("tomorrow"), false))
      q.processAllAvailable()
      pairs() should contain((21L, 11L))
      pairs() should not contain ((21L, 2L))
      // batch 5: the tombstoned doc RE-ARRIVES — dropped outright:
      // no hits emitted for it...
      in.addData((2L, base.format("today"), false))
      q.processAllAvailable()
      pairs().map(_._1) should not contain 2L
      // ...and not re-admitted: a later clone matches 11 and 21 only
      in.addData((31L, base.format("today"), false))
      q.processAllAvailable()
      pairs().filter(_._1 == 31L).map(_._2).toSet shouldBe Set(11L, 21L)
    } finally q.stop()
  }

  it should "free the retracted member's cap slot for the same batch's admissions" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val boiler = "the same boilerplate footer text repeated on every single page here"
    val in = MemoryStream[(Long, String, Boolean)]
    val hits = StreamingDedup.nearDupStream(
      in.toDF().toDF("doc_id", "text", "retract"), "doc_id", "text",
      Retention.Retractable("retract"), maxBucket = 2, minSigMatch = 6)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("retract_cap_hits")
      .option("checkpointLocation", tempDir("retract-cap-ckpt"))
      .start()
    try {
      // fill the bucket to its cap of 2
      in.addData((1L, boiler, false), (2L, boiler, false), (3L, boiler, false))
      q.processAllAvailable()
      // retract member 1 and arrive doc 10 in the SAME batch: the
      // freed slot admits 10 (it matches the surviving member 2 only)
      in.addData((1L, boiler, true), (10L, boiler, false))
      q.processAllAvailable()
      val m10 = spark.table("retract_cap_hits").as[NearDupHit].collect()
        .filter(_.docId == 10L).map(_.matchedDocId).distinct.sorted
      m10 shouldBe Seq(2L)
      // 10 occupied the freed slot: a later clone matches 2 and 10
      in.addData((20L, boiler, false))
      q.processAllAvailable()
      val m20 = spark.table("retract_cap_hits").as[NearDupHit].collect()
        .filter(_.docId == 20L).map(_.matchedDocId).distinct.sorted
      m20 shouldBe Seq(2L, 10L)
    } finally q.stop()
  }

  behavior of "StreamingDedup.exactDupStreamRetract"

  it should "heal ownership to the next surviving arrival and reject the tombstoned id" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Boolean)]
    val hits = StreamingDedup.exactDupStream(
      in.toDF().toDF("doc_id", "text", "retract"), "doc_id", "text",
      Retention.Retractable("retract"))
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("retract_exact_hits")
      .option("checkpointLocation", tempDir("retract-exact-ckpt"))
      .start()
    try {
      def collected() = spark.table("retract_exact_hits").as[ExactDupHit].collect()
        .map(h => (h.docId, h.firstDocId)).sorted.toSeq
      val text = base.format("today")
      // batch 1: doc 5 owns the hash; batch 2: dup 8 names owner 5
      in.addData((5L, text, false))
      q.processAllAvailable()
      in.addData((8L, text, false))
      q.processAllAvailable()
      collected() shouldBe Seq((8L, 5L))
      // batch 3: the OWNER is taken down — chain is now ownerless
      in.addData((5L, text, true))
      q.processAllAvailable()
      // batch 4: the tombstoned owner re-arrives — dropped: no hit,
      // and crucially NO ownership re-claim
      in.addData((5L, text, false))
      q.processAllAvailable()
      collected() shouldBe Seq((8L, 5L))
      // batch 5: the next surviving arrival STARTS the healed chain
      // (no hit: it is the new owner), batch 6 dups name IT
      in.addData((12L, text, false))
      q.processAllAvailable()
      collected() shouldBe Seq((8L, 5L))
      in.addData((15L, text, false))
      q.processAllAvailable()
      collected() shouldBe Seq((8L, 5L), (15L, 12L))
      // a non-owner takedown only tombstones: ownership is untouched
      in.addData((15L, text, true))
      q.processAllAvailable()
      in.addData((18L, text, false))
      q.processAllAvailable()
      collected() shouldBe Seq((8L, 5L), (15L, 12L), (18L, 12L))
    } finally q.stop()
  }

  it should "bound tombstone state under a mass takedown, delegating overflow to the stores (VERDICT r13 #3)" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Boolean)]
    // cap = 4: a 6-takedown burst against ONE hash chain must keep
    // only the 4 NEWEST tombstones in stream state
    val hits = StreamingDedup.exactDupStream(
      in.toDF().toDF("doc_id", "text", "retract"), "doc_id", "text",
      Retention.Retractable("retract", maxTombstones = 4))
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("retract_cap_hits")
      .option("checkpointLocation", tempDir("retract-cap-ckpt"))
      .start()
    try {
      def collected() = spark.table("retract_cap_hits").as[ExactDupHit].collect()
        .map(h => (h.docId, h.firstDocId)).sorted.toSeq
      val text = base.format("today")
      // batch 1: ids 1..6 arrive (1 owns); batch 2: MASS takedown of
      // all six in tombstone-append order
      in.addData((1L to 6L).map(id => (id, text, false)): _*)
      q.processAllAvailable()
      collected() shouldBe (2L to 6L).map(id => (id, 1L))
      (1L to 6L).foreach { id => in.addData((id, text, true)); q.processAllAvailable() }
      // state now remembers only [3,4,5,6]; 1 and 2 overflowed — the
      // DURABLE guard for them is the stores' ingest-time filter
      // (StoreMeta.filterTombstoned), not stream state.
      // batch: the NEWEST tombstone (6) re-arrives → dropped outright
      // (no ownership, no hits)
      in.addData((6L, text, false))
      q.processAllAvailable()
      collected() shouldBe (2L to 6L).map(id => (id, 1L))
      // the OVERFLOWED oldest (1) re-arrives → stream state has
      // forgotten it: it starts the healed chain (delegation, not a
      // leak — the persisted corpus would still reject id 1 at ingest)
      in.addData((1L, text, false))
      q.processAllAvailable()
      collected() shouldBe (2L to 6L).map(id => (id, 1L)) // owner: no hit
      in.addData((9L, text, false))
      q.processAllAvailable()
      collected() shouldBe ((2L to 6L).map(id => (id, 1L)) :+ (9L, 1L)).sorted
    } finally q.stop()
  }

  it should "apply a same-batch retract before the re-arrival (deterministic order)" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Boolean)]
    val hits = StreamingDedup.exactDupStream(
      in.toDF().toDF("doc_id", "text", "retract"), "doc_id", "text",
      Retention.Retractable("retract"))
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("retract_order_hits")
      .option("checkpointLocation", tempDir("retract-order-ckpt"))
      .start()
    try {
      val text = base.format("now")
      in.addData((5L, text, false))
      q.processAllAvailable()
      // retract + re-arrival of the same id in ONE batch: the retract
      // applies first, so the re-arrival is rejected and doc 9 owns
      in.addData((5L, text, true), (5L, text, false), (9L, text, false))
      q.processAllAvailable()
      in.addData((11L, text, false))
      q.processAllAvailable()
      spark.table("retract_order_hits").as[ExactDupHit].collect()
        .map(h => (h.docId, h.firstDocId)).sorted.toSeq shouldBe Seq((11L, 9L))
    } finally q.stop()
  }

  behavior of "StreamingDedup.semanticDupStreamRetract"

  private def oneHot(pos: Int, scale: Float = 1f): Array[Float] =
    Array.tabulate(64)(i => if (i == pos) scale else 0f)
  private val semCents: Seq[(Long, Array[Double])] = Seq(
    0L -> oneHot(0).map(_.toDouble),
    1L -> oneHot(10).map(_.toDouble))

  it should "purge the retracted member, free its slot, and block re-admission" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float], Boolean)]
    val hits = StreamingDedup.semanticDupStream(
      in.toDF().toDF("vec_id", "embedding", "retract"),
      "vec_id", "embedding", semCents,
      minScoreE4 = 3000L, retention = Retention.Retractable("retract"), maxCell = 2)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("retract_sem_hits")
      .option("checkpointLocation", tempDir("retract-sem-ckpt"))
      .start()
    try {
      def collected() = spark.table("retract_sem_hits").as[SemDupHit].collect()
        .map(h => (h.vecId, h.matchedVecId)).distinct.sorted.toSeq
      // batch 1: members 1 and 2 fill cell 0 to its cap
      in.addData((1L, oneHot(0).toSeq, false), (2L, oneHot(0, 0.5f).toSeq, false))
      q.processAllAvailable()
      // batch 2: arrival matches both live members (cap full → not admitted)
      in.addData((11L, oneHot(0).toSeq, false))
      q.processAllAvailable()
      collected() shouldBe Seq((11L, 1L), (11L, 2L))
      // batch 3: retract member 1 (control row carries the vector) and
      // admit 12 into the freed slot in the same batch
      in.addData((1L, oneHot(0).toSeq, true), (12L, oneHot(0).toSeq, false))
      q.processAllAvailable()
      collected() shouldBe Seq((11L, 1L), (11L, 2L), (12L, 2L))
      // batch 4: the tombstoned vector re-arrives — dropped (no hits
      // emitted for it, no slot burned)
      in.addData((1L, oneHot(0).toSeq, false))
      q.processAllAvailable()
      collected().map(_._1) should not contain 1L
      // batch 5: a fresh arrival matches the healed membership [2, 12]
      in.addData((21L, oneHot(0).toSeq, false))
      q.processAllAvailable()
      collected().filter(_._1 == 21L).map(_._2).toSet shouldBe Set(2L, 12L)
    } finally q.stop()
  }

  behavior of "TTL tiers (self-heal at the horizon — no retract variant by design)"

  private def ts(minute: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1700000000000L + minute * 60000L)

  it should "end a resident doc's suppression once the watermark passes its horizon" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val hits = StreamingDedup.nearDupStream(
      in.toDF().toDF("doc_id", "text", "ts").withWatermark("ts", "0 seconds"),
      "doc_id", "text", Retention.Ttl("ts", 600000L), minSigMatch = 6) // 10-minute horizon
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("ttl_heal_hits")
      .option("checkpointLocation", tempDir("ttl-heal-ckpt"))
      .start()
    try {
      def pairs() = spark.table("ttl_heal_hits").as[NearDupHit].collect()
        .map(h => (h.docId, h.matchedDocId)).distinct.sorted.toSeq
      // minute 0: the doc a takedown will target becomes corpus
      in.addData((2L, base.format("today"), ts(0)))
      q.processAllAvailable()
      // minute 5 (inside horizon): suppression is live
      in.addData((11L, base.format("tonight"), ts(5)))
      q.processAllAvailable()
      pairs() should contain((11L, 2L))
      // minute 20: an unrelated arrival ADVANCES the watermark past
      // 5 + 10min (the watermark a batch observes is the PREVIOUS
      // batch's max event time)
      in.addData((4L, unrelated, ts(20)))
      q.processAllAvailable()
      // minute 21 (watermark now 20, past both members' horizons):
      // doc 2 has been evicted — a NEW clone matches nothing; the
      // takedown completed by horizon passage, no restart, no control
      // row. (Member 11 expired too: last seen minute 5 + 10 < 20.)
      in.addData((21L, base.format("today"), ts(21)))
      q.processAllAvailable()
      pairs().filter(_._1 == 21L) shouldBe Seq.empty
      // and the state is genuinely clean: a further clone at minute 22
      // matches ONLY the re-established corpus (doc 21), not doc 2
      in.addData((31L, base.format("today"), ts(22)))
      q.processAllAvailable()
      pairs().filter(_._1 == 31L).map(_._2).toSet shouldBe Set(21L)
    } finally q.stop()
  }
}
