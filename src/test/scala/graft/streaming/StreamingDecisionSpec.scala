package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture

/** VERDICT r10 #2: the streaming decision surface must apply the batch
  * surface's exact > near > semantic precedence AT ARRIVAL TIME — one
  * verdict per arriving doc against the persisted stores — with
  * first-arrival hash ownership, prior-batch-only near/semantic
  * claims, replay idempotence, and capped cell admission. Planted
  * corpora mirror PipelineDecisionSpec's construction (tier membership
  * controlled independently via text identity, near-identity, and
  * embedding identity). */
class StreamingDecisionSpec extends AnyFlatSpec with Matchers with SparkFixture {

  private val textA =
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest " +
      "while morning light spreads slowly across quiet hills where small birds gather seeds " +
      "beside the old stone wall near the river tonight"
  private val textB =
    "database engines schedule compaction tasks during idle windows so storage segments stay " +
      "balanced and query latency remains predictable even when ingestion bursts arrive from " +
      "many concurrent producers writing append only logs across partitioned durable volumes overnight"
  private val textBNear = textB.replace("compaction", "vacuuming")
  private val textC =
    "mountain climbers check anchor ropes carefully before every ascent because weather systems " +
      "change rapidly above the tree line and loose rock fields demand patient footwork from " +
      "anyone crossing exposed ridges toward the summit plateau together"
  private val textD =
    "orchestra rehearsals begin with tuning strings and woodwinds against a single oboe note " +
      "until every section agrees on pitch then the conductor shapes phrasing dynamics and tempo " +
      "through repeated passages of the evening symphony program"
  private val textE =
    "harvest crews repair irrigation channels each spring so meltwater reaches distant orchards " +
      "before blossom season and the village shares pressed cider once autumn picking fills the " +
      "cellar racks with crates of late ripening apples"

  private def oneHot(pos: Int): Seq[Float] =
    Seq.tabulate(64)(i => if (i == pos) 1f else 0f)

  private val cents: Seq[(Long, Array[Double])] = Seq(
    0L -> Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0),
    1L -> Array.tabulate(64)(i => if (i == 32) 1.0 else 0.0))

  private def df(rows: Seq[(Long, String, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "embedding")
  }

  private def decide(store: String, batchKey: String,
      rows: Seq[(Long, String, Seq[Float])],
      maxCell: Int = 64, maxBucket: Int = 64): Map[Long, (String, Long)] =
    StreamingDecision.processBatch(df(rows), "doc_id", "text",
        Some("embedding"), store, cents, batchKey, maxCell = maxCell,
        maxBucket = maxBucket)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  /** Spark jobs one `processBatch` call may run, measured by the
    * job-budget case below: 9 for its first call (two jobs to read the
    * batch — the in-batch dedup shuffle and the key collect —, four
    * writes, and one schema file per new store table) and 7 for its
    * second (the same two, one job over the three store slices, four
    * writes). The bound is the larger count plus one. */
  private val JobBudget = 10

  /** Spark jobs one `readjudicate` call may run, measured by the same
    * case over re-fed docs from three batches: 12 (the keys job, the
    * slice probe, the member-epoch read, the hashes admission and the
    * ledger patch's reads and write). None of them is per batch. The
    * bound is the count plus one. */
  private val ReadjudicateBudget = 13

  behavior of "StreamingDecision.processBatch"

  it should "apply exact > near > semantic precedence at arrival time" in {
    val store = tempDir("dec-prec")
    val b0 = decide(store, "0", Seq(
      (10L, textA, oneHot(0)),
      (20L, textB, oneHot(32)),
      (30L, textC, oneHot(7))))
    b0(10L) shouldBe ("keep", 10L)
    b0(20L) shouldBe ("keep", 20L)
    b0(30L) shouldBe ("keep", 30L)

    val b1 = decide(store, "1", Seq(
      // exact clone of A — also a trivial near-dup AND embedding-equal:
      // the exact tier must claim it
      (11L, textA, oneHot(0)),
      // near-dup of B with B's embedding: near beats semantic
      (21L, textBNear, oneHot(32)),
      // A's embedding under unrelated text: semantic tier only
      (31L, textD, oneHot(0)),
      // nothing shared: keep
      (41L, textE, oneHot(45))))
    b1(11L) shouldBe ("drop_exact", 10L)
    b1(21L) shouldBe ("drop_near", 20L)
    b1(31L) shouldBe ("drop_semantic", 10L)
    b1(41L) shouldBe ("keep", 41L)
  }

  it should "rank drop_quality below every duplicate tier and above keep (VERDICT r13 #2)" in {
    import spark.implicits._
    import graft.ext.QualityClassifier.FeatureFit
    val store = tempDir("dec-quality")
    // hand weights isolate the tier: score = -(x1 - 30), so any doc
    // longer than 30 tokens fails quality; the other three features
    // carry zero weight
    val fits = Seq(FeatureFit(-1.0, 30.0), FeatureFit(0.0, 0.0),
      FeatureFit(0.0, 0.0), FeatureFit(0.0, 0.0))
    val shortText = "five small words sit here now"
    def decideQ(batchKey: String, rows: Seq[(Long, String, Seq[Float])]): Map[Long, (String, Long)] =
      StreamingDecision.processBatch(df(rows), "doc_id", "text",
          Some("embedding"), store, cents, batchKey,
          qualityFits = fits, qualityStop = Seq("the", "a", "of"))
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val b0 = decideQ("0", Seq(
      (10L, textA, oneHot(0)),
      (20L, shortText, oneHot(45)),
      (99L, textC, oneHot(7))))
    b0(10L) shouldBe ("drop_quality", 10L) // long, duplicates nothing
    b0(20L) shouldBe ("keep", 20L) // short doc passes the gate
    b0(99L) shouldBe ("drop_quality", 99L)
    // quality-dropped docs are still ADMITTED — the store records what
    // the stream has seen, so later duplicates of junk stay duplicates
    spark.read.parquet(s"$store/hashes/data")
      .filter(col("owner_id") === 10L).count() shouldBe 1L
    StreamingDecision.delete(spark, store, Seq(99L).toDF("doc_id")).count() should be >= 0L
    val b1 = decideQ("1", Seq(
      // exact clone of the quality-dropped 10: exact beats quality —
      // the keeper EDGE must exist even though both docs are junk
      (11L, textA, oneHot(50)),
      // near-dup of 10 (one token changed, still >30 tokens)
      (21L, textA.replace("quick", "swift"), oneHot(51)),
      // 10's embedding under unrelated long text: semantic beats quality
      (31L, textD, oneHot(0)),
      // long unique: quality claims it
      (41L, textB, oneHot(60)),
      // short unique: keep
      (51L, "quiet harbors shelter wooden boats", oneHot(61)),
      // tombstoned id re-arriving as long junk: tombstone beats quality
      (99L, textE, oneHot(62))))
    b1(11L) shouldBe ("drop_exact", 10L)
    b1(21L) shouldBe ("drop_near", 10L)
    b1(31L) shouldBe ("drop_semantic", 10L)
    b1(41L) shouldBe ("drop_quality", 41L)
    b1(51L) shouldBe ("keep", 51L)
    b1(99L) shouldBe ("drop_tombstone", 99L)
    // without qualityFits the same surface never emits drop_quality
    val b2 = StreamingDecision.processBatch(
        df(Seq((61L, textB.replace("database", "warehouse") + " extra", oneHot(63)))),
        "doc_id", "text", Some("embedding"), store, cents, "2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    b2(61L) should not be "drop_quality"
  }

  it should "let the first arrival own a hash regardless of id order" in {
    val store = tempDir("dec-own")
    decide(store, "0", Seq((50L, textD, oneHot(32))))
    // a SMALLER id arriving later is the duplicate — ownership is
    // arrival order, not min id (the wrap-clone contract the golden
    // oracle replays with ORDER BY batch, doc_id)
    val b1 = decide(store, "1", Seq((5L, textD, oneHot(32))))
    b1(5L) shouldBe ("drop_exact", 50L)
  }

  it should "claim exact dups within a batch but never near dups" in {
    val store = tempDir("dec-batch")
    val b0 = decide(store, "0", Seq(
      (60L, textA, oneHot(0)),
      (61L, textA, oneHot(32)),  // same text, same batch
      (70L, textB, oneHot(45)),
      (71L, textBNear, oneHot(50)))) // near-dup pair, same batch
    b0(60L) shouldBe ("keep", 60L)
    b0(61L) shouldBe ("drop_exact", 60L)
    // prior-members-only: a same-batch near pair is not claimed
    b0(70L) shouldBe ("keep", 70L)
    b0(71L) shouldBe ("keep", 71L)
    // ...but a THIRD near variant (exact-identical to neither stored
    // doc) IS claimed one batch later, keeper = min matching stored id
    val b1 = decide(store, "1",
      Seq((72L, textB.replace("compaction", "cleanup"), oneHot(50))))
    b1(72L) shouldBe ("drop_near", 70L)
  }

  it should "reproduce decisions and admit nothing on replay" in {
    val store = tempDir("dec-replay")
    decide(store, "0", Seq((80L, textA, oneHot(0))))
    val first = decide(store, "1", Seq((81L, textA, oneHot(0)), (82L, textC, oneHot(32))))
    val bandsN = spark.read.parquet(s"$store/bands/data").count()
    val hashesN = spark.read.parquet(s"$store/hashes/data").count()
    val cellsN = spark.read.parquet(s"$store/cells/data").count()
    // the at-least-once replay of the SAME epoch: decisions identical,
    // stores untouched (marker guard + insert-if-absent)
    val replay = decide(store, "1", Seq((81L, textA, oneHot(0)), (82L, textC, oneHot(32))))
    replay shouldBe first
    spark.read.parquet(s"$store/bands/data").count() shouldBe bandsN
    spark.read.parquet(s"$store/hashes/data").count() shouldBe hashesN
    spark.read.parquet(s"$store/cells/data").count() shouldBe cellsN
  }

  it should "bound cell admission by maxCell and score only stored members" in {
    val store = tempDir("dec-cap")
    decide(store, "0", Seq((100L, textA, oneHot(0))), maxCell = 1)
    // 101 matches the sole stored member; the cell is full, so 101 is
    // NOT admitted...
    val b1 = decide(store, "1", Seq((101L, textC, oneHot(0))), maxCell = 1)
    b1(101L) shouldBe ("drop_semantic", 100L)
    // ...and 102 can only have matched 100, never 101
    val b2 = decide(store, "2", Seq((102L, textD, oneHot(0))), maxCell = 1)
    b2(102L) shouldBe ("drop_semantic", 100L)
    val cells = spark.read.parquet(s"$store/cells/data")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    cells shouldBe Seq(100L)
  }

  it should "bound band admission by maxBucket and score only stored members" in {
    val store = tempDir("dec-bcap")
    def ranks(ids: Set[Long]): Seq[(Long, Int)] =
      spark.read.parquet(s"$store/bands/data").filter(col("doc_id").isin(ids.toSeq: _*))
        .select("doc_id", "rank").collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq.sorted
    // three copies of A in one batch: each of A's four band keys admits
    // in doc-id order (not arrival order) until the cap of 2 is reached
    val b0 = decide(store, "0",
      Seq((12L, textA, oneHot(0)), (10L, textA, oneHot(1)), (11L, textA, oneHot(2))),
      maxBucket = 2)
    b0 shouldBe Map(10L -> ("keep", 10L), 11L -> ("drop_exact", 10L),
      12L -> ("drop_exact", 10L))
    ranks(Set(10L, 11L, 12L)) shouldBe Seq.fill(4)(10L -> 1) ++ Seq.fill(4)(11L -> 2)
    // A's buckets are full, so the smaller id 5 is not admitted; B's
    // fresh buckets rank after their (empty) stored rows
    val b1 = decide(store, "1",
      Seq((5L, textA, oneHot(3)), (15L, textB, oneHot(4)), (14L, textB, oneHot(5)),
        (16L, textB, oneHot(6))),
      maxBucket = 2)
    b1(5L) shouldBe ("drop_exact", 10L)
    b1(14L) shouldBe ("keep", 14L)
    ranks(Set(5L, 10L, 11L, 12L, 14L, 15L, 16L)) shouldBe
      Seq.fill(4)(10L -> 1) ++ Seq.fill(4)(11L -> 2) ++ Seq.fill(4)(14L -> 1) ++
        Seq.fill(4)(15L -> 2)
    // a near copy of A matches only STORED members: 10, never 5
    val b2 = decide(store, "2", Seq((20L, textA.replace("quick", "swift"), oneHot(7))),
      maxBucket = 2)
    b2(20L) shouldBe ("drop_near", 10L)
    // its bands shared with A found their buckets full; its own new
    // bands each rank first
    val bands = spark.read.parquet(s"$store/bands/data")
    val keysOf10 = bands.filter(col("doc_id") === 10L).select("bk").collect().map(_.getString(0)).toSet
    val rows20 = bands.filter(col("doc_id") === 20L).select("bk", "rank").collect()
    rows20.length should (be > 0 and be < 4)
    rows20.map(_.getInt(1)).toSet shouldBe Set(1)
    rows20.map(_.getString(0)).toSet.intersect(keysOf10) shouldBe empty
  }

  it should "re-run a batch whose commit marker is missing without admitting twice" in {
    // a crash after the store writes but before the `_commits/<key>`
    // marker: the re-run decides identically and inserts only rows the
    // stores lack — here none, since every write had landed
    val store = tempDir("dec-nomarker")
    decide(store, "0", Seq((80L, textA, oneHot(0)), (90L, textB, oneHot(32))))
    val rows = Seq((81L, textA, oneHot(0)), (82L, textC, oneHot(32)),
      (83L, textD, oneHot(32)), (91L, textBNear, oneHot(40)))
    val first = decide(store, "1", rows)
    first shouldBe Map(81L -> ("drop_exact", 80L), 82L -> ("drop_semantic", 90L),
      83L -> ("drop_semantic", 90L), 91L -> ("drop_near", 90L))
    def counts = Seq("hashes", "bands", "cells")
      .map(t => t -> spark.read.parquet(s"$store/$t/data").count()).toMap
    val before = counts
    val marker = new java.io.File(s"$store/_commits/1")
    marker.exists() shouldBe true
    marker.delete() shouldBe true
    decide(store, "1", rows) shouldBe first
    counts shouldBe before
    marker.exists() shouldBe true
  }

  it should "decide a batch in a bounded number of Spark jobs" in {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // jobs started by `f`, counted once the listener bus has delivered
    // them all: the bus delivers in order, so when a marker job started
    // after `f` reaches the listener, every job of `f` has too
    def jobsOf(f: => Unit): Int = {
      started.clear()
      f
      sc.setJobDescription("job-budget-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { d =>
          d should not be null
          d != "job-budget-marker"
        }.size
    }
    val store = tempDir("dec-jobs")
    sc.addSparkListener(listener)
    try {
      val j0 = jobsOf(decide(store, "0", Seq(
        (10L, textA, oneHot(0)), (20L, textB, oneHot(32)), (30L, textC, oneHot(7)))): Unit)
      val j1 = jobsOf(decide(store, "1", Seq(
        (11L, textA, oneHot(0)), (21L, textBNear, oneHot(32)), (31L, textD, oneHot(0)),
        (41L, textE, oneHot(45)))): Unit)
      info(s"jobs per call: $j0, $j1")
      j0 should be <= JobBudget
      j1 should be <= JobBudget
      // the takedown heal runs the same steps, so its job count does not
      // grow with the number of batches its re-fed docs came from
      decide(store, "2", Seq((12L, textA, oneHot(2)),
        (22L, textB.replace("compaction", "cleanup"), oneHot(33))))
      decide(store, "3", Seq((13L, textA, oneHot(3))))
      import spark.implicits._
      StreamingDecision.delete(spark, store, Seq(10L, 20L).toDF("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap shouldBe
        Map(11L -> "1", 21L -> "1", 31L -> "1", 12L -> "2", 22L -> "2", 13L -> "3")
      val refed = Seq((11L, textA, oneHot(0), "1"), (21L, textBNear, oneHot(32), "1"),
          (31L, textD, oneHot(0), "1"), (12L, textA, oneHot(2), "2"),
          (22L, textB.replace("compaction", "cleanup"), oneHot(33), "2"),
          (13L, textA, oneHot(3), "3"))
        .toDF("doc_id", "text", "embedding", "batch")
      val jr = jobsOf(StreamingDecision.readjudicate(refed, "doc_id", "text",
        Some("embedding"), "batch", store, cents): Unit)
      info(s"jobs per readjudicate call: $jr")
      jr should be <= ReadjudicateBudget
      StreamingDecision.decisions(spark, store).filter(col("doc_id") < 20L)
        .select("doc_id", "decision", "keeper_id").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap shouldBe
        Map(11L -> ("keep", 11L), 12L -> ("drop_exact", 11L), 13L -> ("drop_exact", 11L))
    } finally sc.removeSparkListener(listener)
  }

  it should "collapse uncheckpointed-restart duplicate ledger rows in decisions()" in {
    // ADVICE r11: a run() without a checkpointLocation gets a fresh
    // marker namespace per start, so a restart re-delivers every file
    // under NEW batch keys — verdicts replay identically (row-identity
    // guards) but the decisions/ ledger gains a second row per doc.
    // decisions() must collapse to one row per doc; decisionsRaw()
    // keeps the full per-arrival ledger.
    val store = tempDir("dec-dup")
    val rows = Seq((300L, textA, oneHot(0)), (301L, textA, oneHot(0)))
    val first = decide(store, "nsA-0", rows)
    val restart = decide(store, "nsB-0", rows) // same files, new namespace
    restart shouldBe first
    StreamingDecision.decisionsRaw(spark, store).count() shouldBe 4
    val dec = StreamingDecision.decisions(spark, store)
    dec.count() shouldBe 2
    dec.select("doc_id", "decision", "keeper_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap shouldBe
      Map(300L -> ("keep", 300L), 301L -> ("drop_exact", 300L))
  }

  it should "not let an id re-arriving with new content suppress its old ownership" in {
    // replay guards key on stored-row IDENTITY (h, owner), not bare id:
    // doc 5 owns hash(textA) in batch 1, then re-arrives in batch 2
    // with DIFFERENT content alongside doc 9 carrying textA — a
    // bare-id anti-join would drop 5's stored ownership and verdict 9
    // 'keep' although its content is owned by an earlier arrival
    val store = tempDir("dec-reuse")
    val d1 = decide(store, "b1", Seq((5L, textA, oneHot(0))))
    d1(5L) shouldBe ("keep", 5L)
    val d2 = decide(store, "b2",
      Seq((5L, textB, oneHot(1)), (9L, textA, oneHot(2))))
    d2(9L) shouldBe ("drop_exact", 5L)
    d2(5L) shouldBe ("keep", 5L) // its new content is unowned
  }

  it should "maintain arrival-time cluster state equal to a full recompute" in {
    // round 11: drop verdicts merge into a persisted ComponentStore per
    // batch; the resolved labels must equal connected components over
    // ALL drop pairs ever emitted, and a replayed batch changes nothing
    import spark.implicits._
    val store = tempDir("dec-cluster")
    val cstore = s"$store/clusters"
    def decideC(key: String, rows: Seq[(Long, String, Seq[Float])]) =
      StreamingDecision.processBatch(df(rows), "doc_id", "text",
        Some("embedding"), s"$store/decision", cents, key,
        clusterPath = Some(cstore))
    // batch 0: A owns its hash; B owns its text family
    decideC("b0", Seq((10L, textA, oneHot(0)), (20L, textB, oneHot(1))))
    // batch 1: exact clone of A (pair 11-10), near dup of B (pair 21-20)
    decideC("b1", Seq((11L, textA, oneHot(2)), (21L, textBNear, oneHot(3))))
    // batch 2: another clone of A (pair 12-10 or 12-11 — either keeper
    // lands in the same component)
    decideC("b2", Seq((12L, textA, oneHot(4))))
    val stored = graft.ext.ComponentStore.components(spark, cstore)
      .as[(Long, Long)].collect().toMap
    val pairs = StreamingDecision.decisions(spark, s"$store/decision")
      .filter(org.apache.spark.sql.functions.col("decision") =!= "keep")
      .select("doc_id", "keeper_id")
    val full = graft.ext.Dedup.connectedComponents(pairs, "doc_id", "keeper_id")
      .as[(Long, Long)].collect().toMap
    stored shouldBe full
    stored(12L) shouldBe stored(10L) // transitive: via whichever keeper
    stored(21L) shouldBe stored(20L)
    // replay: identical decisions, cluster state unchanged
    decideC("b1", Seq((11L, textA, oneHot(2)), (21L, textBNear, oneHot(3))))
    graft.ext.ComponentStore.components(spark, cstore)
      .as[(Long, Long)].collect().toMap shouldBe stored
  }

  /** Fault injection: the first trigger on a fresh store fails because
    * a regular file sits where `obstacle` (a path under the case's root)
    * expects a directory. Once the file is gone, the same batch key is
    * replayed and a second batch follows; verdicts, store row counts and
    * cluster components must then equal an uninterrupted run's. Returns
    * the failure. */
  private def failThenReplay(obstacle: String): Throwable = {
    import spark.implicits._
    val b0 = Seq((10L, textA, oneHot(0)), (12L, textA, oneHot(1)), (20L, textB, oneHot(32)))
    val b1 = Seq((11L, textA, oneHot(2)), (21L, textBNear, oneHot(33)),
      (31L, textD, oneHot(32)), (41L, textE, oneHot(45)))
    def decideAt(root: String, key: String, rows: Seq[(Long, String, Seq[Float])]) =
      StreamingDecision.processBatch(df(rows), "doc_id", "text", Some("embedding"),
        s"$root/decision", cents, key, clusterPath = Some(s"$root/clusters")).count()
    def stateOf(root: String) = (
      StreamingDecision.decisions(spark, s"$root/decision")
        .select("doc_id", "decision", "keeper_id").as[(Long, String, Long)].collect().toSet,
      Seq("hashes", "bands", "cells")
        .map(t => t -> spark.read.parquet(s"$root/decision/$t/data").count()).toMap,
      graft.ext.ComponentStore.components(spark, s"$root/clusters")
        .as[(Long, Long)].collect().toMap)

    val clean = tempDir("dec-fault-clean")
    decideAt(clean, "0", b0)
    decideAt(clean, "1", b1)

    val root = tempDir("dec-fault")
    val blocker = new java.io.File(s"$root/$obstacle")
    blocker.getParentFile.mkdirs()
    blocker.createNewFile() shouldBe true
    val failure = intercept[Exception](decideAt(root, "0", b0))
    new java.io.File(s"$root/decision/_commits/0").exists() shouldBe false
    blocker.delete() shouldBe true
    decideAt(root, "0", b0)
    decideAt(root, "1", b1)
    val (verdicts, counts, comps) = stateOf(root)
    (verdicts, counts, comps) shouldBe stateOf(clean)
    verdicts should contain allOf ((12L, "drop_exact", 10L), (11L, "drop_exact", 10L),
      (21L, "drop_near", 20L), (31L, "drop_semantic", 20L))
    comps(12L) shouldBe comps(11L)
    comps(31L) shouldBe comps(21L)
    failure
  }

  it should "replay a trigger whose cluster merge failed to the uninterrupted state" in {
    failThenReplay("clusters").getMessage should include("clusters")
  }

  it should "replay a trigger whose store admission failed to the uninterrupted state" in {
    failThenReplay("decision/bands").getMessage should include("decision admit-bands failed")
  }

  behavior of "StreamingDecision retraction (VERDICT r11 #1)"

  it should "re-adjudicate a deleted owner's duplicates and transfer hash ownership" in {
    import spark.implicits._
    val store = tempDir("dec-retract")
    // arrival history: 10 owns textA; 11 and 12 drop against it
    decide(store, "b0", Seq((10L, textA, oneHot(0))))
    decide(store, "b1", Seq((11L, textA, oneHot(1))))
    decide(store, "b2", Seq((12L, textA, oneHot(2))))
    // takedown of the owner
    val affected = StreamingDecision.delete(spark, store, Seq(10L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    affected shouldBe Map(11L -> "b1", 12L -> "b2")
    StreamingDecision.tombstones(spark, store)
      .collect().map(_.getLong(0)).toSet shouldBe Set(10L)
    // the owner is purged everywhere: stores and ledger (a table whose
    // every row was deleted has no parquet files left — count as 0)
    def cnt(dir: String, c: String): Long = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      val has = java.nio.file.Files.exists(root) &&
        java.nio.file.Files.walk(root).iterator().asScala
          .exists(_.toString.endsWith(".parquet"))
      if (!has) 0L else spark.read.parquet(dir).filter(col(c) === 10L).count()
    }
    cnt(s"$store/hashes/data", "owner_id") shouldBe 0L
    cnt(s"$store/bands/data", "doc_id") shouldBe 0L
    cnt(s"$store/cells/data", "vec_id") shouldBe 0L
    StreamingDecision.decisionsRaw(spark, store)
      .filter(col("doc_id") === 10L).count() shouldBe 0L
    // re-feed the invalidated docs with content, original batch order
    val docs = Seq((11L, textA, Some(oneHot(1)), "b1"),
        (12L, textA, Some(oneHot(2)), "b2"))
      .toDF("doc_id", "text", "embedding", "batch")
    StreamingDecision.readjudicate(docs, "doc_id", "text", Some("embedding"),
      "batch", store, cents)
    // the earliest surviving arrival now owns; the later one drops to IT
    val dec = StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision", "keeper_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    dec shouldBe Map(11L -> ("keep", 11L), 12L -> ("drop_exact", 11L))
    // ownership genuinely transferred in the STORE: a fresh arrival of
    // the same content drops against the new owner
    val b3 = decide(store, "b3", Seq((13L, textA, oneHot(3))))
    b3(13L) shouldBe ("drop_exact", 11L)
    // and the ledger kept its original batch partitions (patched in place)
    StreamingDecision.decisionsRaw(spark, store)
      .filter(col("doc_id") === 11L).select("batch")
      .head().getString(0) shouldBe "b1"
  }

  it should "heal near/semantic verdicts whose keeper was deleted" in {
    import spark.implicits._
    val store = tempDir("dec-retract-near")
    decide(store, "b0", Seq((20L, textB, oneHot(32))))
    // 21 near-dups 20's text; 31 semantically matches 20's embedding
    val b1 = decide(store, "b1",
      Seq((21L, textBNear, oneHot(40)), (31L, textD, oneHot(32))))
    b1(21L) shouldBe ("drop_near", 20L)
    b1(31L) shouldBe ("drop_semantic", 20L)
    val affected = StreamingDecision.delete(spark, store, Seq(20L).toDF("doc_id"))
    affected.collect().map(_.getLong(0)).toSet shouldBe Set(21L, 31L)
    val docs = Seq((21L, textBNear, Some(oneHot(40)), "b1"),
        (31L, textD, Some(oneHot(32)), "b1"))
      .toDF("doc_id", "text", "embedding", "batch")
    StreamingDecision.readjudicate(docs, "doc_id", "text", Some("embedding"),
      "batch", store, cents)
    // nothing earlier matches either doc any more — both keep
    val dec = StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision", "keeper_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    dec shouldBe Map(21L -> ("keep", 21L), 31L -> ("keep", 31L))
    // their own stored rows survived the heal: a later near-dup of 21's
    // text claims 21, a later embedding match claims the smaller
    // surviving cell member
    val b2 = decide(store, "b2",
      Seq((22L, textB.replace("compaction", "cleanup"), oneHot(41)),
        (32L, textE, oneHot(32))))
    b2(22L) shouldBe ("drop_near", 21L)
    b2(32L) shouldBe ("drop_semantic", 31L)
  }

  it should "let two re-fed docs claim each other in original arrival order" in {
    import spark.implicits._
    // 40 (b0) owns; 41 (b1) and a NEAR variant 42 (b2) both drop
    // against 40. After deleting 40, the re-fed 41 must become the
    // keeper and the re-fed 42 must drop against 41 — matched through
    // 41's still-stored band rows plus the ledger's arrival epochs,
    // never through same-or-later-batch members
    val store = tempDir("dec-retract-chain")
    decide(store, "b0", Seq((40L, textC, oneHot(7))))
    decide(store, "b1", Seq((41L, textC, oneHot(8))))
    val b2 = decide(store, "b2",
      Seq((42L, textC.replace("anchor", "safety"), oneHot(9))))
    b2(42L) shouldBe ("drop_near", 40L)
    val affected = StreamingDecision.delete(spark, store, Seq(40L).toDF("doc_id"))
    affected.collect().map(_.getLong(0)).toSet shouldBe Set(41L, 42L)
    val docs = Seq((41L, textC, Some(oneHot(8)), "b1"),
        (42L, textC.replace("anchor", "safety"), Some(oneHot(9)), "b2"))
      .toDF("doc_id", "text", "embedding", "batch")
    StreamingDecision.readjudicate(docs, "doc_id", "text", Some("embedding"),
      "batch", store, cents)
    val dec = StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision", "keeper_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    dec(41L) shouldBe ("keep", 41L)
    dec(42L) shouldBe ("drop_near", 41L)
  }

  it should "reject a retracted id that re-arrives, touching no store" in {
    import spark.implicits._
    val store = tempDir("dec-tombstone")
    decide(store, "b0", Seq((90L, textA, oneHot(0))))
    StreamingDecision.delete(spark, store, Seq(90L).toDF("doc_id")).count() shouldBe 0L
    // the taken-down id re-arrives (even with NEW content): policy drop,
    // nothing admitted — its hash stays unowned for future arrivals
    val b1 = decide(store, "b1", Seq((90L, textB, oneHot(1)), (91L, textC, oneHot(2))))
    b1(90L) shouldBe ("drop_tombstone", 90L)
    b1(91L) shouldBe ("keep", 91L)
    spark.read.parquet(s"$store/bands/data")
      .filter(col("doc_id") === 90L).count() shouldBe 0L
    // a DIFFERENT id with the tombstoned doc's old content is a new
    // document (takedown is id-scoped) — and the old owner is gone, so
    // it keeps and owns the hash
    val b2 = decide(store, "b2", Seq((92L, textA, oneHot(3))))
    b2(92L) shouldBe ("keep", 92L)
  }

  it should "order ledger epochs numerically in decisions(), not lexicographically" in {
    // epoch 10 must beat epoch 9 even though "ns-9" > "ns-10" as strings
    val store = tempDir("dec-epoch")
    decide(store, "cp1-8", Seq((401L, textB, oneHot(32))))
    decide(store, "cp1-9", Seq((400L, textA, oneHot(0))))
    // the id re-arrives at epoch 10 with DIFFERENT content owned by 401
    val b10 = decide(store, "cp1-10", Seq((400L, textB, oneHot(1))))
    b10(400L) shouldBe ("drop_exact", 401L)
    val dec = StreamingDecision.decisions(spark, store)
      .filter(col("doc_id") === 400L)
      .select("decision", "keeper_id").head()
    (dec.getString(0), dec.getLong(1)) shouldBe ("drop_exact", 401L)
  }

  it should "heal stale duplicate ledger rows across namespaces on retraction" in {
    import spark.implicits._
    // an uncheckpointed restart duplicated the ledger under a second
    // namespace BEFORE the takedown: both copies of the invalidated
    // doc's verdict name the deleted keeper, and BOTH must be healed —
    // a surviving stale row would violate the takedown guarantee
    val store = tempDir("dec-retract-ns")
    decide(store, "nsA-0", Seq((500L, textA, oneHot(0))))
    decide(store, "nsA-1", Seq((501L, textA, oneHot(1))))
    decide(store, "nsB-0", Seq((500L, textA, oneHot(0)))) // replayed files
    decide(store, "nsB-1", Seq((501L, textA, oneHot(1))))
    StreamingDecision.decisionsRaw(spark, store)
      .filter(col("doc_id") === 501L).count() shouldBe 2L
    val affected = StreamingDecision.delete(spark, store, Seq(500L).toDF("doc_id"))
    affected.collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      Set(501L -> "nsA-1", 501L -> "nsB-1")
    val docs = Seq((501L, textA, Some(oneHot(1)), "nsA-1"))
      .toDF("doc_id", "text", "embedding", "batch")
    StreamingDecision.readjudicate(docs, "doc_id", "text", Some("embedding"),
      "batch", store, cents)
    // no row anywhere still names the tombstoned keeper, and exactly
    // one verdict row remains for the healed doc
    val raw = StreamingDecision.decisionsRaw(spark, store)
    raw.filter(col("keeper_id") === 500L).count() shouldBe 0L
    raw.filter(col("doc_id") === 501L).count() shouldBe 1L
    StreamingDecision.decisions(spark, store)
      .filter(col("doc_id") === 501L)
      .select("decision").head().getString(0) shouldBe "keep"
  }

  it should "re-adjudicate at the MINIMUM epoch when namespaces disagree" in {
    import spark.implicits._
    // the nondeterminism trap: delete() returns one (doc, batch) row
    // per duplicate namespace, and the replicas can sit at DIFFERENT
    // epochs (a restart with different trigger file-grouping). The
    // heal must deterministically use the first-arrival (min-epoch)
    // copy — the same discipline the member-ordering map applies —
    // not whichever row an arbitrary dedup happened to keep.
    val store = tempDir("dec-minepoch")
    decide(store, "nsA-0", Seq((600L, textA, oneHot(0))))
    decide(store, "nsA-1", Seq((601L, textA, oneHot(1))))
    decide(store, "nsB-0", Seq((601L, textA, oneHot(1)))) // replica at epoch 0
    val affected = StreamingDecision.delete(spark, store, Seq(600L).toDF("doc_id"))
    affected.collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      Set(601L -> "nsA-1", 601L -> "nsB-0")
    val corpus = Seq((601L, textA, Some(oneHot(1)))).toDF("doc_id", "text", "embedding")
    StreamingDecision.readjudicate(affected.join(corpus, Seq("doc_id")),
      "doc_id", "text", Some("embedding"), "batch", store, cents)
    val rows = StreamingDecision.decisionsRaw(spark, store)
      .filter(col("doc_id") === 601L)
      .select("decision", "batch").collect()
    rows.length shouldBe 1
    rows.head.getString(0) shouldBe "keep"
    rows.head.getString(1) shouldBe "nsB-0" // the min-epoch replica
  }

  it should "heal the persisted cluster state after a retraction" in {
    import spark.implicits._
    val store = tempDir("dec-retract-cluster")
    val cstore = s"$store/clusters"
    def decideC(key: String, rows: Seq[(Long, String, Seq[Float])]) =
      StreamingDecision.processBatch(df(rows), "doc_id", "text",
        Some("embedding"), s"$store/decision", cents, key,
        clusterPath = Some(cstore))
    decideC("b0", Seq((50L, textA, oneHot(0))))
    decideC("b1", Seq((51L, textA, oneHot(1))))
    decideC("b2", Seq((52L, textA, oneHot(2))))
    // cluster: {50,51,52} with root 50
    graft.ext.ComponentStore.components(spark, cstore)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(50L -> 50L, 51L -> 50L, 52L -> 50L)
    val affected = StreamingDecision.delete(spark, s"$store/decision",
      Seq(50L).toDF("doc_id"))
    val docs = Seq((51L, textA, Some(oneHot(1)), "b1"),
        (52L, textA, Some(oneHot(2)), "b2"))
      .toDF("doc_id", "text", "embedding", "batch")
    StreamingDecision.readjudicate(docs, "doc_id", "text", Some("embedding"),
      "batch", s"$store/decision", cents)
    StreamingDecision.healCluster(spark, s"$store/decision", cstore,
      Seq(50L).toDF("doc_id"))
    affected.count() shouldBe 2L
    graft.ext.ComponentStore.components(spark, cstore)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(51L -> 51L, 52L -> 51L)
  }

  it should "heal to a from-scratch run under non-default tier settings" in {
    import spark.implicits._
    import graft.ext.QualityClassifier.FeatureFit
    // every tier setting the heal takes differs from its default: the
    // unicode token layer (the corpus mixes Latin, Cyrillic and Greek
    // words), a looser near threshold, a stricter semantic one, and the
    // quality tier (docs over 30 tokens fail); caps never bind here
    val rnd = new scala.util.Random(8L)
    def word(from: Char, span: Int) =
      Seq.fill(3 + rnd.nextInt(5))((from + rnd.nextInt(span)).toChar).mkString
    val vocab = Seq.fill(40)(word('a', 26)) ++ Seq.fill(40)(word('а', 32)) ++
      Seq.fill(40)(word('α', 25))
    def text(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def swap(ws: Seq[String], i: Int) = ws.updated(i, word('а', 32))
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val v = Array.fill(64)(0f); parts.foreach { case (i, x) => v(i) = x }; v.toSeq
    }
    val (te, tn, tshort) = (text(34), text(40), text(22))
    val latinOnly = te.map(w => if (w.head <= 'z') w else word('а', 32))
    val tn39 = swap(tn, 39)
    // (id, words, embedding) per batch; 100 owns te, 101 is te's near
    // keeper, 102 the semantic keeper of the e0 direction
    val batches = Seq(
      Seq((100L, te, vec(1 -> 1f)), (101L, tn, vec(2 -> 1f)), (102L, text(26), vec(0 -> 1f)),
        (103L, tshort, vec(3 -> 1f)), (104L, text(36), vec(4 -> 1f))),
      Seq((110L, te, vec(5 -> 1f)), (111L, tn39, vec(6 -> 1f)),
        (112L, text(28), vec(0 -> 1f)), (113L, latinOnly, vec(7 -> 1f)),
        (114L, tshort, vec(8 -> 1f))),
      Seq((120L, te, vec(9 -> 1f)), (121L, swap(tn, 0), vec(10 -> 1f)),
        (122L, text(24), vec(0 -> 0.9f, 63 -> 0.43589f)),
        (123L, text(25), vec(0 -> 0.4f, 63 -> 0.91652f)), (124L, tn39, vec(11 -> 1f))),
      Seq((130L, te, vec(12 -> 1f)), (131L, swap(tn, 20), vec(13 -> 1f)),
        (132L, text(27), vec(0 -> 1f)), (133L, Seq("да", "ok"), vec(14 -> 1f)),
        (134L, swap(swap(tn, 5), 30), vec(15 -> 1f))))
      .map(_.map { case (id, ws, v) => (id, ws.mkString(" "), v) })
    val deleted = Set(100L, 101L, 102L)
    val fits = Seq(FeatureFit(-1.0, 30.0), FeatureFit(0.0, 0.0),
      FeatureFit(0.0, 0.0), FeatureFit(0.0, 0.0))
    val stop = Seq("the", "a", "of")
    def run(store: String, drop: Set[Long]): Unit =
      batches.zipWithIndex.foreach { case (rows, i) =>
        StreamingDecision.processBatch(df(rows.filterNot(r => drop(r._1))), "doc_id", "text",
          Some("embedding"), store, cents, i.toString, minSigMatch = 6,
          minScoreE4 = 5000L, qualityFits = fits, qualityStop = stop,
          tok = graft.ext.TextOps.tokensU).count(): Unit
      }
    def verdicts(store: String) = StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision", "keeper_id", "batch")
      .as[(Long, String, Long, String)].collect().toSet

    val store = tempDir("dec-heal-settings")
    run(store, Set.empty)
    val before = verdicts(store)
    // the deleted set holds an exact owner, a near keeper and a
    // semantic keeper
    Seq("drop_exact" -> 100L, "drop_near" -> 101L, "drop_semantic" -> 102L).foreach {
      case (d, k) => before.exists(v => v._2 == d && v._3 == k) shouldBe true }
    val corpus = df(batches.flatten)
    val affected = StreamingDecision.delete(spark, store, deleted.toSeq.toDF("doc_id"))
    StreamingDecision.readjudicate(affected.join(corpus, Seq("doc_id")), "doc_id", "text",
      Some("embedding"), "batch", store, cents, minSigMatch = 6, minScoreE4 = 5000L,
      qualityFits = fits, qualityStop = stop, tok = graft.ext.TextOps.tokensU)
    val scratch = tempDir("dec-heal-settings-scratch")
    run(scratch, deleted)
    val healed = verdicts(store)
    healed shouldBe verdicts(scratch)
    healed.map(_._2) should contain allOf ("drop_exact", "drop_near", "drop_semantic",
      "drop_quality", "keep")
  }

  it should "run end to end as a foreachBatch stream" in {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("dec-stream")
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = StreamingDecision.run(
      in.toDF().toDF("doc_id", "text", "embedding"),
      "doc_id", "text", Some("embedding"), store, cents,
      checkpointLocation = Some(tempDir("dec-stream-ckpt")))
    try {
      in.addData((10L, textA, oneHot(0)))
      q.processAllAvailable()
      in.addData((11L, textA, oneHot(0)), (31L, textD, oneHot(0)))
      q.processAllAvailable()
    } finally q.stop()
    val dec = StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision", "keeper_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    dec(10L) shouldBe ("keep", 10L)
    dec(11L) shouldBe ("drop_exact", 10L)
    dec(31L) shouldBe ("drop_semantic", 10L)
  }

  it should "resume the epoch sequence from the checkpoint after a kill" in {
    // the GraftMain-hosted shape: checkpointed file stream, killed
    // mid-sequence, restarted against the SAME stores — epochs must
    // CONTINUE (a restart at epoch 0 would hit existing commit markers
    // and silently skip real batches, the VectorIndex.appendStream
    // marker-collision lesson). Verdicts must equal a one-shot run.
    import spark.implicits._
    val root = tempDir("dec-resume")
    val src = s"$root/src"; new java.io.File(src).mkdirs()
    val store = s"$root/store"; val ckpt = s"$root/ckpt"
    val schema = df(Seq.empty).schema
    def writeBatch(i: Int, rows: Seq[(Long, String, Seq[Float])]): Unit = {
      val part = s"$root/part$i"
      df(rows).coalesce(1).write.mode("overwrite").parquet(part)
      val f = new java.io.File(part).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(src, f"b$i%03d.parquet")
      java.nio.file.Files.move(f.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + i * 60000L): Unit
    }
    writeBatch(0, Seq((10L, textA, oneHot(0)), (20L, textB, oneHot(1))))
    writeBatch(1, Seq((11L, textA, oneHot(2))))
    def start() = StreamingDecision.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
      "doc_id", "text", Some("embedding"), store, cents,
      checkpointLocation = Some(ckpt))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // epochs 0, 1 committed
    // killed here; two MORE files arrive while the stream is down,
    // one an exact replay-shaped clone and one fresh
    writeBatch(2, Seq((12L, textA, oneHot(3))))
    writeBatch(3, Seq((40L, textE, oneHot(32))))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val dec = StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision", "keeper_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    dec should have size 5
    dec(10L) shouldBe ("keep", 10L)
    dec(11L) shouldBe ("drop_exact", 10L)
    dec(12L) shouldBe ("drop_exact", 10L) // post-restart batch still matches pre-kill state
    dec(40L) shouldBe ("keep", 40L)
    // epoch ids continued: four distinct batch partitions, no collisions
    StreamingDecision.decisions(spark, store)
      .select("batch").distinct().count() shouldBe 4
  }
}
