package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture

/** Persisted connected-components state (VERDICT r10 #3): batches of
  * verified duplicate pairs merge into a stored union-find forest, and
  * the resolved labels must equal a corpus-wide recompute over every
  * pair ever merged — in any merge order, under replay, and after
  * path compaction. The locality contract (a merge rewrites only the
  * affected `bkt=` partitions) is asserted on the store's file listing.
  */
class ComponentStoreSpec extends AnyFlatSpec with Matchers with SparkFixture {

  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ps.toDF("a", "b")
  }

  /** (id -> comp) via the store's resolved view. */
  private def stored(path: String): Map[Long, Long] =
    ComponentStore.components(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** (id -> comp) via a full recompute over all pairs. */
  private def full(ps: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairsDf(ps), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // Three batches whose union forms components that only exist once
  // all three are merged: batch2's (5,1) bridges {1,2,3} and {5,6},
  // and (30,10) bridges two singleton-batch chains.
  private val batch0 = Seq((1L, 2L), (10L, 11L), (20L, 21L))
  private val batch1 = Seq((2L, 3L), (5L, 6L), (11L, 12L))
  private val batch2 = Seq((5L, 1L), (30L, 10L), (21L, 22L), (40L, 41L))
  private val allPairs = batch0 ++ batch1 ++ batch2

  // Seeded random multi-batch pair set: 200 ids, five batches of 30
  // pairs (self-pairs included), so batches bridge each other's
  // components in any order.
  private val randomBatches: Seq[Seq[(Long, Long)]] = {
    val rnd = new scala.util.Random(20261018L)
    Seq.fill(5)(Seq.fill(30)((1L + rnd.nextInt(200), 1L + rnd.nextInt(200))))
  }
  private val inputs = Seq("hand-built" -> Seq(batch0, batch1, batch2),
    "seeded random" -> randomBatches)

  /** Every `parents/bkt=` partition -> (file name -> content digest). */
  private def bucketFiles(store: String): Map[String, Map[String, String]] = {
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(s"$store/parents")
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).filter(_.getPath.getName.startsWith("bkt=")).map { d =>
      d.getPath.getName -> fs.listStatus(d.getPath).map { f =>
        val in = fs.open(f.getPath)
        val digest =
          try java.security.MessageDigest.getInstance("SHA-256").digest(in.readAllBytes())
          finally in.close()
        f.getPath.getName -> digest.map("%02x".format(_)).mkString
      }.toMap
    }.toMap
  }

  "ComponentStore" should "match a full recompute after sequential batch merges" in {
    inputs.foreach { case (name, batches) =>
      withClue(s"$name batches: ") {
        val store = tempDir("graft-cs-seq")
        batches.zipWithIndex.foreach { case (ps, i) =>
          ComponentStore.merge(pairsDf(ps), "a", "b", store, s"b$i")
        }
        val edges = batches.flatten.filter { case (a, b) => a != b }
        stored(store) shouldBe full(edges)
        val rows = ComponentStore.parents(spark, store).select("id", "parent")
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        // union-by-min forest: parent < id on every non-root row
        rows.filter { case (id, parent) => parent > id } shouldBe empty
        // one row per endpoint ever merged
        rows.map(_._1).toSeq.sorted shouldBe
          edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      }
    }
  }

  it should "be merge-order invariant" in {
    inputs.foreach { case (name, batches) =>
      withClue(s"$name batches: ") {
        val store = tempDir("graft-cs-ord")
        batches.zipWithIndex.reverse.foreach { case (ps, i) =>
          ComponentStore.merge(pairsDf(ps), "a", "b", store, s"b$i")
        }
        stored(store) shouldBe full(batches.flatten.filter { case (a, b) => a != b })
      }
    }
  }

  it should "no-op a replayed batch key and a re-sent batch under a new key" in {
    val store = tempDir("graft-cs-replay")
    ComponentStore.merge(pairsDf(batch0), "a", "b", store, "b0")
    ComponentStore.merge(pairsDf(batch1), "a", "b", store, "b1")
    val before = stored(store)
    val files = bucketFiles(store)
    // marker-guarded replay: same key, different (wrong) pairs — skipped
    ComponentStore.merge(pairsDf(Seq((1L, 40L))), "a", "b", store, "b1")
    stored(store) shouldBe before
    // natural idempotence: same pairs, NEW key — every edge contracts
    // to (root, root), nothing changes
    ComponentStore.merge(pairsDf(batch1), "a", "b", store, "b1-retry")
    stored(store) shouldBe before
    // a batch with no pairs and one of pairs inside known components
    // (no edge of them joins two roots) commit without writing
    ComponentStore.merge(pairsDf(Nil), "a", "b", store, "empty")
    ComponentStore.merge(pairsDf(Seq((3L, 1L), (12L, 10L))), "a", "b", store, "inside")
    ComponentStore.committedBatches(spark, store) shouldBe
      Seq("b0", "b1", "b1-retry", "empty", "inside")
    bucketFiles(store) shouldBe files
    stored(store) shouldBe before
  }

  it should "resolve unknown ids to themselves and known ids to their root" in {
    import spark.implicits._
    val store = tempDir("graft-cs-resolve")
    ComponentStore.merge(pairsDf(batch0 ++ batch1 ++ batch2), "a", "b", store, "b")
    val want = full(allPairs)
    val got = ComponentStore
      .resolve(Seq(3L, 12L, 22L, 999L).toDF("x"), "x", store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(3L) shouldBe want(3L)
    got(12L) shouldBe want(12L)
    got(22L) shouldBe want(22L)
    got(999L) shouldBe 999L
  }

  it should "preserve labels under compact and leave a single-hop forest" in {
    val store = tempDir("graft-cs-compact")
    ComponentStore.merge(pairsDf(batch0), "a", "b", store, "b0")
    ComponentStore.merge(pairsDf(batch1), "a", "b", store, "b1")
    ComponentStore.merge(pairsDf(batch2), "a", "b", store, "b2")
    val before = stored(store)
    ComponentStore.compact(spark, store)
    stored(store) shouldBe before
    // after compaction every parent IS a root (parent's parent = itself)
    val p = ComponentStore.parents(spark, store).select("id", "parent")
    val roots = p.filter(col("id") === col("parent")).select(col("id").as("r"))
    p.join(roots, p("parent") === roots("r"), "left_anti").count() shouldBe 0L
  }

  it should "compact on the committed-merges cadence only" in {
    val store = tempDir("graft-cs-cadence")
    ComponentStore.merge(pairsDf(batch0), "a", "b", store, "b0")
    ComponentStore.committedBatches(spark, store) shouldBe Seq("b0")
    // 1 committed merge, every=2 → not due
    ComponentStore.maybeCompact(spark, store, every = 2) shouldBe false
    ComponentStore.merge(pairsDf(batch1), "a", "b", store, "b1")
    ComponentStore.committedBatches(spark, store) shouldBe Seq("b0", "b1")
    val before = stored(store)
    ComponentStore.maybeCompact(spark, store, every = 2) shouldBe true
    stored(store) shouldBe before
    // a replayed (skipped) merge commits nothing: the schedule holds
    ComponentStore.merge(pairsDf(batch1), "a", "b", store, "b1")
    ComponentStore.committedBatches(spark, store) shouldBe Seq("b0", "b1")
  }

  it should "refuse a store whose recorded format is newer than this engine's" in {
    val store = tempDir("graft-cs-fmt")
    ComponentStore.merge(pairsDf(batch0), "a", "b", store, "b0")
    // simulate a future layout bump: the shared reader must throw, not
    // silently read v1 data with v2 semantics
    StoreMeta.writeJson(spark, store, "metadata/v0/store.json",
      """{"format":99,"buckets":16}""", overwrite = true)
    val e = intercept[IllegalStateException] {
      ComponentStore.buckets(spark, store)
    }
    e.getMessage should include("format v99")
  }

  it should "rewrite only the affected bkt= partitions on merge" in {
    val store = tempDir("graft-cs-local")
    ComponentStore.merge(pairsDf(batch0 ++ batch1 ++ batch2), "a", "b", store, "b")
    val b = ComponentStore.buckets(spark, store)
    def listing(): Map[String, Set[String]] = {
      val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
      (0 until b).flatMap { i =>
        val d = new Path(s"$store/parents/bkt=$i")
        if (fs.exists(d))
          Some(s"bkt=$i" -> fs.listStatus(d)
            .map(s => s.getPath.getName + ":" + s.getLen).toSet)
        else None
      }.toMap
    }
    val before = listing()
    // a batch touching ONLY ids 100/101 — their buckets plus nothing else
    ComponentStore.merge(pairsDf(Seq((100L, 101L))), "a", "b", store, "b-small")
    val after = listing()
    val touched = Seq(100L, 101L).map { id =>
      spark.range(1).select(pmod(hash(lit(id)), lit(b))).head().getInt(0)
    }.toSet.map((i: Int) => s"bkt=$i")
    (after.keySet ++ before.keySet).foreach { k =>
      if (!touched.contains(k))
        withClue(s"untouched partition $k must keep its exact file set: ") {
          after.get(k) shouldBe before.get(k)
        }
    }
    stored(store) shouldBe full(allPairs ++ Seq((100L, 101L)))
  }

  it should "follow an uncompacted chain of any depth to its root" in {
    val store = tempDir("graft-cs-chain")
    val b = ComponentStore.DefaultBuckets
    StoreMeta.writeBucketMeta(spark, store, ComponentStore.FormatVersion, b)
    // a 70-hop chain 170 -> 169 -> ... -> 100 (root), as the one-pair
    // merges (170,169), (169,168), ..., (101,100) leave it uncompacted
    val chain = (101L to 170L).map(id => (id, id - 1))
    import spark.implicits._
    (chain :+ ((100L, 100L))).toDF("id", "parent")
      .withColumn("bkt", pmod(hash(col("id")), lit(b)))
      .write.partitionBy("bkt").parquet(s"$store/parents")
    // the tail meets an id below the chain's root: the WHOLE chain
    // relabels to 5, no part of it may split off
    ComponentStore.merge(pairsDf(Seq((170L, 5L))), "a", "b", store, "tail")
    // the reference needs about one label-propagation round per hop of
    // this 72-node path: it must run to its fixed point
    stored(store) shouldBe full(chain :+ ((170L, 5L)))
    ComponentStore.resolve(Seq(100L, 140L, 170L).toDF("x"), "x", store)
      .collect().map(_.getLong(1)).toSet shouldBe Set(5L)
  }

  it should "compute the bucket of an id exactly as Spark's pmod(hash)" in {
    val ids = (-300L to 300L) ++ Seq(Long.MinValue, Long.MaxValue, 1L << 40)
    val b = ComponentStore.DefaultBuckets
    import spark.implicits._
    val want = ids.toDF("id").select(col("id"), pmod(hash(col("id")), lit(b)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ids.foreach(id => ComponentStore.bucketOf(id, b) shouldBe want(id))
  }

  behavior of "ComponentStore single-writer lease (VERDICT r11 #7)"

  it should "refuse a second concurrent maintenance writer and recover a stale lease" in {
    import spark.implicits._
    val store = tempDir("graft-cs-lease")
    ComponentStore.merge(pairsDf(batch0), "a", "b", store, "b0")
    // another writer holds the lease (fresh timestamp, long TTL):
    // merge, compact, and delete must all REFUSE rather than interleave
    // partition rewrites
    StoreMeta.writeJson(spark, store, "_lease/writer.json",
      s"""{"owner":"other","acquiredAt":${System.currentTimeMillis()},"ttl":600000}""",
      overwrite = false) shouldBe true
    intercept[IllegalStateException] {
      ComponentStore.merge(pairsDf(batch1), "a", "b", store, "b1")
    }.getMessage should include("single-writer")
    intercept[IllegalStateException] { ComponentStore.compact(spark, store) }
    intercept[IllegalStateException] {
      ComponentStore.delete(Seq(1L).toDF("x"), "x", pairsDf(Nil), "a", "b", store)
    }
    // the refused merge committed nothing
    ComponentStore.committedBatches(spark, store) shouldBe Seq("b0")
    stored(store) shouldBe full(batch0)
    // a STALE lease (crashed holder, TTL long past) is broken and the
    // pass proceeds; afterwards the lease is released again
    StoreMeta.fs(spark, store)
      .delete(new Path(s"$store/_lease/writer.json"), false)
    StoreMeta.writeJson(spark, store, "_lease/writer.json",
      """{"owner":"dead","acquiredAt":1000,"ttl":5}""", overwrite = false)
    ComponentStore.merge(pairsDf(batch1), "a", "b", store, "b1")
    stored(store) shouldBe full(batch0 ++ batch1)
    StoreMeta.fs(spark, store)
      .exists(new Path(s"$store/_lease/writer.json")) shouldBe false
  }

  behavior of "writer-lease fencing (VERDICT r12 #4)"

  it should "issue monotonically increasing epochs across acquires and steals" in {
    val store = tempDir("graft-lease-epoch")
    val e1 = StoreMeta.withWriterLeaseFenced(spark, store, "a")(l => l.epoch)
    val e2 = StoreMeta.withWriterLeaseFenced(spark, store, "a")(l => l.epoch)
    e2 should be > e1
    // normal release removes the lease file
    StoreMeta.fs(spark, store)
      .exists(new Path(s"$store/_lease/writer.json")) shouldBe false
    // a stale-lease steal must bump PAST the stale holder's epoch even
    // when it is ahead of the recorded high-water mark (crash between
    // winning writer.json and bumping epoch.json)
    StoreMeta.writeJson(spark, store, "_lease/writer.json",
      s"""{"owner":"dead","epoch":${e2 + 5},"acquiredAt":1000,"ttl":5}""",
      overwrite = false) shouldBe true
    val e3 = StoreMeta.withWriterLeaseFenced(spark, store, "a")(l => l.epoch)
    e3 should be > (e2 + 5)
  }

  it should "complete a fenced partition swap under an intact lease" in {
    import spark.implicits._
    val store = tempDir("graft-lease-swap-ok")
    graft.sinks.ArcaneLayout.replacePartitions(
      Seq((1L, 0), (2L, 1)).toDF("id", "bkt"), store, Seq("bkt"),
      Seq("bkt=0", "bkt=1"))
    StoreMeta.withWriterLeaseFenced(spark, store, "test") { lease =>
      graft.sinks.ArcaneLayout.replacePartitions(
        Seq((9L, 0)).toDF("id", "bkt"), store, Seq("bkt"), Seq("bkt=0"),
        fence = Some(lease))
    }
    spark.read.parquet(s"$store/data").select("id").as[Long]
      .collect().toSet shouldBe Set(9L, 2L)
  }

  it should "refuse the swap and keep the stealer's lease when broken mid-pass" in {
    import spark.implicits._
    val store = tempDir("graft-lease-fence")
    graft.sinks.ArcaneLayout.replacePartitions(
      Seq((1L, 0), (2L, 1)).toDF("id", "bkt"), store, Seq("bkt"),
      Seq("bkt=0", "bkt=1"))
    val before = spark.read.parquet(s"$store/data")
      .collect().map(_.toString).toSet
    val ex = intercept[IllegalStateException] {
      StoreMeta.withWriterLeaseFenced(spark, store, "slow") { lease =>
        // simulate a TTL break by a new writer while this pass stages:
        // the stealer replaces the lease with its own (owner, epoch)
        StoreMeta.fs(spark, store)
          .delete(new Path(s"$store/_lease/writer.json"), false)
        StoreMeta.writeJson(spark, store, "_lease/writer.json",
          s"""{"owner":"thief","epoch":${lease.epoch + 1},""" +
            s""""acquiredAt":${System.currentTimeMillis()},"ttl":600000}""",
          overwrite = false) shouldBe true
        graft.sinks.ArcaneLayout.replacePartitions(
          Seq((9L, 0)).toDF("id", "bkt"), store, Seq("bkt"), Seq("bkt=0"),
          fence = Some(lease))
      }
    }
    ex.getMessage should include("lease")
    // the revenant holder's swap landed NOTHING — target untouched
    spark.read.parquet(s"$store/data")
      .collect().map(_.toString).toSet shouldBe before
    // delete-if-owner (ADVICE r12): the holder's release must NOT
    // delete the stealer's fresh lease
    StoreMeta.readJson(spark, store, "_lease/writer.json")
      .exists(_.contains("thief")) shouldBe true
  }

  it should "leave a poisoned pass's lease in place to TTL-expire (ADVICE r13)" in {
    val store = tempDir("graft-lease-poison")
    // a body that fails in a state where background work may still
    // touch the store signals it with LeasePoisonedException — the
    // lease must NOT be released, so the next writer waits out the TTL
    val ex = intercept[StoreMeta.LeasePoisonedException] {
      StoreMeta.withWriterLeaseFenced(spark, store, "wedged", ttlMs = 600000L) { _ =>
        throw new StoreMeta.LeasePoisonedException("patch pool failed to drain")
      }
    }
    ex.getMessage should include("drain")
    StoreMeta.fs(spark, store)
      .exists(new Path(s"$store/_lease/writer.json")) shouldBe true
    // a second writer inside the TTL refuses (the lease is live)
    intercept[IllegalStateException] {
      StoreMeta.withWriterLeaseFenced(spark, store, "next")(_ => ())
    }
    // an ORDINARY failure still releases normally
    StoreMeta.fs(spark, store)
      .delete(new Path(s"$store/_lease/writer.json"), false)
    intercept[RuntimeException] {
      StoreMeta.withWriterLeaseFenced(spark, store, "plain") { _ =>
        throw new RuntimeException("ordinary failure")
      }
    }
    StoreMeta.fs(spark, store)
      .exists(new Path(s"$store/_lease/writer.json")) shouldBe false
  }

  behavior of "ComponentStore retraction (VERDICT r11 #1)"

  it should "delete ids and rebuild the touched components to match a recompute" in {
    import spark.implicits._
    val store = tempDir("graft-cs-del")
    ComponentStore.merge(pairsDf(batch0), "a", "b", store, "b0")
    ComponentStore.merge(pairsDf(batch1), "a", "b", store, "b1")
    ComponentStore.merge(pairsDf(batch2), "a", "b", store, "b2")
    // delete 2: the (1,2),(2,3) bridge dies; {1,5,6} survives via
    // (5,6),(5,1); 3 loses its only pair and must drop out ENTIRELY
    // (a from-scratch store would never have seen it)
    val surviving = allPairs.filterNot { case (a, b) => a == 2L || b == 2L }
    ComponentStore.delete(Seq(2L).toDF("x"), "x",
      pairsDf(surviving), "a", "b", store)
    stored(store) shouldBe full(surviving)
    ComponentStore.parents(spark, store)
      .filter(col("id").isin(2L, 3L)).count() shouldBe 0L
    ComponentStore.tombstones(spark, store)
      .collect().map(_.getLong(0)).toSet shouldBe Set(2L)
    // untouched components still resolve (and 3 is self-root again)
    val want = full(surviving)
    want(10L) shouldBe want(30L)
    ComponentStore.resolve(Seq(3L).toDF("x"), "x", store)
      .head().getLong(1) shouldBe 3L
  }

  it should "close the rebuild over pairs bridging into untouched components" in {
    import spark.implicits._
    val store = tempDir("graft-cs-close")
    ComponentStore.merge(pairsDf(Seq((1L, 2L))), "a", "b", store, "b0")
    ComponentStore.merge(pairsDf(Seq((10L, 11L))), "a", "b", store, "b1")
    // deleting 2 with a NEW surviving pair (1,10) — the kind a
    // re-adjudication emits — must pull 10's whole (untouched-by-the-
    // delete) component into the rebuild, or its labels go stale
    val surviving = Seq((1L, 10L), (10L, 11L))
    ComponentStore.delete(Seq(2L).toDF("x"), "x",
      pairsDf(surviving), "a", "b", store)
    stored(store) shouldBe full(surviving)
    stored(store)(11L) shouldBe 1L // bridged through the new pair
  }

  it should "leave components disjoint from the deletion untouched on disk" in {
    import spark.implicits._
    val store = tempDir("graft-cs-del-local")
    ComponentStore.merge(pairsDf(batch0 ++ batch1 ++ batch2), "a", "b", store, "b")
    ComponentStore.compact(spark, store)
    val b = ComponentStore.buckets(spark, store)
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Map[String, Set[String]] =
      (0 until b).flatMap { i =>
        val d = new Path(s"$store/parents/bkt=$i")
        if (fs.exists(d))
          Some(s"bkt=$i" -> fs.listStatus(d)
            .map(s => s.getPath.getName + ":" + s.getLen).toSet)
        else None
      }.toMap
    val before = listing()
    // delete 41: only the {40,41} component's members (40, 41) move
    val surviving = allPairs.filterNot { case (x, y) => x == 41L || y == 41L }
    ComponentStore.delete(Seq(41L).toDF("x"), "x",
      pairsDf(surviving), "a", "b", store)
    val touched = Seq(40L, 41L).map { id =>
      spark.range(1).select(pmod(hash(lit(id)), lit(b))).head().getInt(0)
    }.toSet.map((i: Int) => s"bkt=$i")
    val after = listing()
    (after.keySet ++ before.keySet).foreach { k =>
      if (!touched.contains(k))
        withClue(s"untouched partition $k must keep its exact file set: ") {
          after.get(k) shouldBe before.get(k)
        }
    }
    stored(store) shouldBe full(surviving)
  }
}
