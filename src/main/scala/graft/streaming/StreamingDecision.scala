package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ext.{Dedup, StoreMeta, TextOps}
import graft.functions.GraftFunctions
import graft.sinks.ArcaneLayout
import graft.streaming.StreamingDedup.{Bands, RowsPerBand, ShingleN, SigSlots}

/** The STREAMING DECISION SURFACE (VERDICT r10 #2): every dedup tier
  * streams individually ([[StreamingDedup]]), but an ingest deployment
  * wants ONE arrival-time verdict per document — keep, or drop with the
  * tier that claimed it and the corpus member it duplicates — not three
  * separate hit streams it must reconcile itself. This object composes
  * the exact > near > semantic precedence of the batch surface
  * (`ExtQueries.pipelineDedupApply`; reference analogue: the single
  * ARCANE_MERGE_KEY contract every sink shares,
  * /root/reference/src/Sinks/Parquet/Models/Constants.cs:11-21) into a
  * per-micro-batch decision over PERSISTED stores.
  *
  * Why `foreachBatch` and not one stateful operator: the three tiers
  * key state by three different things (content hash / LSH band key /
  * coarse cell), and Spark restricts chaining `flatMapGroupsWithState`
  * operators in one query — so the composed verdict runs each
  * micro-batch as a BATCH read of the touched slices of disk-backed
  * stores (hive-partitioned parquet, the [[graft.ext.SignatureStore]]
  * discipline) with the verdict assembled on the driver, which also
  * makes the corpus state durable, queryable, and shared with the
  * batch/incremental paths rather than locked inside a streaming
  * checkpoint. The takedown heal ([[readjudicate]]) decides through the
  * same steps.
  *
  * Decision semantics per arriving document (matching the golden
  * oracle `streaming_decision_golden` clause for clause):
  *
  *  - '''drop_exact''': the doc's [[Dedup.contentHash]] is already
  *    OWNED — by a stored doc from an earlier batch (first arrival
  *    owns, whatever its id: a clone arriving before its original
  *    makes the original the duplicate), or by a smaller-id doc in the
  *    same batch (the whole group is decided together, the
  *    [[StreamingDedup.exactDupStream]] rule). Keeper = the owner.
  *  - '''drop_near''': ≥ `minSigMatch` of the 12 MinHash slots agree with a
  *    stored band-bucket member from an EARLIER batch (prior-members
  *    only — pairs within one micro-batch are never near-claimed,
  *    the batch-vs-corpus rule every tier shares). Keeper = the
  *    smallest matching stored id.
  *  - '''drop_semantic''': cosine ≥ `minScoreE4`/1e4 against a stored
  *    member of the doc's coarse cell (quantizer = the PERSISTED
  *    [[graft.ext.VectorIndex]] centroids, passed in as metadata)
  *    admitted in an earlier batch. Keeper = smallest matching id.
  *  - '''drop_quality''' (round 14, precedence BELOW every duplicate
  *    tier — a duplicate of a low-quality doc is still a duplicate,
  *    and its keeper edge must reach the cluster state): the doc's
  *    fitted linear quality score
  *    ([[graft.ext.QualityClassifier.score]] over the four per-doc
  *    [[graft.ext.QualityClassifier.LocalFeatureCols]], MAP-ONLY with
  *    literal weights) lands below 0. Keeper = itself (a policy drop,
  *    not a match). Enabled by passing `qualityFits` (weights fitted
  *    offline, e.g. by the batch classifier); stores still admit the
  *    doc — quality gates the consumer, not the corpus memory.
  *  - '''keep''' otherwise; keeper_id = doc_id.
  *  - '''drop_tombstone''' (round 12, precedence above all tiers): the
  *    id was RETRACTED by [[delete]] and re-arrived — rejected by
  *    policy, admitted nowhere, keeper_id = itself (there is no
  *    matched member). Id-scoped.
  *
  * Precedence is exact > near > semantic > quality — the order a
  * pipeline runs
  * the checks (hash compare < text Jaccard < embedding cosine), same
  * as the batch surface. The arrival-time keeper names the MATCHED
  * member, not a transitive component label: canonicalization across
  * chains (A≈B≈C with A≉C) is the cluster state's job
  * ([[graft.ext.Dedup.connectedComponents]] / the incremental
  * component store), not an O(1)-per-arrival verdict's.
  *
  * STORES ARE VERDICT-INDEPENDENT: every arrival is admitted (hash
  * ownership if new; band rows while its buckets have cap room; cell
  * membership while its cell does). The store is "what the stream has
  * seen", the decision is "what the consumer should do" — decoupling
  * the two keeps admission replayable under at-least-once delivery and
  * lets the oracle decompose into the three proven per-tier replays.
  *
  * Scale shape per micro-batch (designed for 100 TB corpora):
  * admission and matching read only TOUCHED partitions — every store
  * is hive-partitioned (hash buckets for hashes/bands, cell for
  * cells), each tier's slice is read ONCE through a literal partition
  * filter with the batch's rows shipped as a broadcast variable, and
  * store rows per bucket/cell are CAPPED (`maxBucket`/`maxCell` — the
  * same skew bounds as the stateful tiers), so the per-batch cost is
  * O(batch × cap), never O(corpus). A trigger collects three things to
  * the driver, each bounded by the batch: the KEY SETS (every
  * arrival's hash, signature and band keys, cell and vector — one row
  * per arrival), the per-tier MATCHES with the touched keys' stored
  * counts (each arrival's matching stored members — at most one per
  * stored row of its touched keys, so bounded by the caps — one count
  * per touched key, one entry per batch row already stored), and the
  * VERDICT (one row per arrival). The verdict and every
  * admission are assembled there and written from one partition each,
  * so a trigger runs a fixed handful of Spark jobs whatever the batch
  * holds. The cluster merge ([[graft.ext.ComponentStore.merge]], when
  * a cluster path is set) takes the in-memory verdict's drop edges and
  * collects the roots of their endpoints: at most one edge per dropped
  * arrival, and one root per endpoint. A trigger is scheduled by its
  * data dependencies, not as a chain: the three slice reads are
  * planned at once on the driver (then read in one job), and the merge
  * runs beside the verdict write and the admissions, which run
  * together. Appends accumulate small files; [[compact]] is the
  * maintenance pass.
  *
  * Exactly-once: decisions for batch B are written by OVERWRITE to
  * `decisions/batch=B` (replay rewrites the same rows), and store
  * admission is guarded by a `_commits/B` marker written LAST plus
  * insert-if-absent filtering inside (a batch row already stored is
  * never written again) — a replayed epoch with the
  * marker present skips admission entirely; a crash mid-admission
  * re-runs it where only the missing rows insert. The cluster merge,
  * running beside the admissions, commits under the cluster store's
  * OWN `_commits/B` marker: a replay after a failed admission skips a
  * merge that landed, and re-runs one that did not (the replayed
  * verdict is the same, so either way the cluster state ends as one
  * uninterrupted trigger leaves it). (The one divergence
  * window: a crash between partial table writes can admit a batch's
  * band rows in two attempts, giving within-batch rank order that
  * differs from the single-attempt order if the cap was nearly full.)
  */
object StreamingDecision {

  val FormatVersion = 1

  /** Committed cluster merges between two compactions of the
    * `clusterPath` forest. */
  private val ClusterCompactEvery = 64

  private val hashesSchema = StructType(Seq(
    StructField("h", StringType), StructField("owner_id", LongType),
    StructField("bkt", IntegerType)))
  private val bandsSchema = StructType(Seq(
    StructField("bk", StringType), StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType)), StructField("rank", IntegerType),
    StructField("bkt", IntegerType)))
  private val cellsSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("emb", ArrayType(FloatType)),
    StructField("nrm", DoubleType), StructField("rank", IntegerType),
    StructField("cell", LongType)))
  private val decisionsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("decision", StringType),
    StructField("keeper_id", LongType), StructField("batch", StringType)))
  private val verdictSchema = StructType(decisionsSchema.fields.dropRight(1))

  private def bktOf(c: org.apache.spark.sql.Column, b: Int) =
    pmod(hash(c), lit(b))

  private def writeMeta(spark: SparkSession, path: String, buckets: Int): Unit =
    StoreMeta.writeBucketMeta(spark, path, FormatVersion, buckets)

  /** Bucket count recorded at store creation — readers recompute `bkt`
    * with it, never a default that could silently diverge; format-
    * checked via [[graft.ext.StoreMeta.readBucketMeta]]. */
  def buckets(spark: SparkSession, path: String): Int =
    StoreMeta.readBucketMeta(spark, path, FormatVersion)

  /** The decision table accumulated so far — one row per arrival:
    * (doc_id, decision, keeper_id), partitioned by `batch`.
    *
    * AT-LEAST-ONCE CAVEAT (ADVICE r11): a [[run]] started WITHOUT a
    * `checkpointLocation` gets a fresh random marker namespace per
    * start, so a restart re-delivers every source file under new batch
    * keys and appends a second, verdict-identical decision row per doc
    * under the new `batch=` partitions. The raw table therefore may
    * hold multiple rows per doc_id; this reader keeps one row per doc,
    * highest numeric epoch first. Note the replay runs against store
    * state the original arrival had not seen, so the surfaced verdict
    * can be the replay's (e.g. keep → drop_near against a member
    * admitted after the original arrival) — honest at-least-once
    * semantics; a CHECKPOINTED stream never duplicates (re-delivery
    * reuses the same namespace + epoch and overwrites in place). Use
    * [[decisionsRaw]] for the unfiltered per-arrival ledger. */
  def decisions(spark: SparkSession, path: String): DataFrame = {
    val raw = decisionsRaw(spark, path)
    // 'latest' = highest NUMERIC epoch (trailing digits of the batch
    // key — lexicographic order would misrank epoch 10 below 9), ties
    // by key then decision for determinism
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(epochOf(col("batch")).desc, col("batch").cast("string").desc,
        col("decision").asc)
    raw.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The unfiltered per-arrival decision ledger — may carry duplicate
    * doc_id rows after an uncheckpointed restart (see [[decisions]]).
    * A store that has committed no batch yet (or a maintenance sweep
    * pointed at a fresh path) reads as EMPTY rather than dying with
    * PATH_NOT_FOUND inside the writer lease (ADVICE r12) — a
    * retraction against a ledgerless store is then a clean no-op. */
  def decisionsRaw(spark: SparkSession, path: String): DataFrame =
    if (StoreMeta.fs(spark, path).exists(new Path(s"$path/decisions")))
      spark.read.schema(decisionsSchema).parquet(s"$path/decisions")
    else local(spark, Nil, decisionsSchema)

  /** Rewrite, in place, every ledger partition holding a row of `ids`
    * (a frame of `doc_id`): those rows go and `rows` (decision rows, each
    * landing in its own `batch` partition) come in. EVERY partition
    * holding such a row is rewritten — an uncheckpointed restart can
    * leave a doc's duplicate rows in OTHER namespaces' partitions, and a
    * stale duplicate still naming a tombstoned keeper must not survive —
    * and one left without rows is deleted, which dynamic overwrite cannot
    * do. */
  private def patchLedger(spark: SparkSession, path: String, lease: StoreMeta.Lease,
      ids: DataFrame, rows: Seq[Row]): Unit = {
    val raw = decisionsRaw(spark, path).withColumn("batch", col("batch").cast("string"))
    val touchedB = raw.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select("batch").distinct().collect().map(_.getString(0))
    if (touchedB.nonEmpty || rows.nonEmpty) {
      val patched = raw.filter(col("batch").isin(touchedB: _*))
        .join(broadcast(ids), Seq("doc_id"), "left_anti")
        .unionByName(local(spark, rows, decisionsSchema)).localCheckpoint(true)
      StoreMeta.verifyLease(spark, lease)
      if (!patched.isEmpty)
        patched.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch").parquet(s"$path/decisions")
      val nonEmpty = patched.select("batch").distinct()
        .collect().map(_.getString(0)).toSet
      val fs = StoreMeta.fs(spark, path)
      touchedB.filterNot(nonEmpty).foreach { bk =>
        val dir = new Path(s"$path/decisions/batch=$bk")
        if (fs.exists(dir)) fs.delete(dir, true): Unit
      }
    }
  }

  // ----------------------------------------------------------------
  // RETRACTION (VERDICT r11 #1): takedown support for the decision
  // surface. delete() purges the deleted docs' store rows + ledger
  // rows and names the docs the deletion invalidates; readjudicate()
  // re-verdicts those docs IN THEIR ORIGINAL ARRIVAL ORDER against
  // the healed stores, through processBatch's own keys job, slice
  // probe and verdict (only its near/semantic member choice and its
  // admissions differ). The composition is oracle-pinned
  // (`dedup_retraction`): decisions after delete + readjudicate are
  // hash-equal to a from-scratch run over the corpus minus the
  // deleted docs — EXACTLY when the admission caps were not binding
  // on any touched bucket/cell. Under binding caps the surface stays
  // consistent but can diverge from from-scratch in one bounded way:
  // admission slots the deleted docs once held stay empty until new
  // arrivals fill them (the store under-fills; a from-scratch run
  // would have admitted the next-in-line docs, whose content the
  // store never retained) — the same class of arrival-history
  // dependence as the documented crash-window band-rank note.
  // ----------------------------------------------------------------

  /** Trailing numeric epoch of a batch key — `<ns>-<epoch>` keys (what
    * [[run]] writes) and plain numeric spec keys both parse; arrival
    * ORDER across batches is this number (single-namespace ledgers —
    * see [[decisions]] for the multi-namespace caveat). */
  private def epochOf(c: org.apache.spark.sql.Column) =
    regexp_extract(c, "(\\d+)$", 1).cast("long")

  /** RETRACTION step 1: purge `docIds` everywhere — hash ownership,
    * band rows, cell membership, decision-ledger rows — and return the
    * invalidated docs: every surviving doc whose recorded keeper is a
    * deleted doc, as (doc_id, batch) with the ORIGINAL arrival batch.
    * Feed those docs' content to [[readjudicate]] to heal the surface;
    * until then their ledger rows still carry the stale keeper.
    *
    * Scale shape: the hashes/bands scans are column-pruned full-table
    * passes (ownership/band rows are not partitioned by doc id — a
    * takedown is a maintenance op and pays one scan); only TOUCHED
    * partitions are rewritten ([[graft.sinks.ArcaneLayout.replacePartitions]]
    * staging discipline). Deleted ids land in `tombstones/`. */
  def delete(spark: SparkSession, path: String, docIds: DataFrame,
      idColumn: String = "doc_id"): DataFrame = {
    // single-writer contract for partition-rewriting passes — see
    // StoreMeta.withWriterLease
    StoreMeta.withWriterLeaseFenced(spark, path, "delete") { lease =>
    val b = buckets(spark, path)
    val ids = docIds.select(col(idColumn).cast("long").as("doc_id")).distinct()
      .localCheckpoint(true)
    val fs = StoreMeta.fs(spark, path)

    // invalidated docs FIRST (computed from the ledger being purged)
    val raw = decisionsRaw(spark, path)
      .withColumn("batch", col("batch").cast("string"))
    val affected = raw
      .join(broadcast(ids.select(col("doc_id").as("keeper_id"))),
        Seq("keeper_id"), "left_semi")
      .join(broadcast(ids), Seq("doc_id"), "left_anti")
      .select("doc_id", "batch").distinct()
      .localCheckpoint(true)

    def patchArcane(table: String, partCol: String, keyCol: String): Unit = {
      val dir = s"$path/$table/data"
      val keyed = ids.select(col("doc_id").as(keyCol))
      if (fs.exists(new Path(dir))) {
        val all = spark.read.parquet(dir)
        val touched = all.join(broadcast(keyed), Seq(keyCol), "left_semi")
          .select(partCol).distinct()
          .collect().map(_.get(0)).sortBy(_.toString)
        if (touched.nonEmpty) {
          val slice = all.filter(col(partCol).isin(touched: _*))
          val kept = slice.join(broadcast(keyed), Seq(keyCol), "left_anti")
            .select(all.columns.map(col).toSeq: _*)
          ArcaneLayout.replacePartitions(kept, s"$path/$table", Seq(partCol),
            touched.map(v => s"$partCol=$v").toSeq, fence = Some(lease)): Unit
        }
      }
    }
    // the three store tables are INDEPENDENT (disjoint paths, disjoint
    // partitions) — patch them CONCURRENTLY from the driver, the same
    // independent-actions pattern as the batch admissions below: a
    // takedown's latency is then the slowest patch, not the sum of
    // three small-job chains (VERDICT r12 #6: the sweep, measured as
    // the delete phase, dominates the retraction rows).
    // A failed patch must NOT leak straggler siblings past this method:
    // the enclosing lease releases on exit, and a task still between
    // its verifyLease and rename when a new holder acquires would
    // interleave rewrites — `concurrently` interrupts and DRAINS them
    // first. A drain TIMEOUT means a straggler may still be renaming
    // staged files: surface it as an operator error instead of silently
    // racing the next writer — LeasePoisonedException makes
    // withWriterLeaseFenced LEAVE the lease to TTL-expire, so the next
    // writer waits out the straggler rather than acquiring into it
    // (ADVICE r13)
    concurrently(
      Seq(("hashes", "bkt", "owner_id"), ("bands", "bkt", "doc_id"),
        ("cells", "cell", "vec_id"))
        .map { case (t, p, k) => s"patch-$t" -> (() => patchArcane(t, p, k)) },
      stuck = Some(() => new StoreMeta.LeasePoisonedException(
        s"decision-store patch pool for $path failed to drain within 120s " +
          "after interrupt: a wedged patch task may still be writing — " +
          "leaving the writer lease to TTL-expire; resolve the wedged job " +
          "and re-run the takedown under a fresh lease"))): Unit

    patchLedger(spark, path, lease, ids, Nil)
    ids.write.mode("append").parquet(s"$path/tombstones")
    affected
    }
  }

  /** Ids ever retracted from this store — [[delete]]'s audit trail. */
  def tombstones(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(s"$path/tombstones")
    if (StoreMeta.fs(spark, path).exists(p)) spark.read.parquet(s"$path/tombstones")
    else spark.range(0).select(col("id").as("doc_id"))
  }

  /** RETRACTION step 2: re-verdict the docs a [[delete]] invalidated —
    * `docs` is the affected set WITH content ((id, text, embedding?)
    * joined back by the caller, who owns the corpus) and `batchCol`
    * carrying each doc's ORIGINAL batch key from delete()'s result.
    *
    * The heal runs [[processBatch]]'s own steps over the re-fed docs:
    * the keys job, the one-job slice probe and the driver-side verdict,
    * with the same settings a trigger takes. A doc delete() named in
    * several namespaces (an uncheckpointed restart) is judged once, as
    * its first-arrival replica: min (epoch, batch). One pass reproduces
    * the sequential replay because the near and semantic tiers claim the
    * smallest matching member whose FIRST-ARRIVAL epoch in the ledger
    * (read for the candidate members only) precedes the doc's own, never
    * the doc itself — exactly what a from-scratch run at the doc's batch
    * would have seen, other re-fed docs included via their still-stored
    * band/cell rows. The exact tier is a trigger's: a stored owner that
    * is not a re-fed doc of the hash, else the hash's batch owner (the
    * earliest re-fed arrival, ties by id); an orphaned hash's batch owner
    * is ADMITTED as its owner by a trigger's hashes admission. Band and
    * cell rows of re-fed docs are already stored, so nothing else is
    * admitted. The re-fed docs' ledger rows are patched IN their original
    * batch partitions — afterwards the ledger looks exactly like a
    * from-scratch run's (same partitions, same rows), so retractions
    * compose. Returns the new decision rows. */
  def readjudicate(docs: DataFrame, idCol: String, textCol: String,
      embCol: Option[String], batchCol: String, path: String,
      centroids: Seq[(Long, Array[Double])],
      minSigMatch: Int = 8, minScoreE4: Long = 3000L,
      qualityFits: Seq[graft.ext.QualityClassifier.FeatureFit] = Nil,
      qualityStop: Seq[String] = Nil,
      qualityLm: Option[graft.ext.QualityClassifier.LmModel] = None,
      qualityLmBroadcast: Boolean = true,
      tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        TextOps.tokens): DataFrame = {
    val spark = docs.sparkSession
    val phase = new Phases("readjudicate")
    val b = buckets(spark, path)
    val in = docsOf(docs, idCol, textCol, embCol, col(batchCol).cast("string").as("batch"))
    val arrivals = phase("keys")(keys(in, lit(false), col("batch"), b,
        embCol.nonEmpty && centroids.nonEmpty, centroids, tok))
      .groupBy(_.id).values.map(_.minBy(a => (a.ep, Option(a.batch)))).toSeq
    if (arrivals.isEmpty) local(spark, Nil, decisionsSchema)
    else StoreMeta.withWriterLeaseFenced(spark, path, "readjudicate") { lease =>
      val qFail =
        if (qualityFits.isEmpty) Set.empty[Long]
        else phase("quality")(qualityFails(in, qualityFits, qualityStop, qualityLm,
          qualityLmBroadcast, tok))
      val (hashes, nearP, semP) = probe(spark, path, arrivals, minSigMatch, minScoreE4, phase)
      // first-arrival epoch of every member a re-fed doc matched
      val cands = (nearP.hits.keySet ++ semP.hits.keySet).collect { case (d, m) if d != m => m }
      val memberEp: Map[Long, Long] =
        if (cands.isEmpty) Map.empty
        else phase("member-epochs") {
          decisionsRaw(spark, path).filter(col("doc_id").isin(cands.toSeq: _*))
            .select(col("doc_id"), epochOf(col("batch"))).collect().toSeq
            .collect { case r if !r.isNullAt(1) => r.getLong(0) -> r.getLong(1) }
            .groupMapReduce(_._1)(_._2)(math.min)
        }
      def earlier(p: Probe)(a: Arrival): Option[Long] =
        p.members.getOrElse(a.id, Nil).map(_._1)
          .filter(m => m != a.id && memberEp.get(m).exists(e => a.ep.exists(e < _))).minOption
      val owners = batchOwners(arrivals)
      val rows = verdicts(arrivals, owners, hashes, earlier(nearP), earlier(semP), qFail)
        .map { case (a, decision, keeper) => Row(a.id, decision, keeper, a.batch) }
      val admit = hashAdmits(owners, hashes)
      if (admit.nonEmpty) phase("admit-hashes")(appendTable(
        local(spark, admit, hashesSchema).coalesce(1), s"$path/hashes", Seq("bkt")))
      val dec = local(spark, rows, decisionsSchema)
      phase("ledger-patch")(patchLedger(spark, path, lease, dec.select("doc_id"), rows))
      dec
    }
  }

  /** RETRACTION step 3 (optional cluster heal): rebuild the persisted
    * union-find components the deleted docs touched, from the HEALED
    * ledger's drop pairs — call AFTER [[delete]] + [[readjudicate]].
    * Delegates to [[graft.ext.ComponentStore.delete]] (tombstone +
    * touched-components-only rebuild + pair-closure over new links). */
  def healCluster(spark: SparkSession, path: String, clusterPath: String,
      docIds: DataFrame, idColumn: String = "doc_id"): Long = {
    val pairs = decisions(spark, path)
      .filter(col("decision") =!= "keep")
      .select(col("doc_id"), col("keeper_id"))
    graft.ext.ComponentStore.delete(docIds, idColumn, pairs,
      "doc_id", "keeper_id", clusterPath)
  }

  /** The quality-tier fail set over arrivals `in` (doc_id, text):
    * map-only scoring of the four per-doc features with the caller's
    * fitted literal weights — or, when `qualityLm` is given, the FULL
    * 5-feature batch score: x5 joins the BROADCAST vocabulary-sized
    * bigram LM count tables into the per-batch plan
    * ([[graft.ext.QualityClassifier.withLmFeature]]), so streaming
    * verdicts match the batch classifier bit for bit (VERDICT r14 #5 —
    * the stream/batch gate divergence closed instead of pinned). Docs
    * without shingle support (`size(tokens) < ShingleN`) are never
    * SCORED — they fail the tier outright, exactly the batch gate's
    * exclusion rule (both corpusBuildLedger modes drop them): before
    * this (ADVICE r15) the stream silently KEPT them, an undocumented
    * stream/batch divergence that only looked closed because html
    * extraction happens to guarantee ≥ 3 tokens on the fixtures.
    * Collected to the driver; callers skip the tier on empty
    * `qualityFits`. */
  private def qualityFails(in: DataFrame,
      qualityFits: Seq[graft.ext.QualityClassifier.FeatureFit],
      qualityStop: Seq[String],
      qualityLm: Option[graft.ext.QualityClassifier.LmModel],
      qualityLmBroadcast: Boolean,
      tok: Column => Column): Set[Long] = {
    import graft.ext.QualityClassifier
    val base = QualityClassifier.withLocalFeatures(
      in.select("doc_id", "text"), "text", qualityStop, ShingleN, tok)
    val (feats, cols) = qualityLm match {
      case Some(lm) =>
        require(qualityFits.size == QualityClassifier.FeatureCols.size,
          s"qualityLm requires ${QualityClassifier.FeatureCols.size} fitted features (x1..x5)")
        (base.join(
          QualityClassifier.withLmFeature(base.filter(col("__q_has")),
            "doc_id", "__toks", lm, broadcastLm = qualityLmBroadcast),
          Seq("doc_id"), "left"), QualityClassifier.FeatureCols)
      case None => (base, QualityClassifier.LocalFeatureCols)
    }
    QualityClassifier.score(feats, qualityFits, cols)
      .filter(!col("__q_has") || col("score_e6") < 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  /** `[dec-phase]` timing of one call's phases under `GRAFT_TIMING` (or
    * the `graft.timing` property): each phase's time and its start
    * within the call, so the log shows which phases overlap. */
  private final class Phases(key: String) {
    private val t0 = System.nanoTime()
    def apply[A](label: String)(f: => A): A =
      if (sys.props.contains("graft.timing") || sys.env.contains("GRAFT_TIMING")) {
        val s = System.nanoTime(); val r = f
        System.err.println(f"[dec-phase] $key $label: ${(System.nanoTime() - s) / 1e9}%.2f s" +
          f" (from +${(s - t0) / 1e9}%.2f s)"); r
      } else f
  }

  /** The documents of `df` as (doc_id, text, embedding?, extra…); a row
    * without an id can be neither decided nor admitted, so it is
    * skipped. */
  private def docsOf(df: DataFrame, idCol: String, textCol: String,
      embCol: Option[String], extra: Column*): DataFrame =
    df.select(Seq(col(idCol).cast("long").as("doc_id"), col(textCol).as("text")) ++
        embCol.map(c => col(c).as("embedding")) ++ extra: _*)
      .filter(col("doc_id").isNotNull)

  /** One arrival's batch-derived keys, collected to the driver: its
    * batch key and that key's epoch, its content hash, MinHash signature
    * and band keys (absent without shingle support), and its coarse
    * cell with the vector (absent without an embedding or with the
    * semantic tier off), each store key with the `bkt` it lives under. */
  private final case class Arrival(id: Long, tomb: Boolean, batch: String, ep: Option[Long],
      h: String, hBkt: Int, sig: Seq[Long], bands: Seq[(String, Int)],
      cell: Option[Long], emb: Seq[Float], nrm: Double)

  /** The keys job: every arrival's [[Arrival]] in ONE job, all map-only
    * over `in` ([[docsOf]]), tokenized once. `tomb` flags a retracted
    * id; `batch` is the arrival's batch key, its epoch computed here by
    * [[epochOf]] (null without trailing digits). The signature is the
    * per-row MinHash form (Dedup.minhashSigOnce), equal value for value
    * to the explode → min aggregate; band keys exist only with shingle
    * support (size(tokens) ≥ ShingleN). */
  private def keys(in: DataFrame, tomb: Column, batch: Column, b: Int, semOn: Boolean,
      centroids: Seq[(Long, Array[Double])], tok: Column => Column): Seq[Arrival] = {
    val semCols =
      if (semOn) Seq(when(col("embedding").isNotNull, col("cell")).as("cell"),
        col("emb"), col("nrm"))
      else Seq(lit(null).cast(LongType).as("cell"),
        lit(null).cast(ArrayType(FloatType)).as("emb"), lit(null).cast(DoubleType).as("nrm"))
    (if (semOn) StreamingDedup.withSemCell(in, "doc_id", "embedding", centroids) else in)
      .select(Seq(col("doc_id"), tomb.as("tomb"), batch.as("batch"), epochOf(batch).as("ep"),
        tok(col("text")).as("toks")) ++ semCols: _*)
      .withColumn("h", Dedup.contentHashWith(identity)(col("toks")))
      .withColumn("sig", when(size(col("toks")) >= ShingleN,
        Dedup.minhashSigOnce(TextOps.shingles(col("toks"), ShingleN), SigSlots)))
      .withColumn("bands", when(col("sig").isNotNull,
        Dedup.lshBandKeys(col("sig"), Bands, RowsPerBand)))
      .select(col("doc_id"), col("tomb"), col("batch"), col("ep"), col("h"), bktOf(col("h"), b),
        col("sig"), col("bands"), transform(col("bands"), bk => bktOf(bk, b)),
        col("cell"), col("emb"), col("nrm"))
      .collect().toSeq.map { r =>
        def seq[A](i: Int): Seq[A] = if (r.isNullAt(i)) Nil else r.getSeq[A](i)
        val vec = !r.isNullAt(9)
        Arrival(r.getLong(0), r.getBoolean(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getString(4), r.getInt(5),
          seq[Long](6), seq[String](7).zip(seq[Int](8)),
          if (vec) Some(r.getLong(9)) else None, if (vec) seq[Float](10) else Nil,
          if (vec) r.getDouble(11) else 0.0)
      }
  }

  /** What one tier's touched store slice says about a batch: `hits`,
    * every (arrival, matching stored member) pair, `true` when each of
    * the member's matching rows is one of the batch's own (at most
    * `Bands` × `maxBucket` near members per arrival); `stored`, the
    * stored row count per touched key; `present`, the batch's own (key,
    * id) rows already stored (a replay's, an earlier attempt's, or a
    * re-fed doc's — never inserted again). Every part is bounded by the
    * batch and the caps. */
  private final case class Probe(hits: Map[(Long, Long), Boolean], stored: Map[Any, Int],
      present: Set[(Any, Long)]) {
    def ++(o: Probe): Probe = Probe(
      o.hits.foldLeft(hits) { case (acc, (dm, own)) =>
        acc.updated(dm, acc.get(dm).fold(own)(_ && own)) },
      o.stored.foldLeft(stored) { case (acc, (k, n)) =>
        acc.updated(k, acc.getOrElse(k, 0) + n) },
      present ++ o.present)

    /** Each arrival's matching members, with their `hits` flag. */
    lazy val members: Map[Long, Seq[(Long, Boolean)]] =
      hits.toSeq.groupMap(_._1._1) { case ((_, m), own) => m -> own }

    /** The smallest matching member that is not one of the batch's own
      * rows: a trigger's keeper for this tier. */
    def keeper(d: Long): Option[Long] =
      members.getOrElse(d, Nil).collect { case (m, false) => m }.minOption
  }
  private val NoProbe = Probe(Map.empty, Map.empty, Set.empty)

  /** One tier's touched store slice, folded per partition into a
    * [[Probe]]; `batch` is the broadcast it reads, destroyed once the
    * fold has run. */
  private final case class Slice(folded: RDD[Probe], batch: Broadcast[_])

  /** Plan the read of one tier's touched store slice: a literal filter
    * on the touched `partCol` values prunes the store to their
    * partitions, and the batch's rows per key (`batch`, whose tuples
    * start with the arrival id) reach the executors as a broadcast
    * variable, so the plan's size does not grow with the batch. Every
    * stored row of a touched key is compared with the batch rows of its
    * key by `hit(batchRow)`, a Spark expression over the stored row's
    * columns. None when the batch has no key or the table does not
    * exist yet. */
  private def slice[K: TypeTag, R <: Product: TypeTag](spark: SparkSession, dir: String,
      schema: StructType, partCol: String, parts: Seq[Any], keyCol: String,
      idCol: String, batch: Map[K, Seq[R]])(hit: Column => Column): Option[Slice] =
    if (batch.isEmpty || !StoreMeta.fs(spark, dir).exists(new Path(dir))) None
    else {
      val bc = spark.sparkContext.broadcast(batch)
      try {
        val touched = udf((k: K) => bc.value.contains(k))
        val rowsOf = udf((k: K) => bc.value(k))
        val folded = spark.read.schema(schema).parquet(dir)
          .filter(col(partCol).isin(parts: _*) && touched(col(keyCol)))
          .withColumn("__b", rowsOf(col(keyCol)))
          .select(col(keyCol), col(idCol),
            exists(col("__b"), r => r("_1") === col(idCol)),
            transform(filter(col("__b"), hit), r => r("_1")))
          .rdd.mapPartitions { rows =>
            val hits = mutable.HashMap.empty[(Long, Long), Boolean]
            val stored = mutable.HashMap.empty[Any, Int]
            val present = mutable.HashSet.empty[(Any, Long)]
            rows.foreach { r =>
              val (key, m, own) = (r.get(0), r.getLong(1), r.getBoolean(2))
              stored(key) = stored.getOrElse(key, 0) + 1
              if (own) present += key -> m
              r.getSeq[Long](3).foreach(d => hits((d, m)) = hits.get((d, m)).fold(own)(_ && own))
            }
            Iterator(Probe(hits.toMap, stored.toMap, present.toSet))
          }
        Some(Slice(folded, bc))
      } catch { case e: Throwable => bc.destroy(); throw e }
    }

  /** The `live` arrivals' rows of the bands table: (band key, its `bkt`,
    * arrival). */
  private def bandRowsOf(live: Seq[Arrival]): Seq[(String, Int, Arrival)] =
    for (a <- live; (bk, bkt) <- a.bands) yield (bk, bkt, a)

  /** Read the three touched store slices of the `live` arrivals —
    * hashes, bands, cells — each ONCE, all in ONE Spark job, and merge
    * each tier's partition results on the driver into one [[Probe]].
    * The three plans share nothing (a file index, UDFs over the slice's
    * own broadcast, `.rdd` planning) and are built at once. Replay
    * guards are by stored-row IDENTITY — (h, owner), (bk, doc_id),
    * (cell, vec_id): a stored row that is one of the batch's own rows
    * is flagged, but an id re-arriving with DIFFERENT content must not
    * suppress that id's old rows (a bare-id guard would let a true
    * duplicate of its old content through as 'keep'). Every broadcast a
    * plan made is destroyed on the way out, a failed sibling plan's
    * included. */
  private def probe(spark: SparkSession, path: String, live: Seq[Arrival],
      minSigMatch: Int, minScoreE4: Long, phase: Phases): (Probe, Probe, Probe) =
    phase("probe") {
      val bandRows = bandRowsOf(live)
      val vecs = live.filter(_.cell.nonEmpty)
      val planned = new java.util.concurrent.ConcurrentLinkedQueue[Slice]()
      def plan(table: String)(s: => Option[Slice]) =
        s"plan-$table" -> (() => phase(s"plan-$table") { val r = s; r.foreach(planned.add); r })
      try {
        val tiers = concurrently(Seq(
          plan("hashes")(slice(spark, s"$path/hashes/data", hashesSchema, "bkt",
            live.map(_.hBkt).distinct, "h", "owner_id",
            live.groupBy(_.h).map { case (h, as) => h -> as.map(a => Tuple1(a.id)) })(_ => lit(true))),
          plan("bands")(slice(spark, s"$path/bands/data", bandsSchema, "bkt",
            bandRows.map(_._2).distinct, "bk", "doc_id",
            bandRows.groupBy(_._1).map { case (bk, rs) => bk -> rs.map(r => (r._3.id, r._3.sig)) }) {
            r => size(filter(zip_with(r("_2"), col("sig"), (x, y) => x === y), v => v)) >=
              minSigMatch
          }),
          plan("cells")(slice(spark, s"$path/cells/data", cellsSchema, "cell",
            vecs.map(_.cell.get).distinct, "cell", "vec_id",
            vecs.groupBy(_.cell.get).map { case (c, as) => c -> as.map(a => (a.id, a.emb, a.nrm)) }) {
            r => round(GraftFunctions.vectorDot(r("_2"), col("emb"))
              / (r("_3") * col("nrm")) * lit(10000.0)).cast("long") >= minScoreE4
          })))
        val tagged = tiers.zipWithIndex.collect { case (Some(s), i) => s.folded.map(i -> _) }
        val got = if (tagged.isEmpty) Array.empty[(Int, Probe)]
          else spark.sparkContext.union(tagged).collect()
        val Seq(h, n, c) = tiers.indices.map(i =>
          got.collect { case (`i`, p) => p }.foldLeft(NoProbe)(_ ++ _))
        (h, n, c)
      } finally planned.asScala.foreach(_.batch.destroy())
    }

  /** Each hash's batch owner: its first arrival by (epoch, id), a null
    * epoch first (Spark's struct `min`); within one batch, the smallest
    * id. */
  private def batchOwners(live: Seq[Arrival]): Map[String, Arrival] =
    live.groupBy(_.h).map { case (h, as) => h -> as.minBy(a => (a.ep, a.id)) }

  /** The hashes admission: each batch owner of a hash no stored row
    * owns yet — first arrival owns, and an owned hash is never
    * re-admitted (ownership persists across the stream's lifetime). */
  private def hashAdmits(owners: Map[String, Arrival], hashes: Probe): Seq[Row] =
    owners.toSeq.sortBy(_._1).collect { case (h, o) if !hashes.stored.contains(h) =>
      Row(h, o.id, o.hBkt) }

  /** The verdict per arrival, by id: tombstone > exact > near > semantic
    * > quality > keep. The exact keeper is the hash's smallest stored
    * owner that is not one of the batch's own rows, else its batch owner
    * when that is another arrival; `near` and `sem` give the other two
    * tiers' keepers. keeper = exact ∨ near ∨ semantic ∨ the doc itself. */
  private def verdicts(arrivals: Seq[Arrival], owners: Map[String, Arrival], hashes: Probe,
      near: Arrival => Option[Long], sem: Arrival => Option[Long],
      qFail: Set[Long]): Seq[(Arrival, String, Long)] =
    arrivals.sortBy(_.id).map { a =>
      if (a.tomb) (a, "drop_tombstone", a.id)
      else {
        val ex = hashes.keeper(a.id).orElse(Some(owners(a.h).id).filter(_ != a.id))
        val (n, s) = (near(a), sem(a))
        val decision =
          if (ex.nonEmpty) "drop_exact" else if (n.nonEmpty) "drop_near"
          else if (s.nonEmpty) "drop_semantic" else if (qFail(a.id)) "drop_quality"
          else "keep"
        (a, decision, ex.orElse(n).orElse(s).getOrElse(a.id))
      }
    }

  /** Run independent driver actions at once, one thread each, and
    * return their results in order; `beside` runs on the calling thread
    * meanwhile and is never interrupted. The first failure, an action's
    * or `beside`'s, interrupts the actions still running (Spark cancels
    * a job whose submitting thread is interrupted) and drains them
    * before it is rethrown, so no action is still touching the store
    * when the caller sees it. A failed action surfaces as `decision
    * <label> failed`; when the drain outlasts 120 s, `stuck` is thrown
    * instead, if given. */
  private def concurrently[A](actions: Seq[(String, () => A)],
      beside: () => Unit = () => (),
      stuck: Option[() => Throwable] = None): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, actions.size))
    def drain(): Unit = {
      pool.shutdownNow()
      if (!pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
        stuck.foreach(s => throw s())
    }
    try {
      val running = actions.map { case (label, f) =>
        label -> pool.submit(new java.util.concurrent.Callable[A] {
          override def call(): A = f()
        })
      }
      try beside() catch { case e: Throwable => drain(); throw e }
      running.map { case (label, f) =>
        try f.get()
        catch { case e: Throwable =>
          drain()
          throw (e match {
            case x: java.util.concurrent.ExecutionException =>
              new RuntimeException(s"decision $label failed", x.getCause)
            case _ => e
          })
        }
      }
    } finally pool.shutdown()
  }

  /** Sequential cap fill of one tier: the batch's rows not yet stored,
    * ranked per key by arrival id after the key's stored rows
    * (rank = stored count + in-batch rank); only ranks within `cap`
    * are admitted, so the table stays bounded by keys × cap. */
  private def capFill[A](rows: Seq[A], key: A => Any, id: A => Long,
      p: Probe, cap: Int): Seq[(A, Int)] =
    rows.filterNot(a => p.present((key(a), id(a)))).groupBy(key).toSeq
      .flatMap { case (k, rs) =>
        val n0 = p.stored.getOrElse(k, 0)
        rs.sortBy(id).zipWithIndex.map { case (a, i) => a -> (n0 + i + 1) }
      }
      .filter(_._2 <= cap)

  /** Decide one micro-batch against the stores under `path`, write the
    * decisions to `decisions/batch=<batchKey>`, admit the batch, and
    * return the decision frame. `centroids` is the semantic tier's
    * FIXED quantizer (the persisted VectorIndex coarse centroids —
    * coarseK × dim doubles of metadata); pass `embCol = None` (or an
    * empty centroid set) to run a text-only two-tier surface.
    *
    * The batch is read once: one job collects every arrival's keys
    * (hash, band keys, cell), each tier's touched store slice is read
    * once by [[probe]], and the verdict and every admission are
    * assembled on the driver from those results, then written as
    * independent single-partition jobs while the cluster merge runs
    * beside them. The returned frame is that in-memory verdict. */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      embCol: Option[String], path: String,
      centroids: Seq[(Long, Array[Double])], batchKey: String,
      minSigMatch: Int = 8, maxBucket: Int = 64,
      minScoreE4: Long = 3000L, maxCell: Int = 64,
      nBuckets: Int = 16, clusterPath: Option[String] = None,
      qualityFits: Seq[graft.ext.QualityClassifier.FeatureFit] = Nil,
      qualityStop: Seq[String] = Nil,
      qualityLm: Option[graft.ext.QualityClassifier.LmModel] = None,
      qualityLmBroadcast: Boolean = true,
      tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        TextOps.tokens): DataFrame = {
    val spark = batch.sparkSession
    val phase = new Phases(batchKey)
    writeMeta(spark, path, nBuckets)
    val b = buckets(spark, path)

    // one slot per id within a batch (at-least-once replay guard — the
    // same in-batch dedup every stateful tier applies)
    val in0 = docsOf(batch, idCol, textCol, embCol).dropDuplicates("doc_id")
    // TOMBSTONE ENFORCEMENT (round 12): a RETRACTED id re-arriving
    // after its takedown must not be silently re-admitted — it gets an
    // explicit 'drop_tombstone' verdict (keeper = itself: there is no
    // matched member, the drop is policy) and touches no store.
    // Takedown is ID-scoped; a different id carrying the same content
    // is a new document and is judged on its own merits. The check
    // costs one exists() per batch and reads the (takedown-sized)
    // tombstone table only when a delete() ever ran.
    val (withTomb, tomb) =
      if (StoreMeta.fs(spark, path).exists(new Path(s"$path/tombstones")))
        (in0.join(spark.read.parquet(s"$path/tombstones")
            .select(col("doc_id"), lit(true).as("__tomb")).distinct(), Seq("doc_id"), "left"),
          coalesce(col("__tomb"), lit(false)))
      else (in0, lit(false))
    // the quality tier reads the batch a second time: cache it then, so
    // the batch scan and the in-batch dedup shuffle run once
    val in = if (qualityFits.nonEmpty) withTomb.persist() else withTomb
    try {
      val arrivals = phase("keys")(keys(in, tomb, lit(batchKey), b,
        embCol.nonEmpty && centroids.nonEmpty, centroids, tok))
      val live = arrivals.filterNot(_.tomb)

      // ---- quality tier (VERDICT r13 #2): MAP-ONLY scoring with the
      // caller's FITTED literal weights over the four per-doc features
      // (QualityClassifier.LocalFeatureCols — no corpus-trained LM
      // tables in the per-batch plan). Ranked BELOW every duplicate
      // tier: a duplicate of a low-quality doc is still a duplicate,
      // and its keeper edge must reach the cluster state. Docs without
      // shingle support are not scored — they drop (the batch gate's
      // exclusion rule, ADVICE r15). Admission is UNAFFECTED — stores
      // record what the stream
      // has seen; a quality-dropped doc is still a valid dedup member.
      val qFail: Set[Long] =
        if (qualityFits.isEmpty || live.isEmpty) Set.empty
        else phase("quality")(qualityFails(in.filter(!tomb), qualityFits, qualityStop,
          qualityLm, qualityLmBroadcast, tok))

      // ---- the three touched store slices, each read once; every
      //      tier's keeper is its smallest matching stored member that
      //      is not one of the batch's own rows
      val (hashes, nearP, semP) = probe(spark, path, live, minSigMatch, minScoreE4, phase)
      val owners = batchOwners(live)
      val dec = local(spark,
        verdicts(arrivals, owners, hashes, a => nearP.keeper(a.id), a => semP.keeper(a.id), qFail)
          .map { case (a, decision, keeper) => Row(a.id, decision, keeper) },
        verdictSchema)

      // ---- admission (marker-guarded, insert-if-absent) -------------
      val fs = StoreMeta.fs(spark, path)
      val marker = new Path(s"$path/_commits/$batchKey")
      val admitted = fs.exists(marker)
      val admits: Seq[(String, Seq[Row], StructType, String)] =
        if (admitted) Nil
        else Seq(
          ("hashes", hashAdmits(owners, hashes), hashesSchema, "bkt"),
          // bands: sequential cap fill per band key
          ("bands",
            capFill[(String, Int, Arrival)](bandRowsOf(live), _._1, _._3.id, nearP, maxBucket)
              .map { case ((bk, bkt, a), rank) => Row(bk, a.id, a.sig, rank, bkt) },
            bandsSchema, "bkt"),
          // cells: same sequential fill per coarse cell
          ("cells",
            capFill[Arrival](live.filter(_.cell.nonEmpty), _.cell.get, _.id, semP, maxCell)
              .map { case (a, rank) => Row(a.id, a.emb, a.nrm, rank, a.cell.get) },
            cellsSchema, "cell"))
          .filter(_._2.nonEmpty)

      // ---- arrival-time CLUSTER STATE (round 11): every drop verdict
      // is a verified (doc, keeper) duplicate pair — merged into the
      // persisted union-find forest, so TRANSITIVE canonical labels
      // (A≈B≈C with A≉C — what the per-arrival keeper deliberately
      // does not give) are maintained incrementally, O(batch + touched
      // roots) per micro-batch, never a corpus-wide recompute. The
      // merge reads only the in-memory verdict, so it runs beside the
      // store writes below. Guarded by ComponentStore's own commit
      // marker AND naturally idempotent (a replayed batch re-derives
      // identical decisions, and re-merged pairs contract to
      // (root, root)).
      val merge = () => clusterPath.foreach { cp =>
        // self-keeper verdicts (drop_tombstone, drop_quality) are
        // policy drops, not duplicate EDGES — a (doc, doc) pair
        // carries no cluster information
        val pairs = dec.filter(col("decision") =!= "keep" &&
            col("doc_id") =!= col("keeper_id"))
          .select(col("doc_id"), col("keeper_id"))
        phase("cluster-merge")(
          graft.ext.ComponentStore.merge(pairs, "doc_id", "keeper_id", cp, batchKey))
      }

      // The verdict write, the admissions and the cluster merge are
      // INDEPENDENT (verdict is replay-idempotent overwrite; admissions
      // derive from pre-batch store state; the merge from the verdict)
      // — run them CONCURRENTLY from the driver, the standard Spark
      // pattern for independent actions. Each write lands driver-held
      // rows from ONE partition, so none is a wide job. The merge runs
      // on this thread, where a failing write never interrupts it: its
      // partition overwrite deletes each old `bkt=` directory before
      // moving the new one in, and an interrupt between the two would
      // lose rows. Any failure cancels and drains the writes still
      // running before it is rethrown (ADVICE r11), so the store
      // receives no admission after the caller has seen the failure;
      // replay stays marker-guarded either way.
      concurrently(
        ("decisions-write" -> (() => phase("decisions-write")(
          dec.coalesce(1).write.mode("overwrite")
            .parquet(s"$path/decisions/batch=$batchKey")))) +:
          admits.map { case (table, rows, schema, part) =>
            s"admit-$table" -> (() => phase(s"admit-$table")(appendTable(
              local(spark, rows, schema).coalesce(1), s"$path/$table", Seq(part))))
          },
        beside = merge)

      // marker LAST, after every table (and the verdict) landed; the
      // cluster merge committed under its own marker
      if (!admitted) {
        fs.mkdirs(new Path(s"$path/_commits"))
        fs.create(marker, true).close()
      }
      clusterPath.foreach(cp =>
        graft.ext.ComponentStore.maybeCompact(spark, cp, ClusterCompactEvery): Unit)
      dec
    } finally {
      in.unpersist(); ()
    }
  }

  /** A frame over driver-held rows (a local relation: reading it back
    * to the driver runs no Spark job). */
  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def appendTable(df: DataFrame, target: String,
      partCols: Seq[String]): Unit = {
    ArcaneLayout.writeDataBatch(df, target, partitionColumns = partCols)
    val h = graft.schema.SchemaOps.shortFingerprint(df.schema)
    if (!ArcaneLayout.completionTokenExists(df, target, h)) {
      ArcaneLayout.writeSchemaFile(df, target)
      ArcaneLayout.writeCompletionToken(df, target, h)
    }
  }

  /** Wire a document stream through the decision surface: one
    * [[processBatch]] per micro-batch, keyed by the epoch id. Give a
    * `checkpointLocation` in production so a restart resumes the epoch
    * sequence instead of restarting batch ids at 0 against a
    * now-populated store (the [[graft.ext.VectorIndex.appendStream]]
    * marker-collision lesson, ADVICE r10).
    *
    * WITHOUT a checkpoint, a restart re-delivers every source file
    * under a fresh marker namespace: verdicts replay identically (the
    * stores admit nothing new), but the `decisions/` ledger gains a
    * second row per doc under the new `batch=` partitions.
    * [[decisions]] collapses those to one row per doc (latest batch
    * wins); [[decisionsRaw]] exposes the full per-arrival ledger. */
  def run(stream: DataFrame, idCol: String, textCol: String,
      embCol: Option[String], path: String,
      centroids: Seq[(Long, Array[Double])],
      checkpointLocation: Option[String] = None,
      minSigMatch: Int = 8, maxBucket: Int = 64,
      minScoreE4: Long = 3000L, maxCell: Int = 64,
      nBuckets: Int = 16, clusterPath: Option[String] = None,
      trigger: Option[Trigger] = None,
      qualityFits: Seq[graft.ext.QualityClassifier.FeatureFit] = Nil,
      qualityStop: Seq[String] = Nil,
      qualityLm: Option[graft.ext.QualityClassifier.LmModel] = None,
      qualityLmBroadcast: Boolean = true,
      onBatch: Option[(DataFrame, DataFrame, String) => Unit] = None,
      tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        TextOps.tokens): StreamingQuery = {
    // Marker NAMESPACING (the VectorIndex.appendStream lesson, ADVICE
    // r10): epoch ids restart at 0 for a stream started without a
    // checkpoint and are shared by independent streams on one store
    // path — a bare epoch marker would make admission mistake real
    // first batches for replays and silently skip them (and overwrite
    // prior epochs' decision partitions). The key is namespaced by the
    // checkpoint path when one is given (stable across restarts, so
    // crash-replay dedupe still works) and by a fresh random namespace
    // per start otherwise — without a checkpoint nothing records
    // delivered offsets anyway, and at-least-once decisions (replays
    // re-verdict identically) beat silently un-admitted corpus state.
    val ns = checkpointLocation match {
      case Some(cp) =>
        f"cp${scala.util.hashing.MurmurHash3.stringHash(new Path(cp).toUri.toString) & 0xffffffffL}%08x"
      case None => java.util.UUID.randomUUID().toString.take(8)
    }
    val w0 = stream.writeStream
      .foreachBatch { (df: DataFrame, epoch: Long) =>
        val dec = processBatch(df, idCol, textCol, embCol, path, centroids,
          batchKey = s"$ns-$epoch", minSigMatch = minSigMatch,
          maxBucket = maxBucket, minScoreE4 = minScoreE4,
          maxCell = maxCell, nBuckets = nBuckets,
          clusterPath = clusterPath,
          qualityFits = qualityFits, qualityStop = qualityStop,
          qualityLm = qualityLm, qualityLmBroadcast = qualityLmBroadcast,
          tok = tok)
        // composition seam (round 17): the hosted streaming corpus
        // build overlays the pure per-doc gates (decontamination,
        // mixture) on each batch's verdicts and lands the build ledger
        // — inside the same foreachBatch, keyed by the same namespaced
        // batch id, so a checkpoint replay overwrites its own partition
        onBatch.foreach(h => h(df, dec, s"$ns-$epoch"))
      }
    val w1 = trigger.fold(w0)(t => w0.trigger(t))
    checkpointLocation.fold(w1)(cp => w1.option("checkpointLocation", cp))
      .start()
  }

  /** Maintenance: rewrite each store table's per-batch append files
    * into ~target-sized ones (the [[graft.ext.SignatureStore.compact]]
    * pass for this store's tables). */
  def compact(spark: SparkSession, path: String,
      targetRecordsPerFile: Long = 1000000L): Map[String, Seq[String]] =
    Seq("hashes", "bands", "cells").flatMap { t =>
      if (StoreMeta.fs(spark, path).exists(new Path(s"$path/$t/data")))
        Some(t -> ArcaneLayout.compact(spark, s"$path/$t",
          targetRecordsPerFile = targetRecordsPerFile))
      else None
    }.toMap
}
