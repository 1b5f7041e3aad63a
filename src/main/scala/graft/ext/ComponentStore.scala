package graft.ext

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Persisted CONNECTED-COMPONENTS state (VERDICT r10 #3): the dedup
  * cluster assignment — component id per doc — maintained INCREMENTALLY
  * as batches of verified duplicate pairs arrive, instead of re-running
  * corpus-wide label propagation over all historical pairs every run
  * (the one full-recompute left in the dedup family; at 100 TB a
  * nightly full CC is the scale-killer).
  *
  * The representation is a UNION-FIND PARENT FOREST in parquet:
  * `parents/data/bkt=N/` holds one (id, parent) row per node ever seen
  * in a pair, with `parent < id` on every non-root row (union-by-min:
  * the merged component's label is the minimum id, so parent pointers
  * strictly decrease along any chain — no cycles, resolution always
  * terminates) and `parent = id` marking roots. `bkt = pmod(hash(id),
  * buckets)` — keyed by the IMMUTABLE id, so a node's row never moves
  * partitions and every by-id lookup prunes to its bucket files.
  *
  * Why union-find and not stored (id → final label): merging two
  * components under eager labels must rewrite EVERY member row of the
  * losing component — unbounded write amplification (one pair linking
  * two million-doc clusters rewrites a million rows). In the forest,
  * the same merge writes ONE row (the losing root's parent pointer),
  * so [[merge]]'s mutation set is O(batch endpoints + touched roots)
  * by construction:
  *
  *  1. collect the batch's distinct (src, dst) edges to the driver in
  *     one job — the trigger's drop edges, batch-sized;
  *  2. resolve their endpoints to their current roots by a fixed-point
  *     walk ([[resolve]]): one store lookup per hop, reading only the
  *     probed ids' `bkt=` partitions (a literal partition filter) and
  *     matching the ids through a broadcast set. `parent < id` on every
  *     non-root row, so the walk strictly descends and ends after
  *     chain depth + 1 hops, with no hop cap;
  *  3. contract each edge to its root pair and union-by-min on the
  *     driver — pairs INSIDE a known component cost nothing further;
  *     the graph is over touched roots, batch-sized, never corpus-
  *     sized (min of merged mins = the true component minimum, so
  *     labels stay exactly the full-recompute labels);
  *  4. upsert the changed roots + new nodes: read ONLY the affected
  *     `bkt=` partitions, patch in the O(batch) rows (written from one
  *     partition), dynamic-partition-overwrite those partitions back —
  *     the one Spark write of the merge.
  *
  * Resolution chains grow by at most one hop per merge generation;
  * [[compact]] is the maintenance pass that path-compresses every
  * parent to its root (one corpus-wide pointer-jump job, the
  * [[SignatureStore.compact]] cadence), restoring O(1)-hop lookups.
  * [[components]] materializes the resolved (id, comp) view without
  * mutating the store.
  *
  * Idempotence: [[merge]] is guarded by a `_commits/<batchKey>` marker
  * AND naturally idempotent without it — replaying already-merged
  * pairs contracts every edge to (root, root) and upserts nothing.
  * Partition overwrite is the file-commit-protocol's atomicity (v1
  * committer rename); deployments needing stronger guarantees put the
  * table on a transactional format — the store's layout is plain
  * hive-partitioned parquet on purpose (readable by everything).
  */
object ComponentStore {

  val DefaultBuckets = 16
  val FormatVersion = 1

  private val parentsSchema = StructType(Seq(
    StructField("id", LongType), StructField("parent", LongType),
    StructField("bkt", IntegerType)))

  private def bktOf(c: Column, b: Int): Column = pmod(hash(c), lit(b))

  private def writeMeta(spark: SparkSession, path: String, buckets: Int): Unit =
    StoreMeta.writeBucketMeta(spark, path, FormatVersion, buckets)

  /** Bucket count recorded at store creation — every reader recomputes
    * `bkt` with it, format-checked ([[SignatureStore.buckets]]'s
    * discipline via [[StoreMeta.readBucketMeta]]). */
  def buckets(spark: SparkSession, path: String): Int =
    StoreMeta.readBucketMeta(spark, path, FormatVersion)

  /** The raw parent forest (id, parent, bkt). */
  def parents(spark: SparkSession, path: String): DataFrame = {
    val dir = s"$path/parents"
    if (StoreMeta.fs(spark, path).exists(new Path(dir)))
      spark.read.schema(parentsSchema).parquet(dir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], parentsSchema)
  }

  private def ckpt(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** LAZY [[ckpt]] (round 21, VERDICT r20 #6): the checkpoint is
    * materialized by the frame's FIRST consumer instead of a dedicated
    * count job, so a hop's materialization rides a job it runs anyway.
    * Lineage is truncated exactly as with [[ckpt]]. Under a reliable
    * checkpoint dir the eager form is kept — the durable write is its
    * own job either way and must not be left to an arbitrary consumer. */
  private def lazyCkpt(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = false)

  /** Materialize-and-count in ONE job (round 21, VERDICT r20 #6): the
    * iterative loops paid an eager checkpoint job PLUS a separate
    * `isEmpty` probe per hop; here the counting aggregate itself
    * materializes the lazy checkpoint, so the hop costs one job and
    * the returned frame is still lineage-truncated. Returns the frame
    * and the number of rows satisfying `pred`. */
  private def matCount(df: DataFrame, pred: Column): (DataFrame, Long) = {
    val out = lazyCkpt(df)
    (out, out.agg(count(when(pred, lit(1)))).head().getLong(0))
  }

  /** Spark's `pmod(hash(id), buckets)` ([[bktOf]]) computed on the
    * driver: Murmur3 over the long with Spark's seed 42. The bucket of
    * every id a lookup probes or a merge writes. */
  private[ext] def bucketOf(id: Long, b: Int): Int =
    Math.floorMod(Murmur3_x86_32.hashLong(id, 42), b)

  /** Run `f` with a filter matching `id` against a driver-side id set
    * shipped as a broadcast variable — the plan's size does not grow
    * with the set. The broadcast is destroyed once `f` returns. */
  private def withIds[A](spark: SparkSession, ids: Set[Long])(f: Column => A): A = {
    val bc = spark.sparkContext.broadcast(ids)
    try f(udf((id: Long) => bc.value.contains(id)).apply(col("id")))
    finally bc.destroy()
  }

  /** The stored (id -> parent) rows of `ids` in ONE job: a literal
    * partition filter on their buckets plus the broadcast id match. */
  private def lookup(spark: SparkSession, path: String, b: Int,
      ids: Set[Long]): Map[Long, Long] =
    if (ids.isEmpty || !StoreMeta.fs(spark, path).exists(new Path(s"$path/parents"))) Map.empty
    else withIds(spark, ids) { hit =>
      parents(spark, path)
        .filter(col("bkt").isin(ids.toSeq.map(bucketOf(_, b)).distinct.sorted: _*) && hit)
        .select("id", "parent").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

  /** Driver-side resolver shared by [[merge]], [[resolve]] and
    * [[delete]]: every id in `ids` -> its current root, plus the ids
    * that have a stored row. A fixed-point walk, one [[lookup]] per
    * hop over the ids whose parent is not known yet; ids absent from
    * the store are their own roots. Every non-root row has
    * `parent < id`, so each hop strictly descends and the walk ends
    * after chain depth + 1 hops — a row breaking that invariant would
    * make the forest cyclic and is refused. */
  private def roots(spark: SparkSession, path: String, b: Int,
      ids: Set[Long]): (Map[Long, Long], Set[Long]) = {
    val parentOf = mutable.HashMap.empty[Long, Long]
    var stored = Set.empty[Long]
    var frontier = ids
    while (frontier.nonEmpty) {
      val hop = lookup(spark, path, b, frontier)
      hop.foreach { case (id, p) =>
        if (p > id) throw new IllegalStateException(
          s"component store at $path has parent $p > id $id — not a union-by-min forest")
      }
      stored ++= hop.keySet
      frontier.foreach(id => parentOf(id) = hop.getOrElse(id, id))
      frontier = hop.valuesIterator.filterNot(parentOf.contains).toSet
    }
    def root(id: Long): Long = {
      var c = id
      while (parentOf(c) != c) c = parentOf(c)
      c
    }
    (ids.iterator.map(id => id -> root(id)).toMap, ids.filter(stored))
  }

  /** Resolve each id in `ids` to its current root — (id, root). The
    * distinct non-null ids are collected to the driver in one job and
    * walked to their roots by the fixed-point walk (one bucket-pruned
    * lookup per hop, see [[roots]]), so a batch resolution costs
    * O(batch × chain depth) row reads, never a store scan. Depth is
    * bounded by merges since the last [[compact]]. Unknown ids resolve
    * to themselves. */
  def resolve(ids: DataFrame, idColumn: String, path: String): DataFrame = {
    val spark = ids.sparkSession
    val want = ids.select(col(idColumn).cast("long").as("id")).filter(col("id").isNotNull)
      .collect().map(_.getLong(0)).toSet
    val rootOf = roots(spark, path, buckets(spark, path), want)._1
    spark.createDataFrame(
      rootOf.toSeq.sorted.map { case (id, r) => Row(id, r) }.asJava,
      StructType(Seq(StructField("id", LongType), StructField("root", LongType))))
  }

  /** Merge one batch of verified duplicate pairs into the stored
    * forest. Mutates O(batch endpoints + touched roots) rows across
    * the affected `bkt=` partitions only; the resulting resolved
    * labels equal a full recompute over all pairs ever merged
    * (hash-proven by the `dedup_cluster_incremental` oracle). */
  def merge(pairs: DataFrame, aCol: String, bCol: String, path: String,
      batchKey: String, nBuckets: Int = DefaultBuckets): Unit = {
    val spark = pairs.sparkSession
    writeMeta(spark, path, nBuckets)
    val b = buckets(spark, path)
    val fs = StoreMeta.fs(spark, path)
    val marker = new Path(s"$path/_commits/$batchKey")
    if (fs.exists(marker)) return
    // single-writer contract: merges rewrite bucket partitions in
    // place — see StoreMeta.withWriterLease. The TTL is deliberately
    // the conservative default, NOT tuned down for the streaming hot
    // path: the TTL is the steal threshold, and a live-but-slow merge
    // (large batch, object-store latency, GC pause) whose lease gets
    // stolen means two concurrent partition rewriters — the exact
    // corruption the lease prevents. The cost is availability, not
    // correctness: after a HARD driver kill (normal failures release
    // in finally) the restarted stream's first merge waits out the
    // remaining TTL; an operator who has confirmed the old driver is
    // dead can delete _lease/writer.json to resume immediately.
    StoreMeta.withWriterLeaseFenced(spark, path, "merge") { lease =>

    // 1. the batch's edges, one job; deduplicated on the driver
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val endpoints = edges.iterator.flatMap { case (s, d) => Iterator(s, d) }.toSet

    // 2. endpoints -> roots
    val (rootOf, known) = roots(spark, path, b, endpoints)

    // 3. union-by-min over the CONTRACTED edges: touched roots only.
    // Every stored root is the min id of its component, so min over
    // merged roots = min over all merged members — labels stay exactly
    // the full-recompute labels.
    val up = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (up.getOrElse(r, r) != r) r = up(r)
      var c = x
      while (c != r) { val n = up(c); up(c) = r; c = n }
      r
    }
    edges.foreach { case (s, d) =>
      val ra = find(rootOf(s))
      val rb = find(rootOf(d))
      if (ra != rb) { up(math.max(ra, rb)) = math.min(ra, rb) }
    }
    // 4. upserts: every root that lost a union (exactly the keys of
    // `up`), and every new endpoint, pointing at its component's label
    val upserts = (up.keys.toList.map(r => r -> find(r)) ++
      endpoints.toList.filterNot(known).map(u => u -> find(u)))
      .toMap.toSeq.sorted

    if (upserts.nonEmpty) {
      // patch only the affected bucket partitions: keep their untouched
      // rows, replace/insert the upserts, dynamic-overwrite those
      // partitions (the write set names exactly the affected bkt= dirs).
      // The staged files replace the partitions only at job commit,
      // after every task has read them.
      val affected = upserts.map { case (id, _) => bucketOf(id, b) }.distinct.sorted
      withIds(spark, upserts.map(_._1).toSet) { upserted =>
        val kept = parents(spark, path)
          .filter(col("bkt").isin(affected: _*) && !upserted)
          .select("id", "parent", "bkt")
        val rows = spark.createDataFrame(
          upserts.map { case (id, p) => Row(id, p, bucketOf(id, b)) }.asJava, parentsSchema)
          .coalesce(1)
        // fencing check LAST before the partition overwrite: a merge that
        // wedged past its TTL and lost the lease to a new writer must NOT
        // interleave with that writer's rewrite (VERDICT r12 #4)
        StoreMeta.verifyLease(spark, lease)
        kept.unionByName(rows).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bkt").parquet(s"$path/parents")
      }
    }

    fs.mkdirs(new Path(s"$path/_commits"))
    fs.create(marker, true).close()
    }
  }

  /** The resolved component view — (id, comp) with comp = the min id
    * reachable in the stored forest; does not mutate the store. One
    * pointer-jump loop over the whole table (O(log depth) rounds) —
    * the corpus-wide query, as opposed to [[resolve]]'s batch-pruned
    * lookup. */
  def components(spark: SparkSession, path: String): DataFrame = {
    var l = lazyCkpt(parents(spark, path).select(col("id"), col("parent").as("comp")))
    var done = false
    var iter = 0
    while (!done && iter < 30) {
      val p = l.select(col("id").as("p_id"), col("comp").as("p_comp"))
      // `moved` rides the step itself: comparing the stepped frame back
      // against `l` would be an ambiguous self-join (localCheckpoint
      // keeps attribute ids). One job per jump: the moved-count
      // aggregate materializes the step's checkpoint (no isEmpty probe)
      val (stepped, moved) = matCount(l.join(p, l("comp") === p("p_id"), "left")
        .select(l("id"), coalesce(p("p_comp"), l("comp")).as("comp"),
          (p("p_comp").isNotNull && p("p_comp") =!= l("comp")).as("moved")),
        col("moved"))
      done = moved == 0L
      l = stepped.select("id", "comp")
      iter += 1
    }
    l
  }

  /** RETRACTION (VERDICT r11 #1): remove `docIds` from the forest and
    * rebuild ONLY the components they touched. Union-find cannot
    * un-merge in place — a deleted doc may be the sole bridge between
    * two sub-clusters, so its component must be re-derived from the
    * SURVIVING evidence: `survivingPairs` is the caller's current
    * ground-truth pair set (for the decision surface: the post-
    * retraction ledger's drop pairs — [[graft.streaming.StreamingDecision]]
    * purges and re-adjudicates decisions BEFORE calling this).
    *
    * Steps, all bounded by the touched components + their new links,
    * never the corpus:
    *
    *  1. resolve the deleted ids to their roots ([[resolve]]: id-pruned
    *     hops);
    *  2. collect the affected components' members by walking the forest
    *     DOWNWARD from those roots (parent-pointer reverse
    *     reachability — one column-pruned pass per hop; a compacted
    *     forest is depth-1, so run [[compact]] on cadence);
    *  3. CLOSE the member set over `survivingPairs`: a re-adjudicated
    *     doc's new pair may link an affected member to a previously
    *     untouched component, whose members then join the rebuild set
    *     (without closure the bridged component's labels would go
    *     stale) — iterate until no pair leaves the set;
    *  4. run [[Dedup.connectedComponents]] over the pairs inside the
    *     closed set — touched-components-sized — and rewrite the
    *     members' rows: fresh (id, min-reachable-id) rows for nodes in
    *     surviving pairs, NO row for the deleted ids or for members
    *     left pair-less (exactly a from-scratch store's population).
    *
    * The rebuilt rows are fully path-compressed (resolved labels equal
    * a from-scratch recompute — oracle-pinned; row-level parents may
    * be FLATTER than an incremental from-scratch forest, which only
    * affects chain depth, not labels). Components sharing no member
    * with the closure are never read or written. Deleted ids land in
    * `tombstones/`. Returns the distinct deleted-id count. */
  def delete(docIds: DataFrame, idColumn: String, survivingPairs: DataFrame,
      aCol: String, bCol: String, path: String): Long = {
    val spark = docIds.sparkSession
    StoreMeta.withWriterLeaseFenced(spark, path, "delete") { lease =>
    val b = buckets(spark, path)
    val store = parents(spark, path)
    val del = ckpt(docIds.select(col(idColumn).cast("long").as("id")).distinct())
    // no global distinct/materialization here: the full pair set is
    // corpus-sized and only ever consumed through member-restricted
    // joins below (dedup happens on the restricted slice)
    val pairs = survivingPairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .join(broadcast(del.select(col("id").as("src"))), Seq("src"), "left_anti")
      .join(broadcast(del.select(col("id").as("dst"))), Seq("dst"), "left_anti")

    // 2. members of the deleted ids' components: walk parent pointers
    // DOWNWARD from the roots (each hop is one column-pruned store
    // pass; depth-1 after compact)
    def descend(roots: DataFrame): DataFrame = {
      var members = lazyCkpt(roots.select("id").distinct())
      var frontier = members
      var grew = true
      while (grew) {
        // one job per hop: the count materializes the children frame
        // (no separate isEmpty probes on frontier and children)
        val (children, n) = matCount(store
          .join(broadcast(frontier.select(col("id").as("parent"))), Seq("parent"), "left_semi")
          .select("id")
          .join(broadcast(members), Seq("id"), "left_anti"), lit(true))
        grew = n > 0L
        if (grew) {
          members = lazyCkpt(members.unionAll(children).distinct())
          frontier = children
        }
      }
      members
    }
    var members = descend(resolve(del, "id", path).select(col("root").as("id")))

    // 3. closure over surviving pairs: pull in any component a new
    // pair bridges to, until no pair crosses the boundary
    var closed = false
    while (!closed) {
      val touchingSrc = pairs.join(broadcast(members.select(col("id").as("src"))),
        Seq("src"), "left_semi")
      val touchingDst = pairs.join(broadcast(members.select(col("id").as("dst"))),
        Seq("dst"), "left_semi")
      val (outside, nOut) = matCount(touchingSrc.select(col("dst").as("id"))
        .unionAll(touchingDst.select(col("src").as("id"))).distinct()
        .join(broadcast(members), Seq("id"), "left_anti"), lit(true))
      if (nOut == 0L) closed = true
      else members = lazyCkpt(members.unionAll(
        descend(resolve(outside, "id", path).select(col("root").as("id"))))
        .distinct())
    }

    // 4. rebuild: CC over the closed set's pairs; fresh compressed rows
    val inPairs = pairs
      .join(broadcast(members.select(col("id").as("src"))), Seq("src"), "left_semi")
      .distinct()
    val rebuilt = lazyCkpt(
      if (inPairs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("id", LongType), StructField("parent", LongType))))
      else Dedup.connectedComponents(inPairs, "src", "dst")
        .select(col("id"), col("comp").as("parent")))

    // patch the members' bucket partitions: every member's old row goes,
    // rebuilt rows (and nothing else) come back
    val allOut = lazyCkpt(members.unionAll(del).distinct())
    val touched = allOut.select(bktOf(col("id"), b).as("bkt")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.nonEmpty) {
      val slice = store.filter(col("bkt").isin(touched.map(Integer.valueOf).toSeq: _*))
      val kept = slice.join(broadcast(allOut), Seq("id"), "left_anti")
        .select("id", "parent", "bkt")
      val (patched, nPatched) = matCount(kept.unionByName(
        rebuilt.withColumn("bkt", bktOf(col("id"), b))), lit(true))
      StoreMeta.verifyLease(spark, lease)
      if (nPatched > 0L)
        patched.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bkt").parquet(s"$path/parents")
      // dynamic overwrite cannot clear a partition it writes no rows
      // for — explicitly delete buckets every row left
      val nonEmpty = patched.select("bkt").distinct()
        .collect().map(_.getInt(0)).toSet
      val fs = StoreMeta.fs(spark, path)
      touched.filterNot(nonEmpty).foreach { v =>
        val dir = new Path(s"$path/parents/bkt=$v")
        if (fs.exists(dir)) fs.delete(dir, true): Unit
      }
    }
    del.write.mode("append").parquet(s"$path/tombstones")
    del.count()
    }
  }

  /** Ids ever retracted from this forest — [[delete]]'s audit trail. */
  def tombstones(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(s"$path/tombstones")
    if (StoreMeta.fs(spark, path).exists(p)) spark.read.parquet(s"$path/tombstones")
    else spark.range(0).select(col("id"))
  }

  /** Batch keys whose merge committed — the deterministic maintenance
    * trigger ([[SignatureStore.committedBatches]] discipline: an
    * uncommitted partial merge never advances the schedule). */
  def committedBatches(spark: SparkSession, path: String): Seq[String] = {
    val fs = StoreMeta.fs(spark, path)
    val dir = new Path(s"$path/_commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  /** [[compact]] every `every` committed merges — bounds resolve-chain
    * depth (each merge generation can add a hop) the way
    * [[SignatureStore.maybeCompact]] bounds file count. */
  def maybeCompact(spark: SparkSession, path: String, every: Int): Boolean = {
    require(every > 0, "every must be positive")
    val n = committedBatches(spark, path).size
    val due = n > 0 && n % every == 0
    if (due) compact(spark, path)
    due
  }

  /** Maintenance: path-compress every parent pointer to its root (one
    * corpus-wide job), restoring single-hop [[resolve]] lookups. Run
    * on the [[SignatureStore.maybeCompact]] cadence. */
  def compact(spark: SparkSession, path: String): Unit =
    StoreMeta.withWriterLeaseFenced(spark, path, "compact") { lease =>
      val b = buckets(spark, path)
      val (resolved, nResolved) = matCount(components(spark, path)
        .select(col("id"), col("comp").as("parent"))
        .withColumn("bkt", bktOf(col("id"), b)), lit(true))
      StoreMeta.verifyLease(spark, lease)
      if (nResolved > 0L)
        resolved.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bkt").parquet(s"$path/parents")
    }
}
