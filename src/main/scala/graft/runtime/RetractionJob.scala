package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.model.ExitCodes

/** HOSTED TAKEDOWN JOB (round 12): the operational entry point for a
  * retraction sweep — the one-shot maintenance sibling of
  * [[GraftMain]]'s hosted streams. A takedown request (license
  * revocation, opt-out, PII purge) arrives as a parquet file of doc
  * ids; this job purges them from EVERY store the deployment names and
  * heals the decision surface, in the proven order:
  *
  *  1. [[graft.streaming.StreamingDecision.delete]] — hash ownership,
  *     band rows, cell membership, ledger rows; returns the
  *     invalidated docs;
  *  2. [[graft.streaming.StreamingDecision.readjudicate]] — re-verdict
  *     them in original arrival order against the healed stores
  *     (content re-fed from the corpus path). The heal runs with the
  *     DEFAULT tier settings — `TextOps.tokens`, `minSigMatch` 8,
  *     `minScoreE4` 3000, no quality tier — whatever the stream's
  *     `dedup-decision` spec set: the `RETRACT_*` contract carries none
  *     of them, so a stream with other settings heals to verdicts it
  *     would not have made;
  *  3. [[graft.streaming.StreamingDecision.healCluster]] — tombstone +
  *     touched-components-only rebuild of the union-find state;
  *  4. [[graft.ext.SignatureStore.delete]] /
  *     [[graft.ext.VectorIndex.delete]] for the batch-dedup and ANN
  *     stores, when configured.
  *
  * The composition is the `dedup_retraction` /
  * `dedup_retraction_cluster` oracle flow verbatim; re-running after a
  * crash is safe (deletes are purge-idempotent, re-adjudication
  * rewrites the same rows, the cluster heal tombstones before
  * rebuilding), and the single-writer lease refuses a concurrent
  * maintenance pass rather than corrupting.
  *
  * Environment contract (mirrors the hosted-stream spec style):
  * {{{
  *   RETRACT_IDS_PATH            required  parquet with a doc_id column
  *   RETRACT_STORE_PATH          optional  decision-surface store root
  *   RETRACT_CORPUS_PATH         with STORE_PATH: parquet the re-fed
  *                               docs' content is joined from
  *   RETRACT_CLUSTER_PATH        optional  union-find store to heal
  *   RETRACT_SIGNATURE_STORE_PATH optional batch-dedup store to purge
  *   RETRACT_VECTOR_INDEX_PATH   optional  ANN index to purge
  *   RETRACT_ID_COLUMN / RETRACT_TEXT_COLUMN / RETRACT_EMBEDDING_COLUMN
  *                               optional  (doc_id / text / embedding)
  *   RETRACT_QUANTIZER_INDEX_PATH optional semantic-tier centroids for
  *                               re-adjudication (omit → two-tier)
  * }}}
  * Exit code 0 on success, 1 (Fatal) on misconfiguration or failure —
  * the operator's retry counter, same contract as the hosted streams. */
object RetractionJob {

  final case class Report(deleted: Long, readjudicated: Long,
      clusterHealed: Boolean, signaturePurged: Boolean, indexPurged: Boolean)

  def execute(spark: SparkSession, env: Map[String, String],
      status: String => Unit = s => System.err.println(s"[retract] $s")): Report = {
    def req(k: String): String = env.getOrElse(k,
      throw new IllegalArgumentException(s"env '$k' is required"))
    val idCol = env.getOrElse("RETRACT_ID_COLUMN", "doc_id")
    val textCol = env.getOrElse("RETRACT_TEXT_COLUMN", "text")
    val embCol = env.get("RETRACT_EMBEDDING_COLUMN")

    val ids = spark.read.parquet(req("RETRACT_IDS_PATH"))
      .select(col(idCol).cast("long").as("doc_id")).distinct()
      .localCheckpoint(true)
    val nIds = ids.count()
    status(s"retracting $nIds ids")

    var readjudicated = 0L
    val storePath = env.get("RETRACT_STORE_PATH")
    // the decision-surface keys are meaningless without the store path —
    // silently skipping them would exit 0 with the retracted ids still
    // live in the cluster, so a lone key is a misconfiguration (Fatal)
    val needsStore = Seq("RETRACT_CLUSTER_PATH", "RETRACT_CORPUS_PATH",
      "RETRACT_QUANTIZER_INDEX_PATH").filter(env.contains)
    if (storePath.isEmpty && needsStore.nonEmpty)
      throw new IllegalArgumentException(
        s"${needsStore.mkString(", ")} require RETRACT_STORE_PATH")
    storePath.foreach { store =>
      // same operator-typo guard as the hosted decision stream: a lone
      // embedding column (or lone quantizer) would silently re-verdict
      // without the semantic tier the original run had
      if (embCol.isDefined != env.contains("RETRACT_QUANTIZER_INDEX_PATH"))
        throw new IllegalArgumentException(
          "RETRACT_EMBEDDING_COLUMN and RETRACT_QUANTIZER_INDEX_PATH must be set together")
      val corpus = spark.read.parquet(req("RETRACT_CORPUS_PATH"))
      val affected = graft.streaming.StreamingDecision
        .delete(spark, store, ids)
      val cents = env.get("RETRACT_QUANTIZER_INDEX_PATH") match {
        case Some(p) => graft.ext.VectorIndex
          .coarse(spark, p, embCol.getOrElse("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        case None => Seq.empty[(Long, Array[Double])]
      }
      // LEFT join + hard failure on missing content: an inner join
      // would silently skip an invalidated doc absent from the corpus
      // path (stale corpus, or content purged before the job ran) and
      // leave its ledger row pointing at the tombstoned keeper forever
      // while the job reports success. The corpus side is trimmed to
      // exactly the columns readjudicate consumes (a corpus carrying
      // its own `batch` column must not collide with affected's), and
      // row ABSENCE is detected by a marker column — a corpus row
      // whose text is legitimately NULL is present, just empty
      // (ADVICE r12)
      val corpusSlim = corpus
        .select((Seq(idCol, textCol) ++ embCol.toSeq).distinct.map(col): _*)
        .withColumnRenamed(idCol, "doc_id")
        .withColumn("__present", lit(true))
      val joined = affected
        .join(corpusSlim, Seq("doc_id"), "left")
        .localCheckpoint(true)
      val missing = joined.filter(col("__present").isNull).count()
      if (missing > 0)
        throw new IllegalStateException(
          s"$missing invalidated doc(s) have no content under RETRACT_CORPUS_PATH — " +
            "their verdicts cannot be healed; fix the corpus path (content must " +
            "outlive the takedown at least until the sweep runs) and re-run")
      val refed: DataFrame = joined.drop("__present")
      readjudicated = graft.streaming.StreamingDecision.readjudicate(
        refed, "doc_id", textCol,
        embCol.filter(_ => cents.nonEmpty), "batch", store, cents).count()
      status(s"re-adjudicated $readjudicated invalidated docs")
      env.get("RETRACT_CLUSTER_PATH").foreach { cp =>
        graft.streaming.StreamingDecision.healCluster(spark, store, cp, ids)
        status("cluster state healed")
      }
    }
    env.get("RETRACT_SIGNATURE_STORE_PATH").foreach { p =>
      graft.ext.SignatureStore.delete(ids, "doc_id", p)
      status("signature store purged")
    }
    env.get("RETRACT_VECTOR_INDEX_PATH").foreach { p =>
      graft.ext.VectorIndex.delete(ids, "doc_id", p)
      status("vector index purged")
    }
    Report(nIds, readjudicated,
      storePath.isDefined && env.contains("RETRACT_CLUSTER_PATH"),
      env.contains("RETRACT_SIGNATURE_STORE_PATH"),
      env.contains("RETRACT_VECTOR_INDEX_PATH"))
  }

  /** Testable wrapper: exit code instead of an exception. */
  def run(spark: SparkSession, env: Map[String, String],
      status: String => Unit = s => System.err.println(s"[retract] $s")): Int =
    try { execute(spark, env, status); ExitCodes.Success }
    catch {
      case e: Throwable =>
        status(s"fatal: ${e.getClass.getSimpleName}: ${e.getMessage}")
        ExitCodes.Fatal
    }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-retract",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    val code = run(spark, sys.env)
    spark.stop()
    sys.exit(code)
  }
}
