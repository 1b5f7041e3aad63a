package graft.runtime

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, length, lit,
  max_by, regexp_extract, size, struct}

import graft.model.ExitCodes

/** HOSTED CORPUS-BUILD JOB (round 14): the end-to-end training-data
  * build as ONE operational entry point — the batch sibling of
  * [[RetractionJob]], hosted under the same env-contract/exit-code
  * discipline as [[GraftMain]]'s stream kinds. One run takes a raw
  * document corpus (plus its embeddings) through the full proven
  * chain — unicode/mojibake normalize → html extract → quality gate
  * (rule or fitted classifier) → three-tier dedup decision
  * (exact/near/semantic) → benchmark decontamination → mixture
  * sampling → sequence packing → reproducible shard shuffle →
  * per-source manifest — and lands three artifacts under the output
  * root:
  *
  *  - `ledger/`  one row per corpus doc: the stage verdict that
  *    removed it (`drop_quality` / `drop_exact` / `drop_near` /
  *    `drop_semantic` / `drop_contaminated` / `drop_mix`) or its
  *    packing stats, (shard, pos) placement and source-manifest
  *    columns when kept (manifest columns are NULL on dropped rows —
  *    they describe the source's final BUILT corpus) — the audit
  *    trail a takedown or re-run diffs against;
  *  - `corpus/`  the kept slice WITH text, hive-partitioned by
  *    `shard` and written in (shard, pos) order — the layout a
  *    training loader consumes directly;
  *  - `manifest/` one row per source: doc/char counts and the
  *    order-insensitive `content_version` hash;
  *  - `input_manifest/` the same per-source manifest over the RAW
  *    input corpus (n_chars = length(text)) — the change-detection
  *    gate the NEXT build's incremental mode diffs against (one
  *    map+bounded-agg pass over text the build already reads).
  *
  * The chain is [[graft.ext.ExtQueries.corpusBuildLedger]] — the
  * exact composition the `pipeline_corpus_build` /
  * `pipeline_corpus_build_clf` CORRECTNESS entries hash against
  * DuckDB — with the job's phase hook threaded in: each stage is
  * materialized (see `CORPUS_BUILD_MATERIALIZE` below), timed and
  * counted, yielding the per-phase operator ledger and truncating
  * lineage so the three final writes reuse stage results instead of
  * recomputing the decision chain. Stage plans are unchanged from
  * their standalone proven forms (bucketed LSH/IVF candidates,
  * per-source/per-shard windows, broadcast benchmark shingles), so
  * the 100 TB scale posture is inherited, not re-derived.
  *
  * '''Stage materialization''' (`CORPUS_BUILD_MATERIALIZE`,
  * VERDICT r14 #4 / ADVICE r14):
  *  - `stage` (default) — each stage is written as parquet under
  *    `<output>/stages/<name>` and read back: RELIABLE storage (an
  *    executor loss recomputes from the stage file, not from raw
  *    input lineage) and the unit of crash resumption. With
  *    `CORPUS_BUILD_RESUME=true`, a re-run over the same root reuses
  *    every stage that finished (`_SUCCESS` present) and recomputes
  *    only what's missing — valid ONLY when the inputs and build
  *    configuration are unchanged since the crashed run, and the job
  *    ENFORCES both (round 16): the crashed run's recorded input
  *    manifest (per-source content_version) and `build_config.json`
  *    (benchmark boundary, quality mode) are compared against this
  *    run's before any stage is reused; a mismatch refuses with the
  *    operator action instead of splicing stale frames into a fresh
  *    build.
  *  - `local` — `localCheckpoint(true)`: fastest, but pins every
  *    stage (including full-text frames) in executor block storage,
  *    and a lost executor kills the job (lineage truncated,
  *    non-replicated blocks) — the single-box harness shape, not the
  *    100 TB posture.
  *  - `none` — stages are timed via `count()` but not materialized:
  *    minimal storage, the final writes recompute the chain (~2× the
  *    compute; still correct — every stage plan is deterministic).
  *
  * The output root is guarded by the single-writer lease
  * ([[graft.ext.StoreMeta.withWriterLease]]): a concurrent build or
  * maintenance pass against the same root refuses instead of
  * interleaving writes. Re-running after a crash is safe — every
  * write is an idempotent overwrite under a fresh lease epoch, and
  * `stages/` turns the re-run incremental.
  *
  * Environment contract (mirrors [[RetractionJob]]):
  * {{{
  *   CORPUS_BUILD_DOCS_PATH        required  parquet doc corpus
  *   CORPUS_BUILD_EMBEDDINGS_PATH  required  parquet embeddings
  *   CORPUS_BUILD_OUTPUT_PATH      required  output root (leased)
  *   CORPUS_BUILD_ID_COLUMN / _SOURCE_COLUMN / _TEXT_COLUMN
  *                                 optional  (doc_id / source / text)
  *   CORPUS_BUILD_EMBEDDING_ID_COLUMN / _EMBEDDING_COLUMN
  *                                 optional  (vec_id / embedding)
  *   CORPUS_BUILD_BENCHMARK_MAX_ID optional  held-out eval boundary:
  *       ids BELOW it are the decontamination benchmark slice, never
  *       corpus. Default 20 — the FIXTURE convention (documents.parquet
  *       reserves ids 0-19); a real deployment MUST set its own
  *       boundary or pre-split its eval set (ADVICE r14).
  *   CORPUS_BUILD_LANG_RATES       optional  comma list of `lang:pct`
  *       (round 19): per-LANGUAGE keep percentages over the trained
  *       char-bigram verdict ([[graft.ext.LangId]]) — the batch mirror
  *       of the hosted streaming build's `langRates` field, same
  *       grammar, same salted-bucket arithmetic, same `drop_lang`
  *       precedence (above `drop_mix`, below `drop_contaminated`).
  *       Absent, the gate is off and the ledger is bit-identical to
  *       the ungated build.
  *   CORPUS_BUILD_LANG_DEFAULT_PCT optional  keep pct for verdicts not
  *       listed in LANG_RATES (default 100 — an unlisted language is
  *       never silently downweighted)
  *   CORPUS_BUILD_LANG_PROFILE_PATH optional  persisted language
  *       profile store (LangId.save): the gate's verdicts come from
  *       the operator-trained model instead of the in-repo seed
  *       literals — a deployment's language policy on ITS model
  *   CORPUS_BUILD_QUALITY          optional  rule | classifier
  *       (default rule). classifier = the diagonal-LDA 5-feature gate
  *       bootstrapped from rule verdicts (see corpusBuildLedger) —
  *       fails fast if either label class is empty.
  *   CORPUS_BUILD_TOKENS           optional  ascii | unicode (default
  *       ascii): the build's ONE token layer (round 20, VERDICT r19
  *       #1). `unicode` derives token stats, both quality gates, every
  *       near-dup shingle set, the exact-tier content hash,
  *       decontamination shingles and the pack counts from
  *       TextOps.tokensU (`[^\p{L}\p{N}]+`), so pure non-Latin
  *       documents flow through the chain instead of dying as
  *       zero-token drop_quality. Guarded in build_config.json: a
  *       resume or incremental rebuild under a different layer refuses
  *       (stages and dedup state were tokenized under the old one).
  *   CORPUS_BUILD_KEEPER           optional  min | best (default min):
  *       dedup keeper election (round 20, VERDICT r19 #3). `best`
  *       keeps each near/semantic cluster's information-richest member
  *       (distinct-token count over the build's token layer,
  *       id-ascending ties — the dedup_cluster_best_keeper election);
  *       exact-tier groups stay min-id owned (byte-identical members).
  *       The hosted STREAMING build keeps arrival-order ownership —
  *       a stream cannot un-keep an already-admitted doc when a richer
  *       copy arrives later (the r15 batch/stream divergence
  *       precedent, documented not hidden). Guarded in
  *       build_config.json like the token layer.
  *   CORPUS_BUILD_MATERIALIZE      optional  stage | local | none
  *       (default stage — see above)
  *   CORPUS_BUILD_RESUME           optional  true | false (default
  *       false): with `stage`, reuse finished stage files
  *   CORPUS_BUILD_INCREMENTAL      optional  true | false (default
  *       false): INCREMENTAL REBUILD (VERDICT r15 #4) — diff this
  *       run's input manifest against the PRIOR build's stored
  *       `input_manifest/`; sources whose content_version is
  *       unchanged reuse the prior build's `stages/normalize_extract`
  *       and `stages/token_stats` rows (the regex-heavy linear phases
  *       — the dominant per-doc cost) instead of recomputing them;
  *       changed/added
  *       sources (and docs with a NULL source) recompute. Downstream
  *       stages run over the composed frame unchanged, so the ledger
  *       is IDENTICAL to a full rebuild's (extraction is a
  *       deterministic per-row function; the reuse spec pins
  *       hash-equality). Requires CORPUS_BUILD_MATERIALIZE=stage and
  *       a prior build that ran in stage mode with the SAME extraction
  *       configuration. The per-source reuse filter is an in-plan
  *       literal list (pushes below the extraction projection to the
  *       scan) — source cardinality is feed-count-bounded; a corpus
  *       keyed by millions of "sources" should bucket them first.
  *   CORPUS_BUILD_PRIOR_PATH       required with INCREMENTAL: the
  *       prior build's output root (its `input_manifest/` and
  *       `stages/normalize_extract/` are read)
  *   CORPUS_BUILD_TOK_DRIFT_SAMPLE_PCT optional  1..100 (default
  *       100): the drift check's deterministic md5-bucket text sample
  *       — at corpus scale the gate's own encode pass is extra work
  *       done BEFORE the pack encode, and masses/fertility are ratios
  *       a uniform sample preserves; a deployment checks 1-5%
  *   CORPUS_BUILD_TOK_DRIFT        optional  auto | off | force
  *       (default auto): the persisted tokenizer's drift gate
  *       (round 19), consulted when CORPUS_BUILD_TOKENIZER_PATH is
  *       set. `auto` retrains into `$out/tokenizer_store` when the
  *       kept corpus's per-language fertility/mass profile drifted
  *       from the baseline the store recorded at train time
  *       (TokenizerStore.needsRetrain); `force` always retrains;
  *       `off` always packs with the stored artifact.
  *   CORPUS_BUILD_SEM_DRIFT        optional  auto | off | force
  *       (default auto): the incremental semantic tier's
  *       quantizer-drift gate (round 18). `auto` escalates to a full
  *       semantic retrain when any prior quantizer cell lost a
  *       majority of its trained membership (departed or re-assigned
  *       after re-embedding) — after which the ledger equals a plain
  *       full rebuild's; `off` always reuses the prior quantizer
  *       encode-only (the pre-round-18 behavior); `force` always
  *       retrains. Status-logged either way.
  * }}}
  * Mixture policy note (ADVICE r14): the sampling stage keeps 100% of
  * even-indexed `src<N>` sources, 20% of odd-indexed ones, and 100%
  * of any source whose name does not parse — an unrecognized source
  * is never silently downweighted.
  *
  * Exit code 0 on success, 1 (Fatal) on misconfiguration or failure. */
object CorpusBuildJob {

  final case class Phase(name: String, rows: Long, millis: Long,
      resumed: Boolean = false)

  final case class Report(total: Long, kept: Long,
      verdicts: Map[String, Long], phases: Seq[Phase])

  def execute(spark: SparkSession, env: Map[String, String],
      status: String => Unit = s => System.err.println(s"[corpus-build] $s")): Report = {
    def req(k: String): String = env.getOrElse(k,
      throw new IllegalArgumentException(s"env '$k' is required"))
    val out = req("CORPUS_BUILD_OUTPUT_PATH")
    val materialize = env.getOrElse("CORPUS_BUILD_MATERIALIZE", "stage")
    require(Set("stage", "local", "none")(materialize),
      s"CORPUS_BUILD_MATERIALIZE must be stage|local|none, got '$materialize'")
    val resume = env.getOrElse("CORPUS_BUILD_RESUME", "false").toBoolean
    val incremental = env.getOrElse("CORPUS_BUILD_INCREMENTAL", "false").toBoolean
    require(!incremental || materialize == "stage",
      "CORPUS_BUILD_INCREMENTAL requires CORPUS_BUILD_MATERIALIZE=stage")
    val qualityMode = env.getOrElse("CORPUS_BUILD_QUALITY", "rule")
    // round 20 (VERDICT r19 #1): the build's ONE token layer. `unicode`
    // switches token stats, both quality gates, every near-dup shingle
    // set, the exact-tier content hash, decontamination shingles and
    // the pack counts to [[graft.ext.TextOps.tokensU]] — pure
    // non-Latin documents reach the language gate and the dedup tiers
    // instead of dying as a zero-token drop_quality. `ascii` (default)
    // keeps the round-19 arithmetic bit-identical.
    // round 20 (VERDICT r19 #3): keeper election for the dedup tiers --
    // `best` keeps each near/semantic cluster's information-richest
    // member (the dedup_cluster_best_keeper election) instead of the
    // min id; the streaming surface keeps arrival-order ownership (a
    // stream cannot un-keep an already-admitted doc when a richer copy
    // arrives later -- the r15 batch/stream divergence precedent).
    val keeperMode = env.getOrElse("CORPUS_BUILD_KEEPER", "min")
    require(Set("min", "best")(keeperMode),
      s"CORPUS_BUILD_KEEPER must be min|best, got '$keeperMode'")
    val tokensMode = env.getOrElse("CORPUS_BUILD_TOKENS", "ascii")
    require(Set("ascii", "unicode")(tokensMode),
      s"CORPUS_BUILD_TOKENS must be ascii|unicode, got '$tokensMode'")
    val tokLayer: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (tokensMode == "unicode") graft.ext.TextOps.tokensU
      else graft.ext.TextOps.tokens
    val semDrift = env.getOrElse("CORPUS_BUILD_SEM_DRIFT", "auto")
    require(Set("auto", "off", "force")(semDrift),
      s"CORPUS_BUILD_SEM_DRIFT must be auto|off|force, got '$semDrift'")
    // round 19 (VERDICT r18 #1): the batch language gate — same field
    // grammar as the hosted streaming build's `langRates` spec field
    // (GraftMain CorpusBuildStreamGraph), so one policy string
    // configures both pipelines
    val langRates: Seq[(String, Long)] = env.get("CORPUS_BUILD_LANG_RATES")
      .map(_.split(',').toSeq.map { e =>
        e.split(':') match {
          case Array(l, p) => l.trim -> p.trim.toLong
          case _ => throw new IllegalArgumentException(
            s"CORPUS_BUILD_LANG_RATES entry '$e' is not 'lang:pct'")
        }
      }).getOrElse(Seq.empty)
    val langDefaultPct =
      env.getOrElse("CORPUS_BUILD_LANG_DEFAULT_PCT", "100").toLong
    // round-19 follow-through: the gate's verdict model — an
    // operator-trained persisted profile store (LangId.save) instead
    // of the in-repo seed literals when set
    val langModel = env.get("CORPUS_BUILD_LANG_PROFILE_PATH")
      .map(p => graft.ext.LangId.loadModel(spark, p))
    if (langRates.nonEmpty)
      status(s"language gate active: ${langRates.map { case (l, p) => s"$l:$p" }
        .mkString(",")} (default $langDefaultPct" +
        langModel.fold("")(m => s"; trained profile, ${m.order.size} languages") + ")")
    val benchMaxId = env.getOrElse("CORPUS_BUILD_BENCHMARK_MAX_ID", "20").toLong
    val d0 = spark.read.parquet(req("CORPUS_BUILD_DOCS_PATH")).select(
      col(env.getOrElse("CORPUS_BUILD_ID_COLUMN", "doc_id")).cast("long").as("doc_id"),
      col(env.getOrElse("CORPUS_BUILD_SOURCE_COLUMN", "source")).as("source"),
      col(env.getOrElse("CORPUS_BUILD_TEXT_COLUMN", "text")).as("text"))
    val e = spark.read.parquet(req("CORPUS_BUILD_EMBEDDINGS_PATH")).select(
      col(env.getOrElse("CORPUS_BUILD_EMBEDDING_ID_COLUMN", "vec_id")).cast("long").as("vec_id"),
      col(env.getOrElse("CORPUS_BUILD_EMBEDDING_COLUMN", "embedding")).as("embedding"))

    val phases = ArrayBuffer.empty[Phase]
    // set inside the lease when INCREMENTAL resolved reusable prior
    // per-doc stages: (prior build root, unchanged source names)
    var incrReuse: Option[(String, Seq[String])] = None
    def timed(name: String, df: DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      def done(mat: DataFrame, n: Long, resumed: Boolean): DataFrame = {
        val ms = (System.nanoTime() - t0) / 1000000L
        phases += Phase(name, n, ms, resumed)
        status(s"phase $name: $n rows in $ms ms" +
          (if (resumed) " (resumed from stage file)" else ""))
        mat
      }
      materialize match {
        case "none" => done(df, df.count(), resumed = false)
        case "local" =>
          val mat = df.localCheckpoint(true)
          done(mat, mat.count(), resumed = false)
        case "stage" =>
          val p = s"$out/stages/$name"
          val fs = graft.ext.StoreMeta.fs(spark, p)
          val finished = resume && fs.exists(
            new org.apache.hadoop.fs.Path(s"$p/_SUCCESS"))
          // incremental reuse of the PER-DOC stages (normalize_extract,
          // token_stats — both deterministic per-row functions of
          // unchanged input): recompute only changed/added sources (the
          // isin literal pushes below the stage projection to the docs
          // scan — .explain shows PushedFilters) and splice the prior
          // build's rows for unchanged ones. Downstream stages are
          // corpus-global (dedup keeper election, decontamination,
          // packing windows) and always recompute. NULL sources stay on
          // the recompute side (coalesce), never silently reused.
          val spliceable = Set("normalize_extract", "token_stats")
          val eff = incrReuse match {
            case Some((priorRoot, unchanged))
                if spliceable(name) && unchanged.nonEmpty =>
              df.filter(coalesce(!col("source").isin(unchanged: _*), lit(true)))
                .unionByName(spark.read.parquet(s"$priorRoot/stages/$name")
                  .filter(col("source").isin(unchanged: _*)))
            case _ => df
          }
          if (!finished) eff.write.mode("overwrite").parquet(p)
          val mat = spark.read.parquet(p)
          done(mat, mat.count(), resumed = finished)
      }
    }

    graft.ext.StoreMeta.withWriterLease(spark, out, "corpus-build") {
      // RESUME FINGERPRINT GUARD (closes the r15 caveat "stage files
      // carry no input fingerprint"): a resume over CHANGED inputs or
      // a CHANGED build configuration would silently splice stale
      // stage frames into a fresh build. Before overwriting the root's
      // artifacts, compare the crashed run's recorded input manifest
      // (content_version per source) and build_config.json against
      // this run's — any mismatch refuses with the operator action
      // (clear stages/ or drop CORPUS_BUILD_RESUME) instead of
      // building quietly wrong. Both comparisons are source-cardinality
      // collects.
      val fsOut = graft.ext.StoreMeta.fs(spark, out)
      // Embeddings fingerprint (ADVICE r16): the resume guard fingerprints
      // the docs corpus via input_manifest, but the dedup_decision stage's
      // semantic tier consumes EMBEDDINGS — a resume after swapping them
      // would silently reuse stale semantic decisions. One bounded
      // order-insensitive pass: sum of per-row prime-bounded xxhash64 over
      // (vec_id, embedding) — values ≤ ~1e9 so the ANSI sum is overflow-
      // safe to ~9e9 vectors; recorded in build_config.json so the resume
      // guard's config equality covers the embedding input too.
      val embFp = {
        import org.apache.spark.sql.functions.{pmod, sum, xxhash64, lit => flit}
        val r = e.agg(sum(pmod(xxhash64(col("vec_id"), col("embedding")),
          flit(1000000007L)))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val langCfg = langRates.map { case (l, p) => s"$l:$p" }.mkString(",")
      val configJson =
        s"""{"benchmarkMaxId":$benchMaxId,"qualityMode":"$qualityMode","embFp":$embFp,""" +
          s""""langRates":"$langCfg","langDefaultPct":$langDefaultPct,""" +
          s""""tokens":"$tokensMode","keeper":"$keeperMode"}"""
      val cfgPath = new org.apache.hadoop.fs.Path(s"$out/build_config.json")
      val oldManifest: Option[Set[(String, String)]] =
        if (resume && fsOut.exists(new org.apache.hadoop.fs.Path(s"$out/input_manifest")))
          Some(spark.read.parquet(s"$out/input_manifest")
            .select("source", "content_version").collect()
            .map(r => (r.getString(0), r.getString(1))).toSet)
        else None
      if (resume && fsOut.exists(cfgPath)) {
        val in = fsOut.open(cfgPath)
        val old = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        require(old == configJson,
          s"CORPUS_BUILD_RESUME: build configuration changed since the crashed run " +
            s"(recorded $old, now $configJson) — stage files were built under the old " +
            "config; clear stages/ (or drop CORPUS_BUILD_RESUME) to rebuild")
      }

      // input manifest FIRST: the change-detection artifact (one
      // map+bounded-agg pass; source-cardinality rows) — this build's
      // own gate when incremental, the next build's gate always. The
      // resume guard compares BEFORE overwriting: a refused resume must
      // leave the crashed run's recorded manifest intact (overwriting
      // first would make the NEXT resume attempt compare against the
      // wrong baseline and pass).
      val tIm = System.nanoTime()
      val imDf = graft.ext.ExtQueries.manifestOf(
        d0.withColumn("n_chars", length(col("text")).cast("long")))
      oldManifest.foreach { old =>
        val fresh = imDf.select("source", "content_version").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        require(fresh == old,
          "CORPUS_BUILD_RESUME: the input corpus changed since the crashed run " +
            s"(${((old diff fresh) ++ (fresh diff old)).map(_._1).size} source versions differ) — " +
            "stage files hold frames of the OLD input; clear stages/ " +
            "(or run incremental against a finished prior build)")
      }
      imDf.write.mode("overwrite").parquet(s"$out/input_manifest")
      phases += Phase("input_manifest",
        spark.read.parquet(s"$out/input_manifest").count(),
        (System.nanoTime() - tIm) / 1000000L)
      status(s"phase input_manifest: ${phases.last.rows} sources in ${phases.last.millis} ms")
      // per-source EMBEDDING fingerprints (round 17): the semantic
      // dedup state is keyed to vectors, so the incremental gate must
      // know, per source, whether the vectors behind a text-unchanged
      // source changed (a re-embedding). One linear pass over an input
      // the build reads anyway; source-cardinality rows.
      locally {
        import org.apache.spark.sql.functions.{pmod, sum, xxhash64, lit => flit}
        e.join(d0.select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
          .groupBy("source")
          .agg(sum(pmod(xxhash64(col("vec_id"), col("embedding")),
            flit(1000000007L))).as("efp"))
          .write.mode("overwrite").parquet(s"$out/emb_manifest")
      }

      // record this run's config for the next resume's guard
      val cfgOut = fsOut.create(cfgPath, true)
      try cfgOut.write(configJson.getBytes("UTF-8")) finally cfgOut.close()

      if (incremental) {
        val priorRoot = req("CORPUS_BUILD_PRIOR_PATH")
        val fs = graft.ext.StoreMeta.fs(spark, priorRoot)
        val priorMan = s"$priorRoot/input_manifest"
        require(fs.exists(new org.apache.hadoop.fs.Path(priorMan)),
          s"CORPUS_BUILD_INCREMENTAL: prior build at $priorRoot has no input_manifest/ " +
            "(built before incremental support, or not a build root)")
        // ADVICE r16: the spliced per-doc stages depend on the BENCHMARK
        // BOUNDARY (token_stats runs over corp = ids ≥ benchmarkMaxId;
        // normalize_extract feeds the benchmark shingle slice) — an
        // incremental run with a different boundary than the prior build
        // would splice prior-boundary rows for unchanged sources and
        // silently violate the "ledger identical to a full rebuild"
        // contract. Read the prior build's recorded config and require
        // the boundary match, failing operator-actionably like the
        // resume guard. qualityMode/embeddings may legitimately differ:
        // the gate and the dedup decision recompute every build.
        val priorCfgPath = new org.apache.hadoop.fs.Path(s"$priorRoot/build_config.json")
        require(fs.exists(priorCfgPath),
          s"CORPUS_BUILD_INCREMENTAL: prior build at $priorRoot has no build_config.json " +
            "(built before the config guard) — rerun the prior build, or run full")
        val priorCfg = {
          val in = fs.open(priorCfgPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        }
        val priorBench = """"benchmarkMaxId"\s*:\s*(-?\d+)""".r
          .findFirstMatchIn(priorCfg).map(_.group(1).toLong)
        require(priorBench.contains(benchMaxId),
          s"CORPUS_BUILD_INCREMENTAL: benchmark boundary changed since the prior build " +
            s"(prior ${priorBench.fold("<unrecorded>")(_.toString)}, now $benchMaxId) — " +
            "spliced token_stats rows would carry the OLD boundary; run a full rebuild")
        // the spliced token_stats rows also carry the prior TOKEN LAYER
        // (round 20): tokens/shingles/hashes all derive from it, so a
        // layer change invalidates every per-doc stage and the dedup
        // state. Prior configs without the field were ascii builds.
        val priorTokens = """"tokens"\s*:\s*"([a-z]+)"""".r
          .findFirstMatchIn(priorCfg).map(_.group(1)).getOrElse("ascii")
        require(priorTokens == tokensMode,
          s"CORPUS_BUILD_INCREMENTAL: token layer changed since the prior build " +
            s"(prior $priorTokens, now $tokensMode) — spliced stages and dedup " +
            "state were tokenized under the OLD layer; run a full rebuild")
        Seq("normalize_extract", "token_stats").foreach { st =>
          require(fs.exists(new org.apache.hadoop.fs.Path(s"$priorRoot/stages/$st/_SUCCESS")),
            s"CORPUS_BUILD_INCREMENTAL: prior build has no finished stages/$st " +
              "(prior run must use CORPUS_BUILD_MATERIALIZE=stage)")
        }
        // the dedup-state splice (round 17) needs the prior build's
        // persisted signatures/pairs/quantizer — pre-round-17 roots
        // (or non-stage builds) must rebuild full once
        Seq("dedup_state/sig", "dedup_state/near_pairs", "dedup_state/centroids",
          "dedup_state/sem_asg", "dedup_state/sem_pairs", "emb_manifest").foreach { t =>
          require(fs.exists(new org.apache.hadoop.fs.Path(s"$priorRoot/$t")),
            s"CORPUS_BUILD_INCREMENTAL: prior build at $priorRoot has no $t " +
              "(built before incremental dedup support) — run one full stage-mode build first")
        }
        val diff = graft.ext.ExtQueries.manifestDiffOf(
          spark.read.parquet(priorMan),
          spark.read.parquet(s"$out/input_manifest"))
        // bounded collect: one row per source
        val statuses = diff.select("source", "status").collect()
          .map(r => r.getString(0) -> r.getString(1))
        val unchangedText = statuses.collect {
          case (s, "unchanged") if s != null => s }.toSeq
        // DEMOTION (round 17): a text-unchanged source whose EMBEDDINGS
        // changed (re-embedding run) is treated as changed — its docs'
        // semantic state is stale even though extraction/signatures are
        // not. Both manifests are source-cardinality frames.
        def efpMap(p: String): Map[String, Long] =
          spark.read.parquet(p).collect()
            .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
        val (efpA, efpB) = (efpMap(s"$priorRoot/emb_manifest"), efpMap(s"$out/emb_manifest"))
        val (unchanged, demoted) = unchangedText.partition(s =>
          efpA.get(s) == efpB.get(s))
        if (demoted.nonEmpty)
          status(s"incremental: ${demoted.size} text-unchanged sources DEMOTED to " +
            s"changed (embeddings differ): ${demoted.sorted.mkString(", ")}")
        val changed = statuses.count { case (_, st) => st != "unchanged" } + demoted.size
        status(s"incremental: ${unchanged.size} unchanged sources reuse prior " +
          s"extraction; $changed changed/added/removed recompute")
        incrReuse = Some((priorRoot, unchanged))
      }

      // The dedup seam (round 17): stage-mode builds run the decision
      // through DedupState — full builds PERSIST the reusable
      // intermediates (signatures, verified pairs, quantizer, cell
      // assignments) under dedup_state/; incremental builds SPLICE the
      // prior build's, so the three tiers' text-scale work (shingling,
      // minhash, jaccard verify, within-cell cosine) runs over changed
      // docs only. Decision arithmetic is identical (DedupState
      // scaladoc; the one documented divergence is the incremental
      // build's train-once quantizer). local/none modes keep the pure
      // in-plan composition. On a crash resume the state tables with
      // _SUCCESS are read back, not recomputed (the connected-
      // components resolution over the metadata-sized edge set still
      // re-runs before the resumed stage file short-circuits it —
      // bounded by pair volume, not corpus).
      val dedupImpl: Option[(DataFrame, DataFrame) => DataFrame] =
        if (materialize != "stage") None
        else incrReuse match {
          case Some((priorRoot, unchanged)) =>
            Some((g, ge) => graft.ext.DedupState.incremental(spark, g, ge,
              s"$priorRoot/dedup_state", unchanged, s"$out/dedup_state",
              reuseExisting = resume, driftPolicy = semDrift, status = status,
              tok = tokLayer, keeperMode = keeperMode))
          case None =>
            Some((g, ge) => graft.ext.DedupState.full(spark, g, ge,
              s"$out/dedup_state", reuseExisting = resume, tok = tokLayer,
              keeperMode = keeperMode))
        }
      // The decontamination seam (round 17): per-doc n_hits is a pure
      // function of (extracted text, benchmark shingle set), so an
      // incremental build splices unchanged-source docs' prior values
      // from the prior LEDGER — valid only when the benchmark slice
      // itself is unchanged (every source contributing ids below the
      // boundary is in the unchanged set; bounded source-cardinality
      // collect). Docs without a prior value (newly past the dedup
      // tiers, changed sources) shingle candidate-restricted.
      val hitsSeam: Option[(DataFrame, DataFrame) => DataFrame] =
        incrReuse.flatMap { case (priorRoot, unchanged) =>
          val benchSources = d0.filter(col("doc_id") < benchMaxId)
            .select("source").distinct().collect()
            .map(r => Option(r.getString(0)).getOrElse("")).toSet
          val unchangedSet = unchanged.toSet
          if (!benchSources.subsetOf(unchangedSet)) {
            status("incremental: benchmark slice touched by edits — " +
              "decontamination recomputes for every kept doc")
            None
          } else Some { (kept: DataFrame, bench: DataFrame) =>
            status("incremental: decontamination splices prior n_hits " +
              "(benchmark slice stable)")
            val priorHits = spark.read.parquet(s"$priorRoot/ledger")
              .filter(col("n_hits").isNotNull &&
                col("source").isin(unchanged: _*))
              .select(col("doc_id"), col("n_hits"))
            val reuse = kept.filter(col("source").isin(unchanged: _*))
              .select("doc_id").join(priorHits, Seq("doc_id"))
            val fresh = kept.join(reuse.select("doc_id"), Seq("doc_id"), "left_anti")
            val freshHits = graft.ext.Dedup
              .shingleRows(fresh, "doc_id", "text", tok = tokLayer)
              .join(org.apache.spark.sql.functions.broadcast(bench), "s")
              .groupBy("doc_id")
              .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).cast("long").as("n_hits"))
            reuse.unionByName(freshHits)
          }
        }
      val ledger = timed("ledger",
        graft.ext.ExtQueries.corpusBuildLedger(d0, e, timed,
          benchmarkMaxId = benchMaxId, qualityMode = qualityMode,
          langRates = langRates, langDefaultPct = langDefaultPct,
          langModel = langModel,
          dedupImpl = dedupImpl, hitsImpl = hitsSeam,
          tok = tokLayer, keeperMode = keeperMode))
      val kept = ledger.filter(col("verdict") === "keep")

      val t0 = System.nanoTime()
      ledger.drop("text").write.mode("overwrite").parquet(s"$out/ledger")
      // the training layout: one hive partition per shard, rows in
      // shuffle (pos) order so a loader streams each shard sequentially
      kept.select("doc_id", "source", "text", "n_tokens",
          "n_chunks", "seq_first", "shard", "pos")
        .repartition(col("shard")).sortWithinPartitions("shard", "pos")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$out/corpus")
      kept.select("source", "m_docs", "m_chars", "content_version")
        .distinct()
        .write.mode("overwrite").parquet(s"$out/manifest")
      phases += Phase("write_outputs", 0L, (System.nanoTime() - t0) / 1000000L)
      status(s"phase write_outputs: done in ${phases.last.millis} ms")

      // OPT-IN BPE PACKING (round 17, VERDICT r16 #5): with
      // CORPUS_BUILD_TOKENIZER_PATH set to a persisted TokenizerStore,
      // the kept corpus is additionally packed by the token counts the
      // MODEL will see — BPE ids from the stored artifact (encode is
      // one codegen'd literal-replace projection; packing is the
      // distributed sub-bucket prefix scan) — landing `bpe_sequences/`
      // (source, seq_id, n_docs, seq_tokens, first_doc, last_doc,
      // fill_e4). The ledger contract is unchanged (whitespace-token
      // chunk packing stays the hash-pinned default); this is the
      // artifact a training loader budgets from when a tokenizer
      // exists. The same encode-then-pack arithmetic is hash-verified
      // against DuckDB by the pipeline_pack_bpe CORRECTNESS entry.
      env.get("CORPUS_BUILD_TOKENIZER_PATH").foreach { tp =>
        val tTok = System.nanoTime()
        // read BACK the corpus just written (ADVICE r19): `kept` is the
        // lazy ledger frame, so handing it to the drift gate / a tripped
        // retrain / fertility recording / the pack encode would re-run
        // the ENTIRE build chain (quality gate, dedup shuffles,
        // decontamination) once per consumer — the finalize path already
        // reads the parquet; the batch path now does too
        val keptText = spark.read.parquet(s"$out/corpus")
          .select(col("doc_id"), col("source"), col("text"))
        val tok = resolveTokenizer(spark, tp,
          env.getOrElse("CORPUS_BUILD_TOK_DRIFT", "auto"), out, keptText, status,
          env.getOrElse("CORPUS_BUILD_TOK_DRIFT_SAMPLE_PCT", "100").toLong)
        val seqs = graft.ext.ExtQueries.packBpeOf(
          graft.ext.TokenizerStore.encodeIds(keptText, "text", tok)
            .filter(col("n_bpe_tokens") > 0L))
        seqs.write.mode("overwrite").parquet(s"$out/bpe_sequences")
        phases += Phase("bpe_pack",
          spark.read.parquet(s"$out/bpe_sequences").count(),
          (System.nanoTime() - tTok) / 1000000L)
        status(s"phase bpe_pack: ${phases.last.rows} sequences in ${phases.last.millis} ms " +
          s"(tokenizer $tp, ${tok.merges.size} merges)")
      }

      val verdicts = ledger.groupBy("verdict").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val report = Report(verdicts.valuesIterator.sum,
        verdicts.getOrElse("keep", 0L), verdicts, phases.toSeq)
      status(s"built: ${report.kept}/${report.total} docs kept " +
        s"(${report.verdicts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")})")
      report
    }
  }

  /** STREAMING-BUILD FINALIZE (round 18, VERDICT r17 #3): the missing
    * last mile between the hosted `corpus-build-stream` kind and the
    * training loader. The stream pod accumulates per-arrival verdicts
    * under `storePath/build_ledger/batch=<ns>-<epoch>/`; this job turns
    * that ledger's kept set into the SAME artifacts the batch
    * [[execute]] writes — `ledger/` (consolidated verdicts), `corpus/`
    * (hive-partitioned by shard, rows in shuffle order), `manifest/`
    * (per-source bucketed content hash), optional `bpe_sequences/` —
    * by re-running the batch build's stages 7-9
    * ([[graft.ext.ExtQueries.packShardManifestOf]], shared code, not a
    * re-implementation) over the kept documents. Pack order, shard
    * placement, and manifest hashes are pure functions of the kept set
    * (hash order, not arrival order), so the artifacts are bit-
    * identical to a batch build that kept the same documents — the
    * equality CorpusBuildJobSpec pins end-to-end through a real
    * streamed ledger.
    *
    * Environment contract:
    * {{{
    *   CORPUS_FINALIZE_STORE_PATH  required  the stream pod's storePath
    *       (its build_ledger/ partitions are read)
    *   CORPUS_FINALIZE_DOCS_PATH   required  the document corpus the
    *       stream consumed (doc_id/source/text; column-name overrides
    *       via the CORPUS_BUILD_*_COLUMN vars)
    *   CORPUS_FINALIZE_OUTPUT_PATH required  output root (leased; must
    *       not overlap the store)
    *   CORPUS_FINALIZE_EXTRACT     optional  true | false (default
    *       true): run the batch build's normalize + html-extract stage
    *       over the kept docs. `true` matches a deployment whose
    *       stream consumed RAW documents (and the batch build, which
    *       always extracts); set `false` when DOCS_PATH already holds
    *       the extracted text the stream decided on (the golden's
    *       precomputed-extraction shape) — extracting twice is not
    *       idempotent for documents whose extracted text still looks
    *       like markup.
    *   CORPUS_BUILD_TOKENIZER_PATH optional  persisted TokenizerStore:
    *       additionally pack the kept corpus by BPE ids (same artifact
    *       as the batch build's bpe_sequences/)
    * }}}
    *
    * Re-deliveries: a doc_id appearing in multiple batch partitions
    * (checkpoint replay under a new namespace, retraction feeds) takes
    * the verdict of the HIGHEST (epoch, batch-key) — latest decision
    * wins, deterministically. One metadata-thin shuffle over the
    * doc-cardinality ledger; the corpus text is touched exactly once,
    * restricted to kept ids (the join pushes the kept-id filter below
    * the extraction projection). */
  def finalizeStream(spark: SparkSession, env: Map[String, String],
      status: String => Unit = s => System.err.println(s"[corpus-finalize] $s")): Report = {
    def req(k: String): String = env.getOrElse(k,
      throw new IllegalArgumentException(s"env '$k' is required"))
    val store = req("CORPUS_FINALIZE_STORE_PATH")
    val out = req("CORPUS_FINALIZE_OUTPUT_PATH")
    locally {
      val s = new org.apache.hadoop.fs.Path(store).toString.stripSuffix("/")
      val o = new org.apache.hadoop.fs.Path(out).toString.stripSuffix("/")
      require(s != o && !s.startsWith(o + "/") && !o.startsWith(s + "/"),
        s"finalize output ('$out') must not overlap the stream store ('$store') — " +
          "the job reads build_ledger/ lazily while overwriting the output root")
    }
    val extract = env.getOrElse("CORPUS_FINALIZE_EXTRACT", "true").toBoolean
    // round 20: pack counts must follow the layer the STREAM decided
    // under (the pod's `tokens` spec field) — same grammar as the
    // batch build's CORPUS_BUILD_TOKENS
    val finTokensMode = env.getOrElse("CORPUS_BUILD_TOKENS", "ascii")
    require(Set("ascii", "unicode")(finTokensMode),
      s"CORPUS_BUILD_TOKENS must be ascii|unicode, got '$finTokensMode'")
    val finTok: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (finTokensMode == "unicode") graft.ext.TextOps.tokensU
      else graft.ext.TextOps.tokens
    val ledgerPath = s"$store/build_ledger"
    require(graft.ext.StoreMeta.fs(spark, ledgerPath)
        .exists(new org.apache.hadoop.fs.Path(ledgerPath)),
      s"finalize: no build_ledger/ under $store — point CORPUS_FINALIZE_STORE_PATH " +
        "at a corpus-build-stream storePath that has processed at least one batch")
    val phases = ArrayBuffer.empty[Phase]
    def timed[A](name: String)(body: => (A, Long)): A = {
      val t0 = System.nanoTime()
      val (a, n) = body
      phases += Phase(name, n, (System.nanoTime() - t0) / 1000000L)
      status(s"phase $name: $n rows in ${phases.last.millis} ms")
      a
    }
    graft.ext.StoreMeta.withWriterLease(spark, out, "corpus-finalize") {
      // 1: consolidate the per-batch verdicts — latest (epoch, batch)
      // wins per doc. Partition discovery carries `batch` as a string
      // column; the epoch is its numeric suffix (ns-<epoch>), so the
      // max_by ordering pairs the parsed epoch with the raw key (a
      // deterministic tiebreak for foreign key formats).
      val led = timed("consolidate_ledger") {
        val raw = spark.read.parquet(ledgerPath)
        val one = raw.groupBy("doc_id").agg(max_by(
            struct(col("source"), col("verdict"), col("keeper_id"), col("n_hits")),
            struct(coalesce(regexp_extract(col("batch").cast("string"),
                "(\\d+)$", 1).cast("long"), lit(-1L)).as("e"),
              col("batch").cast("string").as("b"))).as("r"))
          .select(col("doc_id"), col("r.source").as("source"),
            col("r.verdict").as("verdict"), col("r.keeper_id").as("keeper_id"),
            col("r.n_hits").as("n_hits"))
        one.write.mode("overwrite").parquet(s"$out/ledger")
        val mat = spark.read.parquet(s"$out/ledger")
        (mat, mat.count())
      }
      // 2: kept documents — text from the corpus the stream consumed,
      // optionally through the batch build's extraction stage; every
      // kept id must resolve to a document (a ledger over a vanished
      // corpus must fail loudly, not shrink the training set)
      val keptIds = led.filter(col("verdict") === "keep")
        .select("doc_id", "source")
      val d0 = spark.read.parquet(req("CORPUS_FINALIZE_DOCS_PATH")).select(
        col(env.getOrElse("CORPUS_BUILD_ID_COLUMN", "doc_id")).cast("long").as("doc_id"),
        col(env.getOrElse("CORPUS_BUILD_SOURCE_COLUMN", "source")).as("source"),
        col(env.getOrElse("CORPUS_BUILD_TEXT_COLUMN", "text")).as("text"))
      // the kept corpus is CORPUS-sized, so it stages to parquet (the
      // batch build's materializer discipline) rather than
      // localCheckpoint — executor block storage is the wrong place
      // for terabytes, and the stage file is what pack/shard/manifest
      // and the corpus write all re-read
      val keep3 = timed("kept_corpus") {
        val docsKept = d0.join(keptIds.select("doc_id"), Seq("doc_id"))
        val ext = if (extract) graft.ext.ExtQueries.extractStageOf(docsKept)
          else docsKept.select("doc_id", "source", "text")
        ext.withColumn("toks", finTok(col("text")))
          .select("doc_id", "source", "text", "toks")
          .write.mode("overwrite").parquet(s"$out/stages/kept_corpus")
        val k3 = spark.read.parquet(s"$out/stages/kept_corpus")
        val (nKept, nDocs) = (keptIds.count(), k3.count())
        require(nDocs == nKept,
          s"finalize: ledger keeps $nKept docs but only $nDocs resolve in " +
            s"CORPUS_FINALIZE_DOCS_PATH — the docs corpus does not match the stream's input")
        (k3, nDocs)
      }
      // 3: the batch build's pack/shard/manifest stages, shared code
      val (packed, sharded, man) = graft.ext.ExtQueries.packShardManifestOf(keep3)
      timed("write_outputs") {
        keep3
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .join(packed, Seq("doc_id"), "left")
          .join(sharded, Seq("doc_id"))
          .select("doc_id", "source", "text", "n_tokens",
            "n_chunks", "seq_first", "shard", "pos")
          .repartition(col("shard")).sortWithinPartitions("shard", "pos")
          .write.mode("overwrite").partitionBy("shard").parquet(s"$out/corpus")
        man.write.mode("overwrite").parquet(s"$out/manifest")
        ((), spark.read.parquet(s"$out/corpus").count())
      }
      env.get("CORPUS_BUILD_TOKENIZER_PATH").foreach { tp =>
        timed("bpe_pack") {
          val keptText = spark.read.parquet(s"$out/corpus")
            .select(col("doc_id"), col("source"), col("text"))
          val tok = resolveTokenizer(spark, tp,
            env.getOrElse("CORPUS_BUILD_TOK_DRIFT", "auto"), out, keptText,
            status,
            env.getOrElse("CORPUS_BUILD_TOK_DRIFT_SAMPLE_PCT", "100").toLong)
          val seqs = graft.ext.ExtQueries.packBpeOf(
            graft.ext.TokenizerStore.encodeIds(keptText, "text", tok)
              .filter(col("n_bpe_tokens") > 0L))
          seqs.write.mode("overwrite").parquet(s"$out/bpe_sequences")
          ((), spark.read.parquet(s"$out/bpe_sequences").count())
        }
      }
      val verdicts = led.groupBy("verdict").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val report = Report(verdicts.valuesIterator.sum,
        verdicts.getOrElse("keep", 0L), verdicts, phases.toSeq)
      status(s"finalized: ${report.kept}/${report.total} docs into training shards " +
        s"(${report.verdicts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")})")
      report
    }
  }

  /** TOKENIZER DRIFT GATE (round 19, VERDICT r18 #4): pick the
    * tokenizer `bpe_sequences/` packs with. `CORPUS_BUILD_TOK_DRIFT`:
    *  - `auto` (default) — consult
    *    [[graft.ext.TokenizerStore.needsRetrain]] over the KEPT corpus
    *    (per-language fertility/mass vs the baseline the store
    *    recorded at train time); on a trip, retrain a fresh tokenizer
    *    (same alphabet, same step count) under `$out/tokenizer_store`
    *    and pack with it. A store without a recorded baseline
    *    (pre-round-19) leaves the gate inactive, status-logged.
    *  - `off` — always pack with the stored artifact;
    *  - `force` — always retrain.
    * The retrained artifact lands under the build's own output root —
    * the input store is never mutated (the DedupState escalation
    * discipline applied to the third persisted artifact); every
    * decision is status-logged. */
  private def resolveTokenizer(spark: SparkSession, tp: String,
      tokDrift: String, out: String,
      kept: org.apache.spark.sql.DataFrame,
      status: String => Unit, samplePct: Long = 100L): graft.ext.TokenizerStore.Tokenizer = {
    require(Set("auto", "off", "force")(tokDrift),
      s"CORPUS_BUILD_TOK_DRIFT must be auto|off|force, got '$tokDrift'")
    require(samplePct >= 1L && samplePct <= 100L,
      s"CORPUS_BUILD_TOK_DRIFT_SAMPLE_PCT must be in [1, 100], got $samplePct")
    val stored = graft.ext.TokenizerStore.load(spark, tp)
    val retrainReason: Option[String] = tokDrift match {
      case "off" => None
      case "force" => Some("CORPUS_BUILD_TOK_DRIFT=force")
      case _ =>
        val v = graft.ext.TokenizerStore.needsRetrain(spark, tp, kept, "text",
          samplePct = samplePct)
        if (!v.hasBaseline) {
          status("tokenizer drift gate: no fertility baseline recorded " +
            s"(pre-round-19 store at $tp) — gate inactive, artifact kept")
          None
        } else if (v.trip) Some(v.reasons.mkString("; "))
        else {
          status("tokenizer drift gate: stable — stored artifact kept")
          None
        }
    }
    retrainReason match {
      case Some(r) =>
        status(s"tokenizer drift gate: RETRAIN ($r) — training " +
          s"${stored.alphabet} tokenizer (${stored.merges.size} steps) " +
          s"under $out/tokenizer_store")
        graft.ext.TokenizerStore.train(kept.select("text"), "text",
          s"$out/tokenizer_store", stored.merges.size,
          alphabet = stored.alphabet)
      case None => stored
    }
  }

  /** WHAT CHANGED between two persisted builds (VERDICT r15 #3 — the
    * production form of `pipeline_manifest_diff`, which plants its B
    * snapshot in-query): reads the manifests two [[execute]] runs
    * already wrote and diffs them with the shared
    * [[graft.ext.ExtQueries.manifestDiffOf]] arithmetic. `which` picks
    * the surface:
    *  - `"manifest"` (default) — the BUILT corpus (what a training run
    *    consumed): per source, added/removed/changed/unchanged by
    *    content_version plus doc/char deltas;
    *  - `"input_manifest"` — the RAW corpus (what the incremental
    *    rebuild gates on).
    * Reads two source-cardinality parquet files; never touches text. */
  def diffManifests(spark: SparkSession, rootA: String, rootB: String,
      which: String = "manifest"): DataFrame = {
    require(Set("manifest", "input_manifest")(which),
      s"which must be manifest|input_manifest, got '$which'")
    def rd(root: String): DataFrame = {
      val df = spark.read.parquet(s"$root/$which")
      if (which == "manifest")
        df.select(col("source"), col("m_docs").as("n_docs"),
          col("m_chars").as("total_chars"), col("content_version"))
      else
        df.select("source", "n_docs", "total_chars", "content_version")
    }
    graft.ext.ExtQueries.manifestDiffOf(rd(rootA), rd(rootB)).orderBy("source")
  }

  /** Testable wrapper: exit code instead of an exception. */
  def run(spark: SparkSession, env: Map[String, String],
      status: String => Unit = s => System.err.println(s"[corpus-build] $s")): Int =
    try { execute(spark, env, status); ExitCodes.Success }
    catch {
      case e: Throwable =>
        status(s"fatal: ${e.getClass.getSimpleName}: ${e.getMessage}")
        ExitCodes.Fatal
    }

  /** Testable wrapper for [[finalizeStream]]: exit code, not a throw. */
  def runFinalize(spark: SparkSession, env: Map[String, String],
      status: String => Unit = s => System.err.println(s"[corpus-finalize] $s")): Int =
    try { finalizeStream(spark, env, status); ExitCodes.Success }
    catch {
      case e: Throwable =>
        status(s"fatal: ${e.getClass.getSimpleName}: ${e.getMessage}")
        ExitCodes.Fatal
    }

  /** CLI: no args runs a build from the env contract; `finalize` runs
    * the streaming-build finalize from the CORPUS_FINALIZE_* contract;
    * `diff <rootA> <rootB> [manifest|input_manifest]` prints the
    * stored-manifest diff as one JSON line per source — the operator's
    * audit call between two persisted builds. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-corpus-build",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    val code = args.toSeq match {
      case Seq("diff", a, b) => diffCli(spark, a, b, "manifest")
      case Seq("diff", a, b, which) => diffCli(spark, a, b, which)
      case Seq("finalize") => runFinalize(spark, sys.env)
      case Seq() => run(spark, sys.env)
      case other =>
        System.err.println(s"usage: CorpusBuildJob [finalize | diff <rootA> <rootB> [manifest|input_manifest]] " +
          s"(got: ${other.mkString(" ")})")
        ExitCodes.Fatal
    }
    spark.stop()
    sys.exit(code)
  }

  private def diffCli(spark: SparkSession, a: String, b: String,
      which: String): Int =
    try {
      diffManifests(spark, a, b, which).collect().foreach { r =>
        println(s"""{"source":"${r.getString(0)}","status":"${r.getString(1)}",""" +
          s""""d_docs":${r.getLong(2)},"d_chars":${r.getLong(3)}}""")
      }
      ExitCodes.Success
    } catch {
      case e: Throwable =>
        System.err.println(s"[corpus-build] diff fatal: ${e.getMessage}")
        ExitCodes.Fatal
    }
}
